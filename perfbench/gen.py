"""Seeded input generator with a ground-truth manifest.

Everything the package sees comes from here: airline CSV drops carrying
the dirty variants of FIXTURES.md, status files in the Kafka wire shape,
and the curation corpus with injected duplicates. Alongside the files,
each generator returns the outcome the cleaning rules must produce
(per-file clean/dirty counts and reasons, the fact after upserts, the
eligibility state after each status batch, the injected duplicate pairs),
computed here in plain Python from the rules, never by the package.

The same seed always gives byte-identical files and the same manifest.
"""

from __future__ import annotations

import datetime as dt
import json
import os
import random
from collections import Counter
from dataclasses import dataclass, field
from decimal import Decimal

INSURANCE_DELAY_MINUTES = 240
DATE_LO = dt.date(2023, 1, 1)
N_DAYS = 731  # the dim_date span, 2023-01-01 .. 2024-12-31
MONTHS = ("Jan", "Feb", "Mar", "Apr", "May", "Jun", "Jul", "Aug", "Sep",
          "Oct", "Nov", "Dec")

# raw spelling -> standardized country (alias map of functions.cleaning,
# Title-case fallback); raw values carry no padding on the fallback path
COUNTRIES = {
    "USA": "United States", "US": "United States",
    "United States": "United States", "U.S.A.": "United States",
    "UK": "United Kingdom", "United Kingdom": "United Kingdom",
    "Great Britain": "United Kingdom", "UAE": "United Arab Emirates",
    "Germany": "Germany", "france": "France", "JAPAN": "Japan",
    "Canada": "Canada", "brazil": "Brazil",
}
ALLIANCES = ("Oneworld", "Star Alliance", "SkyTeam", "N/A")
LOYALTY = ("Gold", "SILVER", "plat", "Bronze", "Platinum member", "BRNZ", "")
FIRST = ("Mary", "John", "Ana", "Wei", "Omar", "Lena", "Ravi", "Sofia",
         "Kenji", "Ines", "Paul", "Zara")
LAST = ("Smith", "Garcia", "Chen", "Haddad", "Novak", "Patel", "Rossi",
        "Tanaka", "Silva", "Kim", "Okafor", "Muller")
MARKERS = ("Vertical split", "Coffee spill", "Data corruption starts",
           "Horizontal split", "Data corruption spot", "P3File limit hit")

REASON_PAX = "Invalid passenger key"
REASON_FLIGHT = "Missing flight key"
REASON_DATE = "Invalid date"
REASON_DUP_TXN = "Duplicate transaction ID"
REASON_XFILE = "Duplicate transaction ID (cross-file)"


def _write(path: str, text: str) -> None:
    with open(path, "w", encoding="utf-8", newline="") as f:
        f.write(text)


def _money(x: Decimal, style: int) -> str:
    if style == 0:
        return f'"${x:,.2f}"'       # "$1,540.00" (quoted: carries a comma)
    if style == 1:
        return f"${x:.2f}"
    return f"{x:.2f}"


def _date_str(d: dt.date, style: int) -> str:
    if style == 0:
        return d.isoformat()
    if style == 1:
        return d.strftime("%m/%d/%Y")
    return f"{d.day:02d}-{MONTHS[d.month - 1]}-{d.year % 100:02d}"


@dataclass
class FileTruth:
    total: int = 0
    clean: int = 0
    dirty: int = 0
    reasons: Counter = field(default_factory=Counter)


@dataclass
class AirlineInputs:
    """One seeded airline world: a base drop, incremental sales drops,
    status files, and the expected outcome of each."""
    drop_dir: str
    inc_paths: list[str]
    status_paths: list[str]
    files: dict[str, FileTruth]           # per base-drop file name
    cross_file_dups: int
    flights: list[str]                    # clean flight keys
    dims: dict                            # standardized dimension rows
    fact_after_load: dict                 # txn -> fact row, after the base drop
    inc_updates: list[dict]               # clean rows each incremental drop upserts
    status_batches: list[list[dict]]      # parsed updates per status file
    inc_truth: list[FileTruth]

    def fact_after_status(self, fact: dict, batch: list[dict]) -> dict:
        """Apply one eligibility merge the way the T5 body does: every
        fact row of a flight with a >240-minute update in the batch takes
        the batch's max such delay and flips to eligible/delayed."""
        elig: dict[str, int] = {}
        for u in batch:
            if u["delay_minutes"] > INSURANCE_DELAY_MINUTES:
                elig[u["flight_key"]] = max(elig.get(u["flight_key"], 0),
                                            u["delay_minutes"])
        out = {}
        for txn, row in fact.items():
            d = elig.get(row["flight_key"])
            out[txn] = row if d is None else {
                **row, "delay_minutes": d, "is_eligible": True,
                "flight_status": "delayed"}
        return out


def _std_pax(raw: str | None) -> str | None:
    """F1: 'P' + last three digits, when the key has a P and >= 3 digits."""
    if raw is None:
        return None
    digits = "".join(ch for ch in raw if ch.isdigit())
    if "P" not in raw or len(digits) < 3:
        return None
    return "P" + digits[-3:]


def _airport_codes(rng: random.Random, n: int) -> list[str]:
    letters = "ABCDEFGHIJKLMNOPQRSTUVWXYZ"
    codes: set[str] = set()
    while len(codes) < n:
        codes.add("".join(rng.choice(letters) for _ in range(3)))
    return sorted(codes)


def airline_inputs(root: str, seed: int, n_ta: int, n_co: int,
                   n_inc: int, inc_rows: int, n_status: int,
                   status_rows: int) -> AirlineInputs:
    """Write a dirty airline drop under ``root`` and return its truth.

    Base drop: passengers, airports, airlines, flights, two travel-agency
    sales files (``n_ta`` rows together) and one headerless corporate file
    (``n_co`` rows). Then ``n_inc`` incremental travel-agency drops of
    ``inc_rows`` rows (new transactions plus corrections of loaded ones)
    and ``n_status`` status files of ``status_rows`` updates each.
    """
    rng = random.Random(seed)
    drop = os.path.join(root, "drop")
    os.makedirs(drop)
    files: dict[str, FileTruth] = {}

    # -- airports: country spellings, padded names, dup + invalid keys
    codes = _airport_codes(rng, 60)
    airports: dict[str, dict] = {}
    t = FileTruth()
    lines = ["AirportKey,AirportName,City,Country"]
    for i, c in enumerate(codes):
        raw_country = rng.choice(list(COUNTRIES))
        name = f"{c} International Airport"
        lines.append(f'{c}," {name} ",City{i},{raw_country}')
        airports[c] = {"airport_key": c, "country": COUNTRIES[raw_country]}
        t.total += 1
    for c in codes[:2]:                   # later dup keys lose (keep-first)
        lines.append(f"{c},Shadow of {c},Nowhere,Canada")
        t.total += 1
        t.reasons["Duplicate airport key"] += 1
    for bad in ("AB", "ABCD"):
        lines.append(f"{bad},Bad Code Airport,Nowhere,Canada")
        t.total += 1
        t.reasons["Invalid airport key"] += 1
    t.dirty = sum(t.reasons.values())
    t.clean = t.total - t.dirty
    files["airports.csv"] = t
    _write(os.path.join(drop, "airports.csv"), "\n".join(lines) + "\n")

    # -- airlines: N/A alliance -> NULL; one keyless row silently dropped
    carriers = sorted({"".join(rng.choice("ABCDEFGHJKLMNPRSTUVWXY")
                               for _ in range(2)) for _ in range(14)})
    airlines: dict[str, dict] = {}
    lines = ["AirlineKey,AirlineName,Alliance"]
    t = FileTruth()
    for c in carriers:
        al = rng.choice(ALLIANCES)
        lines.append(f" {c.lower()} ,{c} Airways,{al}")
        airlines[c] = {"airline_key": c,
                       "alliance": None if al == "N/A" else al}
        t.total += 1
    lines.append(",Ghost Air,SkyTeam")
    t.total += 1
    t.clean = len(carriers)
    files["airlines.csv"] = t
    _write(os.path.join(drop, "airlines.csv"), "\n".join(lines) + "\n")

    # -- flights: unknown carrier prefix, 2-char airport (placeholder), missing dest
    flights: dict[str, dict] = {}
    lines = ["FlightKey,OriginAirportKey,DestinationAirportKey,AircraftType"]
    t = FileTruth()
    prefixes = carriers + ["ZQ"]          # ZQ is no known airline (LEFT join)
    for i in range(400):
        fk = f"{prefixes[i % len(prefixes)]}{100 + i:03d}"
        o, d = rng.sample(codes, 2)
        if i % 97 == 5:
            o = "JK"
        lines.append(f"{fk},{o.lower() if i % 7 == 0 else o},{d},"
                     f"{rng.choice(('Boeing 777', 'A320', ''))}")
        flights[fk] = {"flight_key": fk, "origin": o, "dest": d}
        t.total += 1
    for i in range(4):
        lines.append(f"XX{900 + i},{codes[i]},,A320")
        t.total += 1
        t.reasons["Missing required flight data"] += 1
    t.dirty = sum(t.reasons.values())
    t.clean = t.total - t.dirty
    files["flights.csv"] = t
    _write(os.path.join(drop, "flights.csv"), "\n".join(lines) + "\n")
    # J8/J9 repair: every referenced airport missing from the dim appears
    # as a placeholder with country Unknown
    for f in flights.values():
        for k in (f["origin"], f["dest"]):
            airports.setdefault(k, {"airport_key": k, "country": "Unknown"})

    # -- passengers: P1xxx/P2xxx collide after last-3 truncation; markers;
    #    a repeated header mid-file
    lines = ["PassengerKey,FullName,Email,LoyaltyStatus"]
    t = FileTruth()
    seen: set[str] = set()
    marker_at = {150 + 160 * j: m for j, m in enumerate(MARKERS)}
    for i in range(1100):
        if i in marker_at:
            lines.append(marker_at[i])
            t.total += 1
            t.reasons[REASON_PAX] += 1
        if i == 700:
            lines.append("PassengerKey,FullName,Email,LoyaltyStatus")
            t.total += 1
            t.reasons[REASON_PAX] += 1
        key = f"P{1000 + i}"
        fn, ln = rng.choice(FIRST), rng.choice(LAST)
        email = f"{fn}.{ln}@Mail.com" if i % 3 else "not-an-email"
        lines.append(f"{key},{fn} {ln},{email},{rng.choice(LOYALTY)}")
        t.total += 1
        std = _std_pax(key)
        if std in seen:
            t.reasons["Duplicate passenger key"] += 1
        seen.add(std)
    t.dirty = sum(t.reasons.values())
    t.clean = t.total - t.dirty
    files["passengers.csv"] = t
    _write(os.path.join(drop, "passengers.csv"), "\n".join(lines) + "\n")
    passengers = seen

    flight_keys = sorted(flights)

    def sale(txn_num: int, headerless: bool) -> tuple[str, dict | None, str | None]:
        """One sales row: (csv line, clean fact row or None, reason)."""
        d = DATE_LO + dt.timedelta(days=rng.randrange(N_DAYS))
        price = Decimal(rng.randrange(5000, 200000)) / 100
        taxes = (price / 10).quantize(Decimal("0.01"))
        bag = Decimal(rng.choice((0, 25, 40)))
        total = price + taxes + bag
        pax_num = rng.randrange(1000)
        fk = rng.choice(flight_keys)
        roll = rng.random()
        pax_raw, fk_raw, date_raw = f"P{pax_num:05d}", fk, None
        reason = None
        if roll < 0.01:
            pax_raw, reason = "", REASON_PAX
        elif roll < 0.015:
            pax_raw, reason = "P12", REASON_PAX
        elif roll < 0.025:
            fk_raw, reason = "", REASON_FLIGHT
        elif roll < 0.03:
            date_raw, reason = "TBD", REASON_DATE
        if headerless:
            date_raw = date_raw or d.strftime("%Y%m%d")
            line = (f"{txn_num}, {date_raw}, '{pax_raw}', '{fk_raw}', "
                    f"{price:.2f}, {taxes:.2f}, {bag:.2f}, {total:.2f}")
        else:
            date_raw = date_raw or _date_str(d, rng.randrange(3))
            tax_s = "" if rng.random() < 0.01 else _money(taxes, rng.randrange(3))
            if tax_s == "":
                taxes = Decimal("0.00")
            line = (f"{txn_num},{date_raw},{pax_raw},{fk_raw},"
                    f"{_money(price, rng.randrange(3))},{tax_s},"
                    f"{_money(bag, rng.randrange(3))},"
                    f"{_money(total, rng.randrange(3))}")
        if reason:
            return line, None, reason
        prefix = "CO" if headerless else "TA"
        row = {"transaction_id": f"{prefix}{txn_num:06d}",
               "date_key": int(d.strftime("%Y%m%d")),
               "passenger_key": _std_pax(pax_raw), "flight_key": fk,
               "total_amount": total,
               "sales_source": "corporate" if headerless else "travel_agency",
               "delay_minutes": 0, "is_eligible": False,
               "flight_status": "scheduled"}
        return line, row, None

    def sales_file(name: str, ids: list[int], headerless: bool) -> list[dict]:
        """Write one sales file; return its clean rows in file order
        after the within-file keep-first dedup."""
        lines = [] if headerless else [
            "TransactionID,TransactionDate,PassengerID,FlightID,"
            "TicketPrice,Taxes,BaggageFees,TotalAmount"]
        t = FileTruth()
        kept: dict[str, dict] = {}
        for n in ids:
            line, row, reason = sale(n, headerless)
            lines.append(line)
            t.total += 1
            if reason:
                t.reasons[reason] += 1
            elif row["transaction_id"] in kept:
                t.reasons[REASON_DUP_TXN] += 1
            else:
                kept[row["transaction_id"]] = row
        t.dirty = sum(t.reasons.values())
        t.clean = t.total - t.dirty
        files[name] = t
        _write(os.path.join(drop, name), "\n".join(lines) + "\n")
        return list(kept.values())

    def ids_with_dups(lo: int, n: int) -> list[int]:
        ids = list(range(lo, lo + n))
        for i in range(0, n, 211):        # within-file repeated ids
            ids[i] = ids[max(0, i - 3)]
        return ids

    half = n_ta // 2
    ta1 = ids_with_dups(100000, half)
    ta2 = ids_with_dups(100000 + half - 40, n_ta - half)  # 40 ids overlap ta1
    ta_rows = (sales_file("travel_agency_sales_001.csv", ta1, False)
               + sales_file("travel_agency_sales_002.csv", ta2, False))
    co_rows = sales_file("corporate_sales.csv", ids_with_dups(10000, n_co), True)
    fact: dict[str, dict] = {}
    xdups = 0
    for row in ta_rows + co_rows:        # travel-agency first, then file order
        if row["transaction_id"] in fact:
            xdups += 1
        else:
            fact[row["transaction_id"]] = row

    # -- incremental drops: corrections of loaded transactions + new ones
    inc_paths, inc_truth, inc_updates = [], [], []
    loaded_ta = [k for k in fact if k.startswith("TA")]
    next_id = 100000 + n_ta + 1000
    for j in range(n_inc):
        inc_dir = os.path.join(root, f"inc{j:02d}")
        os.makedirs(inc_dir)
        n_upd = inc_rows // 5
        ids = [int(k[2:]) for k in rng.sample(loaded_ta, n_upd)]
        ids += list(range(next_id, next_id + inc_rows - n_upd))
        next_id += inc_rows
        lines = ["TransactionID,TransactionDate,PassengerID,FlightID,"
                 "TicketPrice,Taxes,BaggageFees,TotalAmount"]
        t = FileTruth()
        kept = {}
        for n in ids:
            line, row, reason = sale(n, False)
            lines.append(line)
            t.total += 1
            if reason:
                t.reasons[reason] += 1
            else:
                kept[row["transaction_id"]] = row
        t.dirty = sum(t.reasons.values())
        t.clean = t.total - t.dirty
        path = os.path.join(inc_dir, f"travel_agency_sales_inc{j:02d}.csv")
        _write(path, "\n".join(lines) + "\n")
        inc_paths.append(path)
        inc_truth.append(t)
        inc_updates.append(kept)          # source wins on key collision

    # -- status files, Kafka wire shape {"key", "value": <json message>}
    status_dir = os.path.join(root, "status_src")
    os.makedirs(status_dir)
    ts0 = dt.datetime(2024, 6, 1, tzinfo=dt.timezone.utc)
    tick = 0
    status_paths, batches = [], []
    clean_flights = sorted(fk for fk in flights)
    for j in range(n_status):
        batch, lines = [], []
        for _ in range(status_rows):
            fk = rng.choice(clean_flights)
            delay = rng.choice((0, 15, 45, 120, 239, 240, 241, 300, 420))
            tick += 1
            ts = ts0 + dt.timedelta(seconds=tick)
            u = {"flight_key": fk,
                 "status": "delayed" if delay else "on-time",
                 "delay_minutes": delay,
                 "update_timestamp": ts.strftime("%Y-%m-%dT%H:%M:%S.000Z")}
            batch.append(u)
            lines.append(json.dumps({"key": fk, "value": json.dumps(u)}))
        path = os.path.join(status_dir, f"status_{j:03d}.json")
        _write(path, "\n".join(lines) + "\n")
        status_paths.append(path)
        batches.append(batch)

    return AirlineInputs(
        drop_dir=drop, inc_paths=inc_paths, status_paths=status_paths,
        files=files,
        cross_file_dups=xdups, flights=clean_flights,
        dims={"airports": airports, "airlines": airlines,
              "flights": flights, "passengers": passengers},
        fact_after_load=fact, inc_updates=inc_updates,
        status_batches=batches, inc_truth=inc_truth)


def latest_status(batches: list[list[dict]]) -> dict[str, dict]:
    """Newest update per flight over the given batches (timestamps are
    unique, so check_insurance's ordering has no ties)."""
    latest: dict[str, dict] = {}
    for b in batches:
        for u in b:
            prev = latest.get(u["flight_key"])
            if prev is None or u["update_timestamp"] > prev["update_timestamp"]:
                latest[u["flight_key"]] = u
    return latest


# -- curation corpus ---------------------------------------------------------

STOP = ("the", "of", "and", "to", "a")


def _vocab(rng: random.Random, n: int) -> list[str]:
    syl = ("ka", "lo", "mi", "ne", "ru", "ta", "si", "po", "ve", "du", "ga",
           "zo", "ri", "fe", "nu", "ba", "xi", "qu", "le", "mo")
    words: set[str] = set()
    while len(words) < n:
        words.add("".join(rng.choice(syl) for _ in range(rng.randint(2, 4))))
    return sorted(words)


def _doc(rng: random.Random, vocab: list[str], n_tokens: int) -> list[str]:
    out = []
    for _ in range(n_tokens):
        out.append(rng.choice(STOP) if rng.random() < 0.2
                   else vocab[int(rng.paretovariate(1.1)) % len(vocab)
                              if rng.random() < 0.3
                              else rng.randrange(len(vocab))])
    return out


@dataclass
class CurationInputs:
    docs_path: str                   # parquet (doc_id, text)
    n_docs: int
    kept_quality: set[int]           # ids the quality gate keeps
    exact_keepers: set[int]          # ids exact_dedup keeps (min id per text)
    exact_dup_ids: set[int]          # injected exact duplicates
    near_families: list[set[int]]    # injected near-dup families (post exact dedup)
    inc_payloads: list[str]          # one JSON-lines payload per increment
    span_pairs: set[tuple[int, int]] # injected cross-batch copies (lo, hi)
    vec_path: str                    # parquet (vec_id, embedding)
    query_batches: list[list[int]]   # top-k query ids per request


def curation_inputs(root: str, seed: int, n_docs: int, n_inc: int,
                    inc_docs: int, n_vecs: int, n_queries: int,
                    query_batch: int) -> CurationInputs:
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = random.Random(seed)
    vocab = _vocab(rng, 4000)
    os.makedirs(root, exist_ok=True)

    # -- batch corpus: quality rejects, exact and near duplicates
    texts: list[str] = []
    near: list[set[int]] = []
    exact_dups: set[int] = set()
    low_quality: set[int] = set()
    while len(texts) < n_docs:
        i = len(texts)
        r = rng.random()
        if r < 0.05 and texts:
            low_quality.add(i)
            texts.append(" ".join(rng.choice(vocab) for _ in range(8)))
        elif r < 0.12 and i > 10:
            src = rng.randrange(i)
            if src in low_quality or src in exact_dups:
                continue
            exact_dups.add(i)
            texts.append(texts[src])
        elif r < 0.20 and i > 10:
            src = rng.randrange(i)
            if src in low_quality or src in exact_dups:
                continue
            toks = texts[src].split(" ")
            p = rng.randrange(len(toks))
            toks[p] = rng.choice(vocab) + "x"   # one-word edit: Jaccard ~0.97
            texts.append(" ".join(toks))
            fam = next((f for f in near if src in f), None)
            if fam is None:
                near.append({src, i})
            else:
                fam.add(i)
        else:
            texts.append(" ".join(_doc(rng, vocab, 90)))
    kept_q = set(range(n_docs)) - low_quality
    first_id: dict[str, int] = {}
    for i in sorted(kept_q):
        first_id.setdefault(texts[i], i)
    keepers = set(first_id.values())
    docs_path = os.path.join(root, "docs.parquet")
    pq.write_table(pa.table({"doc_id": pa.array(range(n_docs), pa.int64()),
                             "text": texts}), docs_path)

    # -- equal-size stream increments with cross-batch copied passages
    payloads, sources, pairs = [], [], set()
    base_id = 10_000_000
    for b in range(n_inc):
        docs, fresh = [], []
        for j in range(inc_docs):
            did = base_id + b * inc_docs + j
            toks = _doc(rng, vocab, 80)
            if b > 0 and j < 4:
                # copy a 40-token passage from an earlier, untouched doc;
                # each source is used once so every copy makes one pair
                src_id, src_toks = sources.pop(rng.randrange(len(sources)))
                s = rng.randrange(len(src_toks) - 40)
                toks[20:60] = src_toks[s:s + 40]
                pairs.add((min(src_id, did), max(src_id, did)))
            else:
                fresh.append((did, toks))
            docs.append((did, toks))
        sources.extend(fresh)
        payload = "\n".join(json.dumps({"doc_id": d, "text": " ".join(t)})
                            for d, t in docs) + "\n"
        payloads.append(payload)

    # -- clustered unit embeddings for the ANN index
    nrng = np.random.default_rng(seed)
    centers = nrng.normal(size=(12, 64))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    lab = nrng.integers(0, 12, size=n_vecs)
    vecs = centers[lab] + 0.05 * nrng.normal(size=(n_vecs, 64))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    vec_path = os.path.join(root, "vectors.parquet")
    pq.write_table(pa.table({
        "vec_id": pa.array(range(n_vecs), pa.int64()),
        "embedding": pa.array([list(map(float, v)) for v in vecs],
                              pa.list_(pa.float64()))}), vec_path)
    qids = [int(q) for q in nrng.choice(n_vecs, size=n_queries * query_batch,
                                        replace=False)]
    batches = [qids[i:i + query_batch] for i in range(0, len(qids), query_batch)]

    fams = [f & keepers for f in near]
    return CurationInputs(
        docs_path=docs_path, n_docs=n_docs, kept_quality=kept_q,
        exact_keepers=keepers, exact_dup_ids=exact_dups,
        near_families=[f for f in fams if len(f) > 1],
        inc_payloads=payloads,
        span_pairs=pairs, vec_path=vec_path, query_batches=batches)
