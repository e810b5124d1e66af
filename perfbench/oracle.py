"""Expected BI report results, computed by DuckDB over the generator's
ground truth (the clean fact and standardized dimensions it predicts),
never over anything the package wrote."""

from __future__ import annotations

import duckdb
import pandas as pd

from gen import AirlineInputs


def _frames(inputs: AirlineInputs, fact: dict) -> dict[str, pd.DataFrame]:
    d = inputs.dims
    return {
        "fact": pd.DataFrame({
            "date_key": [r["date_key"] for r in fact.values()],
            "passenger_key": [r["passenger_key"] for r in fact.values()],
            "flight_key": [r["flight_key"] for r in fact.values()],
            "cents": [int(r["total_amount"] * 100) for r in fact.values()],
            "sales_source": [r["sales_source"] for r in fact.values()],
            "delay": [r["delay_minutes"] for r in fact.values()]}),
        "pax": pd.DataFrame({"passenger_key": sorted(d["passengers"])}),
        "flight": pd.DataFrame({
            "flight_key": list(d["flights"]),
            "origin": [f["origin"] for f in d["flights"].values()],
            "dest": [f["dest"] for f in d["flights"].values()]}),
        "airport": pd.DataFrame({
            "airport_key": list(d["airports"]),
            "country": [a["country"] for a in d["airports"].values()]}),
        "airline": pd.DataFrame({
            "airline_key": list(d["airlines"]),
            "alliance": [a["alliance"] for a in d["airlines"].values()]}),
    }


REVENUE_SQL = """
SELECT year(strptime(CAST(f.date_key AS VARCHAR), '%Y%m%d')) AS year,
       quarter(strptime(CAST(f.date_key AS VARCHAR), '%Y%m%d')) AS quarter,
       o.country AS origin_country, al.alliance,
       sum(f.cents) AS cents, count(*) AS n, avg(f.delay) AS avg_delay
FROM fact f
JOIN pax p ON f.passenger_key = p.passenger_key
JOIN flight fl ON f.flight_key = fl.flight_key
JOIN airport o ON fl.origin = o.airport_key
JOIN airport d ON fl.dest = d.airport_key
LEFT JOIN airline al ON substr(fl.flight_key, 1, 2) = al.airline_key
GROUP BY ALL
"""

SLICE_SQL = """
SELECT sales_source, count(*) AS n, sum(cents) AS cents
FROM fact WHERE date_key BETWEEN ? AND ? GROUP BY ALL
"""


class ReportOracle:
    """DuckDB connection over one state of the expected warehouse."""

    def __init__(self, inputs: AirlineInputs, fact: dict) -> None:
        self.con = duckdb.connect()
        for name, df in _frames(inputs, fact).items():
            self.con.register(name, df)
        self.n_fact = len(fact)

    def revenue_by_dims(self) -> dict[tuple, tuple]:
        rows = self.con.execute(REVENUE_SQL).fetchall()
        return {r[:4]: (int(r[4]), int(r[5]), float(r[6])) for r in rows}

    def fact_slice(self, lo: int, hi: int) -> dict[str, tuple]:
        rows = self.con.execute(SLICE_SQL, [lo, hi]).fetchall()
        return {r[0]: (int(r[1]), int(r[2])) for r in rows}

    def close(self) -> None:
        self.con.close()


def revenue_matches(got: list, want: dict[tuple, tuple]) -> bool:
    """Spark rows of analytics.revenue_by_dims against the oracle:
    exact revenue and counts, average delay to 1e-9 relative."""
    if len(got) != len(want):
        return False
    for r in got:
        key = (r["year"], r["quarter"], r["origin_country"], r["alliance"])
        w = want.get(key)
        if w is None or int(r["total_revenue"] * 100) != w[0] \
                or r["n_transactions"] != w[1] \
                or abs(r["avg_delay_minutes"] - w[2]) > 1e-9 * max(1.0, w[2]):
            return False
    return True
