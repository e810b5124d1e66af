"""Physical-plan audit: prints `.explain(formatted)` for the headline
queries and greps for the properties the 100 TB posture demands —
broadcast joins on dims, pushed filters, pruned scans, whole-stage
codegen. Run after plan changes; tests/test_plans.py asserts the
critical ones.

Also the SINGLE-TASK-SORT tripwire (`--windows` / window_violations()):
parses every windowspecdefinition out of every registered query's
physical plan (balanced-paren scan, immune to the nested
specifiedwindowframe) and fails on any window with ordering but no
partition columns over a possibly-unbounded input — the plan shape that
serializes onto one task at 100 TB. Queries whose unpartitioned windows
run over provably tiny frames are allowlisted by name with the bound
written next to them (WINDOW_ALLOWLIST); pytest wires this over the
whole registry (tests/test_plans.py::test_no_unpartitioned_windows).

Usage: python tools/explain_audit.py [sf_dir] [query ...]
       python tools/explain_audit.py --windows [sf_dir]
"""

from __future__ import annotations

import io
import os
import sys
from contextlib import redirect_stdout

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

AUDITED = [
    "flagship_star_revenue",
    "role_playing_dim_join",
    "expression_left_join",
    "filter_equality",
    "projection_rename",
    "latest_event_per_key",
    "dedup_minhash_lsh",
    "similarity_topk_bruteforce",
    "shipping_priority_topk",
    "local_supplier_volume",
    # r07 decision-support pack heavyweights
    "grouping_sets_revenue",
    "nation_market_share",
    "blamed_suppliers_waiting",
    "snapshot_reconciliation",
    # r14 additions: the ExactSubstr family's candidate/merge shape,
    # the general-universe q-digest, and the new sketch probes
    "dedup_exact_substring",
    "dedup_exact_substring_incremental",
    "quantile_sketch_date_keys",
    "cms_join_size",
    "multimodal_video_near_dup",
]


def plan_of(df) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


# Queries allowed to keep an unpartitioned (single-partition) Window,
# each with the reason its frame is bounded — NOT "it's fast today":
WINDOW_ALLOWLIST = {
    # distinct country names from nation ⋈ customer: bounded by the
    # world's country count (~200 rows) — relational.py country_hierarchy
    "country_hierarchy_dim": "distinct countries ≤ ~200 rows",
    # two-phase median: the only unpartitioned windows run over the
    # ≤1024-row per-measure bucket frame (offsets + grand total); the
    # per-value cumsum is partitioned by _bkt (asserted separately by
    # test_profile_median_cumsum_is_partitioned)
    "profile_numeric_columns": "1024-row bucket-offset frame",
    # every window runs over the per-SOURCE aggregate (|sources| rows —
    # tens, by construction of a source-mixing config), never corpus rows
    "source_mixing_weights": "|sources|-row per-source aggregate",
    # reuses source_mixing_plan's quota arithmetic: same bounded
    # |sources|-row windows; the per-document rank IS partitioned (by
    # source)
    "materialize_mixture": "|sources|-row quota frame (rank is partitioned)",
    # two-phase id assignment: the big row_number is partitioned by
    # (count, prefix); the only unpartitioned window is the offsets
    # prefix-sum over the distinct-(count,prefix) frame (Zipf-small)
    "vocab_frequency_table": "distinct-(count,prefix) offsets frame",
    # composes vocab_table, so it inherits the same bounded offsets
    # window; the encode-side windows are all doc/bucket-partitioned
    "encode_documents_vocab": "distinct-(count,prefix) offsets frame",
    # same two-phase pattern: the offsets prefix-sum runs over the
    # per-bucket count frame (≤ n_buckets = 10 rows by construction);
    # the per-document rank IS partitioned (by bucket)
    "curriculum_training_order": "≤10-row bucket-offset frame",
    # q-digest quantile reads: the only unpartitioned windows are (a)
    # the digest cumulative count — the digest is ≤ O(k·levels) rows
    # after compression, corpus-independent by construction — and (b)
    # the exact-side bucket-offset prefix-sum over the ≤ 4096-row
    # (v >> 8 over a 2^20 domain) bucket frame; the per-value cumsum
    # IS partitioned (by _bkt, the profile_numeric_columns discipline)
    "quantile_sketch_order_totals":
        "sketch-sized digest frame + ≤4096-row bucket-offset frame",
    "stream_quantile_read":
        "sketch-sized digest frame + ≤4096-row bucket-offset frame",
    # same two q-digest read windows; the exact-side values are
    # offset-SHIFTED before bucketing, so v >> 8 spans ≤ span/256
    # buckets (~240 for the ~6·10⁴ date-key span) — smaller than the
    # 2^20-domain case
    "quantile_sketch_date_keys":
        "sketch-sized digest frame + ≤span/256-row bucket-offset frame",
}


def _balanced_specs(plan: str, token: str = "windowspecdefinition(") -> list[str]:
    """Every windowspecdefinition argument list, balanced-paren extracted
    (the regex-to-first-')' shortcut truncates inside the nested
    specifiedwindowframe — ADVICE r05)."""
    out = []
    i = 0
    while True:
        j = plan.find(token, i)
        if j < 0:
            return out
        k = j + len(token)
        depth = 1
        while k < len(plan) and depth:
            if plan[k] == "(":
                depth += 1
            elif plan[k] == ")":
                depth -= 1
            k += 1
        out.append(plan[j + len(token):k - 1])
        i = k


def _top_level_args(spec: str) -> list[str]:
    args, depth, cur = [], 0, []
    for ch in spec:
        if ch == "," and depth == 0:
            args.append("".join(cur).strip())
            cur = []
        else:
            if ch == "(":
                depth += 1
            elif ch == ")":
                depth -= 1
            cur.append(ch)
    tail = "".join(cur).strip()
    if tail:
        args.append(tail)
    return args


def unpartitioned_window_specs(plan: str) -> list[str]:
    """Window specs whose argument list contains ordering columns but no
    partition columns (→ Spark moves ALL rows to a single partition).
    In plan text, partition columns are plain expressions; ordering
    columns carry an ASC/DESC direction."""
    import re
    bad = []
    for spec in _balanced_specs(plan):
        args = [a for a in _top_level_args(spec)
                if not a.startswith("specifiedwindowframe(")]
        if not args:
            continue  # no partition, no order: degenerate constant frame
        has_partition = any(not re.search(r"\b(ASC|DESC)\b", a) for a in args)
        if not has_partition:
            bad.append(spec)
    return bad


def registry_plans(spark, sf_dir: str, registry) -> dict[str, str]:
    """name → formatted physical plan, for every registry query: built
    once, then shared by the registry-wide audits below. The caches the
    builders persist are released once the plans are printed."""
    from airline_data_warehouse_spark.operators.dedup import cache_scope

    with cache_scope():
        return {name: plan_of(qd.builder(spark, sf_dir))
                for name, qd in registry.items()}


def window_violations(plans: dict[str, str]) -> dict[str, list[str]]:
    """name → offending specs, for every non-allowlisted query of
    ``plans`` (`registry_plans`)."""
    violations: dict[str, list[str]] = {}
    for name, plan in plans.items():
        if name in WINDOW_ALLOWLIST:
            continue
        bad = unpartitioned_window_specs(plan)
        if bad:
            violations[name] = bad
    return violations


def _tree_nodes(plan: str) -> list[tuple[int, int, str]]:
    """(indent_depth, node_id, name) per node line of a FORMATTED plan's
    tree section. Depth is the marker column — subtree membership is
    'deeper until back at or above my depth', which survives the
    InMemoryRelation section's irregular extra indent."""
    import re
    nodes = []
    for line in plan.splitlines():
        if line.startswith("== "):
            continue
        if re.match(r"^\(\d+\) ", line):
            break  # details section begins; tree is done
        m = re.match(r"^(?P<prefix>[\s:+\-]*)(?:\*\s)?"
                     r"(?P<name>[A-Za-z][\w .]*?)\s*\((?P<id>\d+)\)\s*$",
                     line)
        if m:
            nodes.append((len(m.group("prefix")), int(m.group("id")),
                          m.group("name").strip()))
    return nodes


def _node_details(plan: str) -> dict[int, str]:
    """node_id → its details block from a FORMATTED plan (Location,
    PushedFilters, ReadSchema, ...)."""
    import re
    details: dict[int, str] = {}
    cur = None
    for line in plan.splitlines():
        m = re.match(r"^\((\d+)\) ", line)
        if m:
            cur = int(m.group(1))
            details[cur] = line + "\n"
        elif cur is not None:
            details[cur] += line + "\n"
    return details


# Nodes that collapse cardinality between a corpus scan and a broadcast:
# an aggregate reduces to its group count, a limit to its k, a
# WindowGroupLimit to k × groups (every ANN-family window partitions by
# query id, so groups are query-bounded there).
_COLLAPSING = ("HashAggregate", "SortAggregate", "ObjectHashAggregate",
               "GlobalLimit", "LocalLimit", "CollectLimit",
               "WindowGroupLimit", "TakeOrderedAndProject")


# Broadcast exchanges that are query-bounded by construction but whose
# bound is invisible to the static detector — each with the reason
# written next to it (the WINDOW_ALLOWLIST convention). NOT "it's small
# today": the bound must hold at any corpus size.
BROADCAST_ALLOWLIST = {
    # anchors = (orig ∪ perturbed).filter(vec_id < 20): the filter
    # pushes into the orig scan, but on the perturbed branch the
    # predicate is (vec_id + 1000000) < 20 — not scan-pushable, so it
    # sits as a Filter ABOVE the scan. The frame is ≤ 20 + 20 rows by
    # that predicate at ANY corpus size.
    "hard_negative_mining": "union-branch filter above scan bounds "
                            "anchors to vec_id<20 on both branches",
}


def broadcast_corpus_violations(
        plan: str,
        corpus_markers: tuple[str, ...] = ("embeddings", "documents"),
) -> list[str]:
    """BroadcastExchange subtrees that scan a CORPUS table with neither
    a cardinality-collapsing node above the scan nor a bounding pushed
    filter on the scan itself — the corpus-proportional-broadcast OOM
    class. This is the r9 ADVICE-high shape (pq_topk_rerank broadcast a
    plain projection of the full embeddings table as 'query vectors')
    turned into a plan-level tripwire: a query-side frame legitimately
    broadcasts because its scan carries a selective pushed filter
    (vec_id < 20 → LessThan in PushedFilters) or because an aggregate/
    top-k collapsed it; a corpus-side frame has neither. Returns one
    description per offending exchange."""
    nodes = _tree_nodes(plan)
    details = _node_details(plan)
    out = []
    for i, (depth, nid, name) in enumerate(nodes):
        if "BroadcastExchange" not in name:
            continue
        subtree = []
        for d2, id2, n2 in nodes[i + 1:]:
            if d2 <= depth:
                break
            subtree.append((id2, n2))
        if any(any(c in n2 for c in _COLLAPSING) for _id2, n2 in subtree):
            continue
        for id2, n2 in subtree:
            if not n2.startswith("Scan"):
                continue
            det = details.get(id2, "")
            if not any(mk in det for mk in corpus_markers):
                continue
            pushed = det.split("PushedFilters: [", 1)
            bounding = len(pushed) > 1 and any(
                tok in pushed[1].split("]", 1)[0]
                for tok in ("LessThan", "GreaterThan", "EqualTo", "In("))
            if not bounding:
                out.append(f"BroadcastExchange ({nid}) builds from "
                           f"corpus scan ({id2}) with no collapsing "
                           f"node and no bounding pushed filter")
    return out


def cartesian_violations(plans: dict[str, str]) -> list[str]:
    """Queries of ``plans`` (`registry_plans`) whose physical plan
    contains a CartesianProduct — the
    shuffle-free all-pairs join that is quadratic at any scale. Every
    intended cross join in this codebase is against a broadcast 1-row /
    centroid / query-set frame and therefore compiles to
    BroadcastNestedLoopJoin, so the allowlist is EMPTY by design; a
    CartesianProduct appearing means a broadcast hint was lost."""
    return [name for name, plan in plans.items()
            if "CartesianProduct" in plan]


def main() -> None:
    if "--windows" in sys.argv:
        argv = [a for a in sys.argv[1:] if a != "--windows"]
        sf_dir = argv[0] if argv else "/root/testdata/sf0.001"
        from airline_data_warehouse_spark.plans.registry import all_queries
        from airline_data_warehouse_spark.session import get_spark
        spark = get_spark(app_name="window-audit")
        spark.sparkContext.setLogLevel("ERROR")
        violations = window_violations(
            registry_plans(spark, sf_dir, all_queries()))
        for name, specs in violations.items():
            print(f"VIOLATION {name}:")
            for s in specs:
                print(f"    {s[:160]}")
        print(f"\n{len(violations)} violations "
              f"({len(WINDOW_ALLOWLIST)} allowlisted)")
        sys.exit(1 if violations else 0)

    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    names = sys.argv[2:] or AUDITED
    from airline_data_warehouse_spark.plans.registry import all_queries
    from airline_data_warehouse_spark.session import get_spark

    spark = get_spark(app_name="explain-audit")
    spark.sparkContext.setLogLevel("ERROR")
    # Dump the STATIC plan: under AQE, explain() shows only an
    # AdaptiveSparkPlan wrapper whose codegen spans / final join choices
    # appear after execution, so the feature greps below would read
    # always-false (r07 finding — the codegen check had gone inert).
    # AQE's runtime behavior is probed where it matters: the codegen
    # tripwire executes with fallback=false, and the skew/scale probes
    # run with AQE on.
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    registry = all_queries()
    for name in names:
        plan = plan_of(registry[name].builder(spark, sf_dir))
        checks = {
            "broadcast join": "BroadcastHashJoin" in plan,
            # formatted explain marks codegen stages with a "*" prefix
            # ("+- * Project (n)"), not the literal WholeStageCodegen
            # string (that's simple-mode); match either (r07 fix — the
            # literal-only grep read always-false)
            "whole-stage codegen": "WholeStageCodegen" in plan
                                   or "- * " in plan or plan.lstrip().startswith("* "),
            "pushed filters": "PushedFilters: [" in plan and
                              any(f"PushedFilters: [{c}" in plan.replace("PushedFilters: [], ", "")
                                  for c in "IGLEN") or "PushedFilters" in plan,
            "column-pruned scan": "ReadSchema" in plan,
        }
        print(f"=== {name} ===")
        for k, v in checks.items():
            print(f"  [{'x' if v else ' '}] {k}")
        if "--full" in sys.argv:
            print(plan)
    print("\n(re-run with --full to dump plans)")


if __name__ == "__main__":
    main()
