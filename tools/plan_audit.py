"""Plan audit over the whole query surface: count the plan shapes that
go quadratic or interpreter-bound at scale.

For every ``__spark_entry__.queries()`` entry (built at sf0.001 — plans,
not timings), report:

- **python eval nodes** (ArrowEvalPython / BatchEvalPython /
  MapInPandas / FlatMapGroupsInPandas): more than the operator's
  documented count usually means Catalyst re-planned a UDF branch
  twice (the r8 kmeans/diversity finding: a frame consumed by two
  downstream branches re-evaluates its whole UDF chain per branch).
- **from_json / to_json occurrences**: CodegenFallback expressions are
  re-evaluated per REFERENCE — per-column inlining or filter-pushdown
  substitution multiplies full JSON parses (the r8 Debezium/envelope
  findings; see sources/debezium.py docstrings).
- **cartesian shapes** (CartesianProduct / BroadcastNestedLoopJoin):
  legitimate only in the explicitly-gated brute-force baselines
  (emb_near_dup / emb_ann_topk / emb_ann_recall exact arms,
  olap_value_bands' tiny range-band dim, edit-dedup's length-band
  dim); anything else is a scale bug.
- **global windows** (Window/WindowGroupLimit with no partition
  spec — the 'Moving all data to a single partition' WindowExec
  shape, r10 verdict ask): legitimate only on bounded frames —
  k-row post-top-k ranks, group-count-sized certification sides,
  shard-count prefix sums — each named in GLOBAL_WINDOW_OK with its
  boundedness argument and printed as an OK line so nothing is
  silently waved through.

Run: ``python tools/plan_audit.py [sf_dir]`` — prints one line per
query that exceeds the thresholds, then a summary. Exit code 0 always
(an audit, not a gate): plans legitimately differ per operator; the
output is for the human (or the next round's notes) to triage.

``python tools/plan_audit.py --dump [sf_dir] [query ...]`` prints the
full formatted plans instead (each delimited by ``==== <name> ====``)
— use after changing an operator to confirm the plan shape
(broadcasts, pushdown, codegen spans) is still the one SCALING.md
claims.
"""

from __future__ import annotations

import contextlib
import io
import re
import sys
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

# documented gated baselines: BNLJ/cartesian is the point of the query
CARTESIAN_OK = {
    "emb_near_dup",
    "emb_ann_topk",
    "emb_ann_recall",
    "olap_value_bands",
    "docs_edit_dedup",
    # PQ's honest linear-scan baseline: ADC over codes x broadcast
    # LUTs IS a full scan by design (the pruned path is emb_ivf_pq_topk)
    "emb_pq_topk",
    # scalar broadcast: the drift plant joins a ONE-ROW max-LSN frame
    # (era thresholds) — BNLJ with a 1-row build side, in both plan
    # branches (key explode + resource bounds), is the intended shape
    "cdc_schema_drift",
    # Q22's decorrelated scalar average: customer crossJoins the
    # ONE-ROW (sum_u4, cnt) aggregate — BNLJ with a 1-row build side
    # is the intended shape (olap_tpch_heavy.dormant_rich_customers)
    "olap_dormant_rich_customers",
    # Q11's decorrelated scalar threshold: part totals crossJoin the
    # ONE-ROW nation-total aggregate (olap_tpch_rest.important_stock)
    "olap_important_stock",
    # min-max normalization joins the ONE-ROW per-dimension bounds
    # frame back onto every row (operators/zorder.py docstring)
    "olap_zorder_layout",
    # the approx-deciles certification crossJoins the ONE-ROW sketch-
    # cuts aggregate onto the ONE-ROW exact side (olap_approx.py) —
    # BNLJ with 1-row sides on both ends is the intended shape
    "olap_spend_deciles_approx",
}

# documented single-partition windows: each is the deliberate EXACT
# side of a certification harness (ground truth the estimator is
# graded against) or a metadata-sized frame, never the corpus-scale
# production path — the r10 verdict asked the audit to see and name
# these instead of being blind to the shape. tag -> why it is bounded.
GLOBAL_WINDOW_OK = {
    # ntile deciles over per-customer spend (customer-count-sized,
    # not event-sized; the production swap-in is EXECUTED as
    # olap_spend_deciles_approx: approx_percentile cuts + banding)
    "olap_spend_deciles": "customer-grain ntile certification",
    # the swap-in's own certification harness: its exact rank side is
    # the same customer-grain window (production runs only the sketch)
    "olap_spend_deciles_approx": "exact-rank certification side",
    # exact rank side the mergeable-sample bands are certified against
    # (reservoir.py sample_quantiles_check: certification only — the
    # production artifact is the k-row merged sample itself)
    "olap_sample_quantiles": "exact-rank certification side",
    # prefix-sum over SHARD-COUNT rows (two-pass sharding: bucket
    # offsets are shards-many, not docs-many; sharding.py docstring)
    "docs_shard_assign": "shard-count-sized bucket offsets",
    # rank re-derived AFTER limit(k): the window sorts k rows, the
    # corpus-scale selection is TakeOrderedAndProject (olap.py
    # top_revenue_customers docstring, plan-pinned in test_plans.py)
    "olap_top_customers": "k-row post-top-k ranking",
    # scalar max over the per-resource HEADS frame (distinct-resource-
    # sized after its groupBy) — M4 lag vs feed head
    "cdc_lag": "resource-count-sized scalar-max frame",
}

THRESHOLDS = {
    "py_nodes": 2,
    "from_json": 4,
    "to_json": 12,
    "cartesian": 0,
    "global_window": 0,
}


def _global_windows(plan: str) -> int:
    """Window/WindowGroupLimit physical nodes with NO partition spec —
    the shape WindowExec warns about ('Moving all data to a single
    partition'). In formatted detail a Window node's Arguments carry
    up to three top-level lists: [functions], [partitionSpec],
    [orderSpec] — but an unordered window omits the orderSpec and a
    global one omits the partitionSpec, so a two-list node is
    ambiguous; disambiguate by content (an orderSpec always carries
    ASC/DESC, a partitionSpec never does). WindowGroupLimit prints
    Arguments: [partitionSpec], [orderSpec], rankFunction, limit —
    partition-less = leading '[],'."""
    n = 0
    for block in re.split(r"\n\(\d+\) ", plan):
        head, _, rest = block.partition("\n")
        name = head.split()[0] if head.split() else ""
        m = re.search(r"^Arguments: (.*)$", rest, re.M)
        if not m:
            continue
        args = m.group(1)
        if name == "Window":
            # top-level bracketed lists: 3 = [fns],[part],[order];
            # 2 is ambiguous — [fns],[part] (unordered, partitioned:
            # fine) vs [fns],[order] (global sort-to-one-partition).
            # An orderSpec always carries ASC/DESC; a partitionSpec
            # never does.
            lists, depth, start = [], 0, -1
            for i, c in enumerate(args):
                if c == "[":
                    if depth == 0:
                        start = i
                    depth += 1
                elif c == "]":
                    depth -= 1
                    if depth == 0:
                        lists.append(args[start : i + 1])
            if len(lists) < 2 or (
                len(lists) == 2
                and re.search(r" (ASC|DESC)\b", lists[1])
            ):
                n += 1
        elif name == "WindowGroupLimit" and args.startswith("[],"):
            n += 1
    return n


def audit(sf_dir: str) -> dict[str, dict]:
    from outboxx_spark.session import get_spark

    import __spark_entry__ as E

    spark = get_spark("plan-audit")
    out: dict[str, dict] = {}
    for name, fn in E.queries().items():
        try:
            buf = io.StringIO()
            with contextlib.redirect_stdout(buf):
                fn(spark, sf_dir).explain("formatted")
            plan = buf.getvalue()
            py_nodes = len(
                set(
                    re.findall(
                        r"(ArrowEvalPython|BatchEvalPython|MapInPandas|"
                        r"FlatMapGroupsInPandas) \((\d+)\)",
                        plan,
                    )
                )
            )
            out[name] = {
                "py_nodes": py_nodes,
                "from_json": plan.count("from_json"),
                "to_json": plan.count("to_json") + plan.count("StructsToJson"),
                # each physical node prints twice in formatted output
                # (tree + detail) — halve to a node count
                "cartesian": (
                    plan.count("CartesianProduct")
                    + plan.count("BroadcastNestedLoopJoin")
                )
                // 2,
                "global_window": _global_windows(plan),
            }
        except Exception as e:  # noqa: BLE001 - audit must finish the sweep
            out[name] = {"error": type(e).__name__}
    return out


def dump(sf_dir: str, names: list[str]) -> None:
    from outboxx_spark.session import get_spark

    import __spark_entry__ as E

    spark = get_spark("plan-dump")
    qs = E.queries()
    for name in names or list(qs):
        print(f"==== {name} ====")
        qs[name](spark, sf_dir).explain("formatted")


def main() -> None:
    args = [a for a in sys.argv[1:] if a != "--dump"]
    sf_dir = (
        args.pop(0)
        if args and args[0].startswith("/")
        else "/root/testdata/sf0.001"
    )
    if "--dump" in sys.argv:
        dump(sf_dir, args)
        return
    report = audit(sf_dir)
    flagged = 0
    for name, d in report.items():
        if "error" in d:
            print(f"ERROR   {name}: {d['error']}")
            flagged += 1
            continue
        reasons = [
            f"{k}={v}"
            for k, v in d.items()
            if v > THRESHOLDS[k]
            and not (k == "cartesian" and name in CARTESIAN_OK)
            and not (k == "global_window" and name in GLOBAL_WINDOW_OK)
        ]
        if reasons:
            print(f"FLAG    {name}: {', '.join(reasons)}")
            flagged += 1
        elif d.get("global_window", 0) > 0:
            print(
                f"OK      {name}: global_window={d['global_window']} "
                f"[{GLOBAL_WINDOW_OK[name]}]"
            )
    print(f"audited {len(report)} queries, {flagged} flagged")


if __name__ == "__main__":
    main()
