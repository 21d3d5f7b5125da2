"""Capture AQE-final physical plans (``explain("formatted")``).

    python scripts/dump_plans.py
        Every registry query at sf0.001 into PLANS.md, the scale review
        artifact: broadcast vs shuffle decisions, pushed filters, read
        schemas and codegen spans are all visible. Regenerate after
        plan-affecting changes. Exits 1 on a BNLJ/Cartesian node outside
        ``plans_census.BNLJ_ALLOWLIST``.

    python scripts/dump_plans.py before|after NAME ...
        Each named query at $SPARK_GRAFT_SF_DIR (default sf0.1, the bench
        scale) into plans/<NAME>_<tag>.txt: the before/after artifact of a
        plan-changing optimization.

Iterative queries (q54/q55) show the plan of the FINAL DataFrame; their
loop rounds are checkpoint-bounded and don't appear in one plan.
"""

from __future__ import annotations

import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

SF_DIR = "/root/testdata/sf0.001"

# Adjudicated allowlist lives in the package (single source of truth
# for this script AND tests/test_plan_quality.py).
from binance_data_ingestor_spark.plans_census import BNLJ_ALLOWLIST
from binance_data_ingestor_spark.queries import registry
from binance_data_ingestor_spark.session import get_spark


def final_plan(spark, df) -> str:
    """The formatted plan of ``df``'s own QueryExecution, AQE-final.

    Executing THIS QueryExecution (not a separate action's) finalizes its
    AdaptiveSparkPlan, so runtime SMJ->SHJ conversions, AQEShuffleRead
    coalescing and skew splits appear (``isFinalPlan=true``); count() on
    the InternalRow RDD collects no rows.
    """
    qe = df._jdf.queryExecution()
    qe.executedPlan().execute().count()
    return qe.explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    ).strip()


def dump_named(tag: str, names: list[str]) -> None:
    if tag not in ("before", "after") or not names:
        sys.exit("usage: dump_plans.py [before|after NAME ...]")
    sf_dir = os.environ.get(
        "SPARK_GRAFT_SF_DIR", os.path.join(os.path.dirname(SF_DIR), "sf0.1")
    )
    spark = get_spark(
        "dump-plans", extra_conf={"spark.ui.showConsoleProgress": "false"}
    )
    qs, _ = registry()
    for name in names:
        path = os.path.join(ROOT, "plans", f"{name}_{tag}.txt")
        with open(path, "w") as f:
            f.write(final_plan(spark, qs[name](spark, sf_dir)) + "\n")
        print(f"wrote {path}", file=sys.stderr)


def dump_registry() -> None:
    # Round-11: build the session through the engine factory so the
    # dumped plans carry the engine's real defaults (join-strategy
    # preferences, AQE knobs) instead of a vanilla session's — the
    # census and the plan-pinned tests run through get_spark too.
    spark = get_spark("dump-plans", cpus=8, shuffle_partitions=8)
    spark.sparkContext.setLogLevel("ERROR")

    qs, _ = registry()
    sections = []
    rogue = []
    bnlj_found = []
    for name, fn in sorted(qs.items()):
        plan = final_plan(spark, fn(spark, SF_DIR))
        if "BroadcastNestedLoopJoin" in plan or "CartesianProduct" in plan:
            bnlj_found.append(name)
            if name.split("_")[0] not in BNLJ_ALLOWLIST:
                rogue.append(name)
        sections.append(f"## {name}\n\n```\n{plan}\n```\n")
        print(f"done {name}", file=sys.stderr)

    # The census paragraph is GENERATED from the plans just dumped —
    # never maintained by hand (the round-5 verdict caught the
    # hand-written list drifting from the actual plan set).
    census = ", ".join(sorted(n.split("_")[0] for n in bnlj_found))
    header = (
        "# PLANS — AQE-final physical plans per registry query\n\n"
        "Generated by `scripts/dump_plans.py` at sf0.001. What to look\n"
        "for per the scale rules: filters in `PushedFilters`, pruned\n"
        "`ReadSchema`, `BroadcastHashJoin` only on bounded dims,\n"
        "`TakeOrderedAndProject` instead of global sorts, and no\n"
        "`CartesianProduct`/`BroadcastNestedLoopJoin` on data-sized\n"
        "inputs.\n\n"
        "BNLJ census (generated from these plans; adjudication notes in\n"
        "`binance_data_ingestor_spark/plans_census.py`): every\n"
        "BNLJ/Cartesian node in this file crosses a 1-ROW aggregate\n"
        "(global min/max/count/total, quantile-boundary row, kth-hash,\n"
        "model normalizer) or a marginal table (class priors, digit\n"
        "table) into a scan — the broadcast side is O(1) regardless of\n"
        f"SF. Queries with such a node ({len(bnlj_found)}): {census}.\n"
        "Anything outside `plans_census.BNLJ_ALLOWLIST` with a BNLJ node\n"
        "is a regression — this script exits non-zero on it, and\n"
        "`tests/test_plan_quality.py::test_bnlj_census_matches_allowlist`\n"
        "re-checks the committed file on every pytest run.\n\n"
    )
    with open(os.path.join(ROOT, "PLANS.md"), "w") as f:
        f.write(header + "\n".join(sections))
    print(f"wrote PLANS.md with {len(sections)} plans", file=sys.stderr)
    if rogue:
        print(f"ROGUE BNLJ outside census: {rogue}", file=sys.stderr)
        sys.exit(1)


if __name__ == "__main__":
    if len(sys.argv) > 1:
        dump_named(sys.argv[1], sys.argv[2:])
    else:
        dump_registry()
