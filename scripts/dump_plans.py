"""Capture AQE-final physical plans (``explain("formatted")``).

    python scripts/dump_plans.py before|after NAME ...
        Each named query at $SPARK_GRAFT_SF_DIR (default sf0.1, the bench
        scale) into plans/<NAME>_<tag>.txt: the before/after artifact of a
        plan-changing optimization. Expression ids (``#123``) and codegen
        stage ids (``[codegen id : 4]``) are normalised, so a diff of the
        two files shows only plan changes.

AQE still picks a broadcast build side by which query stage finishes
first, so an unchanged tree can give a different plan from run to run
(about 10 of the 293 registry plans at sf0.001, e.g. q03, q114, q202).
Rerun both sides before calling a difference a plan change.

Iterative queries (q54/q55) show the plan of the FINAL DataFrame; their
loop rounds are checkpoint-bounded and don't appear in one plan.
"""

from __future__ import annotations

import os
import re
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

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


def normalise_ids(plan: str) -> str:
    """Replace the ids that change run to run with fixed placeholders."""
    plan = re.sub(r"#\d+", "#N", plan)
    return re.sub(r"\[codegen id : \d+\]", "[codegen id : N]", plan)


def dump_named(tag: str, names: list[str]) -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark(
        "dump-plans", extra_conf={"spark.ui.showConsoleProgress": "false"}
    )
    qs, _ = registry()
    for name in names:
        path = os.path.join(ROOT, "plans", f"{name}_{tag}.txt")
        with open(path, "w") as f:
            f.write(normalise_ids(final_plan(spark, qs[name](spark, sf_dir))) + "\n")
        print(f"wrote {path}", file=sys.stderr)


if __name__ == "__main__":
    if len(sys.argv) < 3 or sys.argv[1] not in ("before", "after"):
        sys.exit("usage: dump_plans.py before|after NAME ...")
    dump_named(sys.argv[1], sys.argv[2:])
