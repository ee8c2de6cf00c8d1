"""Planted-skew join bench: measures AQE skew-split behavior in seconds.

The mechanism is already plan-locked (tests/test_plans.py
``test_aqe_splits_skewed_join_partition`` asserts
``SortMergeJoin(skew=true)`` under lowered thresholds); this tool puts
NUMBERS on it at data scale, per the scale-notes discipline of
measuring rather than asserting. It plants the canonical hot key —
one join key carries 50% of lineitem — forces the sort-merge path
(broadcast disabled, as it would be with a big build side at 100 TB),
and times the join+aggregate with AQE skew handling ON vs OFF, noting
whether the executed plan actually split (``skew=true``).

At sf0.1 the hot partition is a few MB — far under the production
256 MB threshold — so the tool also runs a lowered-threshold pass
(16 MB) to show the split engaging at local scale; at the x100 replica
the hot partition crosses the PRODUCTION threshold on its own.

Usage: python -m tools.skew_bench [sf_dir]
Output: one JSON line per configuration.
"""

from __future__ import annotations

import json
import sys
import time


def _timed(df) -> float:
    """Time a full execution THROUGH the frame's own QueryExecution.

    ``collect`` (one aggregate row here) executes the DataFrame's own
    plan, so the post-run ``executedPlan`` inspection sees the plan AQE
    actually finalized; a noop ``write`` would execute a fresh internal
    QueryExecution and leave the inspected plan un-executed (the first
    version of this tool reported skew splits as absent for exactly
    that reason)."""
    t0 = time.perf_counter()
    df.collect()
    return time.perf_counter() - t0


def main() -> int:
    from pyspark.sql import functions as F

    from bigdatalab_spark.plans.compile import conf_scope
    from bigdatalab_spark.session import get_session
    from bigdatalab_spark.sources import load_table

    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    spark = get_session(app_name="skew-bench")
    spark.sparkContext.setLogLevel("ERROR")

    li = load_table(spark, sf_dir, "lineitem")
    n = li.count()
    # plant the hot key: half of lineitem lands on suppkey 1
    skewed = li.select(
        F.when(F.col("l_orderkey") % 2 == 0, F.lit(1))
        .otherwise(F.col("l_suppkey"))
        .alias("k"),
        "l_quantity",
        "l_extendedprice",
        "l_discount",
    )
    right = (
        load_table(spark, sf_dir, "supplier")
        .select(F.col("s_suppkey").alias("k"), "s_acctbal")
    )

    def run(skew_on: bool, threshold: str) -> dict:
        confs = {
            "spark.sql.adaptive.skewJoin.enabled": str(skew_on).lower(),
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": threshold,
            "spark.sql.adaptive.advisoryPartitionSizeInBytes": threshold,
            "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
            "spark.sql.autoBroadcastJoinThreshold": "-1",
        }
        def build():
            return skewed.join(right, "k").agg(
                F.sum(
                    F.col("l_extendedprice") * (1 - F.col("l_discount"))
                ).alias("rev"),
                F.count(F.lit(1)).alias("n"),
            )

        # a FRESH frame per timed run: re-collecting one QueryExecution
        # reuses its materialized shuffle stages and times ~nothing
        times = []
        plan_split = False
        with conf_scope(spark, confs):
            for _ in range(2):
                j = build()
                times.append(_timed(j))
                plan = j._jdf.queryExecution().executedPlan().toString()
                plan_split = "skew=true" in plan
        return {
            "skew_handling": skew_on,
            "threshold": threshold,
            "secs": round(min(times), 2),
            "plan_split": plan_split,
        }

    results = {
        "sf_dir": sf_dir,
        "lineitem_rows": n,
        "runs": [
            run(False, "268435456"),
            run(True, "268435456"),  # production threshold (256 MB)
            run(True, "16777216"),  # lowered (16 MB): split at local scale
        ],
    }
    print(json.dumps(results))
    return 0


if __name__ == "__main__":
    sys.exit(main())
