"""curation_pipeline end-to-end bench with a per-stage wall-time split.

Round-6 measured each curation component at x100 in isolation, but the
COMPOSED pipeline's capstone topped out at 50k docs (SCALE_NOTES:413) —
this tool closes that gap: it runs the exact stages of the
`curation_pipeline` registry query (exact dedup -> MinHash-LSH pair gen
-> connected components -> quality filter -> hash split) over any
corpus dir, materializing each stage's output once (persist + count) so
the reported number is THAT stage's cost, not a recomputation of its
whole prefix.

Usage: python -m tools.pipeline_bench [sf_dir]
Output: one JSON line with per-stage seconds + row counts.
"""

from __future__ import annotations

import json
import sys
import time


def main() -> int:
    from pyspark.sql import functions as F
    from pyspark.storagelevel import StorageLevel

    from bigdatalab_spark.scale.curation import hash_split
    from bigdatalab_spark.scale.dedup import (
        connected_components,
        exact_dedup_groups,
        minhash_near_dups,
    )
    from bigdatalab_spark.scale.textqa import quality_features
    from bigdatalab_spark.session import get_session
    from bigdatalab_spark.sources import load_table

    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    spark = get_session(app_name="pipeline-bench")
    spark.sparkContext.setLogLevel("ERROR")

    out: dict = {"sf_dir": sf_dir, "stages": {}, "rows": {}}
    t_all = time.perf_counter()

    # MEMORY_AND_DISK: at 500k+ docs the text column can outgrow the
    # storage fraction; spilling a stage input to disk is cheaper than
    # recomputing the whole prefix into every downstream stage.
    # Stages take a THUNK, not a frame: connected_components does its
    # work EAGERLY at call time (it checkpoints the pairs, then solves
    # a small graph on the driver or runs its Spark rounds), so timing
    # must bracket construction, not just the final count.
    def stage(name: str, build, keep: bool = True):
        t0 = time.perf_counter()
        df = build()
        if keep:
            df = df.persist(StorageLevel.MEMORY_AND_DISK)
        n = df.count()
        out["stages"][name] = round(time.perf_counter() - t0, 2)
        out["rows"][name] = n
        return df

    docs = stage("scan", lambda: load_table(spark, sf_dir, "documents"))
    keepers = stage(
        "exact_dedup",
        lambda: docs.join(
            exact_dedup_groups(docs).select(F.col("keep_id").alias("doc_id")),
            "doc_id",
            "left_semi",
        ),
    )
    pairs = stage(
        "lsh_pairs",
        lambda: minhash_near_dups(keepers, threshold=0.5).select("doc1", "doc2"),
    )
    clusters = stage(
        "connected_components",
        lambda: connected_components(keepers.select("doc_id"), pairs),
    )
    reps = clusters.filter("doc_id = cluster_id").select("doc_id")
    survivors = keepers.join(reps, "doc_id", "left_semi")
    passed = stage(
        "quality_filter",
        lambda: quality_features(survivors)
        .filter(F.col("quality_score") >= 0.5)
        .select("doc_id", "n_tokens"),
    )
    t0 = time.perf_counter()
    final = (
        hash_split(passed, "doc_id")
        .groupBy("split")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").alias("n_tokens_total"),
        )
        .orderBy("split")
        .collect()
    )
    out["stages"]["split_agg"] = round(time.perf_counter() - t0, 2)
    out["total_sec"] = round(time.perf_counter() - t_all, 2)
    out["splits"] = {r["split"]: [r["n_docs"], int(r["n_tokens_total"])] for r in final}
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    sys.exit(main())
