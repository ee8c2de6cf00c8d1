"""Iterative BPE merge training over a document corpus (scale extension).

The real tokenizer-training loop, not just pair statistics
(queries/datapipe.py ``bpe_merge_stats`` is round 0 of this): each round
counts adjacent token pairs corpus-wide, picks the most frequent pair
(count DESC, then lexicographic — fully deterministic), and rewrites
every document's token sequence with the pair merged greedily
left-to-right non-overlapping, exactly the BPE definition (Sennrich et
al. 2016). Merged units join with the 0x1f unit separator so merges
stay invertible and re-mergeable.

Scale design: one merge round = one map-side-combined pair count (the
only shuffle; the argmax result crossing the driver is ONE row) plus a
narrow per-document rewrite — all array higher-order functions, zero
Python per row. The driver loop is inherent to BPE (round r+1's counts
depend on round r's rewrite); at 100 TB each round is a scan-speed
job and the current token table would be checkpointed per round (here:
cached, previous round unpersisted). The greedy overlap rule matters
only for A==B runs ("b b b b b" -> [bb, bb, b]) and is implemented as a
single fold per document.

The whole loop replays in DuckDB: the registered query's oracle unrolls
N rounds of count -> top-1 -> windowed greedy rewrite CTEs generated
from the same constants (queries/bpe.py), so a divergence in ANY
round's pair choice or rewrite fails the strict gate.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from bigdatalab_spark.functions import tokenize

#: unit separator joining merged tokens — never appears in whitespace
#: tokenization output, so merged units cannot collide with corpus words
BPE_SEP = "\x1f"


def _adjacent_pairs(toks: Column) -> Column:
    """array<struct<l,r>> of adjacent token pairs (empty under 2 tokens)."""
    idx = F.when(
        F.size(toks) >= 2, F.sequence(F.lit(1), F.size(toks) - 1)
    ).otherwise(F.array().cast("array<int>"))
    return F.transform(
        idx,
        lambda i: F.struct(
            F.element_at(toks, i).alias("l"),
            F.element_at(toks, i + 1).alias("r"),
        ),
    )


def pair_counts(tok_df: DataFrame) -> DataFrame:
    """(l, r, n_pairs) corpus-wide adjacent-pair counts — one partial-
    aggregated shuffle; overlapping occurrences count individually,
    as in reference BPE implementations."""
    return (
        tok_df.select(F.explode(_adjacent_pairs(F.col("toks"))).alias("p"))
        .groupBy(F.col("p.l").alias("l"), F.col("p.r").alias("r"))
        .agg(F.count(F.lit(1)).alias("n_pairs"))
    )


def merge_pair(tok_df: DataFrame, left: str, right: str) -> DataFrame:
    """Rewrite every token array with (left, right) merged greedily
    left-to-right non-overlapping.

    The fold keeps the last MERGED position: a match adjacent to it is
    skipped (its left token was consumed), anything else merges. For
    distinct left/right, matches are never adjacent and every match
    merges; for left==right runs this yields the ceil(run/2) greedy
    packing.
    """
    t = F.col("toks")
    matched = F.when(F.size(t) >= 2, F.filter(
        F.sequence(F.lit(1), F.greatest(F.size(t) - 1, F.lit(1))),
        lambda i: (F.element_at(t, i) == F.lit(left))
        & (F.element_at(t, i + 1) == F.lit(right)),
    )).otherwise(F.array().cast("array<int>"))
    kept = F.aggregate(
        matched,
        F.struct(
            F.array().cast("array<int>").alias("ks"),
            F.lit(None).cast("int").alias("last"),
        ),
        lambda acc, p: F.when(p == acc["last"] + 1, acc).otherwise(
            F.struct(F.concat(acc["ks"], F.array(p)).alias("ks"), p.alias("last"))
        ),
        lambda acc: acc["ks"],
    )
    merged_tok = F.lit(left + BPE_SEP + right)
    with_kept = tok_df.select("doc_id", "toks", kept.alias("ks"))
    k = F.col("ks")
    # empty-array guard: sequence(1, 0) would yield the DESCENDING [1, 0]
    # and element_at would throw on the empty array (empty docs are
    # routine in real corpora)
    rebuilt = F.when(
        F.size(t) > 0,
        F.filter(
            F.transform(
                F.sequence(F.lit(1), F.size(t)),
                lambda i: F.when(F.array_contains(k, i), merged_tok)
                .when(F.array_contains(k, i - 1), F.lit(None))
                .otherwise(F.element_at(t, i)),
            ),
            lambda x: x.isNotNull(),
        ),
    ).otherwise(F.array().cast("array<string>"))
    return with_kept.select("doc_id", rebuilt.alias("toks"))


def bpe_train(
    docs: DataFrame,
    n_merges: int = 4,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Train ``n_merges`` BPE merges; returns the merge table
    (merge_round, left, right, n_pairs) ordered by round.

    Stops early if the corpus runs out of adjacent pairs. The returned
    frame is driver-built (one row per round — the merge table IS the
    trained artifact, vocabulary-sized, never data-sized).
    """
    spark = docs.sparkSession
    # localCheckpoint, not cache: caching keeps the logical plan, so
    # round r's rewrite plan would nest all r-1 predecessors (each
    # merge_pair adds several HOF layers) — at tokenizer-scale merge
    # counts that is an unbounded plan-tree blowup, the same failure
    # mode fixed in connected_components' Spark path. Checkpointing
    # keeps every round's plan constant-size; the previous round's blocks are
    # released as soon as the new round materializes so the loop never
    # accumulates dead token copies waiting on GC-driven cleanup.
    from bigdatalab_spark.operators.checkpoints import release_local_checkpoint

    # LAZY checkpoints: each round's pair-count action materializes the
    # round's rewrite as a side effect, so rewrite + count are ONE Spark
    # job instead of two (eager checkpointing paid a separate
    # materialization job per round). The previous round's blocks are
    # released only AFTER the new round has materialized (the rewrite
    # reads them), preserving the eager loop's release discipline.
    toks = docs.select(
        F.col(id_col).alias("doc_id"), tokenize(text_col).alias("toks")
    ).localCheckpoint(eager=False)
    merges: list[tuple[int, str, str, int]] = []
    prev = None
    for r in range(1, n_merges + 1):
        top = (
            pair_counts(toks)
            .orderBy(F.desc("n_pairs"), F.asc("l"), F.asc("r"))
            .first()
        )
        # toks is materialized now; its predecessor is safe to release
        if prev is not None:
            release_local_checkpoint(prev)
            prev = None
        if top is None:
            break
        merges.append((r, top["l"], top["r"], top["n_pairs"]))
        if r < n_merges:
            prev = toks
            toks = merge_pair(toks, top["l"], top["r"]).localCheckpoint(
                eager=False
            )
        # else: the FINAL round's rewrite is never counted — skip
        # building (and materializing) a corpus-sized frame nothing
        # reads; the merge table below is driver-built
    release_local_checkpoint(toks)
    return spark.createDataFrame(
        merges, "merge_round int, left string, right string, n_pairs bigint"
    )


def bpe_encode(
    docs: DataFrame,
    merges: list[tuple[str, str]],
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Apply trained merges in order — the ENCODE half of the tokenizer
    (train once with :func:`bpe_train`, encode any corpus with the merge
    table). Each merge is one narrow greedy rewrite; len(merges) chained
    projections, no shuffle at all. A lazy checkpoint every 8 merges
    bounds the composed plan depth for long merge tables (same
    plan-nesting failure mode as the training loop) without forcing
    extra jobs on short ones. Returns (doc_id, toks)."""
    toks = docs.select(F.col(id_col).alias("doc_id"), tokenize(text_col).alias("toks"))
    for i, (left, right) in enumerate(merges, 1):
        toks = merge_pair(toks, left, right)
        if i % 8 == 0 and i < len(merges):
            toks = toks.localCheckpoint(eager=False)
    return toks
