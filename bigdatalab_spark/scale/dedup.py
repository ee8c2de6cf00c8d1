"""Deduplication operators for training-data pipelines.

Exact (hash-groupBy), MinHash+LSH (shingle -> minhash -> band ->
bucket-join -> exact-Jaccard verify), SimHash signatures, and n-gram
Jaccard — all as declarative DataFrame pipelines over
:mod:`bigdatalab_spark.scale.hashing`'s portable hashes, so the full
LSH pipeline replays bit-for-bit in the DuckDB oracle.

Scale design (the point of these operators):

- Shingling/hashing is narrow (no shuffle); the first shuffle is the
  per-(doc, permutation) min — map-side partially aggregated, so the
  shuffle carries ≤ k rows per doc, not one per shingle.
- LSH banding turns the quadratic all-pairs problem into a bucket
  join: only docs sharing a band signature meet, which is the standard
  way MinHash dedup runs on 100 TB corpora (candidate count scales with
  collisions, not n²).
- Exact-Jaccard verification joins shingle sets ONLY for candidate
  pairs (semi-join pushdown on the pair list).
"""

from __future__ import annotations

import logging

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

_LOG = logging.getLogger(__name__)

from bigdatalab_spark.functions import normalize_text, tokenize, word_shingles
from bigdatalab_spark.plans.compile import flat_plan_scope, overlap_actions
from bigdatalab_spark.scale.hashing import (
    MINHASH_BANDS,
    MINHASH_COEFFS,
    MINHASH_ROWS,
    minhash_value,
    portable_hash,
)


def exact_dedup_groups(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Exact duplicate groups by md5 of normalized text: one row per
    distinct content with the keeper id (min id) and multiplicity."""
    return (
        docs.select(F.col(id_col), F.md5(normalize_text(text_col)).alias("content_hash"))
        .groupBy("content_hash")
        .agg(
            F.min(id_col).alias("keep_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
    )


def doc_shingles(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id", n: int = 3) -> DataFrame:
    """Distinct word n-gram shingles per document: (id, shingle).

    Two-phase select: tokenize ONCE into a materialized array column,
    then shingle over it — see word_shingles PERF note. Set semantics
    come from per-doc ``array_distinct`` BEFORE the explode: same rows
    as a post-explode ``distinct()`` (doc_id is fixed within an array)
    with zero shuffle instead of a full-data exchange."""
    return docs.select(
        F.col(id_col).alias("doc_id"), tokenize(text_col).alias("toks")
    ).select(
        "doc_id",
        F.explode(F.array_distinct(word_shingles(F.col("toks"), n))).alias("shingle"),
    )


def minhash_signatures(shingles: DataFrame) -> DataFrame:
    """k=16 MinHash signature per doc, one shuffle (partial-agg'd mins).

    Returns (doc_id, mh_0 .. mh_15).
    """
    h = portable_hash("shingle")
    aggs = [
        F.min(minhash_value(h, i)).alias(f"mh_{i}") for i in range(len(MINHASH_COEFFS))
    ]
    return shingles.groupBy("doc_id").agg(*aggs)


def _band_col(i: int) -> Column:
    cols = [F.col(f"mh_{i * MINHASH_ROWS + r}") for r in range(MINHASH_ROWS)]
    return F.concat_ws("_", *cols)


def band_rows(signatures: DataFrame) -> DataFrame:
    """Explode a signature frame to one row per (doc_id, band, sig)."""
    return signatures.select(
        "doc_id",
        F.explode(
            F.array(
                *[
                    F.struct(F.lit(i).alias("band"), _band_col(i).alias("sig"))
                    for i in range(MINHASH_BANDS)
                ]
            )
        ).alias("b"),
    ).select("doc_id", "b.band", "b.sig")


def cap_buckets(bands: DataFrame, max_bucket_size: int) -> DataFrame:
    """Drop (band, sig) buckets larger than ``max_bucket_size`` — the
    degenerate-signature quadratic guard. Implemented as a window count
    over (band, sig): the window's hash exchange is the SAME
    distribution the downstream bucket join requires, so Catalyst
    reuses it and the guard costs a within-partition sort, not an
    extra pass."""
    wb = Window.partitionBy("band", "sig")
    return (
        bands.withColumn("_n_bucket", F.count(F.lit(1)).over(wb))
        .filter(F.col("_n_bucket") <= max_bucket_size)
        .drop("_n_bucket")
    )


def lsh_candidate_pairs(
    signatures: DataFrame, max_bucket_size: int | None = None
) -> DataFrame:
    """Distinct candidate pairs (doc1 < doc2) sharing >= 1 band signature.

    ``max_bucket_size`` is the quadratic-blowup guard: candidate count
    inside one (band, sig) bucket is C(size, 2), so a single degenerate
    signature (empty docs, boilerplate) can go quadratic even though the
    pipeline as a whole is bucketed. Buckets above the cap are dropped
    from candidate generation — the safe recall tradeoff: members of a
    degenerate bucket are overwhelmingly exact/near duplicates of each
    other that exact dedup already collapses. Audit what a cap would
    drop with :func:`lsh_bucket_stats`.
    """
    bands = band_rows(signatures)
    if max_bucket_size is not None:
        # NOT persisted: the r2 persist here was re-measured in r3 with
        # interleaved warm runs (SCALE_NOTES) — the capped self-join with
        # the shingle frame already cached upstream costs ~5% over
        # uncapped (both sides recompute only the aggregation above the
        # cache; AQE broadcasts one side at gate scale, SMJ exchange
        # reuse covers cluster scale), while the persist's
        # materialization produced 4-10x outlier runs under memory
        # pressure. Dropped-bucket observability lives in
        # lsh_bucket_stats(); the hot path stays lazy so the guard adds
        # no extra job.
        bands = cap_buckets(bands, max_bucket_size)
    return blocked_self_pairs(
        bands, key_cols=("band", "sig"), id_col="doc_id", out_cols=("doc1", "doc2")
    )


def blocked_self_pairs(
    rows: DataFrame,
    key_cols: tuple[str, ...],
    id_col: str,
    out_cols: tuple[str, str] = ("id1", "id2"),
) -> DataFrame:
    """Distinct ordered pairs (id1 < id2) sharing EVERY key column — the
    one bucket self-join body behind every blocking scheme (MinHash
    bands, bucketed band tables, random-hyperplane tables). The `<`
    tie-break and the final distinct ARE the pair contract; keeping one
    copy means a change to it cannot drift between schemes."""
    a, b = rows.alias("a"), rows.alias("b")
    cond = F.col(f"a.{id_col}") < F.col(f"b.{id_col}")
    for k in key_cols:
        cond = (F.col(f"a.{k}") == F.col(f"b.{k}")) & cond
    return (
        a.join(b, cond)
        .select(
            F.col(f"a.{id_col}").alias(out_cols[0]),
            F.col(f"b.{id_col}").alias(out_cols[1]),
        )
        .distinct()
    )


def lsh_bucket_stats(signatures: DataFrame, max_bucket_size: int | None = None) -> DataFrame:
    """Band-bucket size distribution for cap auditing: one row per
    (band, sig) with ``n_docs`` and, when ``max_bucket_size`` is given,
    a ``dropped`` flag marking buckets the cap would exclude. Run this
    (it is one aggregate) before tightening the cap on a new corpus."""
    sizes = band_rows(signatures).groupBy("band", "sig").agg(
        F.count(F.lit(1)).alias("n_docs")
    )
    if max_bucket_size is not None:
        sizes = sizes.withColumn("dropped", F.col("n_docs") > max_bucket_size)
    return sizes


def jaccard_verify(pairs: DataFrame, shingles: DataFrame) -> DataFrame:
    """Exact Jaccard for each candidate pair via shingle-set joins.

    Returns (doc1, doc2, n1, n2, n_common, jaccard). The two shingle
    joins are semi-joins against the (small) candidate list, so shingle
    sets of non-candidate docs never shuffle.
    """
    sizes = shingles.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_sh"))
    s1 = shingles.withColumnRenamed("doc_id", "doc1")
    s2 = shingles.withColumnRenamed("doc_id", "doc2")
    # The candidate list and everything derived from it is small relative
    # to the corpus; AQE converts these joins to broadcast at runtime
    # from observed sizes (LocalShuffleRead), which beats static hints
    # here — hints force eager, cache-defeating materializations, and a
    # static broadcast of per-doc tables would be wrong at corpus scale.
    inter = (
        pairs.join(s1, "doc1")
        .join(s2, ["doc2", "shingle"])
        .groupBy("doc1", "doc2")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    return (
        inter.join(sizes.withColumnRenamed("doc_id", "doc1").withColumnRenamed("n_sh", "n1"), "doc1")
        .join(sizes.withColumnRenamed("doc_id", "doc2").withColumnRenamed("n_sh", "n2"), "doc2")
        .select(
            "doc1",
            "doc2",
            "n1",
            "n2",
            "n_common",
            (
                F.col("n_common").cast("double")
                / (F.col("n1") + F.col("n2") - F.col("n_common"))
            ).alias("jaccard"),
        )
    )


def minhash_near_dups(
    docs: DataFrame,
    threshold: float = 0.5,
    n: int = 3,
    max_bucket_size: int | None = 500,
) -> DataFrame:
    """Full MinHash-LSH near-dup pipeline: shingle -> sign -> band ->
    candidates -> exact-Jaccard filter at ``threshold``.

    The shingle set feeds both the signature build and the verification
    joins; cache it so the tokenize/explode/distinct runs once ("cache
    the shared intermediate", ExerciseComplete.scala:59-62 — same rule
    at 100 TB, where you'd persist to MEMORY_AND_DISK).

    The default bucket cap (500 docs => at most ~125k candidate pairs
    from any one band-bucket) is far above anything a healthy corpus
    produces per signature — it exists to stop the degenerate-signature
    quadratic case, and is a provable no-op at gate scale, which keeps
    the DuckDB oracle (which replays the uncapped pipeline) exact.

    The shingle cache backs the lazy result, so it is not unpersisted
    here — freed by ``Engine.clear_cache()`` / session end.
    """
    sh = doc_shingles(docs, n=n).cache()
    cands = lsh_candidate_pairs(minhash_signatures(sh), max_bucket_size=max_bucket_size)
    return jaccard_verify(cands, sh).filter(F.col("jaccard") >= threshold)


def incremental_dedup(
    batch: DataFrame,
    corpus: DataFrame,
    threshold: float = 0.5,
    n: int = 3,
    max_bucket_size: int | None = 500,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Dedup a NEW batch against an EXISTING corpus — the daily-ingest
    operation: the corpus is never re-clustered, only the batch is
    classified. Returns ``(doc_id, status)`` for every batch document:

    - ``'exact_dup'``: normalized content already in the corpus, or an
      earlier (lower-id) batch document has the same content;
    - ``'near_dup'``: a verified corpus near-duplicate exists
      (MinHash-LSH candidates batch×corpus, exact Jaccard >= threshold);
    - ``'new'``: neither.

    Scale design: candidate generation joins the batch's band rows
    against the corpus' — batch×corpus only, never corpus×corpus, so
    the daily cost is proportional to the batch. In production the
    corpus side's signatures/bands are precomputed once and stored
    (they are pure per-doc functions — exactly what a signature store
    holds); recomputing here keeps the operator self-contained.
    Batch-internal NEAR-dups (both docs new today) are deliberately
    not classified — they surface in the next full clustering pass;
    batch-internal EXACT dups are caught (min-id keeper rule).
    ``max_bucket_size`` caps degenerate corpus-side buckets, same guard
    and rationale as :func:`lsh_candidate_pairs`. Ids must be unique
    across batch ∪ corpus.

    The two shingle caches back the lazy result (signature build and
    Jaccard verify both read them) and so are not unpersisted here —
    freed by ``Engine.clear_cache()`` / session end.

    The corpus-side recompute is exactly what :func:`save_dedup_index`
    makes durable: build the index once at ingest, then serve every
    daily batch with :func:`incremental_dedup_from_index` — bit-identical
    answers, corpus text never re-read.
    """
    ch = corpus.select(F.md5(normalize_text(text_col)).alias("content_hash")).distinct()
    sh_c = doc_shingles(corpus, text_col, id_col, n).cache()
    bands_c = band_rows(minhash_signatures(sh_c))
    if max_bucket_size is not None:
        bands_c = cap_buckets(bands_c, max_bucket_size)
    return _classify_batch(batch, ch, bands_c, sh_c, threshold, n, text_col, id_col)


def _classify_batch(
    batch: DataFrame,
    corpus_hashes: DataFrame,
    corpus_bands: DataFrame,
    corpus_shingles: DataFrame,
    threshold: float,
    n: int,
    text_col: str,
    id_col: str,
    corpus_sizes: DataFrame | None = None,
    n_shards: int | None = None,
) -> DataFrame:
    """The batch-classification core shared by :func:`incremental_dedup`
    (corpus side recomputed in-session) and
    :func:`incremental_dedup_from_index` (corpus side loaded from the
    durable index) — ONE implementation so the two paths cannot drift:
    the serve path's bit-identity to the self-contained path is a
    structural property, not a test accident. Corpus-side inputs:
    ``corpus_hashes`` (content_hash, distinct), ``corpus_bands``
    (doc_id, band, sig — already bucket-capped), ``corpus_shingles``
    (doc_id, shingle), and optionally ``corpus_sizes`` (doc_id, n_sh) —
    when given (the index path stores it), the Jaccard verify skips the
    corpus-wide shingle-count aggregate, leaving NO corpus-proportional
    shuffle in the serve plan (scans only); when None it is computed
    from ``corpus_shingles``, which costs one partially-aggregated
    shuffle. Either way the VALUES are identical (n_sh is a pure per-doc
    function; ids are unique across batch ∪ corpus)."""
    # NULL content hashes (NULL/unreadable text) are never exact-dups:
    # SQL equality never matches NULL, and a partitionBy would silently
    # group all NULLs together — filter them out of BOTH exact paths so
    # the semantics match the corpus-side join and the SQL oracle
    bh = batch.select(
        F.col(id_col).alias("doc_id"), F.md5(normalize_text(text_col)).alias("content_hash")
    ).filter(F.col("content_hash").isNotNull())
    wmin = Window.partitionBy("content_hash")
    exact_ids = (
        bh.join(corpus_hashes, "content_hash", "left_semi")
        .select("doc_id")
        .union(
            bh.withColumn("_min", F.min("doc_id").over(wmin))
            .filter(F.col("doc_id") > F.col("_min"))
            .select("doc_id")
        )
        .distinct()
    )
    sh_b = doc_shingles(batch, text_col, id_col, n).cache()
    bands_b = band_rows(minhash_signatures(sh_b))
    cands = (
        bands_b.alias("b")
        .join(
            corpus_bands.alias("c"),
            (F.col("b.band") == F.col("c.band")) & (F.col("b.sig") == F.col("c.sig")),
        )
        .select(F.col("b.doc_id").alias("doc1"), F.col("c.doc_id").alias("doc2"))
        .distinct()
        # no-op under the documented id-uniqueness contract (batch and
        # corpus ids disjoint), a guard against self-pairing if it is
        # violated — and a "likely selective" predicate in the candidate
        # lineage, which is what lets Catalyst plan dynamic partition
        # pruning from it on the sharded serve path below
        .filter(F.col("doc1") != F.col("doc2"))
    )
    # split-sided Jaccard verify: doc1 is always a batch doc and doc2
    # always a corpus doc (candidates come from the batch×corpus band
    # join), so the shingle joins can address each side's frame
    # directly instead of a batch∪corpus union — same values as
    # jaccard_verify, but the corpus side needs only (a) the s2
    # equi-join against candidate shingles and (b) per-doc sizes,
    # which the index precomputes
    if corpus_sizes is None:
        corpus_sizes = corpus_shingles.groupBy("doc_id").agg(
            F.count(F.lit(1)).alias("n_sh")
        )
    sizes_b = sh_b.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_sh"))
    s1 = sh_b.withColumnRenamed("doc_id", "doc1")
    s2 = corpus_shingles.withColumnRenamed("doc_id", "doc2")
    if n_shards is not None and "shard" in s2.columns:
        # index-loaded shingle store: shard = pmod(xxhash64(doc_id),
        # n_shards) is its PARTITION column. The candidates' distinct
        # shard set (metadata-sized: ≤ n_shards ints) is collected and
        # pushed as a LITERAL partition filter, so the store scan reads
        # only the directories holding candidate documents — static
        # pruning rather than DPP because Catalyst declines to plan a
        # dynamic pruning subquery whose filtering side contains a join
        # (the band join here), and a provable PartitionFilters entry
        # beats a heuristic that silently degrades to a full scan.
        # Pure pruning: shard is a function of doc_id, so a corpus doc
        # outside the candidate shard set cannot equi-join any
        # candidate — values are bit-identical with or without it.
        # Cost: one batch-proportional job at plan-build time — and the
        # candidate frame is persisted first, so the corpus BANDS scan
        # it contains runs once and the main query reuses the (small,
        # batch-proportional) cached candidates instead of re-scanning.
        # flat_plan_scope: the probe is batch-proportional by the
        # bucket-cap contract and its keys are unique pairs (no skew
        # for AQE to split) — compile the cache and run the collect as
        # ONE job instead of one per exchange (plans/compile.py); the
        # MAIN classify plan below keeps the session's AQE (its
        # shingle joins are store-sized and genuinely skewable).
        with flat_plan_scope(batch.sparkSession):
            cands = cands.persist()
            shard_vals = [
                r["shard"]
                for r in cands.select(
                    F.pmod(F.xxhash64("doc2"), F.lit(n_shards))
                    .cast("int")
                    .alias("shard")
                )
                .distinct()
                .collect()
            ]
        s2 = s2.filter(
            F.col("shard").isin(shard_vals) if shard_vals else F.lit(False)
        ).drop("shard")
    inter = (
        cands.join(s1, "doc1")
        .join(s2, ["doc2", "shingle"])
        .groupBy("doc1", "doc2")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    near_ids = (
        inter.join(
            sizes_b.withColumnRenamed("doc_id", "doc1").withColumnRenamed("n_sh", "n1"),
            "doc1",
        )
        .join(
            corpus_sizes.withColumnRenamed("doc_id", "doc2").withColumnRenamed(
                "n_sh", "n2"
            ),
            "doc2",
        )
        .filter(
            F.col("n_common").cast("double")
            / (F.col("n1") + F.col("n2") - F.col("n_common"))
            >= threshold
        )
        .select(F.col("doc1").alias("doc_id"))
        .distinct()
    )
    return (
        batch.select(F.col(id_col).alias("doc_id"))
        .join(exact_ids.withColumn("_e", F.lit(True)), "doc_id", "left")
        .join(near_ids.withColumn("_n", F.lit(True)), "doc_id", "left")
        .select(
            "doc_id",
            F.when(F.col("_e"), F.lit("exact_dup"))
            .when(F.col("_n"), F.lit("near_dup"))
            .otherwise(F.lit("new"))
            .alias("status"),
        )
    )


#: current on-disk layout version of the durable dedup index — bump on
#: any layout/semantics change so a stale index fails loudly at load
#: instead of silently mis-classifying. v2 (round 8): the hashes store
#: carries per-doc (doc_id, content_hash) rows instead of distinct
#: hashes (so a deletion can be attributed to its document), and a
#: fifth store ``tombstones/`` holds logically-deleted doc_ids.
DEDUP_INDEX_FORMAT = "dedup-index/2"


def _dedup_store_schemas(id_type: str) -> dict:
    """Read-back DDL schemas of the five index stores as the reader
    returns them (data columns in frame order, the partition column
    last). ``id_type`` is the corpus id column's type — the builders
    carry it through unchanged, while the hash/tombstone stores cast
    to long on write. Pinned into meta.json by :func:`save_dedup_index`
    so serve-time opens never run a footer-inference job; the store
    contents themselves are unchanged (the pinned schema equals what
    inference returns — asserted by test against a built index)."""
    return {
        "bands": f"doc_id {id_type}, sig string, band int",
        "shingles": f"doc_id {id_type}, shingle string, shard int",
        "sizes": f"doc_id {id_type}, n_sh bigint",
        "hashes": "doc_id bigint, content_hash string",
        "tombstones": "doc_id bigint",
    }


def _open_store(spark, path: str, store: str, meta: dict | None = None):
    """Open one index store, with the schema pinned in ``meta`` when
    present (zero Spark jobs — no footer inference, no schema-merge
    pass) and plain inference for indexes built before the schemas
    were recorded. Explicit-schema reads of a partitioned store still
    discover partitions from directory names; values parse to the
    declared partition type."""
    sch = (meta or {}).get("store_schemas", {}).get(store)
    reader = spark.read.schema(sch) if sch else spark.read
    return reader.parquet(f"{path}/{store}")


def save_dedup_index(
    corpus: DataFrame,
    path: str,
    n: int = 3,
    max_bucket_size: int | None = 500,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_shards: int = 32,
) -> dict:
    """Persist the corpus side of :func:`incremental_dedup` as a DURABLE
    index — the signature-store analog of
    :func:`~bigdatalab_spark.scale.similarity.save_ivf_index`, and the
    fix for the one 100 TB honesty gap the self-contained operator had:
    without it, every daily batch paid a full corpus re-shingle
    (corpus-scan cost per day); with it, the daily cost is proportional
    to the BATCH, because everything the classifier needs from the
    corpus is precomputed here once at ingest:

    - ``path/bands/band=N/`` — corpus band rows (doc_id, sig),
      PARTITIONED BY band and bucket-capped at build time (degenerate
      buckets excluded once, not by every serve);
    - ``path/shingles/shard=N/`` — corpus (doc_id, shingle) rows, the
      exact input the Jaccard verification stage needs (shingles are
      pure per-doc functions of the text — this is the only
      corpus-derived data verification touches, so the corpus TEXT
      itself is never read at serve time), PARTITIONED BY
      ``pmod(xxhash64(doc_id), n_shards)`` so the verify join can
      dynamic-partition-prune the scan to the shards that hold
      candidate documents — the smaller the daily batch, the fewer
      shards it reads (the same serving contract as the IVF index's
      bucket layout);
    - ``path/sizes/`` — per-doc shingle counts (doc_id, n_sh), so the
      verify's |B| term is a lookup instead of a corpus-wide aggregate
      — with it, the serve plan contains NO corpus-proportional
      shuffle, only columnar index scans;
    - ``path/hashes/`` — per-doc ``(doc_id, content_hash)`` rows for
      the exact-dup membership probe (the probe is a semi-join, so
      multiplicity is free — and carrying the doc_id is what makes a
      later :func:`remove_from_dedup_index` able to retract exactly one
      document's contribution: a hash shared by a surviving copy keeps
      matching);
    - ``path/tombstones/`` — logically-deleted doc_ids (created EMPTY
      at build; see :func:`remove_from_dedup_index` /
      :func:`purge_dedup_tombstones` — the deletion-vector model:
      deletes are O(delete-batch) now, physically reclaimed at the
      next purge);
    - ``path/meta.json`` — format version + shingle ``n`` + cap, so a
      serve with mismatched parameters is impossible (the serve reads
      its parameters FROM the index).

    Returns the meta dict. Writes are ``overwrite`` under a writer lock
    (same single-writer contract as the versioned sinks — an index
    half-replaced by a concurrent rebuild would classify with mixed
    generations)."""
    import json
    import os

    from bigdatalab_spark.sources.locks import dataset_write_lock

    sh = doc_shingles(corpus, text_col, id_col, n).cache()
    bands = band_rows(minhash_signatures(sh))
    if max_bucket_size is not None:
        bands = cap_buckets(bands, max_bucket_size)
    hashes = corpus.select(
        F.col(id_col).cast("long").alias("doc_id"),
        F.md5(normalize_text(text_col)).alias("content_hash"),
    ).filter(F.col("content_hash").isNotNull())
    meta = {
        "format": DEDUP_INDEX_FORMAT,
        "n": n,
        "max_bucket_size": max_bucket_size,
        "n_shards": n_shards,
        "minhash_k": len(MINHASH_COEFFS),
        "minhash_bands": MINHASH_BANDS,
        # store read-back schemas, pinned at build time so every later
        # open skips parquet footer inference — a Spark JOB per store
        # per open (guide §5: metadata work belongs on the driver; the
        # serve loop opens 5 stores per micro-batch). The id column
        # keeps the corpus's own type; the schemas below are the
        # read-back shapes (partition column LAST, as the partitioned
        # reader returns them). meta is the commit marker, so a pinned
        # schema can never describe an uncommitted layout.
        "store_schemas": _dedup_store_schemas(
            corpus.schema[id_col].dataType.simpleString()
        ),
    }
    with dataset_write_lock(path, "save_dedup_index"):
        # the shingles write runs FIRST and alone: it scans sh fully,
        # so it materializes the shared cache exactly once (two
        # concurrent actions on a not-yet-cached frame would both
        # compute it). The remaining stores are independent reads of
        # that cache (bands, sizes), a second corpus scan (hashes) and
        # an empty frame (tombstones) landing in disjoint directories
        # — run them as concurrent jobs (§2.6) so the build pays
        # max(store write), not the sum; the store contents and the
        # marker-last crash contract are unchanged (meta.json is still
        # written only after every store has landed).
        sh.withColumn(
            "shard", F.pmod(F.xxhash64("doc_id"), F.lit(n_shards)).cast("int")
        ).write.mode("overwrite").partitionBy("shard").parquet(
            f"{path}/shingles"
        )
        overlap_actions([
            lambda: bands.write.mode("overwrite").partitionBy(
                "band"
            ).parquet(f"{path}/bands"),
            lambda: sh.groupBy("doc_id")
            .agg(F.count(F.lit(1)).alias("n_sh"))
            .write.mode("overwrite")
            .parquet(f"{path}/sizes"),
            lambda: hashes.write.mode("overwrite").parquet(
                f"{path}/hashes"
            ),
            lambda: corpus.sparkSession.createDataFrame(
                [], "doc_id long"
            ).write.mode("overwrite").parquet(f"{path}/tombstones"),
        ])
        tmp = os.path.join(path, "meta.json.tmp")
        with open(tmp, "w", encoding="utf-8") as fh:
            json.dump(meta, fh)
        # meta is the commit marker: written LAST and installed
        # atomically, so a crash mid-build leaves a load-refusing
        # directory, never a half-index that serves
        os.replace(tmp, os.path.join(path, "meta.json"))
    sh.unpersist()
    return meta


def append_to_dedup_index(
    docs_new: DataFrame,
    path: str,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> dict:
    """Fold new documents into an existing :func:`save_dedup_index` —
    the second half of the daily-ingest cycle (classify the batch, then
    append its 'new' docs) without re-shingling the corpus: every write
    here is batch-proportional except the two ingest-side probes noted
    below. Parameters (shingle n, cap, shard count) come from the index
    meta, so an append can never mix geometries.

    Crash discipline: meta.json is REMOVED first and rewritten last
    inside the writer lock — the appends to the data stores are not
    mutually atomic, so a crash mid-append must leave a load-REFUSING
    index (rebuild with save_dedup_index), never a silently
    half-appended one. Same marker-last contract as the build.

    Cap semantics: new band rows are dropped for buckets whose
    COMBINED size (existing + appended — one batch-keyed probe of the
    band store) exceeds the cap. This matches a full rebuild exactly
    while the cap never binds (the normal regime, and the bit-identity
    the tests pin); when an append does push a bucket over, the rebuild
    would drop the bucket's OLD rows too, while append leaves them —
    candidate-generation recall is a superset of the rebuild's, and
    verification stays exact either way.

    Content hashes are appended as per-doc ``(doc_id, content_hash)``
    rows (the v2 store shape — the probe is a semi-join, so no
    distinct pass is needed and the append never reads the hash
    store). Ids must be new — appending an existing doc_id would
    double its shingle rows and corrupt its stored size.
    """
    import json
    import os

    spark = docs_new.sparkSession
    # read only the stores the append USES: meta (validated first, same
    # refusal contract as load_dedup_index) and the live band rows for
    # cap accounting. Opening hashes/shingles/sizes too — as the full
    # loader does — costs one file-listing/schema job per store that
    # this path then never reads.
    meta = _read_dedup_meta(path)
    tomb = _open_store(spark, path, "tombstones", meta)
    bands_cur = _open_store(spark, path, "bands", meta).join(
        tomb, "doc_id", "left_anti"
    )
    n, cap, n_shards = meta["n"], meta["max_bucket_size"], meta["n_shards"]

    from bigdatalab_spark.sources.locks import dataset_write_lock

    with flat_plan_scope(spark):
        # compile the batch-sized shingle cache without AQE so its
        # materialization (inside the probe below) is a stage of that
        # job, not its own per-exchange jobs (plans/compile.py)
        sh_new = doc_shingles(docs_new, text_col, id_col, n).cache()
    bands_new = band_rows(minhash_signatures(sh_new))

    with dataset_write_lock(path, "append_to_dedup_index"):
        # An append job must never READ the store it is appending to
        # (self-read-append races on the file listing): the two
        # store-probes below are resolved EAGERLY, under the lock,
        # before any write touches their target.
        if cap is not None:
            new_counts = bands_new.groupBy("band", "sig").agg(
                F.count(F.lit(1)).alias("_n_new")
            )
            old_counts = (
                bands_cur.join(
                    new_counts.select("band", "sig"), ["band", "sig"], "left_semi"
                )
                .groupBy("band", "sig")
                .agg(F.count(F.lit(1)).alias("_n_old"))
            )
            # over-cap keys are ~zero in a healthy corpus: collect the
            # DROP set (metadata-sized) and anti-join it as a literal.
            # flat_plan_scope: the probe is an aggregation-to-a-drop-set
            # over the batch's band keys — one job instead of one per
            # exchange (the WRITES below keep AQE, so store file
            # coalescing is unchanged)
            with flat_plan_scope(spark):
                drop = (
                    new_counts.join(old_counts, ["band", "sig"], "left")
                    .filter(
                        F.col("_n_new")
                        + F.coalesce(F.col("_n_old"), F.lit(0))
                        > cap
                    )
                    .select("band", "sig")
                    .collect()
                )
            if drop:
                drop_df = spark.createDataFrame(
                    [(r["band"], r["sig"]) for r in drop], "band int, sig string"
                )
                bands_new = bands_new.join(
                    F.broadcast(drop_df), ["band", "sig"], "left_anti"
                )
        meta_path = os.path.join(path, "meta.json")
        os.remove(meta_path)  # uncommit: a crash below must refuse loads
        # shingles first and alone (materializes the sh_new cache in
        # one pass), then the three remaining batch-proportional
        # appends as concurrent jobs into disjoint stores (§2.6) —
        # same contents, marker-last crash contract unchanged
        sh_new.withColumn(
            "shard", F.pmod(F.xxhash64("doc_id"), F.lit(n_shards)).cast("int")
        ).write.mode("append").partitionBy("shard").parquet(f"{path}/shingles")
        overlap_actions([
            lambda: bands_new.write.mode("append").partitionBy(
                "band"
            ).parquet(f"{path}/bands"),
            lambda: sh_new.groupBy("doc_id")
            .agg(F.count(F.lit(1)).alias("n_sh"))
            .write.mode("append")
            .parquet(f"{path}/sizes"),
            lambda: (
                docs_new.select(
                    F.col(id_col).cast("long").alias("doc_id"),
                    F.md5(normalize_text(text_col)).alias("content_hash"),
                )
                .filter(F.col("content_hash").isNotNull())
                .write.mode("append")
                .parquet(f"{path}/hashes")
            ),
        ])
        tmp = meta_path + ".tmp"
        with open(tmp, "w", encoding="utf-8") as fh:
            json.dump(meta, fh)
        os.replace(tmp, meta_path)
    sh_new.unpersist()
    return meta


def compact_dedup_index(
    spark,
    path: str,
    max_records_per_file: int = 5_000_000,
) -> dict:
    """Small-file compaction for a :func:`save_dedup_index` layout —
    the standing maintenance job the STREAMING ingest loop makes
    necessary: every
    :func:`~bigdatalab_spark.streaming.jobs.dedup_ingest_stream`
    micro-batch appends one more file set to each of the data stores
    (bands gains files in every touched ``band=N/`` directory,
    shingles in every candidate shard, sizes and hashes one per
    batch), so after a thousand daily batches the serve-time scan cost
    is dominated by file COUNT, not bytes — the same failure mode
    :func:`~bigdatalab_spark.sources.sinks.compact_partitions`
    addresses for plain tables, applied to the index's layout.

    Layout-only: rows are preserved exactly, so a serve after
    compaction is bit-identical to one before (pinned by the pytest).
    The partitioned stores (bands by ``band``, shingles by ``shard``)
    keep their partition scheme — serve-side pruning contracts are
    untouched; the flat stores (sizes, hashes) collapse to
    ``ceil(rows / max_records_per_file)`` files.

    Crash discipline: meta.json is NOT removed — each store flips
    old→fresh via the two-rename protocol, so at every crash point the
    store is either wholly old, wholly new, or mid-flip (path missing,
    ``__compact_old`` holding the only copy). Mid-flip, loads fail
    LOUDLY on the missing store path; re-running compaction resumes
    the flip through the debris-recovery preamble. There is no window
    where a serve can read a silently mixed layout.

    Takes the writer lock on the INDEX ROOT (the same lock
    save/append use), so a compaction cannot interleave with an append
    — an append landing between two store flips would be lost when the
    pre-append snapshot is renamed into place."""
    from bigdatalab_spark.sources.locks import dataset_write_lock
    from bigdatalab_spark.sources.sinks import (
        _compact_flat_locked,
        _compact_partitions_locked,
    )

    with dataset_write_lock(path, "compact_dedup_index"):
        # validate the commit marker only — the stores themselves may
        # legitimately be mid-flip from a crashed previous compaction
        # (each store's debris preamble resumes its own flip below),
        # so an eager four-store read here would break exactly the
        # recovery this function promises
        _read_dedup_meta(path)
        return {
            "bands": _compact_partitions_locked(
                spark, f"{path}/bands", ("band",), max_records_per_file
            ),
            "shingles": _compact_partitions_locked(
                spark, f"{path}/shingles", ("shard",), max_records_per_file
            ),
            "sizes": _compact_flat_locked(
                spark, f"{path}/sizes", max_records_per_file
            ),
            "hashes": _compact_flat_locked(
                spark, f"{path}/hashes", max_records_per_file
            ),
            "tombstones": _compact_flat_locked(
                spark, f"{path}/tombstones", max_records_per_file
            ),
        }


def _read_dedup_meta(path: str) -> dict:
    """Read and validate an index's meta.json commit marker — the
    shared refuse-loudly gate of :func:`load_dedup_index` (which also
    opens the stores) and :func:`compact_dedup_index` (which must
    NOT, so it can recover a store whose pointer flip crashed)."""
    import json
    import os

    meta_path = os.path.join(path, "meta.json")
    try:
        with open(meta_path, encoding="utf-8") as fh:
            meta = json.load(fh)
    except FileNotFoundError:
        raise FileNotFoundError(
            f"no dedup index at {path}: meta.json missing (the index is "
            "incomplete or was never built — meta is written last as the "
            "commit marker)"
        ) from None
    except json.JSONDecodeError as exc:
        raise ValueError(f"corrupt dedup index meta at {meta_path}: {exc}") from None
    if meta.get("format") != DEDUP_INDEX_FORMAT:
        raise ValueError(
            f"dedup index at {path} has format {meta.get('format')!r}, "
            f"this engine serves {DEDUP_INDEX_FORMAT!r} — rebuild with "
            "save_dedup_index"
        )
    return meta


def load_dedup_index(
    spark, path: str
) -> tuple[DataFrame, DataFrame, DataFrame, DataFrame, dict]:
    """Load a :func:`save_dedup_index` layout back as
    ``(hashes, bands, shingles, sizes, meta)``, serve-ready for
    :func:`incremental_dedup_from_index`. Validates the format marker —
    a missing/corrupt/foreign meta.json refuses loudly rather than
    classifying against a half-written index.

    Tombstones are APPLIED here: the hashes and bands frames come back
    anti-joined against ``path/tombstones``, so every consumer —
    serving, append's cap accounting — sees only live documents. The
    shingle and size stores are returned raw: a tombstoned doc cannot
    become a candidate once its band rows are filtered, so its shingle
    rows are unreachable at serve time (they are reclaimed physically
    by :func:`purge_dedup_tombstones`). The anti-join is doc_id-only
    column traffic, and with an empty tombstone store AQE collapses it
    to a broadcast no-op."""
    meta = _read_dedup_meta(path)
    tomb = _open_store(spark, path, "tombstones", meta)
    return (
        _open_store(spark, path, "hashes", meta).join(tomb, "doc_id", "left_anti"),
        _open_store(spark, path, "bands", meta).join(tomb, "doc_id", "left_anti"),
        _open_store(spark, path, "shingles", meta),
        _open_store(spark, path, "sizes", meta),
        meta,
    )


def remove_from_dedup_index(doc_ids: DataFrame, path: str) -> int:
    """Logically delete documents from a :func:`save_dedup_index` — the
    right-to-be-forgotten / retention contract a production corpus
    index must honor, in the deletion-vector style of the table
    formats: the delete itself is O(delete batch) (doc_ids appended to
    ``path/tombstones``), and every subsequent load anti-joins the
    hash/band stores against it, so a removed document immediately
    stops matching as an exact OR near duplicate — a re-submitted copy
    of forgotten content classifies as ``new`` (unless another live
    copy still carries the same content, which keeps matching: the
    hash store's per-doc rows make that distinction exact). Physical
    reclamation is deferred to :func:`purge_dedup_tombstones`.

    Ids are staged eagerly (anti-joined against the current tombstone
    store so re-removals stay no-ops and the store stays lean) before
    the append touches its target — the same no-self-read-append
    discipline as the other index writers. Returns the number of NEW
    tombstones written. meta.json is untouched: a tombstone append is
    atomic at the parquet-job level, and a crashed append leaves only
    uncommitted ``_temporary`` debris, never a half-applied delete.

    Id-reuse rule: a tombstoned doc_id stays deleted — re-ingesting the
    SAME id is a no-op until :func:`purge_dedup_tombstones` physically
    reclaims its rows (the ingest loop's replay guard sees the stored
    size row and skips the append; appending over live rows would
    corrupt them). This is load-bearing for the streaming loop: a
    replayed micro-batch that originally admitted a since-deleted doc
    must NOT resurrect it. Re-admitting forgotten CONTENT is always
    fine under a fresh id — it classifies as ``new`` and appends
    normally (pinned by the ingest-interplay test)."""
    import shutil

    from bigdatalab_spark.sources.locks import dataset_write_lock
    from bigdatalab_spark.sources.sinks import resume_interrupted_flip

    spark = doc_ids.sparkSession
    with dataset_write_lock(path, "remove_from_dedup_index"):
        meta = _read_dedup_meta(path)
        resume_interrupted_flip(f"{path}/tombstones")
        staging = f"{path}/_tombstones_staging"
        (
            doc_ids.select(F.col("doc_id").cast("long").alias("doc_id"))
            .distinct()
            .join(
                _open_store(spark, path, "tombstones", meta),
                "doc_id",
                "left_anti",
            )
            .write.mode("overwrite")
            .parquet(staging)
        )
        # the staging rows were written from the cast-to-long select
        # above — pin the read so it costs no inference job either
        staged = spark.read.schema("doc_id bigint").parquet(staging)
        n_new = staged.count()
        if n_new:
            staged.write.mode("append").parquet(f"{path}/tombstones")
        shutil.rmtree(staging, ignore_errors=True)
        return n_new


def purge_dedup_tombstones(
    spark,
    path: str,
    max_records_per_file: int = 5_000_000,
) -> dict:
    """Physically reclaim tombstoned documents from a dedup index — the
    maintenance half of :func:`remove_from_dedup_index`, exactly as
    compaction is the maintenance half of append: each of the four data
    stores is rewritten WITHOUT the tombstoned docs' rows (partitioned
    stores keep their band/shard pruning scheme), then the tombstone
    store itself is emptied, all under the index-root writer lock.

    Crash discipline is FREE here, which is the point of the
    deletion-vector design: because every load applies the tombstone
    anti-join anyway, a purge interrupted at ANY store boundary leaves
    a correct-serving index — purged stores lose nothing (their rows
    were already invisible), unpurged stores are still filtered at
    load. Each store flips via the resume-safe two-rename protocol,
    the tombstone store is emptied LAST (only after every data store
    has dropped the rows), and re-running a crashed purge completes
    it. meta.json is never touched. Returns per-store
    ``{files_before, files_after}`` plus ``n_purged_docs``."""
    from bigdatalab_spark.sources.locks import dataset_write_lock
    from bigdatalab_spark.sources.sinks import (
        _compact_flat_locked,
        _compact_partitions_locked,
    )

    from bigdatalab_spark.sources.sinks import resume_interrupted_flip

    with dataset_write_lock(path, "purge_dedup_tombstones"):
        meta = _read_dedup_meta(path)
        # a PREVIOUS purge may have crashed mid-tombstones-flip (path
        # missing, __compact_old holding the only copy) — the flip
        # helper's debris preamble would recover it, but only when it
        # runs for that store, which is after this top-level read:
        # resume the flip here first or the re-run fails at read time
        resume_interrupted_flip(f"{path}/tombstones")
        n_tomb = _open_store(spark, path, "tombstones", meta).count()

        def drop_dead(df: DataFrame) -> DataFrame:
            return df.join(
                _open_store(spark, path, "tombstones", meta),
                "doc_id",
                "left_anti",
            )

        stats = {
            "n_purged_docs": n_tomb,
            "bands": _compact_partitions_locked(
                spark, f"{path}/bands", ("band",), max_records_per_file,
                transform=drop_dead,
            ),
            "shingles": _compact_partitions_locked(
                spark, f"{path}/shingles", ("shard",), max_records_per_file,
                transform=drop_dead,
            ),
            "sizes": _compact_flat_locked(
                spark, f"{path}/sizes", max_records_per_file,
                transform=drop_dead,
            ),
            "hashes": _compact_flat_locked(
                spark, f"{path}/hashes", max_records_per_file,
                transform=drop_dead,
            ),
        }
        # every data store has dropped the rows — only now may the
        # tombstones disappear (emptying first would resurrect them)
        stats["tombstones"] = _compact_flat_locked(
            spark, f"{path}/tombstones", max_records_per_file,
            transform=lambda df: df.limit(0),
        )
        return stats


def incremental_dedup_from_index(
    spark,
    batch: DataFrame,
    path: str,
    threshold: float = 0.5,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Serve :func:`incremental_dedup` against a durable
    :func:`save_dedup_index` instead of the corpus itself — the daily
    production path: per-batch cost is shingling/signing the BATCH plus
    index-side scans, with the corpus text never read and never
    re-shingled (shingle ``n`` and the bucket cap come from the index
    meta, so the classification is bit-identical to the self-contained
    operator by construction — both call :func:`_classify_batch`).

    Mildly eager: resolving which shingle-store shards to scan runs one
    batch-proportional job at call time (the candidate shard set — at
    most ``n_shards`` ints — is collected and pushed as a literal
    partition filter; see the pruning note in
    :func:`_classify_batch`)."""
    hashes, bands, shingles, sizes, meta = load_dedup_index(spark, path)
    return _classify_batch(
        batch,
        hashes,
        bands,
        shingles,
        threshold,
        meta["n"],
        text_col,
        id_col,
        corpus_sizes=sizes,
        n_shards=meta.get("n_shards"),
    )


def _candidate_mass_guard(
    keyed: DataFrame,
    sh: DataFrame,
    budget_per_doc: float,
    algo: str,
    on_over_budget: str = "raise",
) -> bool:
    """Shared regime guard for exact-join candidate generators: one
    aggregate over the candidate-key frame computes the join's output
    mass (sum over key buckets of C(c,2)); if it exceeds
    ``budget_per_doc * n_docs``, refuse instead of launching a silent
    near-quadratic job. See prefix_filter_jaccard_pairs for the
    regime analysis and the measured x100 numbers.

    ``on_over_budget`` picks the refusal mode: ``'raise'`` (default)
    fails loudly; ``'lsh'`` returns True so the caller degrades to the
    banded-LSH candidate generator — a 100 TB pipeline usually wants
    graceful degradation with a stamped decision, not a dead job — and
    the decision is announced via a RuntimeWarning carrying the
    measured mass. Returns False when the corpus is within budget."""
    if on_over_budget not in ("raise", "lsh"):
        raise ValueError(
            f"on_over_budget must be 'raise' or 'lsh', got {on_over_budget!r}"
        )
    stats = (
        keyed.groupBy("shingle")
        .agg(F.count(F.lit(1)).alias("c"))
        .agg(F.sum(F.col("c") * (F.col("c") - 1) / 2).alias("mass"))
        .crossJoin(
            F.broadcast(sh.agg(F.countDistinct("doc_id").alias("n_docs")))
        )
        .collect()[0]
    )
    mass, n_docs = stats["mass"] or 0.0, stats["n_docs"]
    if mass <= budget_per_doc * n_docs:
        return False
    diagnosis = (
        f"{algo}: candidate mass {mass:.3g} pairs for {n_docs} docs "
        f"({mass / max(n_docs, 1):.0f}x/doc) exceeds the budget of "
        f"{budget_per_doc:g}x/doc — this generator's candidate keys "
        "have no usable frequency tail on this corpus (low-entropy "
        "or heavily-duplicated text; for the shared-shingle "
        "generator, hot COMMON shingles alone cause this even when "
        "rare shingles exist — prefix_filter_jaccard_pairs exploits "
        "the tail if there is one), so candidate generation degrades "
        "toward all-pairs."
    )
    if on_over_budget == "lsh":
        import warnings

        warnings.warn(
            diagnosis
            + " DEGRADING to banded-LSH candidate generation "
            "(on_over_budget='lsh'): emitted pairs keep the exact "
            "Jaccard verify, recall becomes LSH-bound.",
            RuntimeWarning,
            stacklevel=3,
        )
        return True
    raise RuntimeError(
        diagnosis
        + " Use minhash_near_dups (banded LSH, output-bound on any "
        "corpus shape), pass on_over_budget='lsh' to degrade to its "
        "candidate generator automatically, or raise/disable the "
        "budget to force the exact join."
    )


def ngram_jaccard_pairs(
    docs: DataFrame,
    threshold: float = 0.5,
    n: int = 3,
    candidate_budget_per_doc: float | None = 2000.0,
    on_over_budget: str = "raise",
) -> DataFrame:
    """Exact n-gram Jaccard near-dups WITHOUT LSH: candidates = pairs
    sharing at least one shingle (inverted-index join). The exact
    baseline the LSH pipeline's recall is measured against; quadratic
    in the worst case, so gate-scale and test use only. Carries the
    same regime guard as :func:`prefix_filter_jaccard_pairs` (budget
    2000x/doc: sf0.01 = 28x, sf0.1 = 253x, the shared-marker x100
    replica = ~20,000x and a measured DNF at 2400 s).

    ``on_over_budget='lsh'`` degrades an over-budget corpus to the
    banded-LSH candidate generator instead of raising: the emitted
    pairs keep the exact-Jaccard verify (no false positives), recall
    becomes LSH-bound, and the decision is announced as a
    RuntimeWarning with the measured candidate mass."""
    sh = doc_shingles(docs, n=n).cache()
    over = False
    if candidate_budget_per_doc is not None:
        over = _candidate_mass_guard(
            sh, sh, candidate_budget_per_doc, "ngram_jaccard_pairs",
            on_over_budget,
        )
    if over:
        cands = lsh_candidate_pairs(
            minhash_signatures(sh), max_bucket_size=500
        )
    else:
        cands = (
            sh.alias("a")
            .join(
                sh.alias("b"),
                (F.col("a.shingle") == F.col("b.shingle"))
                & (F.col("a.doc_id") < F.col("b.doc_id")),
            )
            .select(
                F.col("a.doc_id").alias("doc1"),
                F.col("b.doc_id").alias("doc2"),
            )
            .distinct()
        )
    return jaccard_verify(cands, sh).filter(F.col("jaccard") >= threshold)


def prefix_filter_jaccard_pairs(
    docs: DataFrame,
    threshold: float = 0.5,
    n: int = 3,
    candidate_budget_per_doc: float | None = 500.0,
    on_over_budget: str = "raise",
) -> DataFrame:
    """Exact Jaccard threshold self-join with PREFIX FILTERING — the
    scale answer to :func:`ngram_jaccard_pairs`'s quadratic caveat.

    Same semantics, provably same output: any pair with Jaccard >= t
    must overlap in >= ceil(t*|A|) shingles, and two sets ordered by a
    shared total order that overlap in o elements must collide within
    their first ``|A|-o+1`` elements (the prefix-filter lemma of
    Chaudhuri/Ganti/Kaushik ICDE'06, Bayardo WWW'07). So candidates are
    generated only from each doc's PREFIX — its rarest
    ``n_sh - ceil(t*n_sh) + 1`` shingles under the global
    (document-frequency, shingle) order — instead of from every shared
    shingle. Rare shingles bucket few documents, so the candidate join
    is driven by the sparse tail of the frequency distribution rather
    than the stop-shingle head; no false negatives by the lemma, and
    the same exact verify (:func:`jaccard_verify`) removes false
    positives.

    Shuffle shape at 100 TB: one vocabulary-sized aggregate for
    document frequencies, one hash join of (doc, shingle) against it,
    one doc-partitioned window to rank prefixes, then the candidate
    join over prefix rows only — every stage carries ids+hashes, never
    text. ``threshold`` should be binary-exact (0.5, 0.25, 0.75) so the
    ceil-based prefix length replays identically in the SQL oracle.

    REGIME GUARD (``candidate_budget_per_doc``): the prefix-filter
    lemma gives selectivity only when the shingle FREQUENCY TAIL
    exists — on natural text most documents own some globally-rare
    shingles, so prefix buckets stay small and the candidate join is
    output-bound. On a low-entropy corpus (tiny vocabulary, heavy
    whole-corpus duplication) even the rarest prefix shingles are hot
    and the candidate set degrades toward all-pairs — measured at the
    x100 replica: candidate mass ~21,800x docs (~9.4B pairs for 500k
    docs, a silent multi-hour job) vs 3.2x/86x at the sf0.01/sf0.1
    gates. Before the join, one aggregate over the (small) prefix
    frame computes sum over buckets of C(c,2); if it exceeds
    ``candidate_budget_per_doc * n_docs`` the call FAILS LOUDLY with
    the measured mass and directs to ``minhash_near_dups`` (banded LSH
    stays output-bound on exactly this corpus shape). The eager
    aggregate reuses the cached shingle frame; pass ``None`` to run
    unguarded.

    A/B at the natural-tail x100 replica (500k docs, SCALE_NOTES
    round-6): prefix-filter 67.6 s — matching banded LSH's 69.4 s
    while EXACT — vs shared-shingle guard-fire at 8,120x/doc. This is
    the default exact method; reach for LSH when the guard says the
    corpus has no tail.
    """
    sh = doc_shingles(docs, n=n).cache()
    doc_freq = sh.groupBy("shingle").agg(F.count(F.lit(1)).alias("df"))
    ranked = sh.join(doc_freq, "shingle")
    by_rarity = Window.partitionBy("doc_id").orderBy("df", "shingle")
    per_doc = Window.partitionBy("doc_id")
    prefixes = (
        ranked.select(
            "doc_id",
            "shingle",
            F.row_number().over(by_rarity).alias("pos"),
            F.count(F.lit(1)).over(per_doc).alias("n_sh"),
        )
        # prefix length |A| - ceil(t*|A|) + 1: collision guaranteed for
        # any partner overlapping in >= ceil(t*|A|) shingles
        .filter(
            F.col("pos")
            <= F.col("n_sh") - F.ceil(F.col("n_sh") * F.lit(threshold)) + 1
        )
        # pos and n_sh ride along for the POSITIONAL filter below
        .select("doc_id", "shingle", "pos", "n_sh")
        # the prefix frame feeds the mass guard's eager aggregate AND
        # both sides of the candidate self-join — left lazy, each of
        # those re-runs the doc-frequency aggregate + join + two
        # windows over the full shingle frame (guide §5: cache what is
        # reused). Values are unchanged; the frame is prefix-sized
        # (≤ half each doc's shingles at t=0.5).
        .cache()
    )
    over = False
    if candidate_budget_per_doc is not None:
        over = _candidate_mass_guard(
            prefixes, sh, candidate_budget_per_doc,
            "prefix_filter_jaccard_pairs", on_over_budget,
        )
    if over:
        # degraded mode (on_over_budget='lsh'): the prefix tail is hot,
        # so candidates come from banded LSH instead — exact verify
        # kept, recall becomes LSH-bound (announced via RuntimeWarning)
        cands = lsh_candidate_pairs(
            minhash_signatures(sh), max_bucket_size=500
        )
    else:
        # POSITIONAL filtering on top of the prefix collision (the
        # PPJoin refinement, Xiao/Wang/Lin WWW'08): a collision at
        # prefix positions (i, j) bounds the overlap by
        # min(n1-i, n2-j) + 1 (only suffix elements from the shared
        # shingle on can still match), and Jaccard >= t requires
        # overlap >= ceil(t*(n1+n2)/(1+t)). NO false negatives: a true
        # pair's FIRST shared shingle (global order) sits at
        # i1 <= n1-o+1 <= prefix length (o >= ceil(t*n1)) on both
        # sides, and min(n1-i1, n2-j1)+1 >= o >= the bound — so that
        # collision always survives the filter and the distinct keeps
        # the pair. With the documented binary-exact thresholds the
        # double division is exact at every integer boundary (3|k
        # cases for t=0.5 divide exactly), so the ceil can only err
        # conservatively. Measured at sf0.1: 409k -> 125k candidate
        # pairs into the exact verify (3.3x less intersection work).
        cands = (
            prefixes.alias("a")
            .join(
                prefixes.alias("b"),
                (F.col("a.shingle") == F.col("b.shingle"))
                & (F.col("a.doc_id") < F.col("b.doc_id"))
                & (
                    F.least(
                        F.col("a.n_sh") - F.col("a.pos"),
                        F.col("b.n_sh") - F.col("b.pos"),
                    )
                    + 1
                    >= F.ceil(
                        (F.col("a.n_sh") + F.col("b.n_sh"))
                        * F.lit(threshold)
                        / F.lit(1.0 + threshold)
                    )
                ),
            )
            .select(
                F.col("a.doc_id").alias("doc1"),
                F.col("b.doc_id").alias("doc2"),
            )
            .distinct()
        )
    return jaccard_verify(cands, sh).filter(F.col("jaccard") >= threshold)


def simhash_signatures(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """28-bit SimHash per document over token hashes (term-frequency
    weighted): bit_j = 1 iff sum over tokens of (+-1 at bit j) > 0.

    Near-dup docs differ in few bits (probe with hamming distance);
    entirely column expressions — two hash aggregates, no UDFs.
    """
    from bigdatalab_spark.scale.hashing import SIMHASH_BITS

    toks = docs.select(
        F.col(id_col).alias("doc_id"),
        F.explode(tokenize(text_col)).alias("token"),
    )
    h = portable_hash("token")
    per_bit = (
        toks.select("doc_id", h.alias("h"))
        .select(
            "doc_id",
            F.explode(F.sequence(F.lit(0), F.lit(SIMHASH_BITS - 1))).alias("j"),
            "h",
        )
        .groupBy("doc_id", "j")
        .agg(
            F.sum(
                F.expr("CASE WHEN (h & shiftleft(CAST(1 AS BIGINT), j)) <> 0 THEN 1 ELSE -1 END")
            ).alias("s")
        )
    )
    return (
        per_bit.groupBy("doc_id")
        .agg(
            F.sum(
                F.expr("CASE WHEN s > 0 THEN shiftleft(CAST(1 AS BIGINT), j) ELSE 0 END")
            ).alias("simhash")
        )
    )


def simhash_near_dups(
    docs: DataFrame,
    max_hamming: int = 3,
    n_bands: int = 4,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Near-dup pairs by SimHash hamming distance, found via banding.

    Split the 28-bit signature into ``n_bands`` equal bit-bands and
    bucket-join on (band, value): two signatures within hamming
    distance ``d < n_bands`` differ in at most ``n_bands - 1`` bits, so
    BY PIGEONHOLE at least one band is bit-identical — banding has
    **guaranteed 100% recall** for ``max_hamming <= n_bands - 1``
    (unlike MinHash-LSH's probabilistic s-curve). Candidates are then
    verified exactly with ``bit_count(xor)``.

    Scale shape mirrors the MinHash pipeline: signatures are two keyed
    aggregates, banding is a narrow explode, the bucket join meets only
    signatures sharing a band value, and verification touches
    candidates only. Integer-only end to end — replays exactly in SQL.
    Returns (doc1, doc2, hamming).

    The signature cache backs the lazy result (banding and the xor
    verify both read it) and so is not unpersisted here — freed by
    ``Engine.clear_cache()`` / session end.
    """
    from bigdatalab_spark.scale.hashing import SIMHASH_BITS

    if max_hamming > n_bands - 1:
        raise ValueError(
            f"recall guarantee needs max_hamming <= n_bands - 1 "
            f"({max_hamming} > {n_bands - 1}); raise n_bands"
        )
    width = SIMHASH_BITS // n_bands
    sigs = simhash_signatures(docs, text_col, id_col).cache()
    bands = sigs.select(
        "doc_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("band"),
                        F.shiftright("simhash", i * width)
                        .bitwiseAND(F.lit((1 << width) - 1))
                        .alias("val"),
                    )
                    for i in range(n_bands)
                ]
            )
        ).alias("b"),
    ).select("doc_id", "b.band", "b.val")
    cands = (
        bands.alias("a")
        .join(
            bands.alias("b"),
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.val") == F.col("b.val"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("doc1"), F.col("b.doc_id").alias("doc2"))
        .distinct()
    )
    s1 = sigs.select(F.col("doc_id").alias("doc1"), F.col("simhash").alias("sh1"))
    s2 = sigs.select(F.col("doc_id").alias("doc2"), F.col("simhash").alias("sh2"))
    return (
        cands.join(s1, "doc1")
        .join(s2, "doc2")
        .select(
            "doc1",
            "doc2",
            F.bit_count(F.col("sh1").bitwiseXOR(F.col("sh2"))).cast("long").alias(
                "hamming"
            ),
        )
        .filter(F.col("hamming") <= max_hamming)
    )


# Largest pair graph connected_components solves on the driver. At the
# bound the pairs arrive as two 8-byte Arrow columns, 32 MB, far under
# the session's 1g spark.driver.maxResultSize and 8g driver heap. The
# union-find then holds one Python int per endpoint in the driver
# process, a few hundred MB at most, and takes about 3 s for 2M random
# edges on one core.
CC_DRIVER_MAX_EDGES = 2_000_000


def _min_label_union_find(src, dst):
    """Union-find over integer-coded edges: ``(ids, labels)`` where
    ``ids`` are the sorted distinct endpoints and ``labels[i]`` is the
    smallest id in ``ids[i]``'s component.

    Ids are coded by their rank in ``ids``, and a union always hangs
    the larger root under the smaller one, so ``parent[x] <= x`` holds
    throughout: every root is its component's minimum, and one pass in
    rank order flattens each node straight onto its root.
    """
    import numpy as np

    ids, code = np.unique(np.concatenate([src, dst]), return_inverse=True)
    parent = list(range(len(ids)))
    m = len(src)
    for a, b in zip(code[:m].tolist(), code[m:].tolist()):
        while parent[a] != a:
            parent[a] = a = parent[parent[a]]  # path halving
        while parent[b] != b:
            parent[b] = b = parent[parent[b]]
        if a < b:
            parent[b] = a
        elif b < a:
            parent[a] = b
    for x in range(len(ids)):
        parent[x] = parent[parent[x]]
    return ids, ids[parent]


def connected_components(
    nodes: DataFrame, edges: DataFrame, max_iter: int = 20
) -> DataFrame:
    """Connected components of an undirected graph.

    ``nodes``: (doc_id), one row per id; ``edges``: (doc1, doc2),
    undirected, duplicates, both directions and self-loops allowed.
    Every edge endpoint must be a doc_id in ``nodes`` (all callers
    build the pairs from the same documents). Returns (doc_id,
    cluster_id), one row per node, where cluster_id is the minimum
    doc_id in the component — the canonical keeper for near-dup
    groups — with the type of ``nodes.doc_id``.

    The pair projection is checkpointed once on entry, so the pair
    lineage (for LSH near-dups: shingle -> MinHash -> band -> verify)
    runs exactly once, and the job that materializes it also counts it
    (``local_checkpoint_count``). The count picks the path, the way
    Shark's partial DAG execution picks a strategy from sizes seen at a
    materialization boundary:

    - at most ``CC_DRIVER_MAX_EDGES`` pairs: the pairs are collected as
      Arrow and solved by union-find on the driver. The non-singleton labels come
      back as a ``LocalRelation`` that ``nodes`` left-joins; a node
      without a label is its own cluster. ``max_iter`` does not apply.
    - above the bound: iterative min-label propagation in Spark, one
      join + one aggregation per round over the checkpointed pairs,
      O(diameter) rounds until no label changes. Each round is
      checkpointed so plans stay constant-size, and the previous
      round's blocks are released as soon as the next one is written.
      A component with diameter > ``max_iter`` is split and a warning
      is logged. The result is the last round's checkpoint, freed only
      by the ContextCleaner once it is unreferenced.
    """
    from bigdatalab_spark.operators.checkpoints import (
        local_checkpoint_count,
        release_local_checkpoint,
    )

    pairs, n_pairs = local_checkpoint_count(edges.select("doc1", "doc2"))
    if n_pairs <= CC_DRIVER_MAX_EDGES:
        return _components_on_driver(nodes, pairs)
    sym = pairs.select(F.col("doc1").alias("src"), F.col("doc2").alias("dst")).union(
        pairs.select(F.col("doc2").alias("src"), F.col("doc1").alias("dst"))
    )
    # localCheckpoint (not cache) each round: caching keeps the logical
    # plan, so iteration r's plan NESTS all r-1 predecessors — plan
    # trees grow without bound and large edge sets OOM the driver on
    # plan construction alone. Checkpointing truncates lineage to the
    # materialized result, keeping every round's plan constant-size —
    # the standard shape for iterative algorithms on Spark. The
    # PREVIOUS round's checkpoint blocks are released explicitly once
    # the new round is materialized (release_local_checkpoint), so the
    # loop holds exactly one round of label blocks instead of leaving
    # r-1 dead block sets for the ContextCleaner's GC lag.
    labels = (
        nodes.select(F.col("doc_id"), F.col("doc_id").alias("cluster_id"))
        .localCheckpoint(eager=True)
    )
    # the raw checkpointed frame of the CURRENT labels — kept separate
    # because release_local_checkpoint must see the LogicalRDD itself,
    # not a projection over it
    labels_ck = labels
    converged = False
    for _ in range(max_iter):
        # candidate label per node: min over own label and neighbors'
        # labels. The node's OWN row rides through the union with its
        # previous label in a side column (neighbors carry NULL, min
        # skips NULLs, and every node has exactly one own row), so the
        # fixpoint check below is a scan of THIS round's checkpointed
        # blocks instead of a per-iteration join of two label frames —
        # one fewer join + broadcast build per round, same labels.
        neighbor_labels = (
            sym.join(labels, sym.dst == labels.doc_id)
            .select(
                F.col("src").alias("doc_id"),
                "cluster_id",
                F.lit(None).cast("long").alias("_prev"),
            )
        )
        new_labels = (
            labels.select(
                "doc_id",
                "cluster_id",
                F.col("cluster_id").alias("_prev"),
            )
            .union(neighbor_labels)
            .groupBy("doc_id")
            .agg(
                F.min("cluster_id").alias("cluster_id"),
                F.min("_prev").alias("_prev"),
            )
            .localCheckpoint(eager=True)
        )
        changed = (
            new_labels.filter(F.col("cluster_id") != F.col("_prev"))
            .limit(1)
            .count()
        )
        # new_labels is materialized (eager checkpoint + the count just
        # read it), so the previous round's blocks are dead — free them
        # now instead of waiting for GC-driven cleanup
        release_local_checkpoint(labels_ck)
        labels_ck = new_labels
        labels = new_labels.select("doc_id", "cluster_id")
        if changed == 0:
            converged = True
            break
    if not converged:
        # labels are still correct WITHIN max_iter hops of each minimum;
        # components with diameter > max_iter would be silently split —
        # say so instead of returning them as converged truth
        _LOG.warning(
            "connected_components: fixpoint not reached after %d iterations; "
            "components with diameter > %d carry non-minimal cluster_ids. "
            "Raise max_iter (each iteration is one join + one aggregation).",
            max_iter,
            max_iter,
        )
    # the labels are materialized, so the pair blocks are dead
    release_local_checkpoint(pairs)
    return labels


def _components_on_driver(nodes: DataFrame, pairs: DataFrame) -> DataFrame:
    """The driver path of :func:`connected_components`: collect the
    checkpointed ``pairs``, release them, and hand the non-singleton
    labels back as a ``LocalRelation`` for ``nodes`` to left-join."""
    import pyarrow as pa
    from pyspark.sql.types import StructField, StructType

    from bigdatalab_spark.operators.checkpoints import release_local_checkpoint

    id_type = nodes.schema["doc_id"].dataType
    tbl = pairs.toArrow()
    release_local_checkpoint(pairs)
    ids, labels = _min_label_union_find(
        tbl.column("doc1").to_numpy(), tbl.column("doc2").to_numpy()
    )
    moved = labels != ids
    label_map = nodes.sparkSession.createDataFrame(
        pa.table({"doc_id": ids[moved], "_label": labels[moved]}),
        schema=StructType(
            [StructField("doc_id", id_type), StructField("_label", id_type)]
        ),
    )
    return nodes.select("doc_id").join(label_map, "doc_id", "left").select(
        "doc_id", F.coalesce("_label", "doc_id").alias("cluster_id")
    )


def save_banded_signatures(
    signatures: DataFrame,
    table: str,
    n_buckets: int = 16,
    max_bucket_size: int | None = None,
) -> None:
    """Persist band rows as a managed table bucketed AND sorted on
    ``(band, sig)`` — the storage-side co-location story for *repeated*
    dedup at 100 TB.

    A corpus that is deduplicated on every ingest batch should not pay
    the band-row shuffle on every run: ``bucketBy`` makes the hash
    partitioning durable in the table layout (the K5 pattern,
    303-spark-sql/README.md:72-73, applied to the dedup stack), so every
    later self-join or batch-vs-corpus join on (band, sig) reads
    co-located buckets with NO Exchange, and ``sortBy`` lets the
    sort-merge join skip its sort. The cap guard runs BEFORE the write —
    degenerate buckets are excluded once at ingest instead of by every
    consumer.
    """
    from bigdatalab_spark.sources.sinks import save_table

    bands = band_rows(signatures)
    if max_bucket_size is not None:
        bands = cap_buckets(bands, max_bucket_size)
    save_table(bands, table, bucket_by=(n_buckets, ["band", "sig"]))


def bucketed_candidate_pairs(spark, table: str) -> DataFrame:
    """LSH candidate pairs from a pre-bucketed band table
    (:func:`save_banded_signatures`): the same self-join as
    :func:`lsh_candidate_pairs`, but both sides scan the bucketed
    layout, so the plan contains no Exchange — asserted in
    tests/test_sinks.py. At 100 TB this turns every repeated dedup run's
    dominant shuffle into a co-located table scan."""
    return blocked_self_pairs(
        spark.table(table),
        key_cols=("band", "sig"),
        id_col="doc_id",
        out_cols=("doc1", "doc2"),
    )


def segment_exact_dedup(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    seg_words: int = 10,
) -> DataFrame:
    """C4-style segment-level exact dedup with document reassembly.

    Split every document into fixed-size word segments (the engine's
    stand-in for C4's "line" unit — the synthetic corpus is single-line),
    drop every corpus-wide repeat of a segment keeping only its first
    occurrence (ordered by ``(doc_id, seg_idx)``), and reassemble each
    document from its surviving segments.

    Returns (doc_id, n_segments, n_kept, dedup_text).

    Scale design: the keeper per segment is ``min(struct(doc_id,
    seg_idx))`` from a hash aggregate — partially aggregated map-side,
    so a boilerplate segment repeated across millions of documents
    collapses to one row per input partition BEFORE the exchange (a
    window ``row_number`` over the segment hash would instead sort the
    full hot bucket on one reducer). The keeper set then hash-joins
    back on the same ``seg_hash`` distribution (exchange reuse), and
    reassembly is one doc-keyed aggregate with an order-stable
    ``array_sort`` over (seg_idx, text) structs — ``collect_list``
    alone is not order-stable after a shuffle.
    """
    toks = docs.select(F.col(id_col).alias("doc_id"), tokenize(text_col).alias("toks"))
    n_segs = F.ceil(F.size("toks") / F.lit(seg_words)).cast("int")
    segs = (
        toks.select(
            "doc_id",
            "toks",
            F.explode(
                F.when(F.size("toks") > 0, F.sequence(F.lit(0), n_segs - 1)).otherwise(
                    F.array().cast("array<int>")
                )
            ).alias("seg_idx"),
        )
        .select(
            "doc_id",
            "seg_idx",
            F.array_join(
                F.slice("toks", F.col("seg_idx") * seg_words + 1, seg_words), " "
            ).alias("seg_text"),
        )
        .withColumn("seg_hash", F.md5("seg_text"))
    )
    keepers = segs.groupBy("seg_hash").agg(
        F.min(F.struct("doc_id", "seg_idx")).alias("keeper")
    )
    kept = F.struct("doc_id", "seg_idx") == F.col("keeper")
    return (
        segs.join(keepers, "seg_hash")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_segments"),
            F.count(F.when(kept, 1)).alias("n_kept"),
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.when(kept, F.struct(F.col("seg_idx"), F.col("seg_text")))
                        )
                    ),
                    lambda x: x.seg_text,
                ),
                " ",
            ).alias("dedup_text"),
        )
    )


# ---- portable Bloom filter (bitmap-as-data) ---------------------------------

#: bloom geometry: 63-bit words sidestep int64 sign handling (a mask is
#: never negative), so bit tests are plain bitwiseAND against a literal
#: power-of-two lookup — pure codegen'd column expressions
BLOOM_WORD_BITS = 63
BLOOM_K = 4  # hash functions: first 4 MINHASH_COEFFS pairs
BLOOM_M_BITS = BLOOM_WORD_BITS * 256  # 16128 bits (~2 KB) — gate-sized


def _bloom_positions(hash_col: Column, m_bits: int) -> list[Column]:
    """k bit positions of a 28-bit portable hash, one per seed pair."""
    from bigdatalab_spark.scale.hashing import MINHASH_COEFFS, MINHASH_P

    return [
        ((hash_col * F.lit(a) + F.lit(b)) % F.lit(MINHASH_P)) % F.lit(m_bits)
        for a, b in MINHASH_COEFFS[:BLOOM_K]
    ]


def build_portable_bloom(
    values: DataFrame, value_col: str, m_bits: int = BLOOM_M_BITS
) -> list[int]:
    """Distributed Bloom build over a string column -> bitmap words.

    Unlike the JVM ``stat.bloomFilter`` bridge (operators/sketches.py),
    this bloom is *portable data*: positions come from the engine's
    md5-derived portable hash family, so membership replays exactly in
    the DuckDB oracle, and the probe is plain column arithmetic — no
    sketch object crosses the Py/JVM boundary. Build is one explode +
    ``bit_or`` hash aggregate (map-side combined; the shuffle carries at
    most m/63 words per partition), and only the m/63-word bitmap —
    kilobytes — reaches the driver.
    """
    words = (
        values.select(portable_hash(F.col(value_col)).alias("h"))
        .filter(F.col("h").isNotNull())
        .select(F.explode(F.array(*_bloom_positions(F.col("h"), m_bits))).alias("p"))
        .select(
            (F.col("p") / BLOOM_WORD_BITS).cast("int").alias("word_idx"),
            F.element_at(
                F.array(*[F.lit(1 << j) for j in range(BLOOM_WORD_BITS)]),
                (F.col("p") % BLOOM_WORD_BITS).cast("int") + 1,
            ).alias("mask"),
        )
        .groupBy("word_idx")
        .agg(F.expr("bit_or(mask)").alias("word"))
        .collect()
    )
    bitmap = [0] * (m_bits // BLOOM_WORD_BITS + 1)
    for r in words:
        bitmap[r["word_idx"]] = r["word"]
    return bitmap


def bloom_might_contain(
    value_col: Column | str, bitmap: list[int], m_bits: int = BLOOM_M_BITS
) -> Column:
    """Membership probe as a pure column expression.

    The bitmap embeds in the plan as a literal array (kilobytes — it
    ships with the task binary like any broadcast literal; at a 1%-FP
    bloom over 10^10 corpus keys it would be ~1.5 GB, which is exactly
    executor-broadcast territory, same shape). No false negatives by
    construction: every corpus position was OR-ed into the bitmap with
    the same hash family this probe uses.
    """
    c = F.col(value_col) if isinstance(value_col, str) else value_col
    h = portable_hash(c)
    arr = F.array(*[F.lit(w) for w in bitmap])
    powers = F.array(*[F.lit(1 << j) for j in range(BLOOM_WORD_BITS)])
    cond = F.lit(True)
    for pos in _bloom_positions(h, m_bits):
        word = F.element_at(arr, (pos / BLOOM_WORD_BITS).cast("int") + 1)
        mask = F.element_at(powers, (pos % BLOOM_WORD_BITS).cast("int") + 1)
        cond = cond & (word.bitwiseAND(mask) != 0)
    return cond


def bloom_incremental_dedup(
    batch: DataFrame,
    corpus: DataFrame,
    m_bits: int = BLOOM_M_BITS,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Bloom-pruned exact dedup of a new batch against a corpus.

    The 100 TB ingest pattern: the corpus' content-hash set is
    summarized ONCE into a Bloom bitmap (stored with the corpus, shipped
    to every executor); each day's batch probes the bitmap in a narrow
    scan and ONLY bloom-positive rows — true duplicates plus the FP
    sliver — join the corpus hash store for confirmation. Bloom-negative
    rows are 'new' with zero join cost and no false negatives, so the
    daily join input shrinks from |batch| to ~|dups|.

    Returns (doc_id, bloom_positive, status) with status in
    {'new', 'exact_dup', 'new_bloom_fp'}: 'new_bloom_fp' rows are the
    measured false positives — the confirm join rejected them, which is
    WHY the confirm join exists. Batch-internal duplicates are out of
    scope (see incremental_dedup for the full classifier).
    """
    ch = F.md5(normalize_text(text_col))
    corpus_hashes = (
        corpus.select(ch.alias("content_hash"))
        .filter(F.col("content_hash").isNotNull())
        .distinct()
    )
    bitmap = build_portable_bloom(corpus_hashes, "content_hash", m_bits)
    probed = batch.select(
        F.col(id_col).alias("doc_id"),
        ch.alias("content_hash"),
    ).withColumn(
        "bloom_positive",
        F.coalesce(bloom_might_contain(F.col("content_hash"), bitmap, m_bits), F.lit(False)),
    )
    confirmed = (
        probed.filter("bloom_positive")
        .join(corpus_hashes, "content_hash", "left_semi")
        .select("doc_id")
        .withColumn("_dup", F.lit(True))
    )
    return (
        probed.join(confirmed, "doc_id", "left")
        .select(
            "doc_id",
            "bloom_positive",
            F.when(~F.col("bloom_positive"), F.lit("new"))
            .when(F.col("_dup").isNotNull(), F.lit("exact_dup"))
            .otherwise(F.lit("new_bloom_fp"))
            .alias("status"),
        )
    )


def span_dedup(
    docs: DataFrame,
    span_tokens: int = 16,
    min_tokens: int = 5,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """C4-style cross-corpus span dedup: split every document into
    non-overlapping ``span_tokens``-token spans, drop every span whose
    exact text already occurred EARLIER in the corpus (first occurrence
    by (doc_id, span position) survives), and reassemble the documents
    from the surviving spans in order.

    This is the intra-/inter-document boilerplate remover between
    exact-document dedup (misses partial overlap) and MinHash (keeps
    near-dup docs whole): C4 dropped repeated three-sentence spans,
    Dolma/RefinedWeb dedup paragraphs — here the unit is a fixed token
    window because the corpus has no sentence/line structure. Spans
    shorter than ``min_tokens`` (document tails) are always kept:
    short fragments collide by chance, and C4-style pipelines only
    dedup spans long enough to be meaningful boilerplate.

    Scale shape (the reason this is NOT a window over span text):
    first-occurrence-per-span is ``groupBy(span_hash).agg(min(struct(
    doc_id, pos)))`` — a partially-aggregated shuffle whose map-side
    combine collapses hot boilerplate spans (the exact rows a
    ``row_number() OVER (PARTITION BY span)`` window would sort in ONE
    task) before anything crosses the wire. The survivors join is
    hash⋈hash with AQE skew handling; reassembly is one groupBy(doc_id)
    with an order-restoring ``array_sort`` on (pos, text) structs.
    Span identity is xxhash64(span text) — the same
    collision-probability stance as every hash-keyed dedup here.
    Two shuffles + one join total, independent of duplication rate.

    Returns (doc_id, dedup_text, n_spans, n_dropped) for EVERY input
    document — a fully-deduped doc comes back with dedup_text = '' and
    n_dropped = n_spans; an empty doc has n_spans = 0.
    """
    # span splitting IS document chunking with zero overlap — one
    # implementation (udtfs.DocSpans is its SQL-table-function twin)
    from bigdatalab_spark.scale.textqa import chunk_documents

    spans = chunk_documents(
        docs, chunk_tokens=span_tokens, overlap=0, text_col=text_col, id_col=id_col
    ).select(
        "doc_id",
        F.col("chunk_id").alias("pos"),
        F.col("chunk_text").alias("span_text"),
        "n_tokens",
    )
    hashed = spans.withColumn("h", F.xxhash64("span_text"))
    firsts = (
        hashed.filter(F.col("n_tokens") >= min_tokens)
        .groupBy("h")
        .agg(F.min(F.struct("doc_id", "pos")).alias("first"))
    )
    flagged = hashed.join(firsts, "h", "left").withColumn(
        "kept",
        (F.col("n_tokens") < min_tokens)
        | (
            (F.col("doc_id") == F.col("first.doc_id"))
            & (F.col("pos") == F.col("first.pos"))
        ),
    )
    rebuilt = flagged.groupBy("doc_id").agg(
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.when(F.col("kept"), F.struct("pos", "span_text"))
                    )
                ),
                lambda s: s.span_text,
            ),
            " ",
        ).alias("dedup_text"),
        F.count("*").alias("n_spans"),
        F.sum((~F.col("kept")).cast("bigint")).alias("n_dropped"),
    )
    # every input doc comes back, including empty ones that produced no
    # spans at all
    return (
        docs.select(F.col(id_col).alias("doc_id"))
        .join(rebuilt, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("dedup_text", F.lit("")).alias("dedup_text"),
            F.coalesce("n_spans", F.lit(0)).alias("n_spans"),
            F.coalesce("n_dropped", F.lit(0)).alias("n_dropped"),
        )
    )


def intradoc_span_dedup(
    docs: DataFrame,
    span_tokens: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Within-document repeated-span removal: segment each document into
    consecutive ``span_tokens``-token spans, keep only the FIRST
    occurrence of each distinct span, and reassemble the text in
    original order — the intra-doc twin of the corpus-wide
    :func:`segment_dedup` (C4-style boilerplate removal, but local).

    Scale design: the whole operator is pure column expressions over
    per-row arrays (tokenize -> span -> first-occurrence filter ->
    rejoin) — NARROW, zero shuffle, runs at scan speed and preserves
    input partitioning at any corpus size. The first-occurrence filter
    is ``array_position(spans, s) = i + 1`` (quadratic in spans-per-doc,
    which is bounded by document length, not corpus size).

    Returns (doc_id, n_spans, n_kept, clean_text); empty documents come
    back with 0/0 and an empty string.
    """
    toks = docs.select(F.col(id_col).alias("doc_id"), tokenize(text_col).alias("toks"))
    n_spans = (F.ceil(F.size("toks") / F.lit(float(span_tokens)))).cast("int")
    spans = F.when(
        F.size("toks") > 0,
        F.transform(
            F.sequence(F.lit(0), n_spans - 1),
            lambda i: F.array_join(
                F.slice("toks", i * span_tokens + 1, span_tokens), " "
            ),
        ),
    ).otherwise(F.expr("array()").cast("array<string>"))
    seg = toks.select("doc_id", spans.alias("spans"))
    kept = seg.select(
        "doc_id",
        F.size("spans").cast("long").alias("n_spans"),
        # keep span i iff its first occurrence index IS i (1-based)
        F.expr("filter(spans, (s, i) -> array_position(spans, s) = i + 1)").alias(
            "kept"
        ),
    )
    return kept.select(
        "doc_id",
        "n_spans",
        F.size("kept").cast("long").alias("n_kept"),
        F.array_join("kept", " ").alias("clean_text"),
    )


def priority_dedup(
    docs: DataFrame,
    priority: Column,
    carry_cols: tuple[str, ...] = ("source",),
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Cross-corpus exact dedup that keeps the BEST copy, not the first:
    group by normalized-content hash and keep the row minimizing
    ``(priority, id)`` — the merge step when the same document arrives
    from several sources of different cleanliness.

    Scale design: the keeper is ``min(struct(priority, id, carry...))``,
    an algebraic aggregate that partial-aggregates map-side — the
    shuffle carries one candidate row per (input partition, hash),
    unlike the window-ranked equivalent which shuffles every copy of
    every hot document to one reducer before ranking. The struct's
    leading ``(priority, id)`` prefix is unique per row, so the winner
    is deterministic regardless of the carried payload columns.

    Returns one row per distinct content: (keep_id, <carry_cols>,
    n_copies).
    """
    cand = docs.select(
        F.md5(normalize_text(text_col)).alias("content_hash"),
        F.struct(
            priority.alias("_priority"),
            F.col(id_col).alias("keep_id"),
            *[F.col(c) for c in carry_cols],
        ).alias("cand"),
    )
    return (
        cand.groupBy("content_hash")
        .agg(F.min("cand").alias("best"), F.count(F.lit(1)).alias("n_copies"))
        .select(
            F.col("best.keep_id").alias("keep_id"),
            *[F.col(f"best.{c}").alias(c) for c in carry_cols],
            "n_copies",
        )
    )
