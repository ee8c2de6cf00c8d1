"""Tests for the scale extensions (dedup / similarity / text / multimodal)
plus sketch handle round-trips — properties beyond what the DuckDB
oracle gate already covers."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from bigdatalab_spark.operators.sketches import (
    BloomFilterHandle,
    CountMinSketchHandle,
    bloom_filter,
    count_min_sketch,
)
from bigdatalab_spark.scale.dedup import minhash_near_dups, ngram_jaccard_pairs
from bigdatalab_spark.scale.multimodal import (
    decode_image,
    fake_decode_image,
    frame_sample,
    to_blob_table,
)
from bigdatalab_spark.scale.similarity import brute_force_topk, bucketed_topk
from bigdatalab_spark.sources import load_table


def _docs(spark, sf_dir):
    return load_table(spark, sf_dir, "documents")


def test_lsh_recall_vs_exact(spark, sf_dir):
    """MinHash-LSH must recover the high-similarity pairs the exact
    quadratic Jaccard finds (recall at jaccard >= 0.8 should be ~1 for
    16 hashes / 4x4 bands: P[candidate] = 1-(1-j^4)^4 ≈ 0.96-0.99+)."""
    docs = _docs(spark, sf_dir)
    exact = {
        (r.doc1, r.doc2)
        for r in ngram_jaccard_pairs(docs, threshold=0.8).collect()
    }
    lsh = {
        (r.doc1, r.doc2) for r in minhash_near_dups(docs, threshold=0.8).collect()
    }
    assert lsh <= exact  # verification step guarantees no false positives
    if exact:
        recall = len(lsh & exact) / len(exact)
        assert recall >= 0.9, f"LSH recall {recall} over {len(exact)} pairs"


def test_bucketed_topk_subset_of_bruteforce_pool(spark, sf_dir):
    """Bucketed ANN returns true cosine ranks within the bucket."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter("vec_id < 3")
    got = bucketed_topk(queries, emb, k=3).collect()
    assert got, "bucketed ANN returned nothing"
    # every query's top-1 within bucket is itself (cos=1)
    top1 = {r.query_id: r for r in got if r.rank == 1}
    for qid, r in top1.items():
        assert r.neighbor_id == qid and r.cos_sim == pytest.approx(1.0)


def test_bruteforce_topk_ranks_descending(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    got = brute_force_topk(emb.filter("vec_id < 2"), emb.filter("vec_id >= 2"), k=5)
    rows = got.collect()
    by_q: dict = {}
    for r in rows:
        by_q.setdefault(r.query_id, []).append(r)
    for q, rs in by_q.items():
        sims = [r.cos_sim for r in sorted(rs, key=lambda r: r.rank)]
        assert sims == sorted(sims, reverse=True)
        assert len(rs) == 5


def test_bloom_roundtrip_and_membership(spark, sf_dir):
    docs = _docs(spark, sf_dir)
    members = docs.filter("doc_id % 2 = 0").select("source")
    bf = bloom_filter(members, "source", expected_items=64, fpp=1e-6)
    present = [r.source for r in members.distinct().collect()]
    for v in present:
        assert bf.might_contain(v)
    # serialization round-trip preserves membership
    bf2 = BloomFilterHandle.from_bytes(spark, bf.to_bytes())
    for v in present:
        assert bf2.might_contain(v)
    assert not bf2.might_contain("definitely-not-a-source-value")


def test_cms_roundtrip_and_counts(spark, sf_dir):
    events = load_table(spark, sf_dir, "events")
    cms = count_min_sketch(events, "event_type", eps=0.01, confidence=0.99, seed=10)
    exact = dict(
        (r.event_type, r["count"]) for r in events.groupBy("event_type").count().collect()
    )
    for k, n in exact.items():
        assert cms.estimate_count(k) >= n  # CMS never under-counts
    cms2 = CountMinSketchHandle.from_bytes(spark, cms.to_bytes())
    assert cms2.total_count() == cms.total_count()
    for k, n in exact.items():
        assert cms2.estimate_count(k) == cms.estimate_count(k)


def test_multimodal_real_decoder_is_stubbed(spark, sf_dir):
    blobs = to_blob_table(_docs(spark, sf_dir).limit(2))
    with pytest.raises(Exception) as exc_info:
        decode_image(blobs).collect()
    assert "NotImplementedError" in str(exc_info.value) or isinstance(
        exc_info.value, NotImplementedError
    )


def test_multimodal_fake_decode_and_frame_sample(spark, sf_dir):
    blobs = to_blob_table(_docs(spark, sf_dir).limit(20))
    decoded = fake_decode_image(blobs)
    rows = decoded.collect()
    assert len(rows) == 20
    for r in rows:
        assert 1 <= r.width <= 64 and 1 <= r.height <= 48
        assert r.format in ("png", "jpeg", "webp")
        assert len(r.digest) == 32
    frames = frame_sample(decoded, every_nth=10)
    fcount = frames.groupBy("doc_id").count().collect()
    assert all(r["count"] >= 1 for r in fcount)


def test_pandas_udf_cosine_matches_column_expression(spark, sf_dir):
    """The Arrow escape hatch computes the same cosine as the JVM fold."""
    from pyspark.sql import functions as F

    from bigdatalab_spark.scale.similarity import cosine, cosine_pandas_udf

    emb = load_table(spark, sf_dir, "embeddings")
    pair = (
        emb.filter("vec_id < 30").selectExpr("vec_id AS i", "embedding AS a")
        .crossJoin(emb.filter("vec_id >= 30 AND vec_id < 40").selectExpr("embedding AS b"))
    )
    udf = cosine_pandas_udf()
    both = pair.select(
        cosine(F.col("a"), F.col("b")).alias("jvm"),
        udf(F.col("a"), F.col("b")).alias("arrow"),
    ).collect()
    assert both
    for r in both:
        assert r.arrow == pytest.approx(r.jvm, rel=1e-9)


def test_fold_pandas_udf_cosine_is_bit_identical(spark, sf_dir):
    """The Arrow verification kernel used by rhp_near_dups must be
    BIT-identical to the JVM fold (not approx-equal): its value lands
    in the query output and the strict oracle hashes it. IS DISTINCT
    FROM catches NaN/-0.0 drift that == would mask."""
    from pyspark.sql import functions as F

    from bigdatalab_spark.scale.similarity import (
        cosine,
        cosine_fold_pandas_udf,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    pair = (
        emb.filter("vec_id < 40").selectExpr("vec_id AS i", "embedding AS a")
        .crossJoin(
            emb.filter("vec_id >= 40 AND vec_id < 80").selectExpr(
                "embedding AS b"
            )
        )
    )
    udf = cosine_fold_pandas_udf()
    both = pair.select(
        cosine(F.col("a"), F.col("b")).alias("jvm"),
        udf(F.col("a"), F.col("b")).alias("arrow"),
    )
    assert both.count() > 0
    assert both.filter("jvm IS DISTINCT FROM arrow").count() == 0


def test_ivf_kmeans_recall_vs_bruteforce(spark, sf_dir):
    """Probe-2 IVF over 8 centroids must recover most true top-3
    neighbors (recall@3 >= 0.5 on the synthetic clustered embeddings)."""
    from bigdatalab_spark.scale.similarity import brute_force_topk, ivf_kmeans_topk

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter("vec_id < 10")
    truth = {
        (r.query_id, r.neighbor_id)
        for r in brute_force_topk(queries, emb, k=3).collect()
    }
    approx = {
        (r.query_id, r.neighbor_id)
        for r in ivf_kmeans_topk(queries, emb, k=3).collect()
    }
    recall = len(approx & truth) / len(truth)
    assert recall >= 0.5, f"IVF recall@3 = {recall}"


def test_ivf_kmeans_big_query_shuffle_path(spark, sf_dir):
    """The big-Q regime (query set LARGER than the corpus sample — e.g.
    offline corpus-vs-corpus joins) must complete via the shuffle
    bucket join with NO broadcast of the query frame, and return
    exactly what the broadcast path returns."""
    from bigdatalab_spark.scale.similarity import ivf_kmeans_topk

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter("vec_id < 400")  # Q=400 vs corpus sample N=100
    corpus = emb.filter("vec_id >= 400").limit(100)

    shuffled = ivf_kmeans_topk(queries, corpus, k=3, query_join="shuffle")
    # the only broadcast hint in the shuffle-mode plan is the (tiny)
    # centroid routing table — neither the query frame nor the
    # probes⋈queries frame is forced to the driver/executors
    logical = shuffled._jdf.queryExecution().optimizedPlan().toString()
    assert logical.count("strategy=broadcast") == 1, logical

    broadcasted = ivf_kmeans_topk(queries, corpus, k=3, query_join="broadcast")
    assert sorted(map(tuple, shuffled.collect())) == sorted(
        map(tuple, broadcasted.collect())
    )

    with pytest.raises(ValueError):
        ivf_kmeans_topk(queries, corpus, query_join="sideways")


def test_lsh_hot_bucket_cap_prevents_quadratic_blowup(spark):
    """A degenerate corpus (thousands of identical docs -> one band
    signature) must not generate C(n,2) candidate pairs: the bucket cap
    drops the pathological buckets and the pipeline still completes."""
    from bigdatalab_spark.scale.dedup import (
        doc_shingles,
        lsh_candidate_pairs,
        minhash_signatures,
    )

    n_docs = 5000
    docs = spark.range(n_docs).select(
        F.col("id").alias("doc_id"),
        F.lit("boilerplate header common to every page in the crawl").alias("text"),
    )
    sh = doc_shingles(docs).cache()
    sigs = minhash_signatures(sh)
    capped = lsh_candidate_pairs(sigs, max_bucket_size=100)
    # uncapped would be C(5000,2) ≈ 12.5M pairs; capped must collapse to 0
    assert capped.count() == 0
    # and a mixed corpus keeps its healthy buckets: add 2 genuine near-dup
    # docs with unique text and verify they still pair up under the cap
    extra = spark.createDataFrame(
        [
            (n_docs + 1, "the quick brown fox jumps over the lazy dog tonight"),
            (n_docs + 2, "the quick brown fox jumps over the lazy dog today"),
        ],
        "doc_id long, text string",
    )
    sh2 = doc_shingles(docs.union(extra)).cache()
    capped2 = lsh_candidate_pairs(minhash_signatures(sh2), max_bucket_size=100)
    pairs = {(r.doc1, r.doc2) for r in capped2.collect()}
    assert (n_docs + 1, n_docs + 2) in pairs
    assert len(pairs) <= 10  # no quadratic leak from the hot bucket
    sh.unpersist()
    sh2.unpersist()


def test_asof_join_matches_naive_range_join(spark, sf_dir):
    """asof_join (union + keyed running-last window, one shuffle) must
    equal the naive range-join + per-group argmax on test-sized data,
    in both directions."""
    from bigdatalab_spark.operators.asof import asof_join

    ev = load_table(spark, sf_dir, "events")
    purchases = ev.filter("event_type = 'purchase'").select("event_id", "user_id", "ts")
    clicks = ev.filter("event_type = 'click'").select("user_id", "ts")

    back = asof_join(purchases, clicks, on=["user_id"], value_cols=[])
    naive_back = (
        purchases.alias("p")
        .join(
            clicks.alias("c"),
            (F.col("p.user_id") == F.col("c.user_id")) & (F.col("c.ts") <= F.col("p.ts")),
            "left",
        )
        .groupBy("p.event_id")
        .agg(F.max("c.ts").alias("want"))
    )
    assert back.count() == purchases.count()  # left join: every left row once
    mismatch = (
        back.join(naive_back, "event_id")
        .filter(
            (F.col("ts_asof").isNull() != F.col("want").isNull())
            | (F.col("ts_asof") != F.col("want"))
        )
        .count()
    )
    assert mismatch == 0

    fwd = asof_join(purchases, clicks, on=["user_id"], value_cols=[], direction="forward")
    naive_fwd = (
        purchases.alias("p")
        .join(
            clicks.alias("c"),
            (F.col("p.user_id") == F.col("c.user_id")) & (F.col("c.ts") >= F.col("p.ts")),
            "left",
        )
        .groupBy("p.event_id")
        .agg(F.min("c.ts").alias("want"))
    )
    assert fwd.count() == purchases.count()
    mismatch_f = (
        fwd.join(naive_fwd, "event_id")
        .filter(
            (F.col("ts_asof").isNull() != F.col("want").isNull())
            | (F.col("ts_asof") != F.col("want"))
        )
        .count()
    )
    assert mismatch_f == 0


def test_chunk_documents_reconstructs_and_bounds(spark, sf_dir):
    """Chunk invariants: non-overlap prefixes concatenate back to the
    tokenized document; every chunk within size bounds; empty docs yield
    no chunks; chunking is narrow (no Exchange in the plan)."""
    from bigdatalab_spark.functions import tokenize
    from bigdatalab_spark.scale.textqa import chunk_documents

    docs = load_table(spark, sf_dir, "documents")
    chunk, overlap = 32, 8
    step = chunk - overlap
    chunks = chunk_documents(docs, chunk_tokens=chunk, overlap=overlap)
    plan = chunks._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan  # narrow: runs at scan speed
    assert chunks.filter((F.col("n_tokens") < 1) | (F.col("n_tokens") > chunk)).count() == 0
    # reconstruction: first `step` tokens of each chunk, concatenated in
    # chunk order, equal the original token stream (the overlap suffix
    # of each chunk re-appears as the next chunk's prefix)
    prefix = F.concat_ws(" ", F.slice(F.split("chunk_text", r"\s+"), 1, step))
    # collect_list order is nondeterministic -> rebuild via sort_array
    rebuilt = (
        chunks.withColumn("prefix", prefix)
        .groupBy("doc_id")
        .agg(
            F.concat_ws(
                " ",
                F.transform(
                    F.sort_array(F.collect_list(F.struct("chunk_id", "prefix"))),
                    lambda s: s["prefix"],
                ),
            ).alias("rebuilt")
        )
    )
    orig = docs.select("doc_id", F.concat_ws(" ", tokenize("text")).alias("orig"))
    diff = rebuilt.join(orig, "doc_id").filter(F.col("rebuilt") != F.col("orig")).count()
    assert diff == 0


def test_top_terms_per_doc_rank_contract(spark, sf_dir):
    """<=k rows per doc, ranks 1..k contiguous, tf weakly decreasing."""
    from bigdatalab_spark.scale.textqa import top_terms_per_doc

    docs = load_table(spark, sf_dir, "documents")
    top = top_terms_per_doc(docs, k=3).cache()
    per_doc = top.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n"),
        F.max("rank").alias("max_r"),
        F.min("rank").alias("min_r"),
    )
    assert per_doc.filter("n > 3 OR max_r != n OR min_r != 1").count() == 0
    # tf weakly decreasing along rank
    from pyspark.sql.window import Window

    w = Window.partitionBy("doc_id").orderBy("rank")
    bad = top.withColumn("prev_tf", F.lag("tf").over(w)).filter(
        F.col("prev_tf").isNotNull() & (F.col("tf") > F.col("prev_tf"))
    )
    assert bad.count() == 0
    top.unpersist()


def test_hash_split_deterministic_and_narrow(spark, sf_dir):
    """Split assignment is a pure row function: stable across runs and
    partitionings, proportions near the weights, and no Exchange in the
    plan (narrow). Re-salting yields a different assignment."""
    from bigdatalab_spark.scale.curation import hash_split

    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    s1 = hash_split(docs, "doc_id")
    assert "Exchange" not in s1._jdf.queryExecution().executedPlan().toString()
    rows1 = {(r.doc_id, r.split) for r in s1.collect()}
    rows2 = {(r.doc_id, r.split) for r in hash_split(docs.repartition(13), "doc_id").collect()}
    assert rows1 == rows2  # partitioning-invariant
    n = docs.count()
    by_split = {r.split: r["count"] for r in s1.groupBy("split").count().collect()}
    assert set(by_split) <= {"train", "val", "test"}
    assert abs(by_split.get("train", 0) / n - 0.8) < 0.1
    resalted = {(r.doc_id, r.split) for r in hash_split(docs, "doc_id", salt="v2").collect()}
    assert resalted != rows1


def test_curation_null_handling(spark):
    """NULL keys/groups are first-class, not accidents: hash_split routes
    NULL keys through the same coalesced hash as domain_mix (one
    deterministic pseudo-key, not the CASE-fallthrough straggler split),
    and winsorize's null-safe join keeps NULL-group rows with the cuts
    row groupBy computed for them."""
    from bigdatalab_spark.scale.curation import domain_mix, hash_split, winsorize

    df = spark.createDataFrame(
        [("a",), ("b",), (None,), (None,)], ["k"]
    )
    splits = {r.k: r.split for r in hash_split(df, "k").collect()}
    # both NULL keys land in the SAME split, deterministically
    assert splits[None] in {"train", "val", "test"}
    again = {r.k: r.split for r in hash_split(df, "k").collect()}
    assert splits == again
    # the NULL pseudo-key hashes like the literal NUL string — the
    # domain_mix convention — so the assignment is defined, not the
    # otherwise() straggler
    nul = {r.k: r.split for r in hash_split(df.selectExpr("chr(0) AS k"), "k").collect()}
    assert splits[None] == nul["\x00"]

    vals = spark.createDataFrame(
        [("g", float(v)) for v in range(1, 21)] + [(None, 5.0), (None, 100.0)],
        ["grp", "v"],
    )
    w = winsorize(vals, "v", "grp")
    assert w.count() == 22  # NULL-group rows pass through
    null_rows = w.filter("grp IS NULL").select("lo", "hi", "v_clipped").collect()
    assert len(null_rows) == 2  # joined to the NULL-group cuts row
    assert all(r.lo is not None and r.hi is not None for r in null_rows)

    # domain_mix keeps NULL strata at default_rate=1.0 (no silent drop)
    mixed = domain_mix(df.withColumnRenamed("k", "s").withColumn("doc_id", F.lit("d")),
                       "s", rates={"a": 0.0})
    kept = [r.s for r in mixed.collect()]
    assert "a" not in kept and kept.count(None) == 2


def test_stratified_sample_respects_fractions(spark, sf_dir):
    """Per-stratum rates honored within binomial tolerance; unlisted
    strata dropped; same seed -> same sample."""
    from bigdatalab_spark.scale.curation import stratified_sample

    ev = load_table(spark, sf_dir, "events").select("event_id", "event_type")
    fr = {"click": 0.5, "purchase": 1.0}
    s = stratified_sample(ev, "event_type", fr, seed=11)
    got = {r.event_type: r["count"] for r in s.groupBy("event_type").count().collect()}
    assert set(got) <= set(fr)
    totals = {r.event_type: r["count"] for r in ev.groupBy("event_type").count().collect()}
    assert got.get("purchase", 0) == totals["purchase"]  # rate 1.0 keeps all
    import math

    n, p = totals["click"], 0.5
    tol = 4 * math.sqrt(n * p * (1 - p))
    assert abs(got.get("click", 0) - n * p) < tol
    again = {r.event_id for r in stratified_sample(ev, "event_type", fr, seed=11).collect()}
    assert again == {r.event_id for r in s.collect()}


def test_pack_sequences_budget_and_contiguity(spark, sf_dir):
    """Every packed sequence fits the budget (chunks are <= 32 << 128),
    seq_ids are contiguous from 0 per doc, and chunk order is preserved
    (a chunk never lands in an earlier seq than a prior chunk)."""
    from bigdatalab_spark.scale.curation import pack_sequences
    from bigdatalab_spark.scale.textqa import chunk_documents

    docs = load_table(spark, sf_dir, "documents")
    chunks = chunk_documents(docs, chunk_tokens=32, overlap=8).select(
        "doc_id", "chunk_id", "n_tokens"
    )
    packed = pack_sequences(chunks, budget=128).cache()
    over = (
        packed.groupBy("doc_id", "seq_id")
        .agg(F.sum("n_tokens").alias("tot"))
        .filter("tot > 128")
        .count()
    )
    assert over == 0
    seqs = packed.groupBy("doc_id").agg(
        F.min("seq_id").alias("lo"),
        F.max("seq_id").alias("hi"),
        F.countDistinct("seq_id").alias("n"),
    )
    assert seqs.filter("lo != 0 OR n != hi + 1").count() == 0
    from pyspark.sql.window import Window

    w = Window.partitionBy("doc_id").orderBy("chunk_id")
    regress = packed.withColumn("prev_seq", F.lag("seq_id").over(w)).filter(
        F.col("prev_seq").isNotNull() & (F.col("seq_id") < F.col("prev_seq"))
    )
    assert regress.count() == 0
    packed.unpersist()


def test_repetition_scores_flag_boilerplate(spark):
    """A repeated-token doc must out-score varied prose on both signals."""
    from bigdatalab_spark.scale.textqa import repetition_scores

    docs = spark.createDataFrame(
        [
            (1, "spam spam spam spam spam spam spam spam"),
            (2, "a quick brown fox jumps over the lazy dog before dawn"),
        ],
        "doc_id long, text string",
    )
    rows = {r.doc_id: r for r in repetition_scores(docs).collect()}
    assert rows[1].top_token_share == 1.0
    assert rows[1].dup_bigram_share > 0.8
    assert rows[2].top_token_share < 0.2
    assert rows[2].dup_bigram_share == 0.0


def test_binary_features_real_values(spark):
    """binary_features is NOT a stub: entropy/printable/null ratios and
    magic sniffing computed on real bytes, verified against known
    payloads."""
    import math

    from bigdatalab_spark.scale.multimodal import binary_features

    payloads = [
        (1, b"\x89PNG\r\n\x1a\n" + bytes(range(256)) * 4),  # png magic, near-uniform tail
        (2, b"aaaaaaaaaaaaaaaa"),  # single symbol: entropy 0
        (3, b"hello plain text payload"),  # printable ascii
        (4, b"\x00" * 10 + b"\x01" * 10),  # half NULs, 1 bit entropy
        (5, b""),  # empty
    ]
    df = spark.createDataFrame(
        [(i, bytearray(b)) for i, b in payloads], "doc_id long, payload binary"
    )
    rows = {r.doc_id: r for r in binary_features(df).collect()}
    assert rows[1].sniffed_format == "png"
    assert rows[1].entropy_bits > 7.5  # near-uniform byte distribution
    assert rows[2].entropy_bits == 0.0
    assert rows[2].sniffed_format == "unknown"
    assert rows[3].printable_ratio == 1.0
    assert math.isclose(rows[4].null_ratio, 0.5)
    assert math.isclose(rows[4].entropy_bits, 1.0)
    assert rows[5].n_bytes == 0 and rows[5].entropy_bits == 0.0


def test_approx_percentile_within_accuracy_bound(spark, sf_dir):
    """A12-family extension: approx_percentile's rank error is bounded by
    1/accuracy — verified against the exact percentile the engine's
    value_percentiles query computes."""
    ev = load_table(spark, sf_dir, "events")
    accuracy = 100  # rank error <= n/accuracy
    row = ev.select(
        F.expr(f"approx_percentile(value, array(0.5, 0.95), {accuracy})").alias("ap"),
        F.expr("percentile(value, array(0.5, 0.95))").alias("exact"),
        F.count(F.lit(1)).alias("n"),
    ).collect()[0]
    values = sorted(r.value for r in ev.select("value").collect())
    n = row.n
    for approx, q in zip(row.ap, (0.5, 0.95)):
        # translate value error to rank error via the sorted sample
        import bisect

        rank = bisect.bisect_left(values, approx)
        assert abs(rank - q * n) <= n / accuracy + 1, (q, approx, rank)


def test_asof_join_tolerance(spark, sf_dir):
    """tolerance bounds match staleness: a backward match older than the
    interval is nulled; equals the naive range join with the same bound."""
    from bigdatalab_spark.operators.asof import asof_join

    ev = load_table(spark, sf_dir, "events")
    purchases = ev.filter("event_type = 'purchase'").select("event_id", "user_id", "ts")
    clicks = ev.filter("event_type = 'click'").select("user_id", "ts")
    tol = asof_join(
        purchases, clicks, on=["user_id"], value_cols=[], tolerance="1 hour"
    )
    naive = (
        purchases.alias("p")
        .join(
            clicks.alias("c"),
            (F.col("p.user_id") == F.col("c.user_id"))
            & (F.col("c.ts") <= F.col("p.ts"))
            & (F.col("c.ts") >= F.col("p.ts") - F.expr("INTERVAL 1 HOUR")),
            "left",
        )
        .groupBy("p.event_id")
        .agg(F.max("c.ts").alias("want"))
    )
    assert tol.count() == purchases.count()
    mismatch = (
        tol.join(naive, "event_id")
        .filter(
            (F.col("ts_asof").isNull() != F.col("want").isNull())
            | (F.col("ts_asof") != F.col("want"))
        )
        .count()
    )
    assert mismatch == 0
    # tolerance must strictly reduce (or keep) the matched count
    full = asof_join(purchases, clicks, on=["user_id"], value_cols=[])
    assert (
        tol.filter("ts_asof IS NOT NULL").count()
        <= full.filter("ts_asof IS NOT NULL").count()
    )


def test_multimodal_resize_plumbing(spark, sf_dir):
    """Resize: real slot stubbed (no codecs), fake twin produces exact
    RGB-buffer-sized payloads deterministically."""
    from bigdatalab_spark.scale.multimodal import (
        fake_resize_image,
        resize_image,
        to_blob_table,
    )

    blobs = to_blob_table(_docs(spark, sf_dir).limit(5))
    with pytest.raises(Exception) as exc_info:
        resize_image(blobs, 32, 24).collect()
    assert "NotImplementedError" in str(exc_info.value) or isinstance(
        exc_info.value, NotImplementedError
    )
    rows = fake_resize_image(blobs, 32, 24).collect()
    assert len(rows) == 5
    for r in rows:
        assert (r.width, r.height) == (32, 24)
        assert r.n_bytes == 32 * 24 * 3 and len(bytes(r.payload)) == r.n_bytes
    # deterministic: same input -> same payload bytes
    again = fake_resize_image(blobs, 32, 24).collect()
    assert {bytes(r.payload) for r in rows} == {bytes(r.payload) for r in again}


def test_rhp_near_dups_recall_and_sublinearity(spark):
    """Multi-table random-hyperplane LSH recall gate, mirroring the
    SimHash exhaustive test: 150 planted clusters of 3 near-identical
    vectors (cos >= 0.9 within, ~N(0, 1/sqrt(32)) across), ground truth
    by brute force. 6 tables x 6 bits must recover >= 90% of true pairs
    (theory: miss = (1 - p^6)^6 <= 5% at cos 0.9, p = 1 - theta/pi)
    while generating FAR fewer candidates than the C(n,2) all-pairs join
    — the blocked-not-quadratic 100 TB requirement."""
    import numpy as np

    from bigdatalab_spark.scale.similarity import (
        hyperplane_bits_for,
        hyperplane_table_rows,
        random_hyperplanes,
        rhp_candidate_pairs,
        rhp_near_dups,
    )

    rng = np.random.RandomState(11)
    vecs = []
    for c in range(150):
        base = rng.standard_normal(32)
        base /= np.linalg.norm(base)
        vecs.append(base)
        for _ in range(2):
            # ||0.05*g|| ~ 0.28 -> base-copy cos ~ 0.96, copy-copy ~ 0.93
            v = base + 0.05 * rng.standard_normal(32)
            vecs.append(v / np.linalg.norm(v))
    M = np.stack(vecs)
    sims = M @ M.T
    iu = np.triu_indices(len(vecs), 1)
    truth = {
        (int(i), int(j))
        for i, j in zip(iu[0][sims[iu] >= 0.9], iu[1][sims[iu] >= 0.9])
    }
    assert len(truth) >= 150  # the planted pairs are really there

    df = spark.createDataFrame(
        [(i, [float(x) for x in row]) for i, row in enumerate(M)],
        "vec_id long, embedding array<double>",
    )
    found = {
        (r.id1, r.id2)
        for r in rhp_near_dups(
            df, threshold=0.9, dim=32, bits=6, tables=6, seed=3
        ).collect()
    }
    recall = len(found & truth) / len(truth)
    assert recall >= 0.90, f"recall {recall:.3f} < 0.90 ({len(found)} found)"
    assert found <= truth  # exact cosine verify -> no false positives

    # blocking is sublinear: candidates well under the all-pairs count
    planes = random_hyperplanes(32, bits=6, tables=6, seed=3)
    n = len(vecs)
    n_cand = rhp_candidate_pairs(hyperplane_table_rows(df, planes)).count()
    assert n_cand < 0.15 * n * (n - 1) / 2, f"{n_cand} candidates ~ quadratic"

    # the degenerate-bucket cap guards the constant-vector quadratic,
    # same contract as dedup.lsh_candidate_pairs
    const = spark.createDataFrame(
        [(i, [1.0] * 32) for i in range(200)], "vec_id long, embedding array<double>"
    )
    capped = rhp_candidate_pairs(
        hyperplane_table_rows(const, planes), max_bucket_size=50
    ).count()
    assert capped == 0

    # corpus-sized bits: expected bucket ~ target keeps pair work linear
    assert hyperplane_bits_for(500) == 4
    assert hyperplane_bits_for(2_000_000, target_bucket_rows=32) == 16
    assert hyperplane_bits_for(10) == 4
    assert hyperplane_bits_for(10**12, max_bits=24) == 24


def test_segment_dedup_drops_repeats_and_reassembles(spark):
    from bigdatalab_spark.scale.dedup import segment_exact_dedup

    seg_a = " ".join(f"a{i}" for i in range(10))
    seg_b = " ".join(f"b{i}" for i in range(10))
    seg_c = " ".join(f"c{i}" for i in range(10))
    docs = spark.createDataFrame(
        [
            (1, f"{seg_a} {seg_b}"),        # first occurrence of A and B
            (2, f"{seg_b} {seg_c}"),        # B is a repeat, C survives
            (3, seg_a),                     # fully duplicated -> empty text
            (4, f"{seg_a} tail words"),     # short final segment is its own unit
        ],
        "doc_id long, text string",
    )
    out = {
        r["doc_id"]: r
        for r in segment_exact_dedup(docs, seg_words=10).collect()
    }
    assert out[1]["n_segments"] == 2 and out[1]["n_kept"] == 2
    assert out[1]["dedup_text"] == f"{seg_a} {seg_b}"
    assert out[2]["n_segments"] == 2 and out[2]["n_kept"] == 1
    assert out[2]["dedup_text"] == seg_c
    assert out[3]["n_segments"] == 1 and out[3]["n_kept"] == 0
    assert out[3]["dedup_text"] == ""
    # the 2-word tail segment differs from seg_a's 10-word segment
    assert out[4]["n_segments"] == 2 and out[4]["n_kept"] == 1
    assert out[4]["dedup_text"] == "tail words"


def test_semantic_dedup_decision_contract(spark):
    """Planted near-identical embeddings are pruned to one survivor;
    every drop has a valid lower-id witness at >= threshold."""
    import math
    import random

    from bigdatalab_spark.scale.similarity import semantic_dedup

    rng = random.Random(11)
    base = [[rng.gauss(0, 1) for _ in range(16)] for _ in range(40)]
    rows = [(i, v) for i, v in enumerate(base)]
    # ids 100/101/102: near-copies of base[0] (tiny perturbation)
    for j in range(3):
        rows.append((100 + j, [x + rng.gauss(0, 1e-4) for x in base[0]]))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = semantic_dedup(df, threshold=0.99, n_clusters=4, seed=1).collect()
    by_id = {r["vec_id"]: r for r in out}
    assert len(out) == len(rows)

    # the planted copies collapse to one keeper: id 0 (the minimum)
    group = [0, 100, 101, 102]
    kept = [i for i in group if by_id[i]["is_kept"]]
    assert kept == [0]
    for i in (100, 101, 102):
        assert by_id[i]["dup_of"] == 0
        assert by_id[i]["max_sim"] >= 0.99

    # every dropped row names a lower-id witness; kept rows have none
    for r in out:
        if r["is_kept"]:
            assert r["dup_of"] is None and r["max_sim"] is None
        else:
            assert r["dup_of"] is not None and r["dup_of"] < r["vec_id"]

    # unrelated random gaussians in 16-d are far below the threshold
    def cos(u, v):
        num = sum(a * b for a, b in zip(u, v))
        return num / math.sqrt(sum(a * a for a in u) * sum(b * b for b in v))

    assert all(cos(base[1], base[k]) < 0.9 for k in (2, 3, 4))
    assert by_id[1]["is_kept"] and by_id[2]["is_kept"]


def test_portable_bloom_no_false_negatives_and_prunes(spark):
    from bigdatalab_spark.scale.dedup import (
        BLOOM_M_BITS,
        bloom_incremental_dedup,
        bloom_might_contain,
        build_portable_bloom,
    )

    corpus_vals = [(f"doc {i} body",) for i in range(200)]
    cdf = spark.createDataFrame(corpus_vals, "v string")
    bitmap = build_portable_bloom(cdf, "v")
    assert len(bitmap) == BLOOM_M_BITS // 63 + 1

    # no false negatives: every inserted value probes positive
    hits = cdf.filter(bloom_might_contain("v", bitmap)).count()
    assert hits == len(corpus_vals)

    # novel values are mostly pruned (FP rate far below 1 at this fill)
    novel = spark.createDataFrame([(f"other {i} text",) for i in range(500)], "v string")
    fp = novel.filter(bloom_might_contain("v", bitmap)).count()
    assert fp < 50, f"{fp}/500 false positives — bloom is not pruning"

    # end-to-end classifier: duplicates confirmed, novels classified new
    corpus = spark.createDataFrame(
        [(i * 2, f"text number {i}") for i in range(100)], "doc_id long, text string"
    )
    batch = spark.createDataFrame(
        [(1, "text number 7"), (3, "text number 42"), (5, "completely fresh")],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in bloom_incremental_dedup(batch, corpus).collect()}
    assert out[1]["status"] == "exact_dup" and out[1]["bloom_positive"]
    assert out[3]["status"] == "exact_dup" and out[3]["bloom_positive"]
    assert out[5]["status"] in ("new", "new_bloom_fp")


def test_bpe_train_merges_and_greedy_overlap(spark):
    from bigdatalab_spark.functions import tokenize
    from bigdatalab_spark.scale.bpe import BPE_SEP, bpe_train, merge_pair

    docs = spark.createDataFrame(
        [(1, "a b a b c"), (2, "a b b b")], "doc_id long, text string"
    )
    out = bpe_train(docs, n_merges=3).orderBy("merge_round").collect()
    ab = f"a{BPE_SEP}b"
    assert [(r["merge_round"], r["left"], r["right"], r["n_pairs"]) for r in out] == [
        (1, "a", "b", 3),       # most frequent pair
        (2, ab, ab, 1),         # tie broken lexicographically (0x1f < 'b')
        (3, ab, "b", 1),
    ]

    # greedy left-to-right non-overlap on an A==A run: 5 b's -> bb bb b
    t = spark.createDataFrame(
        [(1, "b b b b b")], "doc_id long, text string"
    ).select("doc_id", tokenize("text").alias("toks"))
    merged = merge_pair(t, "b", "b").collect()[0]["toks"]
    bb = f"b{BPE_SEP}b"
    assert merged == [bb, bb, "b"]

    # early stop: single-token docs have no pairs
    tiny = spark.createDataFrame([(1, "solo")], "doc_id long, text string")
    assert bpe_train(tiny, n_merges=3).count() == 0


def test_freq_items_superset_contract(spark, sf_dir):
    """stat.freqItems guarantees every item with frequency above the
    support threshold appears (false positives allowed, never false
    negatives) — assert against exact counts."""
    from bigdatalab_spark.sources import load_table

    ev = load_table(spark, sf_dir, "events")
    support = 0.1
    got = set(ev.stat.freqItems(["event_type"], support).collect()[0][0])
    n = ev.count()
    exact = {
        r["event_type"]
        for r in ev.groupBy("event_type").count().collect()
        if r["count"] / n >= support
    }
    assert exact <= got


def test_sample_by_fractions_and_seed_stability(spark, sf_dir):
    """sampleBy: per-stratum fractions land near target and the seeded
    sample is reproducible within a session."""
    from bigdatalab_spark.scale.curation import stratified_sample
    from bigdatalab_spark.sources import load_table

    ev = load_table(spark, sf_dir, "events")
    fr = {"click": 0.5, "view": 0.1}
    s1 = stratified_sample(ev, "event_type", fr, seed=5)
    s2 = stratified_sample(ev, "event_type", fr, seed=5)
    c1 = {r["event_type"]: r["count"] for r in s1.groupBy("event_type").count().collect()}
    assert set(c1) <= set(fr)  # unlisted strata default to 0
    tot = {r["event_type"]: r["count"] for r in ev.groupBy("event_type").count().collect()}
    for k, f in fr.items():
        assert abs(c1.get(k, 0) / tot[k] - f) < 0.15
    assert sorted(r["event_id"] for r in s1.collect()) == sorted(
        r["event_id"] for r in s2.collect()
    )


def test_pq_compression_contract_and_rerank_recall(spark, sf_dir):
    """PQ: m codes per vector from k-sized codebooks (the 32x storage
    contract), raw ADC recovers self-neighbors, and exact rerank lifts
    recall@5 above the raw-ADC floor."""
    from pyspark.sql.window import Window

    from bigdatalab_spark.scale.pq import (
        _sq_dist,
        encode_corpus,
        pq_topk,
        train_codebooks,
    )
    from bigdatalab_spark.sources import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    n = emb.count()
    books = train_codebooks(emb, m=8, k=16, seed=42)
    assert len(books) == 8 and all(len(b) == 16 for b in books)
    codes = encode_corpus(emb, books)
    assert codes.count() == n * 8  # m codes per vector, nothing dropped
    assert codes.agg(F.max("code")).collect()[0][0] < 16

    q = emb.filter("vec_id < 10")
    got = {}
    for r in pq_topk(q, emb, k=5, m=8, rerank=50, codebooks=books).collect():
        got.setdefault(r["query_id"], set()).add(r["neighbor_id"])

    qq = q.select(F.col("vec_id").alias("query_id"), F.col("embedding").alias("qv"))
    cv = emb.select(F.col("vec_id").alias("neighbor_id"), F.col("embedding").alias("cv"))
    w = Window.partitionBy("query_id").orderBy(F.asc("d"), F.asc("neighbor_id"))
    exact = {}
    for r in (
        F.broadcast(qq)
        .crossJoin(cv)
        .select("query_id", "neighbor_id", _sq_dist(F.col("qv"), F.col("cv")).alias("d"))
        .withColumn("r", F.row_number().over(w))
        .filter("r <= 5")
        .collect()
    ):
        exact.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    recalls = [len(exact[k_] & got[k_]) / 5 for k_ in exact]
    mean_recall = sum(recalls) / len(recalls)
    assert mean_recall >= 0.6, f"reranked recall@5 {mean_recall}"
    # every query finds itself (distance 0 survives any quantization)
    assert all(qid in got[qid] for qid in got)


@pytest.mark.slow
def test_ivf_pq_recall_and_probe_bound(spark, sf_dir):
    """IVF-PQ: recall stays above the floor at probe 2/8, and a full
    probe (n_probe = n_centroids) matches plain PQ recall — routing is
    the only extra loss."""
    from pyspark.sql.window import Window

    from bigdatalab_spark.scale.pq import _sq_dist, ivf_pq_topk
    from bigdatalab_spark.sources import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter("vec_id < 10")
    qq = q.select(F.col("vec_id").alias("query_id"), F.col("embedding").alias("qv"))
    cv = emb.select(F.col("vec_id").alias("neighbor_id"), F.col("embedding").alias("cv"))
    w = Window.partitionBy("query_id").orderBy(F.asc("d"), F.asc("neighbor_id"))
    exact = {}
    for r in (
        F.broadcast(qq)
        .crossJoin(cv)
        .select("query_id", "neighbor_id", _sq_dist(F.col("qv"), F.col("cv")).alias("d"))
        .withColumn("r", F.row_number().over(w))
        .filter("r <= 5")
        .collect()
    ):
        exact.setdefault(r["query_id"], set()).add(r["neighbor_id"])

    def recall(df):
        got = {}
        for r in df.collect():
            got.setdefault(r["query_id"], set()).add(r["neighbor_id"])
        return sum(len(exact[k_] & got[k_]) / 5 for k_ in exact) / len(exact)

    probed = recall(ivf_pq_topk(q, emb, k=5, n_probe=2))
    assert probed >= 0.4, f"probe-2 recall {probed}"
    full = recall(ivf_pq_topk(q, emb, k=5, n_probe=8))
    assert full >= probed, (full, probed)


def test_map_in_arrow_decode_matches_pandas_path(spark, sf_dir):
    """The Arrow-native decode kernel (mapInArrow, no pandas conversion)
    produces byte-identical rows to the mapInPandas path."""
    from bigdatalab_spark.scale.multimodal import (
        fake_decode_image,
        fake_decode_image_arrow,
        to_blob_table,
    )

    blobs = to_blob_table(_docs(spark, sf_dir).limit(50))
    a = sorted(map(tuple, fake_decode_image(blobs).collect()))
    b = sorted(map(tuple, fake_decode_image_arrow(blobs).collect()))
    assert a == b and len(a) == 50


def test_bpe_merge_pair_handles_empty_docs(spark):
    """Empty / whitespace-only documents must not crash the rewrite
    (sequence(1, 0) is DESCENDING in Spark; guarded)."""
    from bigdatalab_spark.scale.bpe import bpe_train, merge_pair
    from bigdatalab_spark.functions import tokenize

    docs = spark.createDataFrame(
        [(1, ""), (2, "   "), (3, "a b a b")], "doc_id long, text string"
    )
    t = docs.select("doc_id", tokenize("text").alias("toks"))
    out = {r["doc_id"]: r["toks"] for r in merge_pair(t, "a", "b").collect()}
    assert out[1] == [] and out[2] == []
    assert out[3] == ["a\x1fb", "a\x1fb"]
    merges = bpe_train(docs, n_merges=2).collect()
    assert merges[0]["left"] == "a" and merges[0]["right"] == "b"


def test_pq_codebook_memo_amortizes_training(spark, sf_dir, monkeypatch):
    """The session codebook store trains once per (corpus, params) and
    hands the SAME trained object to every subsequent query batch.
    Behavior-asserted (invocation count), not wall-clock-asserted."""
    from bigdatalab_spark.scale import pq
    from bigdatalab_spark.scale.pq import _CODEBOOK_MEMO, train_codebooks_cached
    from bigdatalab_spark.sources import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    key = (spark.sparkContext.applicationId, sf_dir, "memo-test")
    _CODEBOOK_MEMO.clear()
    calls = []
    real_train = pq.train_codebooks
    monkeypatch.setattr(
        pq, "train_codebooks", lambda *a, **kw: (calls.append(a), real_train(*a, **kw))[1]
    )
    first = train_codebooks_cached(emb, key, m=4, k=8, seed=99)
    second = train_codebooks_cached(emb, key, m=4, k=8, seed=99)
    assert second is first  # no retraining — identical object
    assert len(calls) == 1  # the trainer ran exactly once
    # different params are a different model (one more training run)
    other = train_codebooks_cached(emb, key, m=4, k=8, seed=100)
    assert other is not first
    assert len(calls) == 2
    _CODEBOOK_MEMO.clear()


def test_codebook_memo_is_bounded(monkeypatch):
    """FIFO eviction keeps the memo at _MEMO_MAX_ENTRIES — key churn
    (e.g. fingerprints changing as data changes) can't grow it without
    bound."""
    from bigdatalab_spark.scale import pq
    from bigdatalab_spark.scale.pq import _CODEBOOK_MEMO, train_codebooks_cached

    _CODEBOOK_MEMO.clear()
    monkeypatch.setattr(pq, "train_codebooks", lambda *a, **kw: [])
    n = pq._MEMO_MAX_ENTRIES + 5
    for i in range(n):
        train_codebooks_cached(None, ("synthetic", i), m=4, k=8, seed=99)
    assert len(_CODEBOOK_MEMO) == pq._MEMO_MAX_ENTRIES
    # oldest keys were evicted, newest retained
    assert (("synthetic", 0), 4, 8, 99, "embedding") not in _CODEBOOK_MEMO
    assert (("synthetic", n - 1), 4, 8, 99, "embedding") in _CODEBOOK_MEMO
    _CODEBOOK_MEMO.clear()


def test_corpus_fingerprint_tracks_file_changes(tmp_path):
    """The memo corpus key changes when the underlying file changes —
    the stale-model invalidation the round-3 advice asked for."""
    import os
    import time

    from bigdatalab_spark.sources import corpus_fingerprint

    f = tmp_path / "documents.parquet"
    f.write_bytes(b"v1-bytes")
    fp1 = corpus_fingerprint(str(tmp_path), "documents")
    fp_same = corpus_fingerprint(str(tmp_path), "documents")
    assert fp1 == fp_same
    f.write_bytes(b"v2-bytes-longer")
    fp2 = corpus_fingerprint(str(tmp_path), "documents")
    assert fp2 != fp1  # size changed
    # same-size rewrite still invalidates via mtime
    os.utime(f, ns=(time.time_ns() + 10**9, time.time_ns() + 10**9))
    fp3 = corpus_fingerprint(str(tmp_path), "documents")
    assert fp3 != fp2
    # missing file (remote-FS shape) degrades to a path sentinel
    fp_missing = corpus_fingerprint(str(tmp_path), "nope")
    assert fp_missing == ((f"{tmp_path}/nope.parquet", -1, -1),)


def test_release_local_checkpoint_frees_blocks(spark):
    """Round-4 advice: iterative loops must not leave previous rounds'
    localCheckpoint blocks to GC-driven cleanup. The release helper
    drops them eagerly; non-checkpointed frames are a safe no-op."""
    from bigdatalab_spark.operators.checkpoints import release_local_checkpoint

    sc = spark.sparkContext

    def n_persisted():
        return len(sc._jsc.sc().getRDDStorageInfo())

    base = n_persisted()
    df = spark.range(100).localCheckpoint(eager=True)
    assert n_persisted() == base + 1
    release_local_checkpoint(df)
    assert n_persisted() == base
    # no-op on a plain (never-checkpointed) frame
    release_local_checkpoint(spark.range(10))
    assert n_persisted() == base


def test_local_checkpoint_count_materializes_in_one_job(spark):
    """The job that writes the checkpoint blocks also returns the row
    count: one job, the blocks are stored, and release frees them."""
    import uuid

    from bigdatalab_spark.operators.checkpoints import (
        local_checkpoint_count,
        release_local_checkpoint,
    )

    sc = spark.sparkContext
    base = len(sc._jsc.sc().getRDDStorageInfo())
    group = f"checkpoint-count-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "checkpoint count")
    try:
        ck, n = local_checkpoint_count(spark.range(100).filter("id % 3 = 0"))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert n == 34
    assert len(sc.statusTracker().getJobIdsForGroup(group)) == 1
    assert len(sc._jsc.sc().getRDDStorageInfo()) == base + 1
    assert ck.count() == 34
    release_local_checkpoint(ck)
    assert len(sc._jsc.sc().getRDDStorageInfo()) == base


def test_connected_components_holds_one_round_of_blocks(spark, monkeypatch):
    """The driver path releases the pair checkpoint it collected and
    leaves no blocks. The Spark path releases round r-1's checkpoint
    when round r materializes: after convergence only the FINAL labels
    frame (plus nothing else from the loop) remains in storage."""
    from bigdatalab_spark.operators.checkpoints import release_local_checkpoint
    from bigdatalab_spark.scale import dedup

    sc = spark.sparkContext
    base = len(sc._jsc.sc().getRDDStorageInfo())
    # a 6-node path graph: diameter 5 forces several propagation rounds
    nodes = spark.createDataFrame([(i,) for i in range(6)], "doc_id int")
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(5)], "doc1 int, doc2 int"
    )
    labels = dedup.connected_components(nodes, edges, max_iter=10)
    got = {r["doc_id"]: r["cluster_id"] for r in labels.collect()}
    assert got == {i: 0 for i in range(6)}
    assert len(sc._jsc.sc().getRDDStorageInfo()) == base

    monkeypatch.setattr(dedup, "CC_DRIVER_MAX_EDGES", 0)
    labels = dedup.connected_components(nodes, edges, max_iter=10)
    got = {r["doc_id"]: r["cluster_id"] for r in labels.collect()}
    assert got == {i: 0 for i in range(6)}
    # only the final labels checkpoint remains persisted
    assert len(sc._jsc.sc().getRDDStorageInfo()) == base + 1
    release_local_checkpoint(labels)
    assert len(sc._jsc.sc().getRDDStorageInfo()) == base


def _bfs_min_labels(node_ids, edges):
    """Reference components: breadth-first search from every unlabeled
    node, each component labeled with its smallest id."""
    adj = {n: set() for n in node_ids}
    for a, b in edges:
        adj[a].add(b)
        adj[b].add(a)
    out = {}
    for n in node_ids:
        if n in out:
            continue
        seen, frontier = {n}, [n]
        while frontier:
            frontier = [m for x in frontier for m in adj[x] if m not in seen]
            seen.update(frontier)
        out.update(dict.fromkeys(seen, min(seen)))
    return out


_CC_GRAPHS = {
    # diameter 24, beyond the default max_iter=20
    "chain25": (list(range(25)), [(i, i + 1) for i in range(24)]),
    "isolated": (list(range(10)), [(1, 2), (5, 6), (6, 7)]),
    "no_edges": ([4, 2, 7], []),
    "self_loops": ([1, 2, 3, 4, 5], [(3, 3), (1, 2), (2, 2), (4, 4)]),
    "only_self_loops": ([1, 2, 3], [(2, 2), (3, 3)]),
    # the minimum is reached last, through a chain of larger ids
    "dups_both_directions": (
        [30, 1, 5, 2, 9, 8, 7, 40],
        [(5, 30), (30, 5), (30, 5), (2, 30), (9, 8), (8, 9), (40, 7), (7, 2), (5, 1)],
    ),
}


@pytest.mark.parametrize("id_type", ["int", "long"])
@pytest.mark.parametrize("graph", sorted(_CC_GRAPHS))
def test_connected_components_paths_agree(spark, monkeypatch, graph, id_type):
    """The driver path (union-find) and the Spark path (min-label
    propagation, forced by a zero bound) give the same labels as a
    plain BFS reference, and keep the input id type."""
    from bigdatalab_spark.operators.checkpoints import release_local_checkpoint
    from bigdatalab_spark.scale import dedup

    node_ids, pairs = _CC_GRAPHS[graph]
    nodes = spark.createDataFrame([(n,) for n in node_ids], f"doc_id {id_type}")
    edges = spark.createDataFrame(pairs, f"doc1 {id_type}, doc2 {id_type}")
    want = _bfs_min_labels(node_ids, pairs)

    driver = dedup.connected_components(nodes, edges)
    monkeypatch.setattr(dedup, "CC_DRIVER_MAX_EDGES", 0)
    on_spark = dedup.connected_components(nodes, edges, max_iter=30)
    for out in (driver, on_spark):
        assert [f.dataType for f in out.schema.fields] == [
            nodes.schema["doc_id"].dataType
        ] * 2
        assert out.columns == ["doc_id", "cluster_id"]
        rows = out.collect()
        assert len(rows) == len(node_ids)
        assert {r["doc_id"]: r["cluster_id"] for r in rows} == want
    release_local_checkpoint(on_spark)


def test_connected_components_spark_path_warns_short_of_fixpoint(
    spark, monkeypatch, caplog
):
    """With max_iter below the diameter the Spark path returns split
    labels and says so; the driver path is exact whatever max_iter."""
    import logging

    from bigdatalab_spark.operators.checkpoints import release_local_checkpoint
    from bigdatalab_spark.scale import dedup

    node_ids, pairs = _CC_GRAPHS["chain25"]
    nodes = spark.createDataFrame([(n,) for n in node_ids], "doc_id long")
    edges = spark.createDataFrame(pairs, "doc1 long, doc2 long")
    caplog.set_level(logging.WARNING, logger=dedup.__name__)

    driver = dedup.connected_components(nodes, edges, max_iter=5)
    assert {r["cluster_id"] for r in driver.collect()} == {0}
    assert "fixpoint not reached" not in caplog.text

    monkeypatch.setattr(dedup, "CC_DRIVER_MAX_EDGES", 0)
    on_spark = dedup.connected_components(nodes, edges, max_iter=5)
    assert len({r["cluster_id"] for r in on_spark.collect()}) > 1
    assert "fixpoint not reached after 5 iterations" in caplog.text
    release_local_checkpoint(on_spark)


def test_connected_components_callers_leave_no_persisted_rdds(spark):
    """The three connected-components queries leave no checkpoint
    behind at sf0.01: once their caches are cleared, as between
    queries, no more RDDs are persisted than before they ran."""
    from tests.conftest import SF_DIR_ORACLE
    from bigdatalab_spark.queries.datapipe import cluster_split_decontam
    from bigdatalab_spark.queries.dedup import dedup_clusters
    from bigdatalab_spark.queries.pipeline import curation_pipeline

    sc = spark.sparkContext
    spark.catalog.clearCache()
    before = sc._jsc.getPersistentRDDs().size()
    for q in (dedup_clusters, curation_pipeline, cluster_split_decontam):
        assert q(spark, SF_DIR_ORACLE).collect()
        spark.catalog.clearCache()
        assert sc._jsc.getPersistentRDDs().size() <= before, q.__name__


def test_span_dedup_c4_semantics(spark):
    """First occurrence survives, later exact spans are removed, short
    tails are always kept, and docs reassemble in span order."""
    from bigdatalab_spark.scale.dedup import span_dedup

    s16 = " ".join(f"w{i}" for i in range(16))  # a full 16-token span
    other = " ".join(f"x{i}" for i in range(16))
    docs = spark.createDataFrame(
        [
            (1, s16 + " tail one"),        # first occurrence + short tail
            (2, s16),                      # exact duplicate span -> ''
            (3, other + " " + s16 + " zz"),  # dup span dropped mid-doc
            (4, "tiny doc"),               # short span, always kept
            (5, ""),                       # empty doc
        ],
        "doc_id int, text string",
    )
    got = {
        r["doc_id"]: r
        for r in span_dedup(docs, span_tokens=16, min_tokens=5).collect()
    }
    assert got[1]["dedup_text"] == s16 + " tail one"
    assert (got[1]["n_spans"], got[1]["n_dropped"]) == (2, 0)
    assert got[2]["dedup_text"] == "" and got[2]["n_dropped"] == 1
    # doc 3 keeps its own novel span and tail; the duplicated middle span goes
    assert got[3]["dedup_text"] == other + " zz"
    assert (got[3]["n_spans"], got[3]["n_dropped"]) == (3, 1)
    assert got[4]["dedup_text"] == "tiny doc" and got[4]["n_dropped"] == 0
    assert got[5]["dedup_text"] == "" and got[5]["n_spans"] == 0


def test_span_dedup_first_occurrence_is_corpus_ordered(spark):
    """Ties break on (doc_id, pos): the earliest position in the
    earliest document is the survivor, even within one document."""
    from bigdatalab_spark.scale.dedup import span_dedup

    s = " ".join(f"r{i}" for i in range(16))
    docs = spark.createDataFrame(
        [(7, s + " " + s + " " + s)], "doc_id int, text string"
    )
    row = span_dedup(docs, span_tokens=16, min_tokens=5).collect()[0]
    assert row["dedup_text"] == s  # one copy kept (pos 0), two dropped
    assert (row["n_spans"], row["n_dropped"]) == (3, 2)


@pytest.mark.slow
def test_bin_range_join_matches_naive(spark):
    """The binned equi-join returns exactly the naive O(n*m) range
    join's rows, across boundary cases: point on lo (in), point on hi
    (out unless inclusive_hi), intervals spanning many bins, negative
    coordinates, overlapping intervals, unmatched points via how='left'."""
    import pytest

    from bigdatalab_spark.operators.rangejoin import bin_range_join

    points = spark.createDataFrame(
        [(1, -25.0), (2, 0.0), (3, 10.0), (4, 99.0), (5, 100.0), (6, 1000.0)],
        "pid int, p double",
    )
    intervals = spark.createDataFrame(
        [
            (10, -30.0, -20.0),  # negative range
            (11, 0.0, 100.0),    # spans 10 bins of width 10
            (12, 5.0, 15.0),     # overlaps 11
            (13, 95.0, 100.0),   # hi on a bin boundary
            (14, 400.0, 401.0),  # matches nothing
        ],
        "iid int, lo double, hi double",
    )
    naive = {
        (r.pid, r.iid)
        for r in points.crossJoin(intervals)
        .filter("p >= lo AND p < hi")
        .collect()
    }
    for width in (10, 3, 1000):  # narrower/wider bins, same answer
        got = {
            (r.pid, r.iid)
            for r in bin_range_join(
                points, intervals, "p", "lo", "hi", bin_width=width
            ).collect()
        }
        assert got == naive, f"width={width}"
    # inclusive hi pulls in the p == hi matches (BETWEEN convention)
    incl = {
        (r.pid, r.iid)
        for r in bin_range_join(
            points, intervals, "p", "lo", "hi", 10, inclusive_hi=True
        ).collect()
    }
    assert incl == naive | {(5, 11), (5, 13), (1, 10)}
    # left join keeps unmatched points exactly once with NULL intervals
    left = bin_range_join(points, intervals, "p", "lo", "hi", 10, how="left")
    unmatched = left.filter("iid IS NULL").collect()
    assert {r.pid for r in unmatched} == {5, 6}
    assert left.count() == len(naive) + 2
    with pytest.raises(ValueError):
        bin_range_join(points, intervals, "p", "lo", "hi", 0)
    with pytest.raises(ValueError):
        bin_range_join(points, intervals, "p", "lo", "hi", 10, how="full")
    with pytest.raises(ValueError):  # shared column name "pid"
        bin_range_join(points, points.selectExpr("pid", "p AS lo", "p AS hi"),
                       "p", "lo", "hi", 10)


def test_bin_range_join_plans_as_equi_join(spark):
    """THE point of the operator: the physical plan is a hash/merge
    equi-join on the bin, never a nested-loop/cartesian scan — the
    naive BETWEEN join over the same frames IS nested-loop, which is
    what makes it unusable at scale."""
    from bigdatalab_spark.operators.rangejoin import bin_range_join
    from bigdatalab_spark.plans.inspect import explain_str

    points = spark.range(1000).selectExpr("id AS pid", "CAST(id AS DOUBLE) AS p")
    intervals = spark.range(100).selectExpr(
        "id AS iid", "CAST(id * 10 AS DOUBLE) AS lo", "CAST(id * 10 + 25 AS DOUBLE) AS hi"
    )
    naive_plan = explain_str(points.join(intervals, (F.col("p") >= F.col("lo")) & (F.col("p") < F.col("hi"))))
    assert "NestedLoop" in naive_plan or "Cartesian" in naive_plan
    binned_plan = explain_str(
        bin_range_join(points, intervals, "p", "lo", "hi", bin_width=25)
    )
    assert "NestedLoop" not in binned_plan and "Cartesian" not in binned_plan
    for kind in ("SortMergeJoin", "ShuffledHashJoin", "BroadcastHashJoin"):
        if kind in binned_plan:
            break
    else:
        raise AssertionError(f"no equi-join operator in plan:\n{binned_plan}")


def test_length_bucketed_batches_bounds_padding(spark):
    """Every batch groups docs from one power-of-two length bucket, so
    within-batch max <= 2x min tokens (padding waste < 50%); assignment
    is deterministic and covers every doc exactly once."""
    import pytest

    from bigdatalab_spark.scale.curation import length_bucketed_batches

    docs = spark.createDataFrame(
        [(i, " ".join(["w"] * n)) for i, n in enumerate(
            [0, 1, 2, 3, 5, 8, 9, 13, 17, 30, 31, 33, 64, 100, 120, 127, 129, 200]
        )],
        "doc_id int, text string",
    )
    a = length_bucketed_batches(docs, batch_size=4, n_shards=2)
    rows = a.collect()
    assert len(rows) == docs.count()  # total coverage, one row per doc
    by_batch: dict = {}
    for r in rows:
        by_batch.setdefault((r.bucket, r.shard, r.batch_idx), []).append(r.n_tokens)
    for key, lens in by_batch.items():
        assert len(lens) <= 4
        nonzero = [l for l in lens if l > 0]
        if nonzero:
            assert max(nonzero) <= 2 * min(nonzero), (key, lens)
    # deterministic: re-running yields the identical assignment
    again = {(r.doc_id, r.bucket, r.shard, r.batch_idx) for r in a.collect()}
    first = {(r.doc_id, r.bucket, r.shard, r.batch_idx) for r in rows}
    assert again == first
    with pytest.raises(ValueError):
        length_bucketed_batches(docs, batch_size=0)


def test_bin_range_join_ignores_degenerate_intervals(spark):
    """Intervals with hi < lo match nothing and are pruned before the
    bin explode (no descending-sequence blowup)."""
    from bigdatalab_spark.operators.rangejoin import bin_range_join

    points = spark.createDataFrame([(1, 50.0)], "pid int, p double")
    intervals = spark.createDataFrame(
        [(10, 40.0, 60.0), (11, 10_000.0, -10_000.0)], "iid int, lo double, hi double"
    )
    got = bin_range_join(points, intervals, "p", "lo", "hi", 10).collect()
    assert [(r.pid, r.iid) for r in got] == [(1, 10)]


def test_quality_classifier_model_dir_conf(spark, sf_dir, tmp_path):
    """Round-3 advice: the ML persistence round-trip honors the
    spark.bigdatalab.modelDir conf (cluster-shared storage slot) and
    leaves the saved model in place instead of a vanishing tempdir."""
    import os

    from bigdatalab_spark.scale.quality_ml import train_quality_classifier
    from bigdatalab_spark.sources import load_table

    docs = load_table(spark, sf_dir, "documents").limit(60)
    spark.conf.set("spark.bigdatalab.modelDir", str(tmp_path))
    try:
        model = train_quality_classifier(docs)
    finally:
        spark.conf.unset("spark.bigdatalab.modelDir")
    saved = [d for d in os.listdir(tmp_path) if d.startswith("quality-lr-model-")]
    assert len(saved) == 1  # unique leaf per training under the shared dir
    assert model.transform(docs).count() == 60


def test_run_checks_detects_violations_and_null_semantics(spark):
    """Dirty data: each check kind counts exactly its violations; NULL
    predicate results count as violations for Expect; Unique ignores
    NULLs (SQL UNIQUE); FK ignores NULL keys."""
    import pytest

    from bigdatalab_spark.operators.validation import (
        Expect,
        ForeignKey,
        NotNull,
        Unique,
        run_checks,
    )

    df = spark.createDataFrame(
        [
            (1, 10.0),
            (2, -5.0),     # range violation
            (2, None),     # dup id + NULL value (NULL -> Expect violation)
            (None, 3.0),   # NULL id
        ],
        "id int, v double",
    )
    ref = spark.createDataFrame([(1,), (2,)], "id int")
    got = {
        r.check_name: r
        for r in run_checks(
            df,
            [
                Unique("id_unique", "id"),
                NotNull("id_not_null", "id"),
                Expect("v_positive", F.col("v") > 0),
                ForeignKey("id_fk", "id", ref, "id"),
            ],
        ).collect()
    }
    assert {n: (r.n_rows, r.n_violations, r.passed) for n, r in got.items()} == {
        "id_unique": (4, 1, False),     # ids 1,2,2 -> one dup; NULL ignored
        "id_not_null": (4, 1, False),
        "v_positive": (4, 2, False),    # -5.0 and NULL
        "id_fk": (4, 0, True),          # 1,2,2 all present; NULL ignored
    }
    with pytest.raises(ValueError):
        run_checks(df, [NotNull("x", "id"), NotNull("x", "v")])
    with pytest.raises(TypeError):
        run_checks(df, ["not-a-check"])


def test_run_checks_single_scan_for_non_fk_suite(spark, sf_dir):
    """THE cost claim: any number of Expect/NotNull/Unique checks fold
    into one aggregate over ONE scan of the table."""
    from bigdatalab_spark.operators.validation import Expect, NotNull, Unique, run_checks
    from bigdatalab_spark.plans.inspect import _executed_plan
    from bigdatalab_spark.sources import load_table

    orders = load_table(spark, sf_dir, "orders")
    report = run_checks(
        orders,
        [
            Unique("u", "o_orderkey"),
            NotNull("nn", "o_orderkey"),
            Expect("e1", F.col("o_totalprice") > 0),
            Expect("e2", F.col("o_orderstatus").isin("O", "F", "P")),
        ],
    )
    plan = _executed_plan(report)
    assert plan.count("Scan parquet") == 1, plan
    assert report.count() == 4


def test_run_checks_empty_suite_returns_empty_report(spark):
    from bigdatalab_spark.operators.validation import run_checks

    out = run_checks(spark.range(3), [])
    assert out.columns == ["check_name", "n_rows", "n_violations", "passed"]
    assert out.count() == 0


def test_portable_cms_never_underestimates_and_probes_in_plan(spark):
    """CMS contract over the portable counters-as-data sketch: every
    estimate >= the true count (occurrences only ever inflate a probed
    counter), estimates are exact when the key set is tiny vs the 272x5
    table, and the probe is a column expression — no collect loop, the
    whole probe frame evaluates in one plan."""
    from bigdatalab_spark.scale.cms import build_portable_cms, cms_dims, cms_estimate

    depth, width = cms_dims(eps=0.01, confidence=0.99)
    assert (depth, width) == (5, 272)

    truth = {f"key-{i}": (i + 1) * 3 for i in range(8)}
    rows = [(k,) for k, n in truth.items() for _ in range(n)]
    df = spark.createDataFrame(rows, "k string").repartition(8)
    counters = build_portable_cms(df, "k", eps=0.01, confidence=0.99, seed=10)
    assert len(counters) == depth * width
    assert sum(counters) == depth * len(rows)  # each row bumps one counter/row

    probed = (
        df.distinct()
        .withColumn(
            "est", cms_estimate("k", counters, eps=0.01, confidence=0.99, seed=10)
        )
        .collect()
    )
    assert {r["k"]: r["est"] for r in probed} == truth  # exact at this fill

    # never-underestimate also holds for a heavier, collision-prone fill
    import random

    rng = random.Random(7)
    keys = [f"w{i}" for i in range(400)]
    heavy_truth: dict[str, int] = {}
    heavy_rows = []
    for k in keys:
        n = rng.randint(1, 5)
        heavy_truth[k] = n
        heavy_rows += [(k,)] * n
    hdf = spark.createDataFrame(heavy_rows, "k string")
    hcounters = build_portable_cms(hdf, "k", eps=0.01, confidence=0.99, seed=3)
    est = {
        r["k"]: r["est"]
        for r in hdf.distinct()
        .withColumn(
            "est", cms_estimate("k", hcounters, eps=0.01, confidence=0.99, seed=3)
        )
        .collect()
    }
    assert all(est[k] >= heavy_truth[k] for k in keys)

    # geometry mismatch fails loudly instead of probing garbage
    import pytest

    with pytest.raises(ValueError):
        cms_estimate("k", hcounters[:-1], eps=0.01, confidence=0.99)


class TestIntradocSpanDedup:
    def test_removes_repeated_span_keeps_order(self, spark):
        from bigdatalab_spark.scale.dedup import intradoc_span_dedup

        rep = " ".join(["a b c d e f g h"] * 2) + " x"  # 2 identical spans + tail
        docs = spark.createDataFrame(
            [(1, rep), (2, "p q r"), (3, "")], "doc_id long, text string"
        )
        out = {r["doc_id"]: r for r in intradoc_span_dedup(docs).collect()}
        assert out[1]["n_spans"] == 3 and out[1]["n_kept"] == 2
        assert out[1]["clean_text"] == "a b c d e f g h x"
        assert out[2]["n_spans"] == 1 and out[2]["clean_text"] == "p q r"
        assert out[3]["n_spans"] == 0 and out[3]["clean_text"] == ""

    def test_distinct_spans_untouched(self, spark):
        from bigdatalab_spark.scale.dedup import intradoc_span_dedup

        text = " ".join(f"w{i}" for i in range(20))  # 3 spans, all distinct
        docs = spark.createDataFrame([(1, text)], "doc_id long, text string")
        row = intradoc_span_dedup(docs).collect()[0]
        assert row["n_spans"] == row["n_kept"] == 3
        assert row["clean_text"] == text


class TestPriorityDedup:
    def test_keeps_lowest_priority_copy(self, spark):
        from pyspark.sql import functions as F

        from bigdatalab_spark.scale.dedup import priority_dedup

        docs = spark.createDataFrame(
            [
                (10, "same text", "src2"),
                (11, "same text", "src0"),
                (12, "other", "src5"),
            ],
            "doc_id long, text string, source string",
        )
        pri = F.regexp_extract("source", r"(\d+)", 1).cast("int")
        rows = {r["keep_id"]: r for r in priority_dedup(docs, pri).collect()}
        assert set(rows) == {11, 12}
        assert rows[11]["source"] == "src0" and rows[11]["n_copies"] == 2
        assert rows[12]["n_copies"] == 1

    def test_tie_breaks_on_id(self, spark):
        from pyspark.sql import functions as F

        from bigdatalab_spark.scale.dedup import priority_dedup

        docs = spark.createDataFrame(
            [(7, "dup", "src1"), (3, "dup", "src1")],
            "doc_id long, text string, source string",
        )
        pri = F.lit(1)
        (row,) = priority_dedup(docs, pri).collect()
        assert row["keep_id"] == 3


class TestBlockedFuzzyJoin:
    def test_finds_variants_within_block(self, spark):
        from bigdatalab_spark.operators.joins import blocked_fuzzy_join

        vocab = spark.createDataFrame(
            [("table",), ("query",), ("apple",)], "token string"
        )
        lex = spark.createDataFrame([("tabel",), ("quary",)], "word string")
        pairs = {
            (r["word"], r["token"])
            for r in blocked_fuzzy_join(vocab, lex, "token", "word").collect()
        }
        assert pairs == {("tabel", "table"), ("quary", "query")}

    def test_block_excludes_cross_prefix_and_exact(self, spark):
        from bigdatalab_spark.operators.joins import blocked_fuzzy_join

        vocab = spark.createDataFrame([("xapple",), ("apple",)], "token string")
        lex = spark.createDataFrame([("apple",)], "word string")
        # 'xapple' is dist 1 but fails the first-char block; 'apple' is exact
        assert blocked_fuzzy_join(vocab, lex, "token", "word").count() == 0


class TestSnapshotDiff:
    def test_classifies_insert_update_delete_drops_unchanged(self, spark):
        from bigdatalab_spark.operators.cdc import snapshot_diff

        old = spark.createDataFrame(
            [(1, 10.0, "A"), (2, 20.0, "B"), (3, 30.0, "C"), (4, None, "D")],
            "k long, price double, status string",
        )
        new = spark.createDataFrame(
            # 1 unchanged, 2 price-updated, 3 deleted, 4 NULL->NULL
            # unchanged, 5 inserted
            [(1, 10.0, "A"), (2, 21.0, "B"), (4, None, "D"), (5, 50.0, "E")],
            "k long, price double, status string",
        )
        rows = {
            r["k"]: r
            for r in snapshot_diff(old, new, ["k"], ["price", "status"]).collect()
        }
        assert {k: r["op"] for k, r in rows.items()} == {
            2: "update",
            3: "delete",
            5: "insert",
        }
        assert rows[2]["old_price"] == 20.0 and rows[2]["new_price"] == 21.0
        assert rows[3]["new_price"] is None and rows[3]["old_status"] == "C"
        assert rows[5]["old_price"] is None and rows[5]["new_status"] == "E"

    def test_null_transitions_are_updates(self, spark):
        from bigdatalab_spark.operators.cdc import snapshot_diff

        old = spark.createDataFrame([(1, None), (2, 9.0)], "k long, v double")
        new = spark.createDataFrame([(1, 7.0), (2, None)], "k long, v double")
        ops = {
            r["k"]: r["op"]
            for r in snapshot_diff(old, new, ["k"], ["v"]).collect()
        }
        # NULL -> value and value -> NULL are real changes (<=> semantics)
        assert ops == {1: "update", 2: "update"}


def test_prefix_filter_positional_keeps_threshold_boundary_pairs(spark):
    """The PPJoin positional filter must keep pairs at EXACTLY the
    Jaccard threshold (where the overlap bound is tight) and exact
    duplicates — the two cases a too-aggressive bound would drop
    first. Constructed sets: docs 1/2 share 2 of 3 shingles
    (J = 2/4 = 0.5, exactly at threshold), docs 1/3 are identical."""
    from bigdatalab_spark.scale.dedup import prefix_filter_jaccard_pairs

    docs = spark.createDataFrame(
        [
            (1, "a b c d e"),    # shingles {abc, bcd, cde}
            (2, "a b c d f"),    # {abc, bcd, cdf}: o=2, J=0.5 exactly
            (3, "a b c d e"),    # exact duplicate of doc 1 (J=1)
            (4, "x y z p q"),    # unrelated
        ],
        "doc_id int, text string",
    )
    got = {
        (r.doc1, r.doc2): r.jaccard
        for r in prefix_filter_jaccard_pairs(
            docs, threshold=0.5, candidate_budget_per_doc=None
        ).collect()
    }
    base = {
        (r.doc1, r.doc2): r.jaccard
        for r in ngram_jaccard_pairs(
            docs, threshold=0.5, candidate_budget_per_doc=None
        ).collect()
    }
    assert got == base
    assert got[(1, 2)] == 0.5 and got[(1, 3)] == 1.0


def test_prefix_filter_jaccard_equals_inverted_index(spark, sf_dir):
    """prefix_filter_jaccard_pairs is EXACT: same verified pairs as the
    inverted-index baseline (no false negatives, per the prefix-filter
    lemma), while generating strictly fewer candidate pairs."""
    from bigdatalab_spark.scale.dedup import (
        doc_shingles,
        prefix_filter_jaccard_pairs,
    )
    from pyspark.sql.window import Window

    docs = _docs(spark, sf_dir)
    key = lambda r: (r.doc1, r.doc2, r.n1, r.n2, r.n_common, round(r.jaccard, 12))
    base = {key(r) for r in ngram_jaccard_pairs(docs, threshold=0.5).collect()}
    pref = {
        key(r)
        for r in prefix_filter_jaccard_pairs(docs, threshold=0.5).collect()
    }
    assert base, "gate data must contain near-dup pairs"
    assert pref == base

    # candidate-generation reduction: prefixes join vs all-shingles join
    sh = doc_shingles(docs).cache()
    full_cands = (
        sh.alias("a")
        .join(
            sh.alias("b"),
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id"), F.col("b.doc_id"))
        .distinct()
        .count()
    )
    freq = sh.groupBy("shingle").agg(F.count(F.lit(1)).alias("df"))
    w = Window.partitionBy("doc_id").orderBy("df", "shingle")
    prefixes = (
        sh.join(freq, "shingle")
        .select(
            "doc_id",
            "shingle",
            F.row_number().over(w).alias("pos"),
            F.count(F.lit(1)).over(Window.partitionBy("doc_id")).alias("n_sh"),
        )
        .filter(F.col("pos") <= F.col("n_sh") - F.ceil(F.col("n_sh") * 0.5) + 1)
    )
    pref_cands = (
        prefixes.alias("a")
        .join(
            prefixes.alias("b"),
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id"), F.col("b.doc_id"))
        .distinct()
        .count()
    )
    sh.unpersist()
    assert pref_cands < full_cands, (pref_cands, full_cands)


def test_mg_candidates_bounded_by_k_times_tasks_under_zipf(spark):
    """The Misra-Gries candidate pass must honor its scale contract on
    a SKEWED key: at most k candidate values per input partition
    (k*tasks rows total — KB-sized at any corpus size), while still
    containing every true heavy hitter, and the recount pass stays
    exact. A Zipf-ish key (rank r appears ~N/r times) is the
    production shape — few huge keys, a long tail."""
    from pyspark.sql import functions as F

    from bigdatalab_spark.scale.heavyhitters import (
        exact_heavy_hitters,
        mg_candidates,
    )

    n, parts, k = 200_000, 8, 20
    # zipf-ish: key = floor(sqrt(id)) ranks inversely by frequency —
    # key 0 ~1 row ... but inverted: use id % harmonic buckets instead.
    # Deterministic Zipf: value v chosen so P(v) ~ 1/v — map uniform id
    # through the harmonic cumulative: v = floor(N/(id+1)) gives value
    # frequencies ~ N/v^2... simplest exact construction: repeat value v
    # ceil(C/v) times via a range explode.
    vals = spark.range(1, 2000).select(
        F.col("id").alias("v"),
        F.explode(F.sequence(F.lit(1), (F.lit(20000) / F.col("id")).cast("int"))).alias("rep"),
    )
    df = vals.select(F.col("v").cast("string").alias("word")).repartition(parts)
    total = df.count()

    cand = mg_candidates(df, "word", k)
    n_cand = cand.count()
    assert n_cand <= k * parts, f"{n_cand} candidates > k*tasks = {k * parts}"

    got = {(r.word, r.n) for r in exact_heavy_hitters(df, "word", k).collect()}
    truth = {
        (r.word, r.n)
        for r in df.groupBy("word")
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") * (k + 1) > total)
        .collect()
    }
    assert got == truth and truth  # skew guarantees non-empty heavies


def test_ivf_fit_serve_split_equals_end_to_end(spark, sf_dir):
    """fit_ivf_index + ivf_serve_topk is the same computation as
    ivf_kmeans_topk (seeded KMeans -> identical index), so serving over
    a prebuilt/persisted index — the serve-only bench path — answers
    exactly like the end-to-end call, in both join regimes."""
    from bigdatalab_spark.scale.similarity import (
        fit_ivf_index,
        ivf_kmeans_topk,
        ivf_serve_topk,
    )
    from bigdatalab_spark.sources import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter("vec_id < 5")
    want = {
        (r.query_id, r.rank, r.neighbor_id)
        for r in ivf_kmeans_topk(queries, emb, k=3).collect()
    }
    assigned, centroids = fit_ivf_index(emb)
    assigned = assigned.persist()
    try:
        for mode in ("broadcast", "shuffle"):
            got = {
                (r.query_id, r.rank, r.neighbor_id)
                for r in ivf_serve_topk(
                    queries, assigned, centroids, k=3, query_join=mode
                ).collect()
            }
            assert got == want, mode
    finally:
        assigned.unpersist()


def test_prefix_filter_regime_guard_fires_on_low_entropy_corpus(spark, sf_dir):
    """The prefix-filter exact join must FAIL LOUDLY — not run a silent
    near-quadratic job — when the corpus has no shingle frequency tail
    (the x100 lesson: 21,800 candidate pairs per doc vs 86x at sf0.1).
    The gate corpus under the default budget passes; the same corpus
    under a tightened budget raises with the measured mass and the LSH
    pointer."""
    import pytest

    from bigdatalab_spark.scale.dedup import prefix_filter_jaccard_pairs
    from bigdatalab_spark.sources import load_table

    docs = load_table(spark, str(sf_dir), "documents")
    # default budget: gate corpus is comfortably inside (3.2x/doc)
    assert prefix_filter_jaccard_pairs(docs, threshold=0.5).count() >= 0
    # tightened budget models the low-entropy regime: loud failure
    with pytest.raises(RuntimeError, match="minhash_near_dups"):
        prefix_filter_jaccard_pairs(
            docs, threshold=0.5, candidate_budget_per_doc=0.001
        ).count()
    # the shared-shingle generator carries the same guard
    from bigdatalab_spark.scale.dedup import ngram_jaccard_pairs

    assert ngram_jaccard_pairs(docs, threshold=0.5).count() >= 0
    with pytest.raises(RuntimeError, match="minhash_near_dups"):
        ngram_jaccard_pairs(
            docs, threshold=0.5, candidate_budget_per_doc=0.001
        ).count()


def test_exact_similarity_over_budget_lsh_fallback(spark, sf_dir):
    """on_over_budget='lsh': an over-budget corpus DEGRADES to the
    banded-LSH candidate generator instead of dying — output identical
    to the sanctioned minhash_near_dups pipeline (same bands, same
    exact verify), a subset of the exact join's truth (no false
    positives), and the decision announced as a RuntimeWarning with
    the measured mass. The loud default stays pinned by
    test_prefix_filter_regime_guard_fires_on_low_entropy_corpus."""
    import warnings

    import pytest

    from bigdatalab_spark.scale.dedup import (
        minhash_near_dups,
        ngram_jaccard_pairs,
        prefix_filter_jaccard_pairs,
    )
    from bigdatalab_spark.sources import load_table

    docs = load_table(spark, str(sf_dir), "documents")
    key = lambda r: (r["doc1"], r["doc2"])  # noqa: E731
    exact = {key(r) for r in ngram_jaccard_pairs(docs, threshold=0.5).collect()}
    lsh = {key(r) for r in minhash_near_dups(docs, threshold=0.5).collect()}

    with warnings.catch_warnings(record=True) as w:
        warnings.simplefilter("always")
        got = {
            key(r)
            for r in ngram_jaccard_pairs(
                docs,
                threshold=0.5,
                candidate_budget_per_doc=0.001,
                on_over_budget="lsh",
            ).collect()
        }
    assert any("DEGRADING" in str(x.message) for x in w)
    assert got == lsh
    assert got <= exact

    with warnings.catch_warnings(record=True) as w2:
        warnings.simplefilter("always")
        got2 = {
            key(r)
            for r in prefix_filter_jaccard_pairs(
                docs,
                threshold=0.5,
                candidate_budget_per_doc=0.001,
                on_over_budget="lsh",
            ).collect()
        }
    assert any("DEGRADING" in str(x.message) for x in w2)
    assert got2 == lsh

    with pytest.raises(ValueError, match="on_over_budget"):
        ngram_jaccard_pairs(
            docs,
            threshold=0.5,
            candidate_budget_per_doc=0.001,
            on_over_budget="bogus",
        )


@pytest.mark.slow
def test_pq_fit_serve_split_matches_end_to_end(spark, sf_dir, tmp_path):
    """Round-7: the PQ family gets the same fit/serve split as IVF —
    serving over a PREBUILT codes frame with codebooks LOADED from the
    model store must return exactly what the end-to-end wrapper does
    (serving with any other codebooks would silently mis-score)."""
    from bigdatalab_spark.scale.pq import (
        fit_pq_index,
        load_codebooks,
        pq_serve_topk,
        pq_topk,
        save_codebooks,
    )
    from bigdatalab_spark.sources import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.sort("vec_id").limit(5)

    codes, books = fit_pq_index(emb, m=8, seed=42)
    store = str(tmp_path / "codebooks.json")
    save_codebooks(books, store)
    loaded = load_codebooks(store)
    assert loaded == books  # exact float round-trip through the store

    served = pq_serve_topk(q, codes, loaded, k=5, rerank=20, corpus=emb)
    e2e = pq_topk(q, emb, k=5, m=8, seed=42, rerank=20)
    as_rows = lambda df: sorted(  # noqa: E731
        (r["query_id"], r["rank"], r["neighbor_id"], round(r["dist"], 9))
        for r in df.collect()
    )
    assert as_rows(served) == as_rows(e2e)


@pytest.mark.slow
def test_ivf_pq_fit_serve_split_matches_end_to_end(spark, sf_dir):
    """Same split contract for IVF-PQ: probe + ADC + rerank over the
    prebuilt (codes, centroids, codebooks) triple equals the wrapper."""
    from bigdatalab_spark.scale.pq import (
        fit_ivf_pq_index,
        ivf_pq_serve_topk,
        ivf_pq_topk,
    )
    from bigdatalab_spark.sources import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.sort("vec_id").limit(5)
    codes, centroids, books = fit_ivf_pq_index(emb, m=8, seed=42)
    served = ivf_pq_serve_topk(
        q, codes, centroids, books, k=5, n_probe=2, rerank=20, corpus=emb
    )
    e2e = ivf_pq_topk(q, emb, k=5, n_probe=2, m=8, seed=42, rerank=20)
    as_rows = lambda df: sorted(  # noqa: E731
        (r["query_id"], r["rank"], r["neighbor_id"], round(r["dist"], 9))
        for r in df.collect()
    )
    assert as_rows(served) == as_rows(e2e)


def test_codebook_store_rejects_corrupt_payloads(tmp_path):
    """A truncated or foreign codebook file must fail loudly at load,
    not serve as bad distances."""
    import json

    import pytest

    from bigdatalab_spark.scale.pq import load_codebooks, save_codebooks

    books = [[[1.0, 2.0], [3.0, 4.0]], [[5.0, 6.0], [7.0, 8.0]]]
    path = str(tmp_path / "books.json")
    save_codebooks(books, path)
    assert load_codebooks(path) == books

    with open(path) as fh:
        payload = json.load(fh)
    payload["codebooks"][0].pop()  # truncate one codebook
    with open(path, "w") as fh:
        json.dump(payload, fh)
    with pytest.raises(ValueError, match="does not match its header"):
        load_codebooks(path)

    foreign = str(tmp_path / "foreign.json")
    with open(foreign, "w") as fh:
        json.dump({"whatever": 1}, fh)
    with pytest.raises(ValueError, match="not a pq-codebooks-v1"):
        load_codebooks(foreign)


def test_pq_index_survives_parquet_round_trip(spark, sf_dir, tmp_path):
    """The fit/serve split's storage claim, end to end: write the codes
    frame to parquet (the persisted index) and the codebooks to the
    JSON store, reload BOTH in place of the in-memory objects, and
    serving must return exactly the same answer — the restartable
    production layout (index on disk + model store), not a same-session
    convenience."""
    from bigdatalab_spark.scale.pq import (
        fit_pq_index,
        load_codebooks,
        pq_serve_topk,
        save_codebooks,
    )
    from bigdatalab_spark.sources import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.sort("vec_id").limit(5)
    codes, books = fit_pq_index(emb, m=8, seed=42)

    idx_path = str(tmp_path / "pq_codes")
    store = str(tmp_path / "books.json")
    codes.write.mode("overwrite").parquet(idx_path)
    save_codebooks(books, store)

    reloaded = pq_serve_topk(
        q, spark.read.parquet(idx_path), load_codebooks(store),
        k=5, rerank=20, corpus=emb,
    )
    live = pq_serve_topk(q, codes, books, k=5, rerank=20, corpus=emb)
    as_rows = lambda df: sorted(  # noqa: E731
        (r["query_id"], r["rank"], r["neighbor_id"], round(r["dist"], 9))
        for r in df.collect()
    )
    assert as_rows(reloaded) == as_rows(live)


def test_ivf_index_on_disk_serves_with_dynamic_partition_pruning(
    spark, sf_dir, tmp_path
):
    """The durable IVF layout's whole point: serving against the
    bucket-partitioned on-disk index must (a) return exactly what the
    in-memory index returns, and (b) PRUNE the corpus scan to the
    probed buckets via dynamic partition pruning — the broadcast probe
    set doubles as the partition filter, so a 2-of-8-probe batch reads
    1/4 of the directories of a 100 TB corpus, not all of them."""
    from bigdatalab_spark.scale.similarity import (
        fit_ivf_index,
        ivf_serve_topk,
        load_ivf_index,
        save_ivf_index,
    )
    from bigdatalab_spark.sources import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.sort("vec_id").limit(5)
    assigned, centroids = fit_ivf_index(emb, n_centroids=8, seed=42)
    save_ivf_index(assigned, centroids, str(tmp_path / "ivf"))
    disk_assigned, disk_centroids = load_ivf_index(spark, str(tmp_path / "ivf"))

    live = ivf_serve_topk(q, assigned, centroids, k=3, n_probe=2)
    disk = ivf_serve_topk(q, disk_assigned, disk_centroids, k=3, n_probe=2)
    as_rows = lambda df: sorted(  # noqa: E731
        (r["query_id"], r["rank"], r["neighbor_id"], round(r["cos_sim"], 9))
        for r in df.collect()
    )
    assert as_rows(disk) == as_rows(live)

    plan = disk._jdf.queryExecution().executedPlan().toString()
    assert "dynamicpruning" in plan.lower(), plan[:3000]


def test_ivf_pq_index_on_disk_serves_with_partition_pruning(spark, sf_dir, tmp_path):
    """Durable IVF-PQ layout: serving from the persisted
    (codes-by-bucket, centroids, codebook-store) triple is bit-identical
    to the in-memory index, and the codes scan carries a dynamicpruning
    partition filter from the broadcast probe set."""
    from bigdatalab_spark.scale.pq import (
        fit_ivf_pq_index,
        ivf_pq_serve_topk,
        load_ivf_pq_index,
        save_ivf_pq_index,
    )
    from bigdatalab_spark.sources import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.sort("vec_id").limit(5)
    codes, centroids, books = fit_ivf_pq_index(emb, m=8, seed=42)
    save_ivf_pq_index(codes, centroids, books, str(tmp_path / "ivfpq"))
    d_codes, d_centroids, d_books = load_ivf_pq_index(spark, str(tmp_path / "ivfpq"))
    assert d_books == books

    live = ivf_pq_serve_topk(
        q, codes, centroids, books, k=3, n_probe=2, rerank=20, corpus=emb
    )
    disk = ivf_pq_serve_topk(
        q, d_codes, d_centroids, d_books, k=3, n_probe=2, rerank=20, corpus=emb
    )
    as_rows = lambda df: sorted(  # noqa: E731
        (r["query_id"], r["rank"], r["neighbor_id"], round(r["dist"], 9))
        for r in df.collect()
    )
    assert as_rows(disk) == as_rows(live)
    plan = disk._jdf.queryExecution().executedPlan().toString()
    assert "dynamicpruning" in plan.lower(), plan[:3000]


def test_assign_to_centroids_matches_kmeans_transform(spark, sf_dir):
    """assign_to_centroids is the append path's stand-in for
    KMeans.transform (the model object is gone by append time; only
    the centroid TABLE survives in the index) — on the full embeddings
    fixture the DataFrame Euclidean-argmin assignment must agree with
    the model's own bucketing vector-for-vector."""
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    from bigdatalab_spark.scale.similarity import assign_to_centroids
    from bigdatalab_spark.sources import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    v = emb.select(
        "vec_id", array_to_vector(F.col("embedding")).alias("features")
    )
    model = KMeans(k=6, seed=11, maxIter=20).fit(v)
    expected = {
        r["vec_id"]: r["prediction"] for r in model.transform(v).collect()
    }
    centroids = spark.createDataFrame(
        [
            (int(b), [float(x) for x in c])
            for b, c in enumerate(model.clusterCenters())
        ],
        "bucket int, center array<double>",
    )
    got = {
        r["neighbor_id"]: r["bucket"]
        for r in assign_to_centroids(emb, centroids).collect()
    }
    assert got == expected


def test_ivf_append_extends_the_durable_index_without_refit(
    spark, sf_dir, tmp_path
):
    """Daily embedding ingest: append_to_ivf_index folds new vectors
    into a stored index under the FROZEN quantizer. Serving from the
    appended layout must be bit-identical to serving an in-memory
    union of (original assignment, assign_to_centroids(batch)) — i.e.
    append == rebuild-with-the-same-centroids — and an appended exact
    copy of a query vector must surface at rank 1 with cos_sim ~ 1."""
    from bigdatalab_spark.scale.similarity import (
        assign_to_centroids,
        append_to_ivf_index,
        fit_ivf_index,
        ivf_serve_topk,
        load_ivf_index,
        save_ivf_index,
    )
    from bigdatalab_spark.sources import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    corpus = emb.filter(F.col("vec_id") % 3 != 0)
    batch = emb.filter(F.col("vec_id") % 3 == 0).select(
        (F.col("vec_id") + 10_000_000).alias("vec_id"), "embedding"
    )
    q = emb.sort("vec_id").limit(3)

    path = str(tmp_path / "ivf")
    assigned, centroids = fit_ivf_index(corpus, n_centroids=8, seed=42)
    save_ivf_index(assigned, centroids, path)
    append_to_ivf_index(batch, path)

    d_assigned, d_centroids = load_ivf_index(spark, path)
    assert d_assigned.count() == corpus.count() + batch.count()

    live_union = assigned.unionByName(assign_to_centroids(batch, centroids))
    as_rows = lambda df: sorted(  # noqa: E731
        (r["query_id"], r["rank"], r["neighbor_id"], round(r["cos_sim"], 9))
        for r in df.collect()
    )
    disk = ivf_serve_topk(q, d_assigned, d_centroids, k=3, n_probe=2)
    assert as_rows(disk) == as_rows(
        ivf_serve_topk(q, live_union, centroids, k=3, n_probe=2)
    )

    # an appended exact copy of a query vector is served back at rank 1
    copy_src = q.sort("vec_id").limit(1).collect()[0]
    append_to_ivf_index(
        spark.createDataFrame(
            [(20_000_000, copy_src["embedding"])],
            emb.select("vec_id", "embedding").schema,
        ),
        path,
    )
    d_assigned2, d_centroids2 = load_ivf_index(spark, path)
    probe = spark.createDataFrame(
        [(copy_src["vec_id"], copy_src["embedding"])],
        emb.select("vec_id", "embedding").schema,
    )
    top = (
        ivf_serve_topk(probe, d_assigned2, d_centroids2, k=2, n_probe=2)
        .sort("rank")
        .collect()
    )
    by_id = {r["neighbor_id"]: r["cos_sim"] for r in top}
    assert 20_000_000 in by_id and by_id[20_000_000] > 0.999999


@pytest.mark.slow
def test_ivf_pq_append_encodes_with_stored_models(spark, sf_dir, tmp_path):
    """append_to_ivf_pq_index encodes new vectors with the STORED
    codebooks and buckets them against the STORED centroids: the
    appended code rows must equal a live encode of the batch with the
    loaded models, and a rerank serve over the grown index must return
    an appended exact-copy vector at rank 1 with distance ~ 0."""
    from bigdatalab_spark.scale.pq import (
        append_to_ivf_pq_index,
        encode_corpus,
        fit_ivf_pq_index,
        ivf_pq_serve_topk,
        load_ivf_pq_index,
        save_ivf_pq_index,
    )
    from bigdatalab_spark.scale.similarity import assign_to_centroids
    from bigdatalab_spark.sources import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    corpus = emb.filter(F.col("vec_id") % 3 != 0)
    batch = emb.filter(F.col("vec_id") % 3 == 0).select(
        (F.col("vec_id") + 10_000_000).alias("vec_id"), "embedding"
    )

    path = str(tmp_path / "ivfpq")
    codes, centroids, books = fit_ivf_pq_index(corpus, m=8, seed=42)
    save_ivf_pq_index(codes, centroids, books, path)
    append_to_ivf_pq_index(batch, path)

    d_codes, d_centroids, d_books = load_ivf_pq_index(spark, path)
    assert d_books == books
    m = len(books)
    assert d_codes.count() == (corpus.count() + batch.count()) * m

    appended = d_codes.filter(F.col("neighbor_id") >= 10_000_000)
    expected = encode_corpus(batch, books).join(
        assign_to_centroids(batch, centroids).select(
            "neighbor_id", "bucket"
        ),
        "neighbor_id",
    )
    key = lambda df: sorted(  # noqa: E731
        (r["neighbor_id"], r["s"], r["code"], r["bucket"]) for r in df.collect()
    )
    assert key(appended) == key(expected)

    # rerank serve returns an appended exact copy at distance ~ 0
    copy_src = emb.sort("vec_id").limit(1).collect()[0]
    full = emb.select("vec_id", "embedding").unionByName(batch)
    probe = spark.createDataFrame(
        [(copy_src["vec_id"], copy_src["embedding"])],
        emb.select("vec_id", "embedding").schema,
    )
    append_to_ivf_pq_index(
        spark.createDataFrame(
            [(20_000_000, copy_src["embedding"])],
            emb.select("vec_id", "embedding").schema,
        ),
        path,
    )
    d_codes2, d_centroids2, d_books2 = load_ivf_pq_index(spark, path)
    grown = full.unionByName(
        spark.createDataFrame(
            [(20_000_000, copy_src["embedding"])],
            emb.select("vec_id", "embedding").schema,
        )
    )
    top = (
        ivf_pq_serve_topk(
            probe, d_codes2, d_centroids2, d_books2,
            k=2, n_probe=2, rerank=20, corpus=grown,
        )
        .sort("rank")
        .collect()
    )
    by_id = {r["neighbor_id"]: r["dist"] for r in top}
    assert 20_000_000 in by_id and by_id[20_000_000] < 1e-9


@pytest.mark.slow
def test_ann_index_compaction_serves_bit_identically(spark, sf_dir, tmp_path):
    """compact_ivf_index / compact_ivf_pq_index are the maintenance
    half of the ANN append story: repeated appends fragment the
    bucket-partitioned stores; compaction collapses the file count,
    keeps the partition scheme, and serves bit-identically."""
    import glob

    from bigdatalab_spark.scale.pq import (
        append_to_ivf_pq_index,
        compact_ivf_pq_index,
        fit_ivf_pq_index,
        ivf_pq_serve_topk,
        load_ivf_pq_index,
        save_ivf_pq_index,
    )
    from bigdatalab_spark.scale.similarity import (
        append_to_ivf_index,
        compact_ivf_index,
        fit_ivf_index,
        ivf_serve_topk,
        load_ivf_index,
        save_ivf_index,
    )
    from bigdatalab_spark.sources import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    corpus = emb.filter(F.col("vec_id") % 4 != 0)
    q = emb.sort("vec_id").limit(3)

    ivf, ivfpq = str(tmp_path / "ivf"), str(tmp_path / "ivfpq")
    assigned, centroids = fit_ivf_index(corpus, n_centroids=8, seed=42)
    save_ivf_index(assigned, centroids, ivf)
    codes, pq_cent, books = fit_ivf_pq_index(corpus, m=8, seed=42)
    save_ivf_pq_index(codes, pq_cent, books, ivfpq)
    for k in (1, 2, 3):
        batch = emb.filter(
            (F.col("vec_id") % 4 == 0) & (F.col("vec_id") % 3 == k % 3)
        ).select((F.col("vec_id") + k * 10_000_000).alias("vec_id"), "embedding")
        append_to_ivf_index(batch, ivf)
        append_to_ivf_pq_index(batch, ivfpq)

    def n_files(p: str) -> int:
        return len(glob.glob(f"{p}/**/*.parquet", recursive=True))

    ivf_rows = lambda: sorted(  # noqa: E731
        (r["query_id"], r["rank"], r["neighbor_id"], round(r["cos_sim"], 9))
        for r in ivf_serve_topk(
            q, *load_ivf_index(spark, ivf), k=3, n_probe=2
        ).collect()
    )
    pq_rows = lambda: sorted(  # noqa: E731
        (r["query_id"], r["rank"], r["neighbor_id"], round(r["dist"], 9))
        for r in ivf_pq_serve_topk(
            q, *load_ivf_pq_index(spark, ivfpq), k=3, n_probe=2
        ).collect()
    )
    before_ivf, before_pq = ivf_rows(), pq_rows()
    f_ivf, f_pq = n_files(f"{ivf}/corpus"), n_files(f"{ivfpq}/codes")

    s1 = compact_ivf_index(spark, ivf)
    s2 = compact_ivf_pq_index(spark, ivfpq)
    assert n_files(f"{ivf}/corpus") < f_ivf
    assert n_files(f"{ivfpq}/codes") < f_pq
    assert s1["corpus"]["files_after"] == n_files(f"{ivf}/corpus")
    assert s2["codes"]["files_after"] == n_files(f"{ivfpq}/codes")
    assert ivf_rows() == before_ivf
    assert pq_rows() == before_pq


@pytest.mark.slow
def test_durable_indexes_serve_from_fresh_process(spark, sf_dir, tmp_path):
    """Round-8 (verdict #2): the DPP tests load each durable index in
    the SAME session that built it — this proves the artifacts are
    self-sufficient the way the streaming hard-kill test proves
    checkpoints are. A SUBPROCESS with a FRESH SparkSession loads the
    saved IVF index, IVF-PQ triple, and dedup signature store from
    disk (no access to the builder's memory) and serves; every result
    must be bit-identical to the builder session's live serve. One
    subprocess serves all three (Spark startup ~15 s — pay it once).
    Round-8 extension: each index gets a tombstoned victim before the
    subprocess runs, so the self-sufficiency proof covers the deletion
    layer too — the fresh process must honor deletes it never saw
    happen (live expectations are computed on victim-filtered
    frames)."""
    import json
    import os
    import subprocess
    import sys

    from bigdatalab_spark.scale.dedup import (
        incremental_dedup,
        remove_from_dedup_index,
        save_dedup_index,
    )
    from bigdatalab_spark.scale.pq import (
        fit_ivf_pq_index,
        ivf_pq_serve_topk,
        remove_from_ivf_pq_index,
        save_ivf_pq_index,
    )
    from bigdatalab_spark.scale.similarity import (
        fit_ivf_index,
        ivf_serve_topk,
        remove_from_ivf_index,
        save_ivf_index,
    )
    from bigdatalab_spark.sources import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.sort("vec_id").limit(5)
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    seed = docs.sort("doc_id").limit(2).collect()
    batch_rows = [
        (10_000_001, seed[0]["text"]),
        (10_000_002, (seed[1]["text"] or "") + " perturbed"),
        (10_000_003, "a wholly new document for the fresh process test"),
    ]
    batch = spark.createDataFrame(batch_rows, "doc_id long, text string")

    ivf_path = str(tmp_path / "ivf")
    ivfpq_path = str(tmp_path / "ivfpq")
    dedup_path = str(tmp_path / "dedup")
    assigned, centroids = fit_ivf_index(emb, n_centroids=8, seed=42)
    save_ivf_index(assigned, centroids, ivf_path)
    codes, pq_cent, books = fit_ivf_pq_index(emb, m=8, seed=42)
    save_ivf_pq_index(codes, pq_cent, books, ivfpq_path)
    save_dedup_index(docs, dedup_path)

    # tombstone a victim in every index: the lowest vec_id is a query's
    # own self-neighbor (guaranteed to change the served top-k), and
    # seed[0]'s doc is what batch row 10_000_001 duplicates (its status
    # must flip exact_dup -> new)
    dead_vec = emb.sort("vec_id").limit(1).collect()[0]["vec_id"]
    dead_doc = seed[0]["doc_id"]
    ids = spark.createDataFrame([(dead_vec,)], "vec_id long")
    assert remove_from_ivf_index(ids, ivf_path) == 1
    assert remove_from_ivf_pq_index(ids, ivfpq_path) == 1
    assert remove_from_dedup_index(
        spark.createDataFrame([(dead_doc,)], "doc_id long"), dedup_path
    ) == 1
    live_assigned = assigned.filter(F.col("neighbor_id") != dead_vec)
    live_codes = codes.filter(F.col("neighbor_id") != dead_vec)
    live_docs = docs.filter(F.col("doc_id") != dead_doc)

    live = {
        "ivf": sorted(
            (r["query_id"], r["rank"], r["neighbor_id"], round(r["cos_sim"], 9))
            for r in ivf_serve_topk(
                q, live_assigned, centroids, k=3, n_probe=2
            ).collect()
        ),
        "ivfpq": sorted(
            (r["query_id"], r["rank"], r["neighbor_id"], round(r["dist"], 9))
            for r in ivf_pq_serve_topk(
                q, live_codes, pq_cent, books, k=3, n_probe=2
            ).collect()
        ),
        "dedup": sorted(
            (r["doc_id"], r["status"])
            for r in incremental_dedup(batch, live_docs).collect()
        ),
    }
    assert (dead_vec, 1) not in {
        (r[2], r[1]) for r in live["ivf"]
    }  # the victim would have been a rank-1 self-neighbor

    runner = tmp_path / "serve_runner.py"
    runner.write_text(
        """
import json, sys
sf_dir, ivf_path, ivfpq_path, dedup_path, batch_json, out_path = sys.argv[1:7]
from bigdatalab_spark.session import get_session
from bigdatalab_spark.scale.similarity import load_ivf_index, ivf_serve_topk
from bigdatalab_spark.scale.pq import load_ivf_pq_index, ivf_pq_serve_topk
from bigdatalab_spark.scale.dedup import incremental_dedup_from_index
from bigdatalab_spark.sources import load_table
spark = get_session(app_name="fresh-serve", shuffle_partitions=8)
spark.sparkContext.setLogLevel("ERROR")
emb = load_table(spark, sf_dir, "embeddings")
q = emb.sort("vec_id").limit(5)
assigned, centroids = load_ivf_index(spark, ivf_path)
codes, pq_cent, books = load_ivf_pq_index(spark, ivfpq_path)
batch = spark.createDataFrame(
    [tuple(r) for r in json.loads(batch_json)], "doc_id long, text string"
)
out = {
    "ivf": sorted(
        (r["query_id"], r["rank"], r["neighbor_id"], round(r["cos_sim"], 9))
        for r in ivf_serve_topk(q, assigned, centroids, k=3, n_probe=2).collect()
    ),
    "ivfpq": sorted(
        (r["query_id"], r["rank"], r["neighbor_id"], round(r["dist"], 9))
        for r in ivf_pq_serve_topk(
            q, codes, pq_cent, books, k=3, n_probe=2
        ).collect()
    ),
    "dedup": sorted(
        (r["doc_id"], r["status"])
        for r in incremental_dedup_from_index(spark, batch, dedup_path).collect()
    ),
}
with open(out_path, "w") as fh:
    json.dump(out, fh)
spark.stop()
"""
    )
    out_path = tmp_path / "served.json"
    proc = subprocess.run(
        [
            sys.executable,
            str(runner),
            str(sf_dir),
            ivf_path,
            ivfpq_path,
            dedup_path,
            json.dumps(batch_rows),
            str(out_path),
        ],
        cwd="/root/repo",
        env={**os.environ, "PYTHONPATH": "/root/repo"},
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    served = json.load(open(out_path))
    for fam in ("ivf", "ivfpq", "dedup"):
        got = [tuple(r) for r in served[fam]]
        assert got == live[fam], (fam, got[:5], live[fam][:5])


def test_decode_audio_real_wav_roundtrip_and_poison_tolerance(spark):
    """decode_audio is a REAL codec (stdlib RIFF/WAV): it must parse
    genuine containers of shapes the generator never produces (stereo,
    8-bit, 44.1 kHz), compute the exact-integer-sum RMS for PCM16, and
    survive poison payloads with a NULL-feature row instead of a task
    failure (the 100 TB contract for media scans)."""
    import io
    import math
    import struct
    import wave

    from bigdatalab_spark.scale.multimodal import decode_audio

    def wav_bytes(nch, width, rate, frames):
        buf = io.BytesIO()
        with wave.open(buf, "wb") as w:
            w.setnchannels(nch)
            w.setsampwidth(width)
            w.setframerate(rate)
            if width == 2:
                samples = [(i * 1000) % 30000 - 15000 for i in range(frames * nch)]
                w.writeframes(struct.pack(f"<{len(samples)}h", *samples))
            else:
                w.writeframes(bytes((i * 7) % 256 for i in range(frames * nch)))
        return buf.getvalue(), (
            [(i * 1000) % 30000 - 15000 for i in range(frames * nch)]
            if width == 2
            else None
        )

    stereo, stereo_samples = wav_bytes(2, 2, 44100, 25)
    mono8, _ = wav_bytes(1, 1, 8000, 40)
    rows = [
        (1, bytearray(stereo)),
        (2, bytearray(mono8)),
        (3, bytearray(b"not a wav at all")),
        (4, bytearray(b"RIFF\x00\x00\x00\x00WAVEjunk")),  # RIFF magic, bad body
    ]
    blobs = spark.createDataFrame(rows, "doc_id long, payload binary")
    got = {r["doc_id"]: r for r in decode_audio(blobs).collect()}

    s = got[1]
    assert (s["sample_rate"], s["n_channels"], s["sample_width"]) == (44100, 2, 2)
    assert s["n_frames"] == 25 and s["decode_error"] is None
    assert s["duration_sec"] == 25 / 44100.0
    sq = sum(v * v for v in stereo_samples)
    assert s["rms"] == math.sqrt(sq / len(stereo_samples))  # bit-exact

    m = got[2]
    assert (m["sample_rate"], m["sample_width"], m["n_frames"]) == (8000, 1, 40)
    assert m["rms"] is None  # only PCM16 gets an RMS; header still decoded

    for bad in (3, 4):
        r = got[bad]
        assert r["decode_error"] is not None
        assert r["sample_rate"] is None and r["rms"] is None


def test_make_wav_blobs_are_genuine_riff_containers(spark):
    """The generator's output must be REAL WAV — parseable by the
    stdlib reader outside Spark, with the documented signal."""
    import io
    import struct
    import wave

    from bigdatalab_spark.scale.multimodal import (
        WAV_RATE,
        _wav_samples,
        make_wav_blobs,
    )

    ids = spark.createDataFrame([(7,), (123,)], "doc_id long")
    blobs = {r["doc_id"]: bytes(r["payload"]) for r in make_wav_blobs(ids).collect()}
    for did, payload in blobs.items():
        assert payload[:4] == b"RIFF" and payload[8:12] == b"WAVE"
        with wave.open(io.BytesIO(payload), "rb") as w:
            assert w.getframerate() == WAV_RATE
            assert w.getnchannels() == 1 and w.getsampwidth() == 2
            raw = w.readframes(w.getnframes())
        got = list(struct.unpack(f"<{len(raw)//2}h", raw))
        assert got == _wav_samples(did)


def test_decode_png_real_codec_roundtrip_and_poison_tolerance(spark):
    """decode_png is a REAL codec (stdlib zlib/struct): it must parse
    genuine containers — including shapes the generator never produces
    (grayscale, RGBA) — verify chunk CRCs, undo all five scanline
    filters, compute exact-integer-sum channel means, and survive
    poison payloads with a NULL-feature row instead of a task failure
    (the 100 TB contract for media scans)."""
    import hashlib

    import numpy as np

    from bigdatalab_spark.scale.multimodal import (
        _png_pixels,
        decode_png,
        encode_png,
    )

    rgb = _png_pixels(37)  # h=7 rows -> filters 0..4 and 0,1 again
    gray = (np.arange(60, dtype=np.uint8).reshape(6, 10) * 5) % 256
    rgba = np.random.default_rng(3).integers(0, 256, (9, 6, 4), dtype=np.uint8)
    good_png = encode_png(rgb)
    corrupt = bytearray(good_png)
    corrupt[-5] ^= 0xFF  # flip a byte inside IEND's CRC
    rows = [
        (1, bytearray(good_png)),
        (2, bytearray(encode_png(gray))),
        (3, bytearray(encode_png(rgba))),
        (4, bytearray(b"not a png at all")),
        (5, bytearray(good_png[:30])),  # truncated mid-IHDR
        (6, corrupt),
    ]
    blobs = spark.createDataFrame(rows, "doc_id long, payload binary")
    got = {r["doc_id"]: r for r in decode_png(blobs).collect()}

    r = got[1]
    assert (r["width"], r["height"], r["bit_depth"], r["color_type"]) == (
        rgb.shape[1],
        rgb.shape[0],
        8,
        2,
    )
    n = rgb.shape[0] * rgb.shape[1]
    sums = rgb.astype("int64").sum(axis=(0, 1))
    assert r["mean_r"] == sums[0] / n  # bit-exact, one int->double division
    assert r["mean_g"] == sums[1] / n
    assert r["mean_b"] == sums[2] / n
    assert r["pixel_digest"] == hashlib.md5(rgb.tobytes()).hexdigest()
    assert r["decode_error"] is None

    g = got[2]
    assert g["color_type"] == 0
    gm = int(gray.astype("int64").sum()) / gray.size
    assert g["mean_r"] == gm and g["mean_g"] == gm and g["mean_b"] == gm

    a = got[3]
    assert a["color_type"] == 6
    asums = rgba.astype("int64").sum(axis=(0, 1))
    an = rgba.shape[0] * rgba.shape[1]
    assert a["mean_r"] == asums[0] / an  # alpha ignored in means
    assert a["pixel_digest"] == hashlib.md5(rgba.tobytes()).hexdigest()

    for bad in (4, 5, 6):
        row = got[bad]
        assert row["decode_error"] is not None
        assert row["width"] is None and row["mean_r"] is None
    assert "CRC" in got[6]["decode_error"]  # corruption detected, not decoded


def test_make_png_blobs_are_genuine_containers_with_all_filters(spark):
    """The generator's output must be REAL PNG — correct signature,
    CRC-valid chunks, zlib-inflatable IDAT whose scanlines cycle
    through ALL FIVE spec filter types (so the decoder's unfilter
    algebra is genuinely exercised), replaying the documented signal."""
    import struct
    import zlib

    from bigdatalab_spark.scale.multimodal import (
        _decode_png_bytes,
        _png_dims,
        _png_pixels,
        make_png_blobs,
    )

    ids = spark.createDataFrame([(7,), (123,), (460,)], "doc_id long")
    blobs = {r["doc_id"]: bytes(r["payload"]) for r in make_png_blobs(ids).collect()}
    for did, payload in blobs.items():
        assert payload.startswith(b"\x89PNG\r\n\x1a\n")
        # independent chunk walk (not via the decoder under test)
        pos, chunks, idat = 8, [], b""
        while pos < len(payload):
            (length,) = struct.unpack(">I", payload[pos : pos + 4])
            ctype = payload[pos + 4 : pos + 8]
            body = payload[pos + 8 : pos + 8 + length]
            (crc,) = struct.unpack(
                ">I", payload[pos + 8 + length : pos + 12 + length]
            )
            assert zlib.crc32(ctype + body) & 0xFFFFFFFF == crc
            chunks.append(ctype)
            if ctype == b"IDAT":
                idat += body
            pos += 12 + length
        assert chunks[0] == b"IHDR" and chunks[-1] == b"IEND"
        w, h = _png_dims(did)
        raw = zlib.decompress(idat)
        assert len(raw) == h * (w * 3 + 1)
        ftypes = [raw[y * (w * 3 + 1)] for y in range(h)]
        assert ftypes == [y % 5 for y in range(h)]
        if h >= 5:
            assert set(ftypes) == {0, 1, 2, 3, 4}
        px, _, _ = _decode_png_bytes(payload)
        assert (px == _png_pixels(did)).all()


def test_resize_png_real_nearest_neighbor(spark):
    """resize_png decodes, resamples with the floor mapping
    src = (dst * src_dim) // dst_dim, and re-encodes a GENUINE PNG:
    decoding the output must give exactly the source pixels at the
    mapped coordinates. Poison payloads keep their id with a NULL
    payload."""
    import numpy as np

    from bigdatalab_spark.scale.multimodal import (
        _decode_png_bytes,
        _png_pixels,
        encode_png,
        resize_png,
    )

    src = _png_pixels(123)
    rows = [(1, bytearray(encode_png(src))), (2, bytearray(b"junk"))]
    blobs = spark.createDataFrame(rows, "doc_id long, payload binary")
    got = {r["doc_id"]: r for r in resize_png(blobs, 20, 15).collect()}

    out = got[1]
    assert (out["width"], out["height"]) == (20, 15)
    px, _, ctype = _decode_png_bytes(bytes(out["payload"]))
    assert ctype == 2 and px.shape == (15, 20, 3)
    ys = (np.arange(15) * src.shape[0]) // 15
    xs = (np.arange(20) * src.shape[1]) // 20
    assert (px == src[ys][:, xs]).all()
    assert out["n_bytes"] == len(bytes(out["payload"]))

    assert got[2]["payload"] is None and got[2]["n_bytes"] is None


def test_refit_ivf_index_recovers_append_drift(spark, tmp_path):
    """The refit op closes the append path's documented drift
    trade-off, measurably: a genuinely NEW vector cluster appended
    under the frozen quantizer splits across the stale buckets (half
    its members land nearest the A centroid, half nearest B — by
    construction), so an n_probe=1 query from that cluster can only
    ever see half its true neighbors. After refit with k=3 the cluster
    owns a bucket: the same query finds all of them. Also pins the
    root-flip crash discipline: mid-flip the index refuses loudly and
    re-running the refit resumes it."""
    import os

    from bigdatalab_spark.scale.similarity import (
        append_to_ivf_index,
        fit_ivf_index,
        ivf_serve_topk,
        load_ivf_index,
        refit_ivf_index,
        save_ivf_index,
    )

    dim = 8

    def vec(first, second, jitter_i):
        v = [0.0] * dim
        v[0] = first + 0.01 * jitter_i
        v[1] = second
        return v

    a = [(100 + i, vec(10.0, 0.0, i)) for i in range(40)]
    b = [(200 + i, vec(-10.0, 0.0, i)) for i in range(40)]
    # cluster C: first dim alternates ±1, so under the A/B quantizer
    # its members split deterministically between the two old buckets
    c = [(300 + i, vec(1.0 if i % 2 else -1.0, 30.0, i)) for i in range(40)]

    schema = "vec_id long, embedding array<double>"
    corpus_ab = spark.createDataFrame(a + b, schema)
    idx = str(tmp_path / "ivf")
    assigned, cents = fit_ivf_index(corpus_ab, n_centroids=2, seed=42)
    save_ivf_index(assigned, cents, idx)
    append_to_ivf_index(spark.createDataFrame(c, schema), idx)

    q = spark.createDataFrame(
        [(1, vec(0.0, 30.0, 0))], "vec_id long, embedding array<double>"
    )

    def c_hits(k_centroids_note=None):
        corpus_now, cents_now = load_ivf_index(spark, idx)
        got = ivf_serve_topk(q, corpus_now, cents_now, k=30, n_probe=1).collect()
        return sum(1 for r in got if 300 <= r["neighbor_id"] < 340)

    before = c_hits()
    assert before <= 20  # frozen quantizer: half of C is in the other bucket

    stats = refit_ivf_index(spark, idx, n_centroids=3)
    assert stats == {"n_vectors": 120, "n_centroids": 3}
    after = c_hits()
    assert after == 30  # C owns a bucket now; every neighbor is C

    # the new generation is coherent: one centroid sits on C's mean,
    # and the buckets carry the true cluster sizes
    corpus_now, cents_now = load_ivf_index(spark, idx)
    sizes = sorted(
        r["n"] for r in corpus_now.groupBy("bucket").agg(F.count("*").alias("n")).collect()
    )
    assert sizes == [40, 40, 40]
    near_c = [
        r for r in cents_now.collect() if abs(r["center"][1] - 30.0) < 1.0
    ]
    assert len(near_c) == 1

    # crash mid-root-flip: path missing, old generation aside — loads
    # refuse loudly; re-running the refit resumes the flip first
    os.rename(idx, f"{idx}__refit_old")
    with pytest.raises(Exception):
        load_ivf_index(spark, idx)[0].collect()
    stats2 = refit_ivf_index(spark, idx, n_centroids=3)
    assert stats2["n_vectors"] == 120
    assert not os.path.exists(f"{idx}__refit_old")
    assert c_hits() == 30


@pytest.mark.slow
def test_ann_index_tombstone_delete_and_purge(spark, tmp_path):
    """Forgotten vectors must vanish from top-k immediately (logical
    delete) and stay gone across physical purge (bit-identical serve);
    the pattern covers both ANN index families, and an index written
    before tombstones existed still loads (absent store = empty)."""
    import glob
    import os
    import shutil

    from bigdatalab_spark.scale.pq import (
        fit_ivf_pq_index,
        ivf_pq_serve_topk,
        load_ivf_pq_index,
        purge_ivf_pq_tombstones,
        remove_from_ivf_pq_index,
        save_ivf_pq_index,
    )
    from bigdatalab_spark.scale.similarity import (
        fit_ivf_index,
        ivf_serve_topk,
        load_ivf_index,
        purge_ivf_tombstones,
        remove_from_ivf_index,
        save_ivf_index,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    idx = str(tmp_path / "ivf")
    assigned, cents = fit_ivf_index(emb, n_centroids=4)
    save_ivf_index(assigned, cents, idx)

    victim = emb.limit(1).collect()[0]
    q = spark.createDataFrame(
        [(victim["vec_id"], victim["embedding"])],
        "vec_id long, embedding array<double>",
    )

    def serve_ids():
        corpus, cc = load_ivf_index(spark, idx)
        return [
            r["neighbor_id"]
            for r in ivf_serve_topk(q, corpus, cc, k=5, n_probe=2).collect()
        ]

    before = serve_ids()
    assert before[0] == victim["vec_id"]  # self is rank 1

    assert remove_from_ivf_index(
        spark.createDataFrame([(victim["vec_id"],)], "vec_id long"), idx
    ) == 1
    after = serve_ids()
    assert victim["vec_id"] not in after and len(after) == 5
    assert after == before[1:] + after[-1:]  # next-best shifted up

    # idempotent re-remove; purge keeps the answer bit-identical
    assert remove_from_ivf_index(
        spark.createDataFrame([(victim["vec_id"],)], "vec_id long"), idx
    ) == 0
    n_rows_before = spark.read.parquet(f"{idx}/corpus").count()
    stats = purge_ivf_tombstones(spark, idx)
    assert stats["n_purged_vectors"] == 1
    assert spark.read.parquet(f"{idx}/corpus").count() == n_rows_before - 1
    assert spark.read.parquet(f"{idx}/tombstones").count() == 0
    assert serve_ids() == after
    assert glob.glob(f"{idx}/corpus/bucket=*")  # partition scheme kept

    # pre-tombstone index (no store) still loads and serves
    shutil.rmtree(f"{idx}/tombstones")
    assert serve_ids() == after
    assert not os.path.exists(f"{idx}/tombstones")

    # IVF-PQ twin
    pq_idx = str(tmp_path / "ivfpq")
    codes, pq_cents, books = fit_ivf_pq_index(emb, n_centroids=4, m=4, seed=7)
    save_ivf_pq_index(codes, pq_cents, books, pq_idx)

    def pq_serve_ids():
        c, cc, bb = load_ivf_pq_index(spark, pq_idx)
        return [
            r["neighbor_id"]
            for r in ivf_pq_serve_topk(q, c, cc, bb, k=5, n_probe=2).collect()
        ]

    pq_before = pq_serve_ids()
    assert victim["vec_id"] in pq_before
    assert remove_from_ivf_pq_index(
        spark.createDataFrame([(victim["vec_id"],)], "vec_id long"), pq_idx
    ) == 1
    pq_after = pq_serve_ids()
    assert victim["vec_id"] not in pq_after and len(pq_after) == 5
    purge_ivf_pq_tombstones(spark, pq_idx)
    assert pq_serve_ids() == pq_after
    assert spark.read.parquet(f"{pq_idx}/tombstones").count() == 0


def test_cogroup_attribution_arrow_twin_and_tie_semantics(spark):
    """The cogrouped applyInArrow twin must answer byte-identically to
    the pandas kernel, and clicks at EXACTLY the purchase timestamp are
    excluded (strictly-before semantics) — the boundary a searchsorted
    side flag silently decides."""
    import datetime as dt

    from bigdatalab_spark.operators.cogroup import (
        cogroup_click_attribution,
        cogroup_click_attribution_arrow,
    )

    t0 = dt.datetime(2024, 1, 1, 12, 0, 0)
    rows = [
        # user 1: click before, click AT, click after the purchase
        (1, t0 - dt.timedelta(hours=1), 1, "click", 2.00, ""),
        (2, t0, 1, "click", 3.00, ""),
        (3, t0 + dt.timedelta(hours=1), 1, "click", 5.00, ""),
        (4, t0, 1, "purchase", 10.00, ""),
        # user 2: purchases but no clicks at all
        (5, t0, 2, "purchase", 7.50, ""),
        # user 3: clicks only -> contributes no output rows
        (6, t0, 3, "click", 1.00, ""),
    ]
    ev = spark.createDataFrame(
        rows, "event_id bigint, ts timestamp, user_id bigint, "
        "event_type string, value double, props string"
    )
    got = {r["event_id"]: r.asDict() for r in cogroup_click_attribution(ev).collect()}
    assert set(got) == {4, 5}
    # only the strictly-earlier click counts; the tie and the later one don't
    assert got[4]["clicks_before"] == 1
    assert got[4]["click_cents_before"] == 200
    assert got[4]["purchase_cents"] == 1000
    assert got[5]["clicks_before"] == 0
    assert got[5]["click_cents_before"] == 0

    a = sorted(map(tuple, cogroup_click_attribution_arrow(ev).collect()))
    p = sorted(map(tuple, cogroup_click_attribution(ev).collect()))
    assert a == p


def test_histogram_quantiles_merge_persist_and_error_bound(spark, sf_dir, tmp_path):
    """The log-histogram pre-aggregate must (a) survive a parquet
    round-trip, (b) give IDENTICAL quantiles whether merged from daily
    pieces or built in one pass (merge is lossless by construction),
    and (c) land within one bin's relative width (1/16) of the exact
    discrete percentile — the DDSketch accuracy contract."""
    from pyspark.sql import functions as F

    from bigdatalab_spark.scale.quantiles import (
        histogram_bins,
        merge_histograms,
        quantiles_from_histogram,
    )
    from bigdatalab_spark.sources import load_table

    ev = load_table(spark, sf_dir, "events").withColumn("day", F.to_date("ts"))
    daily = histogram_bins(ev, "value", ["event_type", "day"])
    path = str(tmp_path / "hist")
    daily.write.parquet(path)  # the persistable pre-aggregate
    merged = merge_histograms(spark.read.parquet(path), ["event_type"])
    direct = histogram_bins(ev, "value", ["event_type"])
    assert sorted(map(tuple, merged.collect())) == sorted(
        map(tuple, direct.collect())
    )

    qs = [0.5, 0.95, 0.99]
    est = {
        r["event_type"]: r.asDict()
        for r in quantiles_from_histogram(merged, ["event_type"], qs).collect()
    }
    # exact DISCRETE quantiles (rank = ceil(q*n)), the semantics the
    # histogram pick implements — interpolating percentile() is a
    # different estimator and legitimately disagrees on sparse tails
    import math

    vals = {}
    for r in ev.select("event_type", "value").collect():
        vals.setdefault(r["event_type"], []).append(r["value"])
    for et, row in est.items():
        xs = sorted(vals[et])
        for q in qs:
            tag = int(q * 100)
            got = row[f"p{tag}_est"]
            want = xs[math.ceil(q * len(xs)) - 1]
            assert abs(got - want) / want <= 1.0 / 16 + 0.01, (
                et, tag, got, want
            )


def test_quantile_tags_round_consistently_and_reject_collisions(spark):
    """The rank arithmetic and the output column name must come from
    the SAME tag = round(q*100): q=0.29 is 28.999… in float, so
    int-truncation would label p28 while ranking at 29. And qs that
    collide at 2-decimal precision are an error, not a silent
    overwrite."""
    import pytest
    from pyspark.sql import functions as F

    from bigdatalab_spark.scale.quantiles import (
        histogram_bins,
        quantiles_from_histogram,
    )

    df = spark.range(1, 101).select((F.col("id") * 1.0).alias("v"))
    hist = histogram_bins(df, "v", [])
    out = quantiles_from_histogram(hist, [], [0.29, 0.5])
    assert "p29_est" in out.columns and "p28_est" not in out.columns
    row = out.collect()[0]
    # rank ceil(0.29*100)=29 -> value 29, within one bin's width
    assert abs(row["p29_est"] - 29.0) / 29.0 <= 1.0 / 16 + 0.01

    with pytest.raises(ValueError, match="distinct"):
        quantiles_from_histogram(hist, [], [0.290, 0.294])


def test_cogroup_kernel_survives_count_only_column_pruning(spark, sf_dir):
    """Spark 4.1 column-prunes cogroup INPUTS by what the downstream
    plan references: a count-only plan hands the kernel key-only
    frames (and even full plans drop the non-initiating side's copy of
    the grouping key). The kernels must not index pruned columns —
    count() and collect() must agree on cardinality for both the
    pandas and the Arrow path."""
    from bigdatalab_spark.operators.cogroup import (
        cogroup_click_attribution,
        cogroup_click_attribution_arrow,
    )
    from bigdatalab_spark.sources import load_table

    ev = load_table(spark, sf_dir, "events")
    pandas_df = cogroup_click_attribution(ev)
    assert pandas_df.count() == len(pandas_df.collect())
    arrow_df = cogroup_click_attribution_arrow(ev)
    assert arrow_df.count() == len(arrow_df.collect())


def test_hll_sketch_union_is_lossless_and_persistable(spark, sf_dir, tmp_path):
    """The Datasketches HLL pre-aggregate contract: unioning persisted
    DAILY sketches must give exactly the estimate a direct whole-corpus
    sketch gives (merge loses nothing), survive a parquet round-trip of
    the binary sketch column, and land within 5% of the exact distinct
    count."""
    from pyspark.sql import functions as F

    from bigdatalab_spark.sources import load_table

    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy("event_type", F.to_date("ts").alias("day")).agg(
        F.expr("hll_sketch_agg(user_id, 14)").alias("sketch")
    )
    path = str(tmp_path / "daily_sketches")
    daily.write.parquet(path)

    def union_est(df):
        return {
            r["event_type"]: r["est"]
            for r in df.groupBy("event_type")
            .agg(
                F.expr(
                    "hll_sketch_estimate(hll_union_agg(sketch))"
                ).alias("est")
            )
            .collect()
        }

    from_disk = union_est(spark.read.parquet(path))
    in_memory = union_est(daily)
    assert from_disk == in_memory

    direct = {
        r["event_type"]: r["est"]
        for r in ev.groupBy("event_type")
        .agg(
            F.expr("hll_sketch_estimate(hll_sketch_agg(user_id, 14))").alias(
                "est"
            )
        )
        .collect()
    }
    assert from_disk == direct  # merge is lossless, not just close

    exact = {
        r["event_type"]: r["n"]
        for r in ev.groupBy("event_type")
        .agg(F.countDistinct("user_id").alias("n"))
        .collect()
    }
    for et, est in from_disk.items():
        assert abs(est - exact[et]) / exact[et] <= 0.05, (et, est, exact[et])


def test_cogroup_window_twin_matches_kernel(spark, sf_dir):
    """The linear window formulation must agree with the cogroup kernel
    row for row — including the equal-timestamp boundary, where the
    (ts, side) sort key encodes strictly-before."""
    from bigdatalab_spark.operators.cogroup import (
        cogroup_click_attribution,
        cogroup_click_attribution_window_twin,
    )
    from bigdatalab_spark.sources import load_table

    ev = load_table(spark, sf_dir, "events")
    a = sorted(map(tuple, cogroup_click_attribution(ev).collect()))
    b = sorted(
        map(tuple, cogroup_click_attribution_window_twin(ev).collect())
    )
    assert a == b and a


def test_jpeg_header_parse_roundtrip_and_poison_tolerance(spark):
    """jpeg_features is a REAL header parser (stdlib struct): it must
    read back exactly what make_jpeg_blobs encoded — dimensions,
    component count, SOF0/SOF2 progressive flag, JFIF presence, EXIF
    orientation in BOTH TIFF byte orders (the generator alternates
    II/MM by parity) — and a malformed payload must yield NULL features
    + an error string, never kill the batch."""
    from pyspark.sql.types import BinaryType, LongType, StructField, StructType

    from bigdatalab_spark.scale.multimodal import (
        _jpeg_params,
        jpeg_features,
        make_jpeg_blobs,
    )

    ids = list(range(24))  # covers %2, %3, %4, %8 residue classes
    docs = spark.createDataFrame([(i,) for i in ids], "doc_id long")
    got = {r["doc_id"]: r for r in jpeg_features(make_jpeg_blobs(docs)).collect()}
    assert set(got) == set(ids)
    for i in ids:
        p, r = _jpeg_params(i), got[i]
        assert r["decode_error"] is None
        assert (r["width"], r["height"]) == (p["width"], p["height"]), i
        assert r["n_components"] == p["n_components"]
        assert r["bit_precision"] == 8
        assert r["progressive"] == p["progressive"]
        assert r["orientation"] == p["orientation"], i
        assert r["jfif"] is True

    # poison blobs: not-a-jpeg, truncated-after-SOI, SOS-before-SOF
    bad = [
        (100, b"not a jpeg at all"),
        (101, b"\xff\xd8\xff\xe0\x00\x05JF"),  # truncated APP0
        (102, b"\xff\xd8\xff\xd9"),  # SOI+EOI, no SOF
    ]
    schema = StructType(
        [StructField("doc_id", LongType()), StructField("payload", BinaryType())]
    )
    poisoned = spark.createDataFrame(bad, schema)
    rows = {r["doc_id"]: r for r in jpeg_features(poisoned).collect()}
    assert len(rows) == 3
    for i, r in rows.items():
        assert r["decode_error"] is not None, i
        assert r["width"] is None and r["orientation"] is None


def test_dedup_index_pinned_store_schemas_match_inference(spark, sf_dir, tmp_path):
    """The store schemas save_dedup_index pins into meta.json must equal
    what parquet footer inference returns for every store — the pinned
    read (zero schema-inference jobs per open, the round-13 serve-loop
    optimization) and the inferred read must be the same DataFrame
    shape, and indexes written BEFORE the field existed must still load
    via the inference fallback."""
    from bigdatalab_spark.scale.dedup import (
        _open_store,
        _read_dedup_meta,
        load_dedup_index,
        save_dedup_index,
    )
    from bigdatalab_spark.sources import load_table

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    path = str(tmp_path / "idx")
    save_dedup_index(docs, path)
    meta = _read_dedup_meta(path)
    assert set(meta["store_schemas"]) == {
        "bands", "shingles", "sizes", "hashes", "tombstones",
    }
    for store in meta["store_schemas"]:
        pinned = _open_store(spark, path, store, meta)
        inferred = spark.read.parquet(f"{path}/{store}")
        assert pinned.schema == inferred.schema, (
            f"{store}: pinned {pinned.schema.simpleString()} != "
            f"inferred {inferred.schema.simpleString()}"
        )
    # pre-schema index: dropping the field must fall back to inference
    import json
    import os

    legacy = dict(meta)
    del legacy["store_schemas"]
    with open(os.path.join(path, "meta.json"), "w", encoding="utf-8") as fh:
        json.dump(legacy, fh)
    hashes, bands, shingles, sizes, _ = load_dedup_index(spark, path)
    assert [f.name for f in bands.schema.fields] == ["doc_id", "sig", "band"]
    assert shingles.schema.simpleString().endswith("shard:int>")


def test_sql_string_expression_builders_bit_identical(spark, sf_dir):
    """The round-13 SQL-string expression assembly (pq.encode_corpus /
    pq.query_lut / similarity.hyperplane_table_rows) must produce
    BIT-identical frames to the original Column-by-Column builders —
    same schema, same rows, doubles compared by raw IEEE-754 bits."""
    import struct

    from pyspark.sql import functions as F

    from bigdatalab_spark.scale import pq as pqm
    from bigdatalab_spark.scale.similarity import (
        RHP_BITS,
        RHP_SEED,
        RHP_TABLES,
        _dot,
        hyperplane_table_rows,
        random_hyperplanes,
    )
    from bigdatalab_spark.sources import load_table

    emb = load_table(spark, sf_dir, "embeddings").limit(200)
    books = pqm.train_codebooks(emb, m=4, k=8, seed=42)

    # reference: the pre-round-13 Column-based builders, verbatim
    def ref_encode(corpus, codebooks, vec_col="embedding", id_col="vec_id"):
        sub_dim = len(codebooks[0][0])
        entries = []
        for s, book in enumerate(codebooks):
            sub = pqm._subvector(F.col(vec_col), s, sub_dim)
            dists = F.array(
                *[pqm._sq_dist(sub, F.array(*[F.lit(x) for x in c])) for c in book]
            )
            code = (F.array_position(dists, F.array_min(dists)) - 1).cast("int")
            entries.append(F.struct(F.lit(s).alias("s"), code.alias("code")))
        return corpus.select(
            F.col(id_col).alias("neighbor_id"),
            F.explode(F.array(*entries)).alias("e"),
        ).select("neighbor_id", "e.s", "e.code")

    def ref_lut(queries, codebooks, vec_col="embedding", id_col="vec_id"):
        sub_dim = len(codebooks[0][0])
        entries = []
        for s, book in enumerate(codebooks):
            sub = pqm._subvector(F.col(vec_col), s, sub_dim)
            for c_idx, c in enumerate(book):
                entries.append(
                    F.struct(
                        F.lit(s).alias("s"),
                        F.lit(c_idx).alias("code"),
                        pqm._sq_dist(
                            sub, F.array(*[F.lit(x) for x in c])
                        ).alias("sq_dist"),
                    )
                )
        return queries.select(
            F.col(id_col).alias("query_id"),
            F.explode(F.array(*entries)).alias("e"),
        ).select("query_id", "e.s", "e.code", "e.sq_dist")

    def ref_hyperplanes(vectors, planes, vec_col="embedding", id_col="vec_id"):
        entries = []
        for t, table in enumerate(planes):
            sig = F.lit(0)
            for i, plane in enumerate(table):
                dot = _dot(F.col(vec_col), F.array(*[F.lit(x) for x in plane]))
                sig = sig + F.when(dot >= 0, F.lit(1 << i)).otherwise(F.lit(0))
            entries.append(F.struct(F.lit(t).alias("tbl"), sig.alias("sig")))
        return vectors.select(
            F.col(id_col).alias("vid"),
            F.explode(F.array(*entries)).alias("b"),
        ).select("vid", "b.tbl", "b.sig")

    def bits(rows):
        return sorted(
            tuple(
                struct.pack("<d", v).hex() if isinstance(v, float) else v
                for v in r
            )
            for r in rows
        )

    pairs = [
        (pqm.encode_corpus(emb, books), ref_encode(emb, books)),
        (
            pqm.query_lut(emb.filter("vec_id < 10"), books),
            ref_lut(emb.filter("vec_id < 10"), books),
        ),
        (
            hyperplane_table_rows(
                emb, random_hyperplanes(64, RHP_BITS, RHP_TABLES, RHP_SEED)
            ),
            ref_hyperplanes(
                emb, random_hyperplanes(64, RHP_BITS, RHP_TABLES, RHP_SEED)
            ),
        ),
    ]
    for got, want in pairs:
        assert got.schema == want.schema, (
            f"{got.schema.simpleString()} != {want.schema.simpleString()}"
        )
        assert bits(got.collect()) == bits(want.collect())


def test_semantic_dedup_arrow_kernel_matches_column_cosine(spark, sf_dir):
    """semantic_dedup's witness cosine now runs through the bit-exact
    Arrow fold kernel; its full output frame must equal the
    Column-expression variant row for row, max_sim compared by raw
    IEEE-754 bits."""
    import struct

    from pyspark.sql import functions as F

    from bigdatalab_spark.scale.similarity import (
        _fit_kmeans_cached,
        cosine,
        semantic_dedup,
    )
    from bigdatalab_spark.sources import load_table
    from pyspark.ml.functions import array_to_vector

    emb = load_table(spark, sf_dir, "embeddings")
    got = semantic_dedup(emb, threshold=0.95).collect()

    # reference: the pre-swap Column-cosine witnesses, verbatim
    v = emb.select(
        F.col("vec_id").alias("vid"),
        F.col("embedding").alias("vec"),
        array_to_vector(F.col("embedding")).alias("features"),
    )
    model = _fit_kmeans_cached(v, None, 8, 42)
    assigned = model.transform(v).select(
        "vid", "vec", F.col("prediction").alias("cluster_id")
    )
    a, b = assigned.alias("a"), assigned.alias("b")
    witnesses = (
        a.join(
            b,
            (F.col("a.cluster_id") == F.col("b.cluster_id"))
            & (F.col("a.vid") < F.col("b.vid")),
        )
        .select(
            F.col("b.vid").alias("vid"),
            F.col("a.vid").alias("src"),
            cosine(F.col("a.vec"), F.col("b.vec")).alias("cos_sim"),
        )
        .filter(F.col("cos_sim") >= 0.95)
        .groupBy("vid")
        .agg(F.min("src").alias("dup_of"), F.max("cos_sim").alias("max_sim"))
    )
    want = assigned.join(witnesses, "vid", "left").select(
        F.col("vid").alias("vec_id"),
        "cluster_id",
        F.col("dup_of").isNull().alias("is_kept"),
        "dup_of",
        "max_sim",
    ).collect()

    def key(rows):
        return sorted(
            (
                r["vec_id"], r["cluster_id"], r["is_kept"], r["dup_of"],
                None if r["max_sim"] is None
                else struct.pack("<d", r["max_sim"]).hex(),
            )
            for r in rows
        )

    assert key(got) == key(want)
