"""Training-data pipeline queries beyond the reference's surface:
as-of joins (event attribution), document chunking, and salient-term
extraction — the operations a 100 TB curation pipeline runs between
ingest and training. Registered AFTER the SURVEY-core top-50 (the
driver records the first 50 registry entries; these are beyond-reference
extensions whose evidence is the strict local oracle + pytest).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from bigdatalab_spark.queries.registry import query, query_scratch
from bigdatalab_spark.sources import load_table

_CHUNK, _OVERLAP = 32, 8
_STEP = _CHUNK - _OVERLAP


@query(
    "events_asof_clicks",
    ids=("SCALE-ASOF", "J1"),
    oracle="""
        WITH p AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase'),
             c AS (SELECT user_id, ts FROM events WHERE event_type = 'click')
        SELECT p.event_id, p.user_id,
               CAST(p.ts AS VARCHAR) AS ts,
               CAST(c.ts AS VARCHAR) AS click_ts
        FROM p ASOF LEFT JOIN c ON p.user_id = c.user_id AND p.ts >= c.ts
        ORDER BY p.event_id
    """,
)
def events_asof_clicks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event attribution: each purchase joined to the same user's most
    recent click at-or-before it (NULL when none) — the as-of join
    (:mod:`bigdatalab_spark.operators.asof`), implemented as union +
    keyed running-last window: one shuffle, no range-join blow-up.
    DuckDB replays it with its native ASOF LEFT JOIN."""
    from bigdatalab_spark.operators.asof import asof_join

    ev = load_table(spark, sf_dir, "events")
    purchases = ev.filter("event_type = 'purchase'").select("event_id", "user_id", "ts")
    clicks = ev.filter("event_type = 'click'").select("user_id", "ts")
    return (
        asof_join(purchases, clicks, on=["user_id"], value_cols=[])
        .select(
            "event_id",
            "user_id",
            F.col("ts").cast("string").alias("ts"),
            F.col("ts_asof").cast("string").alias("click_ts"),
        )
        .orderBy("event_id")
    )


@query(
    "doc_chunks",
    ids=("SCALE-TEXT", "SCALE-CHUNK"),
    oracle=f"""
        WITH toks AS (
            SELECT doc_id,
                   list_filter(string_split_regex(text, '\\s+'), t -> t <> '') AS toks
            FROM documents
        ),
        starts AS (
            SELECT doc_id, toks,
                   unnest(generate_series(0, len(toks) - 1, {_STEP})) AS start
            FROM toks
            WHERE len(toks) > 0
        )
        SELECT doc_id,
               CAST(start // {_STEP} AS BIGINT) AS chunk_id,
               array_to_string(toks[start + 1 : start + {_CHUNK}], ' ') AS chunk_text,
               CAST(least({_CHUNK}, len(toks) - start) AS BIGINT) AS n_tokens
        FROM starts
        ORDER BY doc_id, chunk_id
    """,
)
def doc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping token-window chunking of the documents table
    (32-token chunks, 8-token overlap) — narrow, shuffle-free
    (:func:`bigdatalab_spark.scale.textqa.chunk_documents`)."""
    from bigdatalab_spark.scale.textqa import chunk_documents

    docs = load_table(spark, sf_dir, "documents")
    return chunk_documents(docs, chunk_tokens=_CHUNK, overlap=_OVERLAP).orderBy(
        "doc_id", "chunk_id"
    )


@query(
    "top_terms_per_doc",
    ids=("SCALE-TEXT", "A4", "O5"),
    oracle="""
        WITH tokens AS (
            SELECT doc_id, unnest(string_split_regex(text, '\\s+')) AS term
            FROM documents
        ),
        tf AS (
            SELECT doc_id, term, count(*) AS tf
            FROM tokens WHERE term <> ''
            GROUP BY doc_id, term
        ),
        df AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
        ranked AS (
            SELECT tf.doc_id, tf.term, tf.tf, df.df,
                   row_number() OVER (
                       PARTITION BY tf.doc_id
                       ORDER BY tf.tf DESC, df.df ASC, tf.term ASC
                   ) AS rnk
            FROM tf JOIN df USING (term)
        )
        SELECT doc_id, term, tf, df, CAST(rnk AS BIGINT) AS rnk
        FROM ranked
        WHERE rnk <= 3
        ORDER BY doc_id, rnk
    """,
)
def top_terms_per_doc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 salient terms per document, tf-idf-style but float-free
    (tf DESC, df ASC, term ASC) so the ranking is exactly reproducible
    (:func:`bigdatalab_spark.scale.textqa.top_terms_per_doc`)."""
    from bigdatalab_spark.scale import textqa

    docs = load_table(spark, sf_dir, "documents")
    return (
        textqa.top_terms_per_doc(docs, k=3)
        .withColumnRenamed("rank", "rnk")
        .withColumn("rnk", F.col("rnk").cast("long"))
        .orderBy("doc_id", "rnk")
    )


@query(
    "train_val_test_split",
    ids=("SCALE-CURATION",),
    oracle="""
        WITH assigned AS (
            SELECT doc_id,
                   CASE
                       WHEN h < 8000 THEN 'train'
                       WHEN h < 9000 THEN 'val'
                       ELSE 'test'
                   END AS split
            FROM (
                SELECT doc_id,
                       CAST('0x' || substr(md5('split-v1' || CAST(doc_id AS VARCHAR)), 1, 7) AS BIGINT)
                           % 10000 AS h
                FROM documents
            )
        )
        SELECT split, count(*) AS n_docs, CAST(min(doc_id) AS BIGINT) AS min_doc_id
        FROM assigned
        GROUP BY split
        ORDER BY split
    """,
)
def train_val_test_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-safe deterministic 80/10/10 split of the documents table
    (:func:`bigdatalab_spark.scale.curation.hash_split`): assignment is
    a pure function of (salt, doc_id) — stable across runs, engines and
    corpus growth — replayed exactly by the DuckDB oracle."""
    from bigdatalab_spark.scale.curation import hash_split

    docs = load_table(spark, sf_dir, "documents")
    return (
        hash_split(docs, "doc_id")
        .groupBy("split")
        .agg(F.count(F.lit(1)).alias("n_docs"), F.min("doc_id").alias("min_doc_id"))
        .orderBy("split")
    )


_BUDGET = 128


@query(
    "packed_sequences",
    ids=("SCALE-CURATION", "SCALE-TEXT"),
    oracle=f"""
        WITH RECURSIVE toks AS (
            SELECT doc_id,
                   list_filter(string_split_regex(text, '\\s+'), t -> t <> '') AS toks
            FROM documents
        ),
        chunks AS (
            SELECT doc_id,
                   CAST(start // {_STEP} AS BIGINT) AS chunk_id,
                   CAST(least({_CHUNK}, len(toks) - start) AS BIGINT) AS n_tokens
            FROM (
                SELECT doc_id, toks,
                       unnest(generate_series(0, len(toks) - 1, {_STEP})) AS start
                FROM toks
                WHERE len(toks) > 0
            )
        ),
        packed AS (
            SELECT doc_id, chunk_id, n_tokens,
                   CAST(0 AS BIGINT) AS seq_id, n_tokens AS acc
            FROM chunks WHERE chunk_id = 0
            UNION ALL
            SELECT c.doc_id, c.chunk_id, c.n_tokens,
                   CASE WHEN p.acc + c.n_tokens > {_BUDGET}
                        THEN p.seq_id + 1 ELSE p.seq_id END,
                   CASE WHEN p.acc + c.n_tokens > {_BUDGET}
                        THEN c.n_tokens ELSE p.acc + c.n_tokens END
            FROM chunks c
            JOIN packed p ON c.doc_id = p.doc_id AND c.chunk_id = p.chunk_id + 1
        )
        SELECT doc_id, seq_id,
               count(*) AS n_chunks,
               CAST(sum(n_tokens) AS BIGINT) AS seq_tokens
        FROM packed
        GROUP BY doc_id, seq_id
        ORDER BY doc_id, seq_id
    """,
)
def packed_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy token-budget sequence packing of the chunked corpus
    (budget 128): chunk -> applyInPandas greedy packer
    (:func:`bigdatalab_spark.scale.curation.pack_sequences`) -> per-
    sequence sizes. The sequential close-on-overflow rule is replayed
    by the oracle as a recursive CTE (same technique as dedup_clusters'
    transitive closure)."""
    from bigdatalab_spark.scale.curation import pack_sequences
    from bigdatalab_spark.scale.textqa import chunk_documents

    docs = load_table(spark, sf_dir, "documents")
    chunks = chunk_documents(docs, chunk_tokens=_CHUNK, overlap=_OVERLAP).select(
        "doc_id", "chunk_id", "n_tokens"
    )
    return (
        pack_sequences(chunks, budget=_BUDGET)
        .groupBy("doc_id", "seq_id")
        .agg(
            F.count(F.lit(1)).alias("n_chunks"),
            F.sum("n_tokens").alias("seq_tokens"),
        )
        .orderBy("doc_id", "seq_id")
    )


@query(
    "repetition_scores",
    ids=("SCALE-TEXT",),
    oracle="""
        WITH base AS (
            SELECT doc_id,
                   list_filter(string_split_regex(text, '\\s+'), t -> t <> '') AS toks
            FROM documents
        ),
        tf AS (
            SELECT doc_id, token, count(*) AS tf
            FROM (SELECT doc_id, unnest(toks) AS token FROM base)
            GROUP BY doc_id, token
        ),
        tok_stats AS (
            SELECT doc_id, CAST(sum(tf) AS BIGINT) AS n_tokens,
                   count(*) AS n_distinct_tokens, max(tf) AS top_tf
            FROM tf GROUP BY doc_id
        ),
        bg AS (
            SELECT doc_id, bg, count(*) AS bf
            FROM (
                SELECT doc_id,
                       unnest(list_transform(generate_series(1, len(toks) - 1),
                                             i -> toks[i] || ' ' || toks[i + 1])) AS bg
                FROM base
            )
            GROUP BY doc_id, bg
        ),
        bg_stats AS (
            SELECT doc_id, CAST(sum(bf) AS BIGINT) AS n_bigrams,
                   count(*) AS n_distinct_bigrams
            FROM bg GROUP BY doc_id
        )
        SELECT b.doc_id,
               coalesce(t.n_tokens, 0) AS n_tokens,
               coalesce(t.n_distinct_tokens, 0) AS n_distinct_tokens,
               CASE WHEN coalesce(t.n_tokens, 0) > 0
                    THEN CAST(t.top_tf AS DOUBLE) / t.n_tokens ELSE 0.0 END
                   AS top_token_share,
               CASE WHEN coalesce(g.n_bigrams, 0) > 0
                    THEN 1 - CAST(g.n_distinct_bigrams AS DOUBLE) / g.n_bigrams
                    ELSE 0.0 END AS dup_bigram_share
        FROM base b
        LEFT JOIN tok_stats t USING (doc_id)
        LEFT JOIN bg_stats g USING (doc_id)
        ORDER BY doc_id
    """,
)
def repetition_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition filters over the documents table
    (:func:`bigdatalab_spark.scale.textqa.repetition_scores`): top-token
    share and duplicated-bigram share as exact-integer ratios."""
    from bigdatalab_spark.scale import textqa

    docs = load_table(spark, sf_dir, "documents")
    return textqa.repetition_scores(docs).orderBy("doc_id")


def _curation_oracle() -> str:
    """Compose the full curation-pipeline oracle from the exact SQL
    replays the component queries already use: exact-dedup keepers ->
    MinHash-LSH near-dup clusters (recursive closure) -> quality filter
    -> deterministic split."""
    from bigdatalab_spark.queries.dedup import SHINGLES_CTE, _PARAMS_VALUES, _VERIFY_SQL
    from bigdatalab_spark.scale.hashing import MINHASH_P, MINHASH_ROWS

    shingles_over_keepers = SHINGLES_CTE.replace("FROM documents", "FROM keepers")
    return f"""
        WITH RECURSIVE keeper_ids AS (
            SELECT min(doc_id) AS doc_id
            FROM documents
            GROUP BY md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')))
        ),
        keepers AS (SELECT d.* FROM documents d JOIN keeper_ids USING (doc_id)),
        {shingles_over_keepers},
        params(i, a, b) AS (VALUES {_PARAMS_VALUES}),
        hashes AS (
            SELECT doc_id, shingle,
                   CAST('0x' || substr(md5(shingle), 1, 7) AS BIGINT) AS h
            FROM shingles
        ),
        mh AS (
            SELECT doc_id, i, min((h * a + b) % {MINHASH_P}) AS v
            FROM hashes, params
            GROUP BY doc_id, i
        ),
        bands AS (
            SELECT doc_id, i // {MINHASH_ROWS} AS band,
                   string_agg(CAST(v AS VARCHAR), '_' ORDER BY i) AS sig
            FROM mh
            GROUP BY doc_id, i // {MINHASH_ROWS}
        ),
        cands AS (
            SELECT DISTINCT a.doc_id AS doc1, b.doc_id AS doc2
            FROM bands a
            JOIN bands b ON a.band = b.band AND a.sig = b.sig
                        AND a.doc_id < b.doc_id
        ),
        {_VERIFY_SQL},
        pairs AS (SELECT doc1, doc2 FROM verified WHERE jaccard >= 0.5),
        edges AS (
            SELECT doc1 AS src, doc2 AS dst FROM pairs
            UNION ALL
            SELECT doc2, doc1 FROM pairs
        ),
        reach AS (
            SELECT doc_id AS doc, doc_id AS label FROM keepers
            UNION
            SELECT e.src AS doc, r.label
            FROM reach r JOIN edges e ON e.dst = r.doc
        ),
        clusters AS (SELECT doc, min(label) AS cluster_id FROM reach GROUP BY doc),
        reps AS (SELECT doc AS doc_id FROM clusters WHERE doc = cluster_id),
        survivors AS (
            SELECT k.*, list_filter(string_split_regex(k.text, '\\s+'), w -> w <> '') AS ws
            FROM keepers k JOIN reps USING (doc_id)
        ),
        quality AS (
            SELECT doc_id, CAST(len(ws) AS BIGINT) AS n_tokens,
                   0.5 * least(CAST(len(ws) AS DOUBLE) / 64.0, 1.0)
                 + 0.3 * least((CASE WHEN len(ws) > 0
                                     THEN CAST(len(list_intersect(list_distinct(ws),
                                          ['the','a','of','and','is','to','in','that','it'])) AS DOUBLE) / len(ws)
                                     ELSE 0.0 END) * 8, 1.0)
                 + 0.2 * (1 - least((CASE WHEN length(text) > 0
                                          THEN CAST(len(regexp_extract_all(text, '[^\\w\\s]')) AS DOUBLE) / length(text)
                                          ELSE 0.0 END) * 4, 1.0)) AS quality_score
            FROM survivors
        ),
        passed AS (SELECT doc_id, n_tokens FROM quality WHERE quality_score >= 0.5),
        assigned AS (
            SELECT n_tokens,
                   CASE WHEN h < 8000 THEN 'train'
                        WHEN h < 9000 THEN 'val'
                        ELSE 'test' END AS split
            FROM (
                SELECT n_tokens,
                       CAST('0x' || substr(md5('split-v1' || CAST(doc_id AS VARCHAR)), 1, 7) AS BIGINT)
                           % 10000 AS h
                FROM passed
            )
        )
        SELECT split, count(*) AS n_docs,
               CAST(sum(n_tokens) AS BIGINT) AS n_tokens_total
        FROM assigned
        GROUP BY split
        ORDER BY split
    """


@query(
    "curation_pipeline",
    ids=("SCALE-DEDUP", "SCALE-TEXT", "SCALE-CURATION"),
    oracle=_curation_oracle(),
)
def curation_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end corpus curation as ONE declarative pipeline:
    exact dedup (keep min id per content hash) -> MinHash-LSH near-dup
    clustering (keep each cluster's representative) -> quality filter
    (compound score >= 0.5) -> leakage-safe deterministic split ->
    per-split doc/token counts. Every stage is the already-verified
    component operator; the oracle replays all of it, recursive closure
    included. This is the query a 100 TB training-data pipeline runs
    end to end: each stage shuffles only on its semantic key."""
    from bigdatalab_spark.scale.curation import hash_split
    from bigdatalab_spark.scale.dedup import (
        connected_components,
        exact_dedup_groups,
        minhash_near_dups,
    )
    from bigdatalab_spark.scale.textqa import quality_features

    docs = load_table(spark, sf_dir, "documents")
    keeper_ids = exact_dedup_groups(docs).select(F.col("keep_id").alias("doc_id"))
    keepers = docs.join(keeper_ids, "doc_id", "left_semi")
    pairs = minhash_near_dups(keepers, threshold=0.5).select("doc1", "doc2")
    clusters = connected_components(keepers.select("doc_id"), pairs)
    reps = clusters.filter("doc_id = cluster_id").select("doc_id")
    survivors = keepers.join(reps, "doc_id", "left_semi")
    passed = (
        quality_features(survivors)
        .filter(F.col("quality_score") >= 0.5)
        .select("doc_id", "n_tokens")
    )
    return (
        hash_split(passed, "doc_id")
        .groupBy("split")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").alias("n_tokens_total"),
        )
        .orderBy("split")
    )


@query(
    "click_purchase_attribution",
    ids=("T-EXT", "J1"),
    oracle="""
        SELECT c.event_id AS click_id,
               p.event_id AS purchase_id,
               c.user_id,
               CAST(c.ts AS VARCHAR) AS click_ts,
               CAST(p.ts AS VARCHAR) AS purchase_ts
        FROM events c JOIN events p
          ON c.user_id = p.user_id
         AND c.event_type = 'click' AND p.event_type = 'purchase'
         AND p.ts > c.ts
         AND p.ts <= c.ts + INTERVAL 1 HOUR
        ORDER BY click_id, purchase_id
    """,
)
def click_purchase_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch twin of the stream-stream time-interval join
    (:func:`bigdatalab_spark.streaming.jobs.stream_stream_interval_join`,
    equivalence-tested against a live dual readStream in
    tests/test_streaming.py): every (click, purchase) pair of the same
    user within one hour. In streaming, both sides carry watermarks so
    expired join state is evicted; this batch form is the oracle-checked
    semantics."""
    ev = load_table(spark, sf_dir, "events")
    clicks = ev.filter("event_type = 'click'").select("event_id", "user_id", "ts")
    purchases = ev.filter("event_type = 'purchase'").select("event_id", "user_id", "ts")
    joined = clicks.alias("c").join(
        purchases.alias("p"),
        F.expr(
            "c.user_id = p.user_id AND p.ts > c.ts AND p.ts <= c.ts + INTERVAL 1 HOUR"
        ),
    )
    return joined.select(
        F.col("c.event_id").alias("click_id"),
        F.col("p.event_id").alias("purchase_id"),
        F.col("c.user_id").alias("user_id"),
        F.col("c.ts").cast("string").alias("click_ts"),
        F.col("p.ts").cast("string").alias("purchase_ts"),
    ).orderBy("click_id", "purchase_id")


@query(
    "intradoc_span_dedup",
    ids=("SCALE-DEDUP", "SCALE-TEXT"),
    oracle="""
        WITH toks AS (
            SELECT doc_id,
                   list_filter(string_split_regex(text, '\\s+'), t -> t <> '') AS toks
            FROM documents
        ),
        spans AS (
            SELECT doc_id, toks,
                   unnest(generate_series(0, CAST(ceil(len(toks) / 8.0) AS INT) - 1)) AS i
            FROM toks
            WHERE len(toks) > 0
        ),
        seg AS (
            SELECT doc_id, i,
                   array_to_string(toks[i * 8 + 1 : i * 8 + 8], ' ') AS span
            FROM spans
        ),
        ranked AS (
            SELECT doc_id, i, span,
                   row_number() OVER (PARTITION BY doc_id, span ORDER BY i) AS rn
            FROM seg
        ),
        kept AS (
            SELECT doc_id, count(*) AS n_kept,
                   md5(string_agg(span, ' ' ORDER BY i)) AS clean_md5
            FROM ranked WHERE rn = 1
            GROUP BY doc_id
        ),
        tot AS (SELECT doc_id, count(*) AS n_spans FROM seg GROUP BY doc_id)
        SELECT t.doc_id,
               CAST(coalesce(tot.n_spans, 0) AS BIGINT) AS n_spans,
               CAST(coalesce(kept.n_kept, 0) AS BIGINT) AS n_kept,
               coalesce(kept.clean_md5, md5('')) AS clean_md5
        FROM toks t
        LEFT JOIN tot USING (doc_id)
        LEFT JOIN kept USING (doc_id)
        ORDER BY doc_id
    """,
)
def intradoc_span_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Within-document repeated-span removal (8-token spans, keep first
    occurrence, reassemble) — zero-shuffle narrow pipeline
    (:func:`bigdatalab_spark.scale.dedup.intradoc_span_dedup`; the
    no-Exchange claim is pinned in tests/test_plans.py). The oracle
    replays first-occurrence keeping as a per-(doc, span) row_number."""
    from bigdatalab_spark.scale.dedup import intradoc_span_dedup as _op

    docs = load_table(spark, sf_dir, "documents")
    return (
        _op(docs, span_tokens=8)
        .select(
            "doc_id",
            "n_spans",
            "n_kept",
            F.md5("clean_text").alias("clean_md5"),
        )
        .orderBy("doc_id")
    )


@query(
    "crosscorpus_best_dedup",
    ids=("SCALE-DEDUP", "SCALE-CURATION"),
    oracle="""
        WITH cand AS (
            SELECT md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS fp,
                   CAST(regexp_extract(source, '(\\d+)', 1) AS INT) AS src_idx,
                   doc_id, source
            FROM documents
        ),
        ranked AS (
            SELECT doc_id, source,
                   row_number() OVER (PARTITION BY fp ORDER BY src_idx, doc_id) AS rn,
                   count(*) OVER (PARTITION BY fp) AS n_copies
            FROM cand
        )
        SELECT doc_id, source, CAST(n_copies AS BIGINT) AS n_copies
        FROM ranked WHERE rn = 1
        ORDER BY doc_id
    """,
)
def crosscorpus_best_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-corpus merge dedup: per exact-content group keep the copy
    from the most-trusted source (lowest source index, ties by doc_id)
    via the algebraic min(struct) keeper
    (:func:`bigdatalab_spark.scale.dedup.priority_dedup`) — map-side
    combined, no per-group window shuffle of every copy."""
    from bigdatalab_spark.scale.dedup import priority_dedup

    docs = load_table(spark, sf_dir, "documents")
    priority = F.regexp_extract("source", r"(\d+)", 1).cast("int")
    return (
        priority_dedup(docs, priority, carry_cols=("source",))
        .select(F.col("keep_id").alias("doc_id"), "source", "n_copies")
        .orderBy("doc_id")
    )


_LEXICON = (
    "batsh",
    "colum",
    "filtr",
    "joon",
    "quary",
    "spakr",
    "tabel",
    "vlue",
    "winow",
)


@query(
    "fuzzy_token_matches",
    ids=("SCALE-FUZZY", "J5"),
    oracle=f"""
        WITH lex AS (
            SELECT unnest([{", ".join(repr(w) for w in _LEXICON)}]) AS word
        ),
        tok AS (
            SELECT token, count(*) AS n_occurrences
            FROM (
                SELECT unnest(string_split_regex(text, '\\s+')) AS token
                FROM documents
            )
            WHERE token <> ''
            GROUP BY token
        )
        SELECT l.word, t.token,
               CAST(levenshtein(l.word, t.token) AS INT) AS dist,
               t.n_occurrences
        FROM lex l
        JOIN tok t
          ON substr(t.token, 1, 1) = substr(l.word, 1, 1)
         AND abs(length(t.token) - length(l.word)) <= 1
         AND levenshtein(l.word, t.token) <= 2
         AND t.token <> l.word
        ORDER BY word, token
    """,
)
def fuzzy_token_matches(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Typo-tolerant lexicon match against the corpus vocabulary: the
    blocked similarity join
    (:func:`bigdatalab_spark.operators.joins.blocked_fuzzy_join`) —
    first-character equi-block (hash/broadcast join, no cross product)
    + length band + Levenshtein <= 2. The vocabulary aggregates BEFORE
    the join, so the fuzzy predicate runs once per distinct token, not
    once per corpus occurrence."""
    from bigdatalab_spark.operators.joins import blocked_fuzzy_join

    docs = load_table(spark, sf_dir, "documents")
    from bigdatalab_spark.functions import tokenize

    tok = (
        docs.select(F.explode(tokenize("text")).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("n_occurrences"))
    )
    lex = F.broadcast(
        spark.createDataFrame([(w,) for w in _LEXICON], "word string")
    )
    return (
        blocked_fuzzy_join(tok, lex, "token", "word", max_dist=2, max_len_diff=1)
        .select("word", "token", F.levenshtein("word", "token").alias("dist"), "n_occurrences")
        .orderBy("word", "token")
    )


def _sdp_funnel_oracle() -> str:
    from bigdatalab_spark.queries.textqa import _STOPS, _TOKS_CTE

    return f"""
        WITH {_TOKS_CTE},
        feats AS (
            SELECT doc_id,
                   len(ws) AS n_tokens,
                   length(text) AS n_chars,
                   len(regexp_extract_all(text, '[^\\w\\s]')) AS n_punct,
                   len(list_intersect(list_distinct(ws), {_STOPS})) AS stop_hits
            FROM toks
        ),
        scored AS (
            SELECT n_tokens, n_chars, stop_hits,
                   CASE WHEN n_chars > 0
                        THEN CAST(n_punct AS DOUBLE) / n_chars
                        ELSE 0.0 END AS punct_ratio,
                   CASE WHEN n_tokens > 0
                        THEN CAST(stop_hits AS DOUBLE) / n_tokens
                        ELSE 0.0 END AS stop_ratio
            FROM feats
        ),
        tagged AS (
            SELECT n_chars,
                   0.5 * least(CAST(n_tokens AS DOUBLE) / 64.0, 1.0)
                 + 0.3 * least(stop_ratio * 8, 1.0)
                 + 0.2 * (1 - least(punct_ratio * 4, 1.0)) AS quality_score,
                   CASE
                       WHEN n_chars < 40 THEN '1_too_short'
                       WHEN n_tokens < 8 THEN '2_too_few_tokens'
                       WHEN punct_ratio > 0.10 THEN '3_high_punct'
                       WHEN stop_hits = 0 THEN '4_no_stopwords'
                       ELSE '5_kept'
                   END AS reason
            FROM scored
        )
        SELECT reason,
               count(*) AS n_docs,
               CAST(sum(n_chars) AS DOUBLE) / count(*) AS avg_chars,
               max(quality_score) AS max_quality
        FROM tagged
        GROUP BY reason
        ORDER BY reason
    """


@query(
    "sdp_quality_funnel",
    ids=("SCALE-PIPELINE", "K4", "A5"),
    oracle=_sdp_funnel_oracle(),
)
def sdp_quality_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The declarative-pipeline path under the strict oracle: the full
    Spark 4.1 ``pyspark.pipelines`` graph (bronze temp view -> per-doc
    quality MV partitioned by reason -> funnel MV) is captured via the
    PUBLIC decorator API, executed by the classic-mode local runner
    (:mod:`bigdatalab_spark.pipelines.local` — the Connect backend is
    env-blocked), and the funnel is answered FROM THE MATERIALIZED
    PARQUET, not from a live plan. Strict equality certifies the whole
    declare -> topologically-materialize -> read-back cycle against the
    single-query SQL restatement.
    """
    from bigdatalab_spark.pipelines.curation import run_curation_pipeline

    storage = query_scratch("sdp_quality_funnel", sf_dir)
    res = run_curation_pipeline(spark, sf_dir, storage)
    return res["quality_funnel"].orderBy("reason")
