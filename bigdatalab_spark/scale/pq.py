"""Product-quantization ANN (scale extension).

The storage-side half of a production vector index (Jégou et al. 2011,
"Product quantization for nearest neighbor search"): split each d-dim
embedding into ``m`` subvectors, train a small KMeans codebook per
subspace, and store every corpus vector as ``m`` one-byte codes — a
64-dim float32 vector compresses 64x to 4 codes here. Search is
asymmetric distance computation (ADC): per query, build the m x k
lookup table of squared distances from the query's subvectors to every
centroid, then score a corpus vector by SUMMING the m looked-up cells
for its codes — no float vector math against the corpus at all.

Scale design: codebooks are trained on a SAMPLE (here: the corpus —
gate-sized; at 100 TB a 1-10M row sample, KMeans cost is independent of
corpus size), then encoding is one broadcast of m*k centroid literals +
a narrow scan. The encoded table is what you persist: 100 TB of
embeddings becomes ~1.5 TB of codes, and the ADC score join touches
only (neighbor, subspace, code) ints against a query LUT that is
``queries x m x k`` rows — broadcast-sized for any sane query batch.
Learned codebooks are not SQL-replayable -> registered rows-only;
recall vs brute-force cosine is gated in tests/test_scale.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

PQ_SUBSPACES = 4
PQ_CODEBOOK = 16  # centroids per subspace (one byte would hold 256)


def _subvector(vec, s: int, sub_dim: int):
    return F.slice(vec, s * sub_dim + 1, sub_dim)


def train_codebooks(
    corpus: DataFrame,
    m: int = PQ_SUBSPACES,
    k: int = PQ_CODEBOOK,
    seed: int = 42,
    vec_col: str = "embedding",
) -> list[list[list[float]]]:
    """Per-subspace KMeans codebooks: ``m`` lists of ``k`` centroids.

    One fit per subspace over the (sampled) training frame; the result
    is plan-literal-sized (m * k * d/m floats = d * k — a few KB).
    """
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    dim = len(corpus.select(vec_col).first()[0])
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m={m}")
    sub_dim = dim // m

    def _fit(s: int) -> list[list[float]]:
        feats = corpus.select(
            array_to_vector(
                _subvector(F.col(vec_col), s, sub_dim).cast("array<double>")
            ).alias("features")
        )
        model = KMeans(k=k, seed=seed + s, maxIter=20).fit(feats)
        return [[float(x) for x in c] for c in model.clusterCenters()]

    # the m subspace fits are INDEPENDENT KMeans jobs over tiny
    # frames, each a long chain of small stages (init + 20 iterations)
    # that leaves most of the scheduler idle — run them from a small
    # thread pool so one fit's stages back-fill another's gaps (guide
    # §2.6 'overlap independent jobs'). Seeded fits: results are
    # identical to the sequential loop, returned in subspace order.
    from bigdatalab_spark.plans.compile import overlap_actions

    return overlap_actions([lambda s=s: _fit(s) for s in range(m)])


def _sq_dist(a, b) -> F.Column:
    d = F.zip_with(a, b, lambda x, y: x.cast("double") - y.cast("double"))
    return F.aggregate(
        F.transform(d, lambda x: x * x), F.lit(0.0), lambda acc, x: acc + x
    )


def _lit_double_sql(x: float) -> str:
    """SQL double literal parsing to exactly this IEEE-754 value:
    ``repr`` is Python's shortest-round-trip form and Spark's literal
    parser (Java ``Double.parseDouble``) is correctly rounded, so the
    round trip is exact for every finite double."""
    return f"{float(x)!r}D"


def _sq_dist_sql(sub_sql: str, centroid: list[float]) -> str:
    """SQL-string twin of ``_sq_dist(sub, F.array(*lits))`` — the same
    zip_with/transform/aggregate fold over the same double literals,
    built as ONE string instead of ~9 py4j round trips per centroid.
    With m*k centroids embedded per plan, Column-by-Column construction
    was 8-10 s of pure driver time per serve (measured at sf0.1);
    parsing one expression string is milliseconds. The analyzed
    expression tree — and therefore every emitted double — is
    identical (pinned by test against the Column builder)."""
    arr = "array(" + ", ".join(_lit_double_sql(x) for x in centroid) + ")"
    return (
        f"aggregate(transform(zip_with({sub_sql}, {arr}, "
        "(x, y) -> CAST(x AS DOUBLE) - CAST(y AS DOUBLE)), "
        "x -> x * x), 0.0D, (acc, x) -> acc + x)"
    )


def encode_corpus(
    corpus: DataFrame,
    codebooks: list[list[list[float]]],
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """(vec_id, s, code): nearest-centroid code per subspace — narrow
    scan, centroids embedded as plan literals (argmin over k squared
    distances via ``array_position`` of the minimum). The m*k distance
    folds are assembled as one SQL expression string (see
    :func:`_sq_dist_sql`)."""
    sub_dim = len(codebooks[0][0])
    entries = []
    for s, book in enumerate(codebooks):
        sub = f"slice(`{vec_col}`, {s * sub_dim + 1}, {sub_dim})"
        dists = "array(" + ", ".join(_sq_dist_sql(sub, c) for c in book) + ")"
        entries.append(
            f"named_struct('s', {s}, 'code', "
            f"CAST(array_position({dists}, array_min({dists})) - 1 AS INT))"
        )
    return corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.explode(F.expr("array(" + ", ".join(entries) + ")")).alias("e"),
    ).select("neighbor_id", "e.s", "e.code")


def query_lut(
    queries: DataFrame,
    codebooks: list[list[list[float]]],
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """(query_id, s, code, sq_dist): the ADC lookup table — one row per
    query x subspace x centroid (|Q| * m * k rows, broadcast-sized).
    Same one-string expression assembly as :func:`encode_corpus`."""
    sub_dim = len(codebooks[0][0])
    entries = []
    for s, book in enumerate(codebooks):
        sub = f"slice(`{vec_col}`, {s * sub_dim + 1}, {sub_dim})"
        for c_idx, c in enumerate(book):
            entries.append(
                f"named_struct('s', {s}, 'code', {c_idx}, "
                f"'sq_dist', {_sq_dist_sql(sub, c)})"
            )
    return queries.select(
        F.col(id_col).alias("query_id"),
        F.explode(F.expr("array(" + ", ".join(entries) + ")")).alias("e"),
    ).select("query_id", "e.s", "e.code", "e.sq_dist")


def fit_pq_index(
    corpus: DataFrame,
    m: int = PQ_SUBSPACES,
    codebook_k: int = PQ_CODEBOOK,
    seed: int = 42,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    codebooks: list[list[list[float]]] | None = None,
) -> tuple[DataFrame, list[list[list[float]]]]:
    """OFFLINE phase of the PQ index, split out (mirroring
    similarity.fit_ivf_index) so serving can be timed and re-run
    without re-fitting: train per-subspace codebooks (or reuse the ones
    passed in) and encode the corpus. Returns ``(codes, codebooks)`` —
    codes is ``(neighbor_id, s, code)``, the corpus-sized frame you
    PERSIST as the index at 100 TB (~64x smaller than the floats);
    codebooks are kilobyte-sized and go in a model store
    (:func:`save_codebooks` / :func:`load_codebooks`)."""
    books = codebooks or train_codebooks(corpus, m, codebook_k, seed, vec_col)
    return encode_corpus(corpus, books, vec_col, id_col), books


def pq_serve_topk(
    queries: DataFrame,
    codes: DataFrame,
    codebooks: list[list[list[float]]],
    k: int = 5,
    rerank: int | None = None,
    corpus: DataFrame | None = None,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """ONLINE phase over a prebuilt :func:`fit_pq_index` result: build
    the per-query ADC lookup table (|Q| * m * k rows, broadcast-sized),
    score via the (codes x LUT) int join + one (query, neighbor) sum —
    the corpus floats are never read for scoring. ``rerank=R`` needs
    the float vectors for the R-shortlist only, so ``corpus`` must be
    passed then (the serve join against it is shortlist-sized, not a
    scan)."""
    lut = query_lut(queries, codebooks, vec_col, id_col)
    scored = (
        codes.join(F.broadcast(lut), ["s", "code"])
        .groupBy("query_id", "neighbor_id")
        .agg(F.sum("sq_dist").alias("dist"))
    )
    w = Window.partitionBy("query_id").orderBy(F.asc("dist"), F.asc("neighbor_id"))
    if rerank is not None:
        if corpus is None:
            raise ValueError("rerank requires the corpus float vectors")
        shortlist = (
            scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= rerank)
            .select("query_id", "neighbor_id")
        )
        qv = queries.select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("qv"))
        cv = corpus.select(
            F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("cv")
        )
        # broadcast the Q*R-row shortlist side against the corpus floats:
        # at 100 TB the rerank must be a broadcast probe into the corpus,
        # never a corpus shuffle (don't leave it to AQE's size estimate)
        scored = F.broadcast(shortlist.join(F.broadcast(qv), "query_id")).join(
            cv, "neighbor_id"
        ).select(
            "query_id", "neighbor_id", _sq_dist(F.col("qv"), F.col("cv")).alias("dist")
        )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "rank", "neighbor_id", "dist")
    )


def pq_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    m: int = PQ_SUBSPACES,
    codebook_k: int = PQ_CODEBOOK,
    seed: int = 42,
    rerank: int | None = None,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    codebooks: list[list[list[float]]] | None = None,
) -> DataFrame:
    """ADC top-k: (query_id, rank, neighbor_id, dist), smallest
    (approximate) squared L2 first. End-to-end composition of
    :func:`fit_pq_index` + :func:`pq_serve_topk` — the split is the
    production shape (fit offline once, serve per query batch); this
    wrapper is the gate/registry entry.

    The score join is (codes x LUT) on (s, code) ints followed by one
    (query, neighbor) sum — the corpus' float vectors are never read
    for scoring, which is the entire point of PQ at 100 TB.

    ``rerank=R`` enables the production second stage: take the top R
    ADC candidates per query, fetch ONLY those R float vectors (a
    broadcast-semi-join-sized read, not a corpus scan), and re-rank by
    exact squared L2. Quantization error then costs recall only when a
    true neighbor falls outside the R-shortlist — measured on the gate
    corpus (500 x 64-d synthetic gaussians, distance concentration
    makes this the HARD case for PQ): recall@5 is 0.30 raw ADC (m=4),
    0.84 with m=8 + R=50 rerank; self-neighbor is recovered 10/10 even
    raw. ``dist`` is the ADC approximation when rerank is None, exact
    when set.
    """
    codes, books = fit_pq_index(
        corpus, m, codebook_k, seed, vec_col, id_col, codebooks
    )
    return pq_serve_topk(
        queries, codes, books, k=k, rerank=rerank, corpus=corpus,
        vec_col=vec_col, id_col=id_col,
    )


def ivf_pq_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    n_centroids: int = 8,
    n_probe: int = 2,
    m: int = PQ_SUBSPACES * 2,
    codebook_k: int = PQ_CODEBOOK,
    seed: int = 42,
    rerank: int | None = 50,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    codebooks: list[list[list[float]]] | None = None,
    coarse_fit_key: tuple | None = None,
) -> DataFrame:
    """IVF-PQ: coarse-quantizer routing + PQ-compressed scoring — the
    standard production vector-index layout (FAISS ``IVFx,PQy``).

    Offline: KMeans coarse centroids partition the corpus into buckets
    (the storage partition key); PQ codebooks compress every vector to
    ``m`` codes. Online: each query probes its ``n_probe`` nearest
    buckets (centroid table is plan-broadcast), ADC-scores ONLY the
    probed buckets' codes against the query LUT, and optionally
    reranks the shortlist with exact distances. Cost per query:
    |corpus|/n_centroids * n_probe code lookups + R float reads —
    at 100 TB neither a corpus scan nor corpus float I/O.

    Deterministic given seeds; learned quantizers -> rows-only query,
    recall gated in tests vs exact L2 (same gates as pq_topk/IVF).

    Sizing the knobs (measured at 600k x 64-d, SCALE_NOTES round-8):
    recall@5 is set by RERANK DEPTH, not n_probe — ADC with m=8
    misranks true neighbors out of a 50-deep shortlist (recall 0.38)
    while rerank=200 -> 0.74 and rerank=500 -> 1.00, flat across
    probes. n_centroids sets serve COST: at 8 cells serve time climbed
    2.4x across the probe sweep, at 64 cells (~sqrt(N) territory) it
    was flat ~5.5 s. Production rule: n_centroids ~ sqrt(corpus),
    n_probe=2 for boundary safety, rerank sized to the recall target
    (it is Q x R float fetches — shortlist I/O, never a corpus scan).
    The small defaults here fit the gate corpus.
    """
    codes, centroids, books = fit_ivf_pq_index(
        corpus, n_centroids, m, codebook_k, seed, vec_col, id_col, codebooks,
        coarse_fit_key=coarse_fit_key,
    )
    return ivf_pq_serve_topk(
        queries, codes, centroids, books,
        k=k, n_probe=n_probe, rerank=rerank, corpus=corpus,
        vec_col=vec_col, id_col=id_col,
    )


def fit_ivf_pq_index(
    corpus: DataFrame,
    n_centroids: int = 8,
    m: int = PQ_SUBSPACES * 2,
    codebook_k: int = PQ_CODEBOOK,
    seed: int = 42,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    codebooks: list[list[list[float]]] | None = None,
    coarse_fit_key: tuple | None = None,
) -> tuple[DataFrame, DataFrame, list[list[list[float]]]]:
    """OFFLINE phase of IVF-PQ: train the coarse quantizer, bucket the
    corpus, train (or reuse) PQ codebooks, and encode. Returns
    ``(codes, centroids, codebooks)`` — codes is
    ``(neighbor_id, s, code, bucket)``, the frame you persist
    PARTITIONED BY bucket at 100 TB so a probe reads only its
    directories; centroids is ``n_centroids`` rows; codebooks go in
    the model store. ``coarse_fit_key`` memoizes the coarse KMeans per
    (session, corpus) — see similarity._fit_kmeans_cached."""
    from pyspark.ml.functions import array_to_vector

    from bigdatalab_spark.scale.similarity import _fit_kmeans_cached

    corpus_v = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        array_to_vector(F.col(vec_col).cast("array<double>")).alias("features"),
    )
    coarse = _fit_kmeans_cached(corpus_v, coarse_fit_key, n_centroids, seed)
    assigned = coarse.transform(corpus_v).select(
        "neighbor_id", F.col("prediction").alias("bucket")
    )
    books = codebooks or train_codebooks(corpus, m, codebook_k, seed + 1, vec_col)
    codes = encode_corpus(corpus, books, vec_col, id_col).join(assigned, "neighbor_id")
    spark = corpus.sparkSession
    centroids = spark.createDataFrame(
        [
            (int(b), [float(x) for x in c])
            for b, c in enumerate(coarse.clusterCenters())
        ],
        "bucket int, center array<double>",
    )
    return codes, centroids, books


def ivf_pq_serve_topk(
    queries: DataFrame,
    codes: DataFrame,
    centroids: DataFrame,
    codebooks: list[list[list[float]]],
    k: int = 5,
    n_probe: int = 2,
    rerank: int | None = None,
    corpus: DataFrame | None = None,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """ONLINE phase over a prebuilt :func:`fit_ivf_pq_index` result:
    probe each query's ``n_probe`` nearest buckets (centroid table is
    broadcast), ADC-score ONLY the probed buckets' codes against the
    broadcast query LUT, optionally exact-rerank the shortlist
    (``corpus`` floats required then, shortlist-sized read).

    ``rerank`` defaults to None so the durable-index path
    (:func:`load_ivf_pq_index` → serve) works with default args — the
    loaded triple has no float corpus; pass ``rerank=R`` together with
    ``corpus`` to enable the exact second stage (the
    :func:`ivf_pq_topk` convenience wrapper keeps rerank=50 because it
    always has the corpus in hand)."""
    q_rows = queries.select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("qv"))
    wp = Window.partitionBy("query_id").orderBy(F.asc("c_dist"), F.asc("bucket"))
    probes = (
        q_rows.crossJoin(F.broadcast(centroids))
        .select(
            "query_id",
            "bucket",
            _sq_dist(F.col("qv").cast("array<double>"), F.col("center")).alias(
                "c_dist"
            ),
        )
        .withColumn("_pr", F.row_number().over(wp))
        .filter(F.col("_pr") <= n_probe)
        .select("query_id", "bucket")
    )
    lut = query_lut(queries, codebooks, vec_col, id_col)
    scored = (
        codes.join(F.broadcast(probes), "bucket")
        .join(F.broadcast(lut), ["query_id", "s", "code"])
        .groupBy("query_id", "neighbor_id")
        .agg(F.sum("sq_dist").alias("dist"))
    )
    w = Window.partitionBy("query_id").orderBy(F.asc("dist"), F.asc("neighbor_id"))
    if rerank is not None:
        if corpus is None:
            raise ValueError("rerank requires the corpus float vectors")
        shortlist = (
            scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= rerank)
            .select("query_id", "neighbor_id")
        )
        cv = corpus.select(F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("cv"))
        # same contract as pq_serve_topk: the Q*R shortlist broadcasts
        # into the corpus floats — a probe, never a corpus shuffle
        scored = (
            F.broadcast(shortlist.join(F.broadcast(q_rows), "query_id"))
            .join(cv, "neighbor_id")
            .select(
                "query_id",
                "neighbor_id",
                _sq_dist(F.col("qv"), F.col("cv")).alias("dist"),
            )
        )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "rank", "neighbor_id", "dist")
    )


#: session-scoped trained-codebook store, keyed on (corpus key, m, k,
#: seed) — the "train once on a sample, serve every query batch"
#: amortization the module docstring promises, made concrete. At 100 TB
#: the codebooks live in a model store next to the encoded table; here
#: the memo plays that role for the session lifetime.
_CODEBOOK_MEMO: dict[tuple, list[list[list[float]]]] = {}

#: memo bound — FIFO-evicted past this; a codebook is m*k*(dim/m)
#: floats (~kilobytes), so the bound guards entry-count growth from
#: pathological key churn, not memory per entry
_MEMO_MAX_ENTRIES = 16


def train_codebooks_cached(
    corpus: DataFrame,
    corpus_key: tuple,
    m: int = PQ_SUBSPACES,
    k: int = PQ_CODEBOOK,
    seed: int = 42,
    vec_col: str = "embedding",
) -> list[list[list[float]]]:
    """Memoized :func:`train_codebooks`. ``corpus_key`` must identify
    the corpus CONTENTS — callers use ``(applicationId,
    corpus_fingerprint(sf_dir, table))`` (sources/readers.py), which
    folds file sizes/mtimes into the key so in-session data changes
    invalidate stale codebooks instead of silently serving them.
    Bounded FIFO (``_MEMO_MAX_ENTRIES``)."""
    memo_key = (corpus_key, m, k, seed, vec_col)
    if memo_key not in _CODEBOOK_MEMO:
        while len(_CODEBOOK_MEMO) >= _MEMO_MAX_ENTRIES:
            _CODEBOOK_MEMO.pop(next(iter(_CODEBOOK_MEMO)))
        _CODEBOOK_MEMO[memo_key] = train_codebooks(corpus, m, k, seed, vec_col)
    return _CODEBOOK_MEMO[memo_key]


def save_codebooks(codebooks: list[list[list[float]]], path: str) -> None:
    """Persist trained PQ codebooks as JSON — the durable model-store
    half of the fit/serve split (the session memo above only lives as
    long as the process; a serving cluster loads the codebooks that
    were trained when the encoded table was built — serving with ANY
    other codebooks silently mis-scores every query). Atomic
    write-temp + rename, same pointer discipline as the versioned
    sink. Floats round-trip exactly (repr-precision JSON)."""
    import json
    import os

    payload = {
        "format": "pq-codebooks-v1",
        "m": len(codebooks),
        "k": len(codebooks[0]) if codebooks else 0,
        "sub_dim": len(codebooks[0][0]) if codebooks and codebooks[0] else 0,
        "codebooks": codebooks,
    }
    tmp = f"{path}.tmp"
    with open(tmp, "w", encoding="utf-8") as fh:
        json.dump(payload, fh)
    os.replace(tmp, path)


def load_codebooks(path: str) -> list[list[list[float]]]:
    """Load codebooks written by :func:`save_codebooks`; validates the
    format marker and the (m, k, sub_dim) header against the payload so
    a truncated or foreign file fails loudly, not as bad distances."""
    import json

    with open(path, encoding="utf-8") as fh:
        payload = json.load(fh)
    if payload.get("format") != "pq-codebooks-v1":
        raise ValueError(f"{path}: not a pq-codebooks-v1 file")
    books = payload["codebooks"]
    if (
        len(books) != payload["m"]
        or any(len(b) != payload["k"] for b in books)
        or any(len(c) != payload["sub_dim"] for b in books for c in b)
    ):
        raise ValueError(f"{path}: codebook payload does not match its header")
    return [[[float(x) for x in c] for c in b] for b in books]


def save_ivf_pq_index(
    codes: DataFrame,
    centroids: DataFrame,
    codebooks: list[list[list[float]]],
    path: str,
) -> None:
    """Persist a :func:`fit_ivf_pq_index` result as the full durable
    index: codes written PARTITIONED BY bucket (``path/codes/bucket=N``
    — the serving join's broadcast probe set dynamic-partition-prunes
    this scan to the probed directories), centroid table beside it,
    codebooks in the JSON model store. Together these are everything a
    fresh serving cluster needs; the float corpus is only touched by
    the optional rerank stage."""
    codes.write.mode("overwrite").partitionBy("bucket").parquet(f"{path}/codes")
    centroids.write.mode("overwrite").parquet(f"{path}/centroids")
    codes.sparkSession.createDataFrame(
        [], "neighbor_id long"
    ).write.mode("overwrite").parquet(f"{path}/tombstones")
    save_codebooks(codebooks, f"{path}/codebooks.json")


def append_to_ivf_pq_index(
    new_vectors: DataFrame,
    path: str,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> None:
    """Fold new vectors into a stored :func:`save_ivf_pq_index`
    without refitting — same contract as
    :func:`~bigdatalab_spark.scale.similarity.append_to_ivf_index`:
    the coarse quantizer AND the PQ codebooks are frozen (both are
    models; refitting either invalidates every stored code), new
    vectors are encoded with the stored codebooks
    (:func:`encode_corpus` — codebook centroids as plan literals),
    bucketed against the stored centroid table, and appended into the
    existing ``codes/bucket=N/`` directories. One store is written by
    one job (centroids and codebooks are immutable), so a crashed
    append leaves only ``_temporary`` debris; the writer lock
    serializes appends against each other and against a rebuild. Ids
    must be new. Quantization drift: new-distribution vectors encode
    against old codebooks with growing reconstruction error — the
    rerank stage absorbs moderate drift (exact distances on the
    shortlist); a refit + full re-encode is the reset."""
    from bigdatalab_spark.scale.similarity import assign_to_centroids
    from bigdatalab_spark.sources.locks import dataset_write_lock

    spark = new_vectors.sparkSession
    with dataset_write_lock(path, "append_to_ivf_pq_index"):
        centroids = spark.read.parquet(f"{path}/centroids")
        books = load_codebooks(f"{path}/codebooks.json")
        assigned = assign_to_centroids(
            new_vectors, centroids, vec_col, id_col
        ).select("neighbor_id", "bucket")
        (
            encode_corpus(new_vectors, books, vec_col, id_col)
            .join(assigned, "neighbor_id")
            .write.mode("append")
            .partitionBy("bucket")
            .parquet(f"{path}/codes")
        )


def compact_ivf_pq_index(
    spark, path: str, max_records_per_file: int = 5_000_000
) -> dict:
    """Small-file compaction for a :func:`save_ivf_pq_index` layout —
    the codes-store twin of
    :func:`~bigdatalab_spark.scale.similarity.compact_ivf_index`
    (appends fragment ``codes/bucket=N/``; centroids and the codebook
    JSON are immutable and left alone). Layout-only, two-rename flip,
    index-root writer lock. The serve is probe-pruned, so the
    parallelism-floor rule for ``max_records_per_file`` in
    :func:`~bigdatalab_spark.scale.similarity.compact_ivf_index`
    applies here verbatim (SCALE_NOTES round-8)."""
    from bigdatalab_spark.sources.locks import dataset_write_lock
    from bigdatalab_spark.sources.sinks import _compact_partitions_locked

    with dataset_write_lock(path, "compact_ivf_pq_index"):
        return {
            "codes": _compact_partitions_locked(
                spark, f"{path}/codes", ("bucket",), max_records_per_file
            )
        }


def remove_from_ivf_pq_index(vec_ids, path: str) -> int:
    """Logically delete vectors from a :func:`save_ivf_pq_index` —
    same tombstone contract as
    :func:`~bigdatalab_spark.scale.similarity.remove_from_ivf_index`,
    applied to the codes store (the rerank corpus, if any, is the
    caller's table; a tombstoned id never reaches rerank because it is
    filtered before the shortlist forms)."""
    from bigdatalab_spark.scale.similarity import _remove_from_index

    return _remove_from_index(vec_ids, path, "remove_from_ivf_pq_index")


def purge_ivf_pq_tombstones(
    spark, path: str, max_records_per_file: int = 5_000_000
) -> dict:
    """Physically reclaim tombstoned code rows (bucket partitioning
    preserved), then empty the tombstone store — the IVF-PQ twin of
    :func:`~bigdatalab_spark.scale.similarity.purge_ivf_tombstones`."""
    from bigdatalab_spark.scale.similarity import _purge_index_tombstones

    return _purge_index_tombstones(
        spark, path, "codes", "purge_ivf_pq_tombstones", max_records_per_file
    )


def load_ivf_pq_index(spark, path: str):
    """Load :func:`save_ivf_pq_index` back as ``(codes, centroids,
    codebooks)``, serve-ready for :func:`ivf_pq_serve_topk`.
    Tombstoned vectors are filtered here (anti-join against
    ``path/tombstones``; absent store = nothing deleted)."""
    from bigdatalab_spark.scale.similarity import _apply_index_tombstones

    return (
        _apply_index_tombstones(
            spark, spark.read.parquet(f"{path}/codes"), path
        ),
        spark.read.parquet(f"{path}/centroids"),
        load_codebooks(f"{path}/codebooks.json"),
    )
