"""The benchmark's two closed-loop workloads.

Each workload generates its inputs from the seed, loads them, runs warm
rounds and timed rounds of ops through the engine's public entry points,
and checks the outputs after the timed window. An op is a ``build``
callable (everything up to the final action) plus an optional
``action``; see :class:`perfbench.harness.Runner`.
"""

from __future__ import annotations

import hashlib
import os

import numpy as np

from perfbench import gen

#: corpus size for llm_curation (documents, embedding vectors)
CORPUS_DOCS, CORPUS_VECTORS = 1000, 600
#: lakehouse table: live rows, rows per micro-batch
LAKE_ROWS, LAKE_BATCH = 60_000, 2_000
#: files a compaction leaves behind
LAKE_FILES = 6


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _oracle_con(data_dir: str):
    """DuckDB over the generated tables, one view per parquet file."""
    import duckdb

    con = duckdb.connect()
    for f in sorted(os.listdir(data_dir)):
        if f.endswith(".parquet"):
            con.execute(
                f"CREATE VIEW {f[:-8]} AS SELECT * FROM '{os.path.join(data_dir, f)}'"
            )
    return con


def _fingerprint(pdf) -> str:
    from tools.oracle_check import _normalize

    _, rendered = _normalize(pdf)
    h = hashlib.sha256(",".join(rendered.columns).encode())
    for row in rendered.itertuples(index=False):
        h.update("\x00".join(row).encode())
    return h.hexdigest()


class LLMCuration:
    """Whole rounds, in a seeded order, of the curation registry queries.
    The warm round collects each result for the check; timed rounds run
    into the noop sink."""

    kinds = (
        "dedup_minhash_lsh",
        "dedup_exact",
        "quality_scores",
        "ann_cosine_topk",
        "semantic_dedup",
        "curation_pipeline",
    )
    #: no DuckDB oracle exists (learned KMeans blocking)
    no_oracle = ("semantic_dedup",)
    # every kind gets two samples per run; its light kinds vary by a
    # fifth from one op to the next
    min_rounds = 2
    #: set-ups per run, ``setup_s`` is their median. A set-up here is
    #: short (about 0.35 s) and keeps getting faster for about five
    #: cycles as the JVM compiles its code paths; the median of eight
    #: sits where that curve has flattened.
    setup_cycles = 8

    def __init__(self, seed: int) -> None:
        self.seed = seed
        self.results: dict[str, object] = {}

    def generate(self, data_dir: str) -> None:
        gen.corpus(data_dir, self.seed, CORPUS_DOCS, CORPUS_VECTORS)

    def load(self, spark, data_dir: str) -> None:
        from bigdatalab_spark.sources import load_table

        import __spark_entry__

        self.spark, self.data_dir = spark, data_dir
        self.fns = __spark_entry__.queries()
        self.oracles = __spark_entry__.oracle_sql()
        for f in sorted(os.listdir(data_dir)):
            if f.endswith(".parquet"):
                load_table(spark, data_dir, f[:-8])

    def _build(self, kind: str):
        return lambda: self.fns[kind](self.spark, self.data_dir)

    def warm(self, runner) -> None:
        for kind in self.kinds:
            ok, pdf = runner.op(kind, self._build(kind), lambda df: df.toPandas(), warm=True)
            if ok:
                self.results[kind] = pdf

    def round(self, runner, r: int) -> None:
        order = np.random.default_rng([self.seed, 10, r]).permutation(len(self.kinds))
        for i in order:
            runner.op(self.kinds[i], self._build(self.kinds[i]), _noop)

    def check(self, runner) -> dict[str, list[str]]:
        from tools.oracle_check import compare_frames

        problems: dict[str, list[str]] = {}
        con = _oracle_con(self.data_dir)
        try:
            for kind in self.kinds:
                if kind not in self.results:
                    problems[kind] = ["no result (the warm op failed)"]
                elif kind in self.no_oracle:
                    problems.update(self.check_stable(runner, kind))
                else:
                    expect = con.execute(self.oracles[kind]).fetchdf()
                    problems[kind] = compare_frames(self.results[kind], expect)
        finally:
            con.close()
        return problems

    def check_stable(self, runner, kind: str) -> dict[str, list[str]]:
        """A later run must reproduce the warm round's result exactly."""
        label = f"{kind} [stable fingerprint across rounds, no oracle]"
        ok, pdf = runner.op(kind, self._build(kind), lambda df: df.toPandas(), warm=True)
        if not ok:
            return {label: ["re-run failed"]}
        if len(pdf) == 0:
            return {label: ["empty result"]}
        a, b = _fingerprint(self.results[kind]), _fingerprint(pdf)
        return {label: [] if a == b else [f"fingerprint {a[:12]} != {b[:12]}"]}

    def layer(self) -> dict[str, float]:
        return {"scale.dedup.verify_yield": self.verify_yield()}

    def verify_yield(self) -> float:
        """Verified near-dup pairs over LSH candidate pairs on the corpus,
        with the same stages ``minhash_near_dups`` composes."""
        from pyspark.sql import functions as F

        from bigdatalab_spark.scale import dedup
        from bigdatalab_spark.sources import load_table

        docs = load_table(self.spark, self.data_dir, "documents")
        sh = dedup.doc_shingles(docs).cache()
        cands = dedup.lsh_candidate_pairs(dedup.minhash_signatures(sh), max_bucket_size=500)
        n_cands = cands.count()
        n_ok = dedup.jaccard_verify(cands, sh).filter(F.col("jaccard") >= 0.5).count()
        sh.unpersist()
        return n_ok / n_cands if n_cands else 0.0


class LakehouseIngest:
    """Seeded micro-batches applied to one live ManagedTable. A round is
    append, upsert (``managed_merge_batch``) and ``delete_range``, each
    followed by a ``pruned_read`` of the key range it touched, then a
    compaction and a vacuum, so rows, files and bytes return to the same
    level at every round boundary."""

    kinds = ("append", "upsert", "delete_range", "pruned_read", "compact", "vacuum")
    commit_kinds = ("append", "upsert", "delete_range")
    # a fixed round count: rounds still speed up as the JVM warms, so a
    # count that depends on speed would shift every median
    min_rounds = 3
    #: a set-up here writes the table (about 1 s), so fewer of them fit
    #: the time a measurement pass may take
    setup_cycles = 5

    def __init__(self, seed: int) -> None:
        self.seed = seed
        self.plan = gen.LakePlan(seed, LAKE_ROWS, LAKE_BATCH)
        self.cycle = 0
        self.pool = 0
        self.reads: list[tuple[int, int, int, tuple | None]] = []
        self.log: list[tuple] = []
        # traced runs only: per timed read, candidate over live files;
        # bytes of new files under the table over input batch bytes
        self.traced = False
        self.files_start = 0
        self.cand_fracs: list[float] = []
        self.bytes_in = self.bytes_new = 0
        self._inodes: set[tuple[int, int]] = set()

    def _extend_pool(self, upto: int) -> None:
        if upto > self.pool:
            gen.lake_batches(self.batch_dir, self.plan, range(self.pool, upto))
            self.pool = upto

    def generate(self, data_dir: str) -> None:
        import pyarrow.parquet as pq

        pq.write_table(self.plan.initial(), os.path.join(data_dir, "initial.parquet"))
        self.batch_dir = os.path.join(data_dir, "batches")
        self.pool = 0
        self._extend_pool(8)

    def load(self, spark, data_dir: str) -> None:
        from bigdatalab_spark.sources.managed import ManagedTable

        self.spark, self.data_dir = spark, data_dir
        self.table = ManagedTable(
            spark, os.path.join(data_dir, "table"), index_cols=("key",)
        )
        self.table.write(
            spark.read.parquet(os.path.join(data_dir, "initial.parquet"))
            .repartitionByRange(LAKE_FILES, "key")
            .sortWithinPartitions("key")
        )

    def files_live(self) -> int:
        return len(self.table.candidate_files("key", -(2**62), 2**62))

    def _read(self, runner, lo: int, hi: int, warm: bool) -> None:
        from pyspark.sql import functions as F

        ok, row = runner.op(
            "pruned_read",
            lambda: self.table.pruned_read("key", lo, hi),
            lambda df: tuple(df.agg(F.count(F.lit(1)), F.sum("val")).collect()[0]),
            warm=warm,
        )
        self.reads.append((len(self.log), lo, hi, row if ok else None))
        if self.traced and not warm:
            cand = len(self.table.candidate_files("key", lo, hi))
            self.cand_fracs.append(cand / max(self.files_live(), 1))

    def _new_bytes(self) -> int:
        """Bytes of files under the table not seen before (hard links
        share an inode, so carried files count once)."""
        new = 0
        for d, _, files in os.walk(self.table.path):
            for f in files:
                st = os.stat(os.path.join(d, f))
                if (st.st_dev, st.st_ino) not in self._inodes:
                    self._inodes.add((st.st_dev, st.st_ino))
                    new += st.st_size
        return new

    def _commit(self, runner, kind: str, fn, warm: bool, in_bytes: int = 0) -> None:
        ok, _ = runner.op(kind, fn, warm=warm)
        if ok:
            self.log.append((kind, self.cycle))
        if self.traced:
            new = self._new_bytes()
            if not warm:
                self.bytes_new += new
                self.bytes_in += in_bytes

    def _round(self, runner, warm: bool) -> None:
        from bigdatalab_spark.streaming import jobs

        c, p, spark = self.cycle, self.plan, self.spark
        self._extend_pool(c + 1)
        app = os.path.join(self.batch_dir, f"append_{c}.parquet")
        ups = os.path.join(self.batch_dir, f"upsert_{c}.parquet")
        self._commit(runner, "append", lambda: self.table.append(spark.read.parquet(app)),
                     warm, os.path.getsize(app))
        self._read(runner, p.hi(c), p.hi(c) + p.batch - 1, warm)
        self._commit(
            runner, "upsert",
            lambda: jobs.managed_merge_batch(
                self.table, spark.read.parquet(ups), c, ("key",), order_col="seq"
            ),
            warm, os.path.getsize(ups),
        )
        top = p.hi(c) + p.batch
        self._read(runner, top - p.upd, top + p.ins - 1, warm)
        lo, hi = p.delete_range(c)
        self._commit(runner, "delete_range", lambda: self.table.delete_range("key", lo, hi), warm)
        self._read(runner, lo, hi, warm)
        self._commit(
            runner, "compact",
            lambda: self.table.compact(target_file_rows=LAKE_ROWS // LAKE_FILES), warm,
        )
        self._commit(runner, "vacuum", lambda: self.table.vacuum(keep_last=2), warm)
        self.cycle += 1

    def warm(self, runner) -> None:
        self._round(runner, warm=True)

    def round(self, runner, r: int) -> None:
        if self.traced and r == 0:
            self.files_start = self.files_live()
        self._round(runner, warm=False)

    def layer(self) -> dict[str, float]:
        return {
            "sources.managed.files_live_start": self.files_start,
            "sources.managed.files_live_end": self.files_live(),
            "sources.managed.candidate_frac": sum(self.cand_fracs) / max(len(self.cand_fracs), 1),
            "sources.managed.write_amp": self.bytes_new / max(self.bytes_in, 1),
        }

    def check(self, runner) -> dict[str, list[str]]:
        """Replay the committed op sequence on the generated batches with
        pandas; the table must equal the replay, and every read-back must
        equal the replay's rows in its range at that point."""
        import pandas as pd

        p = self.plan
        state = p.initial().to_pandas().set_index("key")
        expected_reads = {}
        ri = 0
        for step in range(len(self.log) + 1):
            while ri < len(self.reads) and self.reads[ri][0] == step:
                _, lo, hi, _row = self.reads[ri]
                sel = state.loc[lo:hi, "val"]
                expected_reads[ri] = (len(sel), int(sel.sum()) if len(sel) else None)
                ri += 1
            if step == len(self.log):
                break
            kind, c = self.log[step]
            if kind == "append":
                state = pd.concat([state, p.append(c).to_pandas().set_index("key")])
            elif kind == "upsert":
                b = p.upsert(c).to_pandas().set_index("key")
                old = state.reindex(b.index)
                take = old["seq"].isna() | (b["seq"] >= old["seq"])
                b = b[take]
                state = pd.concat([state.drop(b.index, errors="ignore"), b]).sort_index()
            elif kind == "delete_range":
                lo, hi = p.delete_range(c)
                state = state.drop(state.loc[lo:hi].index)
            state = state.sort_index()
        problems: dict[str, list[str]] = {"pruned_read": [], "table = replay": []}
        bad = [
            (lo, hi, row, expected_reads[i])
            for i, (_, lo, hi, row) in enumerate(self.reads)
            if row is not None and tuple(row) != expected_reads[i]
        ]
        if bad:
            problems["pruned_read"].append(f"{len(bad)} read-backs differ, first {bad[0]}")
        got = self.table.read().toPandas().sort_values("key").reset_index(drop=True)
        want = state.reset_index()[got.columns.tolist()].reset_index(drop=True)
        if len(got) != len(want):
            problems["table = replay"].append(f"rows: table={len(got)} replay={len(want)}")
        elif not got.astype(str).equals(want.astype(str)):
            problems["table = replay"].append("row contents differ from the replay")
        return problems


WORKLOADS = {
    "llm_curation": LLMCuration,
    "lakehouse_ingest": LakehouseIngest,
}
