"""Seeded input generator for the benchmark.

Everything the engine reads during a run is written here, from one seed,
into a directory the run owns: the corpus tables in the layout
``bigdatalab_spark.sources.load_table`` expects (one parquet file per
table), and the lakehouse micro-batches. The same seed gives byte-equal
inputs. The corpus uses a 30-word vocabulary, like the documents the
engine's oracle suite was written against.

The corpus carries planted near-duplicate families and exact copies,
and the embeddings carry near-identical copies, so the dedup operators
have real work and real output.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
DUP_MARKER = "dup"
LANGS = ("en", "de", "es", "fr", "zh")
LANG_P = (0.4, 0.15, 0.15, 0.15, 0.15)
EMBED_DIM = 64


def _write(out_dir: str, name: str, cols: dict) -> None:
    pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))


def corpus(out_dir: str, seed: int, n_docs: int, n_vectors: int) -> None:
    """``documents`` with planted near-duplicate families and
    ``embeddings`` with planted near-identical vectors.

    The seed picks the words and vector values only. Document lengths,
    family membership and copy positions are the same for every seed,
    so the dedup operators do the same amount of work on every seed. In
    each block of ten documents, positions 8 and 9 are near-duplicates
    of position 0 (one marker token inserted, Jaccard above 0.92, where
    the 4x4 MinHash banding finds a pair with probability above 0.99),
    and in every other block position 7 is an exact copy of position 1.
    """
    rng = np.random.default_rng([seed, 2])
    vocab = np.array(VOCAB)
    lengths = 40 + (np.arange(n_docs) * 37) % 41
    texts: list[str] = []
    for i in range(n_docs):
        pos, base = i % 10, i - i % 10
        if pos >= 8:
            ws = texts[base].split()
            ws.insert(int(rng.integers(1, len(ws))), DUP_MARKER)
            texts.append(" ".join(ws))
        elif pos == 7 and (i // 10) % 2:
            texts.append(texts[base + 1])
        else:
            texts.append(" ".join(rng.choice(vocab, int(lengths[i]))))
    _write(out_dir, "documents", {
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(LANGS, n_docs, p=LANG_P),
        "source": np.char.add("src", rng.integers(0, 20, n_docs).astype(str)),
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })

    centers = rng.normal(0.0, 1.0, (10, EMBED_DIM))
    labels = np.arange(n_vectors) % 10
    vecs = centers[labels] * 0.05 + rng.normal(0.0, 0.12, (n_vectors, EMBED_DIM))
    # every 20th vector is a near-identical copy of the one 10 before it
    # (same label; cosine well above the 0.95 dedup threshold)
    copy = np.arange(19, n_vectors, 20)
    vecs[copy] = vecs[copy - 10] + rng.normal(0.0, 0.004, (len(copy), EMBED_DIM))
    vecs = vecs.astype(np.float32)
    _write(out_dir, "embeddings", {
        "vec_id": np.arange(n_vectors, dtype=np.int64),
        "embedding": pa.FixedSizeListArray.from_arrays(
            pa.array(vecs.ravel(), pa.float32()), EMBED_DIM
        ).cast(pa.list_(pa.float32())),
        "label": labels.astype(np.int32),
    })


# ---- lakehouse ----------------------------------------------------------

LAKE_SCHEMA = pa.schema([
    ("key", pa.int64()),
    ("grp", pa.int32()),
    ("val", pa.int64()),
    ("seq", pa.int64()),
    ("note", pa.string()),
])


class LakePlan:
    """The seeded op sequence of the lakehouse workload.

    The table starts with keys ``[0, rows)``. Cycle ``c`` appends the
    next ``batch`` keys, upserts a window that updates the newest
    ``0.8 * batch`` keys and inserts ``0.2 * batch`` more, then deletes
    the oldest ``1.2 * batch`` keys, so the live row count stays at
    ``rows`` and the live key range slides. Every batch is a pure
    function of ``(seed, c)``.
    """

    def __init__(self, seed: int, rows: int, batch: int) -> None:
        self.seed, self.rows, self.batch = seed, rows, batch
        self.upd = batch * 4 // 5
        self.ins = batch - self.upd
        self.step = batch + self.ins

    def lo(self, c: int) -> int:
        return self.step * c

    def hi(self, c: int) -> int:
        return self.rows + self.step * c

    def _rows(self, rng, keys: np.ndarray, seq: int) -> pa.Table:
        n = len(keys)
        return pa.table({
            "key": keys.astype(np.int64),
            "grp": rng.integers(0, 16, n, dtype=np.int32),
            "val": rng.integers(0, 1_000_000, n),
            "seq": np.full(n, seq, dtype=np.int64),
            "note": np.char.add("n", rng.integers(0, 10**9, n).astype(str)),
        }, schema=LAKE_SCHEMA)

    def initial(self) -> pa.Table:
        return self._rows(np.random.default_rng([self.seed, 3]), np.arange(self.rows), 0)

    def append(self, c: int) -> pa.Table:
        rng = np.random.default_rng([self.seed, 4, c])
        hi = self.hi(c)
        return self._rows(rng, np.arange(hi, hi + self.batch), c + 1)

    def upsert(self, c: int) -> pa.Table:
        rng = np.random.default_rng([self.seed, 5, c])
        top = self.hi(c) + self.batch
        return self._rows(rng, np.arange(top - self.upd, top + self.ins), c + 1)

    def delete_range(self, c: int) -> tuple[int, int]:
        return self.lo(c), self.lo(c) + self.step - 1


def lake_batches(out_dir: str, plan: LakePlan, cycles: range) -> None:
    os.makedirs(out_dir, exist_ok=True)
    for c in cycles:
        pq.write_table(plan.append(c), os.path.join(out_dir, f"append_{c}.parquet"))
        pq.write_table(plan.upsert(c), os.path.join(out_dir, f"upsert_{c}.parquet"))
