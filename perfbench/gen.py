"""Seeded input generators, owned by the benchmark.

Inputs are drawn with NumPy from ``--seed`` and written as parquet with
pyarrow, without Spark, so the same seed writes the same files and no
change to the package under test can alter a workload's inputs. Each
table is split into several files so Spark reads it in parallel.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq


@dataclass(frozen=True)
class Sizes:
    probe_rows: int = 250_000  # join_prefilter probe side
    build_rows: int = 83_000  # join_prefilter build side (about 1/3)
    overlap: float = 0.01  # share of probe rows that find a partner
    token_rows: int = 200_000  # sketch_scan token table
    history_docs: int = 20_000  # corpus_ingest history
    batch_docs: int = 2_000  # corpus_ingest batch
    eval_passages: int = 50  # corpus_ingest eval set
    sources: int = 256  # corpus_ingest and sketch_scan; one holds half the rows
    #: size thresholds of the join planner, pinned in the session:
    #: bloom_join's probe floor (default 256 MiB) scaled with the probe
    #: side (1/8 of the 2M-row regime), and Spark's broadcast threshold
    min_probe_bytes: str = "32m"
    broadcast_bytes: str = "10m"


#: a few thousand rows per table: the self-test size, with the size
#: thresholds scaled down so the same plans are chosen
SMALL = Sizes(probe_rows=20_000, build_rows=6_700, token_rows=12_000,
              history_docs=5_000, batch_docs=1_000, eval_passages=10,
              min_probe_bytes="1m", broadcast_bytes="256k")


def _rng(seed: int, stream: str) -> np.random.Generator:
    return np.random.default_rng([seed, *stream.encode()])


def zipf_like(rng: np.random.Generator, vocab: int, n: int) -> np.ndarray:
    """Integers in [1, vocab) with P(k) ∝ 1/k (log-uniform)."""
    return np.floor(np.power(float(vocab), rng.random(n))).astype(np.int32)


def random_binary(rng: np.random.Generator, n: int, width: int) -> pa.Array:
    """``n`` values of ``width`` incompressible random bytes."""
    offsets = np.arange(0, (n + 1) * width, width, dtype=np.int32)
    return pa.Array.from_buffers(pa.binary(), n, [None, pa.py_buffer(offsets),
                                                  pa.py_buffer(rng.bytes(n * width))])


def sources(rng: np.random.Generator, n: int, n_src: int) -> pa.Array:
    """Skewed source labels: half the rows in source 0, the rest spread
    over the other ``n_src - 1``."""
    src = np.where(rng.random(n) < 0.5, 0, 1 + rng.integers(0, n_src - 1, n))
    names = np.array([f"src{i:03d}" for i in range(n_src)], dtype=object)
    return pa.array(names[src], pa.string())


def _write(table: pa.Table, path: str, files: int) -> str:
    os.makedirs(path, exist_ok=True)
    step = -(-table.num_rows // files)
    for i in range(files):
        pq.write_table(table.slice(i * step, step), f"{path}/part-{i:05d}.parquet")
    return path


def join_tables(seed: int, sz: Sizes, out: str) -> dict:
    """Token-table-shaped probe rows with a 256 B payload, and a fat
    build side whose keys hit ``overlap`` of the probe rows."""
    n, nb = sz.probe_rows, sz.build_rows
    rng = _rng(seed, "join")
    probe = pa.table({
        "doc_id": np.arange(n, dtype=np.int64),
        "n_tok": (16 + rng.integers(0, 240, n)).astype(np.int32),
        "payload": random_binary(rng, n, 256),
    })
    n_hit = int(n * sz.overlap)
    keys = np.concatenate([rng.integers(0, n, n_hit), n + np.arange(n_hit, nb)]).astype(np.int64)
    labels = np.array([f"lbl{k}" for k in range(1000)], dtype=object)
    build = pa.table({
        "doc_id": keys,
        "label": pa.array(labels[zipf_like(rng, 1000, nb)], pa.string()),
        "attrs": random_binary(rng, nb, 192),
    })
    return {"probe": _write(probe, f"{out}/probe", 8), "build": _write(build, f"{out}/build", 4)}


def token_table(seed: int, sz: Sizes, out: str) -> dict:
    """String doc ids, a skewed ``source`` and zipf-like token id arrays."""
    n = sz.token_rows
    rng = _rng(seed, "tokens")
    n_tok = (4 + rng.integers(0, 60, n)).astype(np.int32)
    offsets = np.concatenate([[0], np.cumsum(n_tok)]).astype(np.int32)
    tokens = pa.ListArray.from_arrays(offsets, zipf_like(rng, 50_000, int(offsets[-1])))
    table = pa.table({
        "doc_id": pa.array([f"d{i:09d}" for i in range(n)], pa.string()),
        "source": sources(rng, n, sz.sources),
        "n_tok": n_tok,
        "tokens": tokens,
    })
    return {"tokens": _write(table, f"{out}/tokens", 8)}


_VOCAB = np.array([f"w{k}" for k in range(5000)], dtype=object)


def _texts(rng: np.random.Generator, n: int, lo: int, hi: int) -> list[list[str]]:
    """``n`` word lists of lo..hi zipf-like words from a 5000-word vocabulary."""
    lengths = rng.integers(lo, hi + 1, n)
    words = _VOCAB[zipf_like(rng, 5000, int(lengths.sum()))].tolist()
    ends = np.cumsum(lengths).tolist()
    return [words[end - k:end] for end, k in zip(ends, lengths.tolist())]


def corpus_tables(seed: int, sz: Sizes, out: str) -> dict:
    """History docs, an ingest batch and an eval set of word passages.

    Batch docs: 10 % repeat a history doc's text (upper-cased and
    padded, so only the normalized fingerprint matches), 2 % repeat
    another batch doc's text, 2 % carry a 10-word span of an eval
    passage; the rest are new."""
    h, b, e = sz.history_docs, sz.batch_docs, sz.eval_passages
    rng = _rng(seed, "corpus")
    hist_words = _texts(rng, h, 20, 40)
    evals = _texts(rng, e, 40, 40)
    own = _texts(rng, b, 20, 40)
    kind = rng.random(b)
    dup_of, peer = rng.integers(0, h, b), rng.integers(0, b, b)
    ev, off = rng.integers(0, e, b), rng.integers(0, 31, b)
    batch_text = []
    for i in range(b):
        if kind[i] < 0.10:
            batch_text.append("  " + " ".join(hist_words[dup_of[i]]).upper() + " ")
        elif kind[i] < 0.12:
            batch_text.append(" ".join(own[peer[i]]))
        elif kind[i] < 0.14:
            w = own[i]
            batch_text.append(" ".join(w[:5] + evals[ev[i]][off[i]:off[i] + 10] + w[5:]))
        else:
            batch_text.append(" ".join(own[i]))

    def docs(ids, texts):
        tokens = [t.split() for t in texts]
        return pa.table({
            "doc_id": np.asarray(ids, dtype=np.int64),
            "source": sources(rng, len(texts), sz.sources),
            "text": pa.array(texts, pa.string()),
            "tokens": pa.array(tokens, pa.list_(pa.string())),
            # vocabulary index of every word ("w17" and "W17" → 17)
            "word_ids": pa.array([[int(w[1:]) for w in t] for t in tokens], pa.list_(pa.int32())),
        })

    history = docs(np.arange(h), [" ".join(w) for w in hist_words])
    batch = docs(h + np.arange(b), batch_text)
    eval_table = pa.table({"eval_id": np.arange(e, dtype=np.int64),
                           "tokens": pa.array(evals, pa.list_(pa.string()))})
    return {
        "history": _write(history, f"{out}/history", 8),
        "batch": _write(batch, f"{out}/batch", 4),
        "eval": _write(eval_table, f"{out}/eval", 1),
    }
