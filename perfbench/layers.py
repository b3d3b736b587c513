"""Per-layer probes of a traced run: calls the workload loop does not
make, timed from outside the package.

- sketches: driver-side update / merge / serialize timings and accuracy
  on fixed arrays drawn from the workload's inputs;
- hashing: the three hash kernels on the same arrays;
- plans: a default ``bloom_join`` whose build side is tiny enough to
  broadcast, which the gates skip without a job, and the plan audit of
  the DataFrame the workload's operation returned;
- aggregate: ``sketch_partials`` and ``tree_merge`` called separately
  over the workload's main table, and the four aggregate lanes of
  ``sketch_scan`` (one-pass ``build_sketches``, grouped estimates, the
  pandas and the Arrow string lane of ``build_sketch``) over the
  workload's token table, where its operation does not call them;
- dedup (corpus_ingest): candidate precision from an
  ``IncrementalDedupReport``, read only here because passing the report
  adds jobs to the call.
"""

from __future__ import annotations

import time

import numpy as np
from pyspark.sql import functions as F

from .workloads import QUANTILES, _rank_error

_N_MICRO = 400_000


def _timed(fn, repeats: int = 3):
    """(median seconds, last result) over ``repeats`` calls."""
    ts, out = [], None
    for _ in range(repeats):
        t0 = time.perf_counter()
        out = fn()
        ts.append(time.perf_counter() - t0)
    return float(np.median(ts)), out


def sketch_metrics(arrays: dict) -> dict:
    from bloomjoin_spark import BloomSketch, CmsSketch, HllSketch, KllSketch, TDigestSketch
    from bloomjoin_spark.hashing import hash_numeric_array

    keys = np.resize(arrays["ints"], _N_MICRO)
    values = np.resize(arrays["values"], _N_MICRO)
    h = hash_numeric_array(keys)
    half = len(h) // 2
    uniq, counts = np.unique(keys, return_counts=True)
    out = {}
    kinds = {
        "bloom": (lambda: BloomSketch(len(uniq), 0.01), "hashes"),
        "hll": (HllSketch, "hashes"),
        "cms": (CmsSketch, "hashes"),
        "kll": (KllSketch, "values"),
        "tdigest": (TDigestSketch, "values"),
    }
    built = {}
    for kind, (factory, consumes) in kinds.items():
        data = h if consumes == "hashes" else values

        def build(lo, hi, factory=factory, consumes=consumes, data=data):
            sk = factory()
            if consumes == "hashes":
                sk.update_hashes(data[lo:hi])
            else:
                sk.update_values(data[lo:hi])
            return sk

        t, whole = _timed(lambda build=build: build(0, len(data)))
        out[f"sketches.{kind}.update_mops"] = len(data) / t / 1e6
        a, b = build(0, half), build(half, len(data))
        t0 = time.perf_counter()
        merged = a.merge(b)
        out[f"sketches.{kind}.merge_s"] = time.perf_counter() - t0
        out[f"sketches.{kind}.blob_bytes"] = len(merged.to_bytes())
        built[kind] = whole

    probe = hash_numeric_array(keys + np.int64(1 << 40))  # keys never inserted
    t, hits = _timed(lambda: built["bloom"].contains_hashes(probe))
    out["sketches.bloom.contains_mops"] = len(probe) / t / 1e6
    out["sketches.bloom.fpr"] = float(np.mean(hits))
    out["sketches.hll.rel_err"] = abs(built["hll"].estimate() - len(uniq)) / len(uniq)
    top = np.argsort(counts)[-100:]
    est = built["cms"].query_hashes(hash_numeric_array(uniq[top]))
    out["sketches.cms.overcount_frac"] = float(np.mean(est - counts[top]) / len(keys))
    vu, vc = np.unique(values, return_counts=True)
    for kind in ("kll", "tdigest"):
        err = _rank_error(built[kind].quantile(QUANTILES), vu, vc, QUANTILES)
        out[f"sketches.{kind}.rank_err"] = float(err.max())
    return out


def hashing_metrics(arrays: dict) -> dict:
    from bloomjoin_spark.hashing import hash_columns, hash_tokens_flat, hash_utf8_arrow

    out = {}
    lists = arrays["token_lists"]
    if lists is None:  # no token arrays in these inputs: split the keys into lists
        keys = np.resize(arrays["ints"], _N_MICRO)
        import pandas as pd

        lists = pd.Series(list(keys.reshape(-1, 40)))
    n = sum(len(t) for t in lists)
    t, _ = _timed(lambda: hash_tokens_flat(lists))
    out["hashing.tokens_mops"] = n / t / 1e6
    strings = arrays["strings"]
    t, _ = _timed(lambda: hash_utf8_arrow(strings))
    out["hashing.utf8_mops"] = len(strings) / t / 1e6
    frame = arrays["frame"]
    t, _ = _timed(lambda: hash_columns(frame, list(frame.columns)))
    out["hashing.columns_mops"] = len(frame) / t / 1e6
    return out


def skip_call(tr, spark, probe_df, key: str) -> list:
    """Three default bloom_join calls against a 64-row build side, which
    the broadcast gate must skip without running a job; returns their
    spans."""
    from bloomjoin_spark import bloom_join

    build = spark.createDataFrame(probe_df.select(key).limit(64).toPandas())
    spans = []
    for _ in range(3):
        with tr.span("plans.skip_call") as s:
            bloom_join(probe_df, build, on=key)
        spans.append(s)
    return spans


def plan_metrics(df) -> dict:
    from bloomjoin_spark.plans.audit import plan_audit

    a = plan_audit(df)
    return {"plans.python_operators": len(a.python_operators),
            "plans.shuffle_exchanges": a.n_shuffle_exchanges}


def aggregate_phases(tr, df, key: dict) -> dict:
    """HLL sketch_partials over ``df`` (``key``: the cols/token_col
    arguments) materialized, then tree_merge over the stored partials."""
    from bloomjoin_spark import HllSketch
    from bloomjoin_spark.aggregate import sketch_partials, tree_merge

    with tr.span("aggregate.partials") as sp:
        partials = sketch_partials(df, HllSketch, **key).localCheckpoint(eager=True)
    with tr.span("aggregate.tree_merge") as sm:
        _, _, _, rounds = tree_merge(partials)
    nbytes = partials.agg(F.sum(F.length("blob"))).first()[0]
    return {"aggregate.partials_s": sp.seconds, "aggregate.tree_merge_s": sm.seconds,
            "aggregate.partial_bytes": int(nbytes or 0), "aggregate.merge_rounds": rounds}


def aggregate_lanes(tr, lanes_input, repeats: int = 3) -> dict:
    """Median seconds of each :func:`~perfbench.workloads.sketch_lanes`
    call over ``repeats`` rounds, keyed by span name."""
    from .workloads import sketch_lanes

    first = len(tr.spans)
    for _ in range(repeats):
        sketch_lanes(tr, *lanes_input)
    by_name: dict = {}
    for s in tr.spans[first:]:
        by_name.setdefault(s.name, []).append(s.seconds)
    return {name: float(np.median(ts)) for name, ts in by_name.items()}


def candidate_precision(w) -> float:
    from bloomjoin_spark.operators.dedup import IncrementalDedupReport, incremental_dedup

    rep = IncrementalDedupReport()
    incremental_dedup(w.batch, w.history, text_col="text", id_col="doc_id", report=rep).count()
    return rep.n_cross_dups / max(rep.n_candidates, 1)
