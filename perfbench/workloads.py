"""The three workloads: inputs, oracle, operation, plain-Spark baseline
and result check.

Each workload calls the package only through its public functions and
hands it only the generated parquet inputs. ``op`` is the measured
operation, ``naive`` the exact plain-Spark computation of the same
answer (timed interleaved with ``op`` for ``speedup_vs_naive``), and
``check`` compares an operation's result with the oracle computed once
in set-up. For an operation with approximate outputs, ``check`` returns
its normalized error: the mean of |estimate − exact| ÷ published bound
over its checks (the maximum over sketch kinds where there are
several); for an exact operation it returns ``None``. It raises
:class:`WrongResult` when a result is wrong or a single check exceeds
its hard limit.
"""

from __future__ import annotations

import math
import os

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from . import gen

#: hard per-check limits, in units of each sketch's published bound
HLL_SIGMAS = 5.0  # HLL bound = 1.04/sqrt(m) relative standard error
CMS_LIMIT = 2.0  # CMS bound = eps·N additive overcount (prob 1 − delta)
KLL_LIMIT = 1.5  # KLL bound = epsilon() rank error
TDIGEST_RANK_BOUND = 0.01  # t-digest rank-error bound at compression 200
TDIGEST_LIMIT = 2.0
QUANTILES = np.round(np.arange(0.01, 1.0, 0.01), 2)


class WrongResult(Exception):
    """An operation returned a result that disagrees with the oracle."""


def checksum(df: DataFrame):
    """(row count, order-free checksum over every column) — one action
    that reads every output column, so column pruning cannot skip the
    payload. ``bit_xor`` instead of ``sum``: a sum of 64-bit hashes
    overflows under ANSI mode."""
    r = df.agg(F.count(F.lit(1)).alias("n"),
               F.bit_xor(F.xxhash64(*df.columns)).alias("x")).first()
    return int(r["n"]), int(r["x"] or 0)


def _hll_z(est: float, exact: int, rse: float) -> float:
    return abs(est - exact) / max(rse * exact, 1e-9)


def _rank_error(est_values, values: np.ndarray, counts: np.ndarray, qs) -> np.ndarray:
    """Tie-aware rank error of quantile estimates against an exact
    distribution given as sorted distinct ``values`` with ``counts``:
    the distance from q to the rank interval [F(v−), F(v)] of the
    estimate v."""
    cdf = np.cumsum(counts) / counts.sum()
    est = np.asarray(est_values, dtype=np.float64)
    hi_idx = np.searchsorted(values, est, side="right") - 1
    lo_idx = np.searchsorted(values, est, side="left") - 1
    hi = np.where(hi_idx >= 0, cdf[np.clip(hi_idx, 0, None)], 0.0)
    lo = np.where(lo_idx >= 0, cdf[np.clip(lo_idx, 0, None)], 0.0)
    return np.maximum(0.0, np.maximum(lo - qs, qs - hi))


def sketch_lanes(tr, df, token_col: str, group_col: str, multi_cols: list, string_col: str):
    """The four aggregate-layer calls of ``sketch_scan``, one span each:
    ``build_sketches`` (HLL, CMS, t-digest, KLL over ``token_col`` in one
    pass), ``grouped_sketch_estimates`` (HLL of ``token_col`` per
    ``group_col``), ``build_sketch`` HLL on ``multi_cols`` (the pandas
    lane) and on the string column ``string_col`` (the Arrow string
    lane)."""
    from bloomjoin_spark import (
        CmsSketch, HllSketch, KllSketch, TDigestSketch, build_sketch,
        build_sketches, grouped_sketch_estimates,
    )

    with tr.span("aggregate.build_sketches"):
        built = build_sketches(
            df,
            {"hll": HllSketch, "cms": CmsSketch, "tdigest": TDigestSketch, "kll": KllSketch},
            token_col=token_col,
        )
    with tr.span("aggregate.grouped"):
        grouped_df = grouped_sketch_estimates(df, HllSketch, group_col, token_col=token_col)
        grouped = grouped_df.collect()
    with tr.span("aggregate.pandas_lane"):
        pair = build_sketch(df, HllSketch, cols=multi_cols)
    with tr.span("aggregate.arrow_lane"):
        doc = build_sketch(df, HllSketch, cols=string_col)
    return {"built": built, "grouped": grouped, "grouped_df": grouped_df,
            "pair": pair, "doc": doc}


class Workload:
    name = ""
    why = ""

    def __init__(self, spark, seed: int, sizes: gen.Sizes, work_dir: str):
        self.spark = spark
        self.seed = seed
        self.sz = sizes
        self.dir = work_dir
        self.paths: dict = {}

    def generate(self) -> None:
        raise NotImplementedError

    def load(self) -> None:
        """Read the generated parquet into the DataFrames ``op`` uses."""
        raise NotImplementedError

    def oracle(self) -> None:
        raise NotImplementedError

    def input_rows(self) -> int:
        raise NotImplementedError

    def op(self, tr):
        raise NotImplementedError

    def naive(self, tr):
        raise NotImplementedError

    def check(self, result) -> float:
        raise NotImplementedError

    def check_naive(self, result) -> None:
        raise NotImplementedError

    def main_df(self, result) -> DataFrame:
        """The DataFrame the operation returned, for the plan audit."""
        raise NotImplementedError

    def partials_input(self) -> tuple[DataFrame, dict]:
        """The input table (with a ``doc_id`` column) and the key of the
        traced run's aggregate-phase probe."""
        raise NotImplementedError

    def lanes_input(self):
        """(table, token column, group column, multi-column key, string
        column) for the aggregate-lane calls of :func:`sketch_lanes`, or
        ``None`` when the inputs have no token column."""
        return None

    def sample_arrays(self) -> dict:
        """Driver-side arrays drawn from the inputs for the sketch and
        hashing microtimings: ``ints`` (int64 keys), ``values``
        (float64), ``strings`` (a pyarrow string array), ``token_lists``
        (pandas Series of int arrays) and ``frame`` (pandas DataFrame)."""
        raise NotImplementedError


class JoinPrefilter(Workload):
    name = "join_prefilter"
    why = ("Bloom semi-join regime: 250k probe rows with a 256 B payload joined "
           "to 83k fat build rows at 1% key overlap; default bloom_join vs df.join")

    def generate(self):
        self.paths = gen.join_tables(self.seed, self.sz, f"{self.dir}/in")

    def load(self):
        self.x = self.spark.read.parquet(self.paths["probe"])
        self.y = self.spark.read.parquet(self.paths["build"])

    def input_rows(self):
        return self.sz.probe_rows + self.sz.build_rows

    def oracle(self):
        self.expect = checksum(self.x.join(self.y, "doc_id"))
        # probe rows whose key is in the build side: the filter's true positives
        self.true_hits = self.x.join(self.y.select("doc_id"), "doc_id", "left_semi").count()

    def op(self, tr):
        from bloomjoin_spark import bloom_join

        with tr.span("bloom_join.call"):
            out, rep = bloom_join(self.x, self.y, on="doc_id", return_report=True)
        with tr.span("bloom_join.action"):
            res = checksum(out)
        if hasattr(rep, "finalize"):
            rep.finalize()
        return {"res": res, "report": rep, "df": out}

    def naive(self, tr):
        with tr.span("naive_join"):
            return checksum(self.x.join(self.y, "doc_id"))

    def fp_over_fpp(self, rep) -> float | None:
        before = getattr(rep, "probe_rows_before", None)
        after = getattr(rep, "probe_rows_after", None)
        if not rep.used_prefilter or before is None or after is None or not rep.fpr:
            return None
        negatives = before - self.true_hits
        return (after - self.true_hits) / max(negatives, 1) / rep.fpr

    def check(self, result):
        """Rows and checksum decide correctness. The join is exact, so
        there is no approximation error to return: ``None``. The
        filter's false-positive rate is a per-layer reading
        (:meth:`fp_over_fpp`), available only when the engine that ran
        reports probe row counts."""
        if result["res"] != self.expect:
            raise WrongResult(f"bloom_join rows/checksum {result['res']} != {self.expect}")
        return None

    def check_naive(self, result):
        if result != self.expect:
            raise RuntimeError("plain join disagrees with its own oracle")

    def main_df(self, result):
        return result["df"]

    def partials_input(self):
        return self.x, {"cols": "doc_id"}

    def sample_arrays(self):
        pdf = self.x.select("doc_id", "n_tok").toPandas()
        ids = self.y.select(F.col("doc_id").cast("string")).toPandas()["doc_id"]
        import pyarrow as pa

        return {
            "ints": pdf["doc_id"].to_numpy(np.int64),
            "values": pdf["n_tok"].to_numpy(np.float64),
            "strings": pa.array(ids, pa.string()),
            "token_lists": None,
            "frame": pdf,
        }


class SketchScan(Workload):
    name = "sketch_scan"
    why = ("Mergeable-sketch path: 200k token rows, zipf-like token ids, one "
           "source holding half the rows; four sketch builds, no join")

    def generate(self):
        self.paths = gen.token_table(self.seed, self.sz, f"{self.dir}/in")

    def load(self):
        self.df = self.spark.read.parquet(self.paths["tokens"])

    def input_rows(self):
        return self.sz.token_rows

    def oracle(self):
        toks = self.df.select("source", F.explode("tokens").alias("t"))
        counts = toks.groupBy("t").count().toPandas().sort_values("t")
        self.tok_values = counts["t"].to_numpy(np.float64)
        self.tok_counts = counts["count"].to_numpy(np.int64)
        self.n_tokens = int(self.tok_counts.sum())
        top = counts.nlargest(100, "count")
        self.top_tokens = top["t"].to_numpy(np.int64)
        self.top_counts = top["count"].to_numpy(np.int64)
        per_src = toks.distinct().groupBy("source").count().collect()
        self.src_distinct = {r["source"]: int(r["count"]) for r in per_src}
        self.pair_distinct = self.df.select("source", "n_tok").distinct().count()
        self.doc_distinct = self.df.select("doc_id").distinct().count()

    def op(self, tr):
        return sketch_lanes(tr, *self.lanes_input())

    def lanes_input(self):
        return self.df, "tokens", "source", ["source", "n_tok"], "doc_id"

    def naive(self, tr):
        with tr.span("naive_sketch_scan"):
            toks = self.df.select("source", F.explode("tokens").alias("t"))
            counts = toks.groupBy("t").count().collect()
            per_src = toks.distinct().groupBy("source").count().collect()
            pair = self.df.select("source", "n_tok").distinct().count()
            doc = self.df.select("doc_id").distinct().count()
        return len(counts), len(per_src), pair, doc

    def check_naive(self, result):
        if result != (len(self.tok_values), len(self.src_distinct),
                      self.pair_distinct, self.doc_distinct):
            raise RuntimeError("exact aggregates disagree with their own oracle")

    def check(self, result):
        from bloomjoin_spark.hashing import hash_numeric_array

        built = result["built"]
        hll_z = []
        hll = built["hll"].sketch
        hll_z.append(_hll_z(hll.estimate(), len(self.tok_values), hll.rel_std_error))
        for r in result["grouped"]:
            exact = self.src_distinct.get(r["source"])
            if exact is None:
                raise WrongResult(f"grouped estimate for unknown source {r['source']}")
            hll_z.append(_hll_z(r["estimate"], exact, hll.rel_std_error))
        if len(result["grouped"]) != len(self.src_distinct):
            raise WrongResult("grouped estimates miss a source")
        for key, exact in (("pair", self.pair_distinct), ("doc", self.doc_distinct)):
            sk = result[key].sketch
            hll_z.append(_hll_z(sk.estimate(), exact, sk.rel_std_error))

        cms = built["cms"].sketch
        if cms.total != self.n_tokens:
            raise WrongResult(f"CMS total {cms.total} != {self.n_tokens} tokens")
        est = cms.query_hashes(hash_numeric_array(self.top_tokens))
        over = est - self.top_counts
        if (over < 0).any():
            raise WrongResult("count-min estimate below the exact count")
        cms_e = over / cms.error_bound()

        kll = built["kll"].sketch
        kll_e = _rank_error(kll.quantile(QUANTILES), self.tok_values, self.tok_counts,
                            QUANTILES) / kll.epsilon()
        td = built["tdigest"].sketch
        td_e = _rank_error(td.quantile(QUANTILES), self.tok_values, self.tok_counts,
                           QUANTILES) / TDIGEST_RANK_BOUND

        for label, errs, limit in (("hll", np.array(hll_z), HLL_SIGMAS), ("cms", cms_e, CMS_LIMIT),
                                   ("kll", kll_e, KLL_LIMIT), ("tdigest", td_e, TDIGEST_LIMIT)):
            if errs.max() > limit:
                raise WrongResult(f"{label} error {errs.max():.2f} × bound exceeds {limit}")
        return float(max(np.mean(hll_z), cms_e.mean(), kll_e.mean(), td_e.mean()))

    def main_df(self, result):
        return result["grouped_df"]

    def partials_input(self):
        return self.df, {"token_col": "tokens"}

    def sample_arrays(self):
        import pyarrow as pa

        pdf = self.df.select("doc_id", "source", "n_tok", "tokens").limit(50_000).toPandas()
        flat = np.concatenate([np.asarray(t, np.int64) for t in pdf["tokens"]])
        return {
            "ints": flat,
            "values": flat.astype(np.float64),
            "strings": pa.array(pdf["doc_id"], pa.string()),
            "token_lists": pdf["tokens"],
            "frame": pdf[["source", "n_tok"]],
        }


class CorpusIngest(Workload):
    name = "corpus_ingest"
    why = ("Membership filters used build-heavy: dedup a 2k-doc batch (10% cross-dups) "
           "against 20k history docs, decontaminate, append to and read a sketch store")

    def generate(self):
        self.paths = gen.corpus_tables(self.seed, self.sz, f"{self.dir}/in")

    def load(self):
        from bloomjoin_spark import HllSketch, append_sketch_snapshot

        self.history = self.spark.read.parquet(self.paths["history"])
        self.batch = self.spark.read.parquet(self.paths["batch"])
        self.evals = self.spark.read.parquet(self.paths["eval"])
        self.store = f"{self.dir}/store"
        append_sketch_snapshot(self.history, HllSketch, self.store, "history",
                               group_col="source", token_col="word_ids")

    def input_rows(self):
        return self.sz.history_docs + self.sz.batch_docs

    def _exact(self):
        fp = F.md5(F.lower(F.trim(F.col("text"))))
        reps = self.batch.select(fp.alias("fp"), "doc_id").groupBy("fp").agg(
            F.min("doc_id").alias("doc_id"))
        hist_fp = self.history.select(fp.alias("fp"))
        new = reps.join(hist_fp, "fp", "left_anti").select("doc_id")
        kept = self.batch.join(new, "doc_id", "left_semi").localCheckpoint(eager=True)

        def grams(df, id_col):
            t = F.col("tokens")
            g = F.transform(F.sequence(F.lit(1), F.size(t) - 7),
                            lambda i: F.concat_ws(" ", F.slice(t, i, 8)))
            return df.where(F.size(t) >= 8).select(id_col, F.explode(g).alias("g"))

        bad = grams(kept, "doc_id").join(grams(self.evals, "eval_id").select("g"), "g",
                                         "left_semi").select("doc_id")
        clean = kept.join(bad, "doc_id", "left_anti")
        words = (self.history.select("source", "word_ids")
                 .unionByName(clean.select("source", "word_ids"))
                 .select("source", F.explode("word_ids").alias("w")).distinct()
                 .groupBy("source").count().collect())
        return (checksum(kept.select("doc_id")), checksum(clean.select("doc_id")),
                {r["source"]: int(r["count"]) for r in words})

    def oracle(self):
        self.expect_kept, self.expect_clean, self.src_distinct = self._exact()

    def op(self, tr):
        from bloomjoin_spark import (
            HllSketch, append_sketch_snapshot, decontaminate, read_sketch_store,
            store_estimates,
        )
        from bloomjoin_spark.operators.dedup import incremental_dedup

        with tr.span("dedup.incremental"):
            kept_df = incremental_dedup(self.batch, self.history, text_col="text", id_col="doc_id")
            kept = kept_df.localCheckpoint(eager=True)
        with tr.span("decontam"):
            clean = decontaminate(kept, self.evals, n=8, corpus_tokens="tokens",
                                  id_col="doc_id").localCheckpoint(eager=True)
        with tr.span("store.append"):
            append_sketch_snapshot(clean, HllSketch, self.store, "batch",
                                   group_col="source", token_col="word_ids")
        with tr.span("store.read"):
            est = store_estimates(read_sketch_store(self.spark, self.store), "source").collect()
        return {"kept": kept, "clean": clean, "est": est, "kept_df": kept_df}

    def naive(self, tr):
        with tr.span("naive_ingest"):
            return self._exact()

    def check_naive(self, result):
        if result != (self.expect_kept, self.expect_clean, self.src_distinct):
            raise RuntimeError("exact ingest disagrees with its own oracle")

    def check(self, result):
        from bloomjoin_spark import HllSketch

        kept = checksum(result["kept"].select("doc_id"))
        if kept != self.expect_kept:
            raise WrongResult(f"incremental_dedup kept {kept} != exact {self.expect_kept}")
        clean = checksum(result["clean"].select("doc_id"))
        if clean != self.expect_clean:
            raise WrongResult(f"decontaminate kept {clean} != exact {self.expect_clean}")
        rse = HllSketch().rel_std_error
        zs = []
        for r in result["est"]:
            exact = self.src_distinct.get(r["source"])
            if exact is None:
                raise WrongResult(f"store estimate for unknown source {r['source']}")
            zs.append(_hll_z(r["estimate"], exact, rse))
        if len(zs) != len(self.src_distinct):
            raise WrongResult("store estimates miss a source")
        if max(zs) > HLL_SIGMAS:
            raise WrongResult(f"store HLL error {max(zs):.2f} × rse exceeds {HLL_SIGMAS}")
        return float(np.mean(zs))

    def main_df(self, result):
        return result["kept_df"]

    def partials_input(self):
        return self.history, {"cols": "text"}

    def lanes_input(self):
        return self.history, "word_ids", "source", ["source", "doc_id"], "text"

    def store_snapshot_bytes(self) -> int:
        root = f"{self.store}/snapshot=batch"
        return sum(os.path.getsize(os.path.join(d, f))
                   for d, _, fs in os.walk(root) for f in fs)

    def sample_arrays(self):
        import pyarrow as pa

        pdf = self.history.select("doc_id", "source", "text").limit(50_000).toPandas()
        words = pa.array(" ".join(pdf["text"]).split(" "), pa.string())
        return {
            "ints": pdf["doc_id"].to_numpy(np.int64),
            "values": pdf["text"].str.len().to_numpy(np.float64),
            "strings": words,
            "token_lists": None,
            "frame": pdf[["doc_id", "source"]],
        }


WORKLOADS = {w.name: w for w in (JoinPrefilter, SketchScan, CorpusIngest)}


def percentile_tail(times: list[float]) -> tuple[float, float]:
    """(percentile, value): the highest percentile with at least ten
    samples above it — q = 1 − 10/n, nearest rank — or the maximum when
    a run has fewer than 20 samples."""
    s = sorted(times)
    n = len(s)
    if n < 20:
        return 100.0, s[-1]
    q = 1.0 - 10.0 / n
    return round(100 * q, 1), s[max(0, math.ceil(q * n) - 1)]
