"""Benchmark entry point: one workload, one seed, one closed-loop client.

    python3 perfbench/run.py --workload join_prefilter --seed 1 --seconds 10 --trace 0

Run from the repository root. The run starts Spark (``local[nproc]``),
generates the workload's inputs from ``--seed`` into parquet, computes
the oracle with plain Spark, warms up, then for ``--seconds`` issues the
workload's operation and its plain-Spark baseline alternately, each only
after the previous one returned and was checked. The last stdout line
is one JSON object: ``correct``, ``attempted``, ``failed`` and
``metrics`` — the end-to-end metrics with ``--trace 0``, the per-layer
metrics (from spans around every layer call) with ``--trace 1``.
Human-readable lines before it give the pinned session, each metric
with its unit, and sample counts. Everything the run writes stays
under ``.perfbench_work/`` (removed at exit) and ``.perfbench_out/``
(trace spans) in the repository root.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

#: rounds of operation and baseline made in set-up: calls keep getting
#: faster over the first few calls of a fresh JVM (JIT), and timing them
#: made speedup_vs_naive spread by up to a third across seeds
WARMUP_ROUNDS = 2
#: rounds of the closed loop a run makes at least, however long they take
MIN_ROUNDS = 3
NAIVE_PER_ROUND_MAX = 3

END_TO_END = {  # name: unit
    "setup_s": "s", "shuffle_write_mb": "MB", "jobs_per_call": "count",
    "peak_rss_gb": "GB", "speedup_vs_naive": "x",
}
#: printed with the end-to-end metrics but kept out of the result line,
#: so no bound applies to them (see NOTES.md): absolute call times move
#: with the shared host's speed by more than any allowed bound across a
#: run set, while speedup_vs_naive, timed against a baseline in the same
#: rounds, does not; a run makes 3–4 operations, so no percentile has
#: ten samples beyond it; failed_frac is 0 on a correct tree;
#: err_over_bound is defined only for operations with approximate
#: outputs (not for the exact join of join_prefilter)
PRINTED_ONLY = {"call_p50_s": "s", "rows_per_s": "1/s", "call_tail_s": "s",
                "failed_frac": "ratio", "err_over_bound": "ratio"}


def per_layer_units() -> dict:
    units = {
        "bloom_join.call_s": "s", "bloom_join.call_jobs": "count",
        "bloom_join.action_s": "s", "bloom_join.action_jobs": "count",
        "bloom_join.action_stages": "count", "bloom_join.shuffle_write_mb": "MB",
        "bloom_join.filter_bytes": "bytes", "bloom_join.engine": "code",
        "bloom_join.fallbacks": "count", "bloom_join.fp_over_fpp": "ratio",
        "naive_join.s": "s",
        "plans.python_operators": "count", "plans.shuffle_exchanges": "count",
        "plans.skip_call_s": "s", "plans.skip_call_jobs": "count",
        "aggregate.build_sketches_s": "s", "aggregate.grouped_s": "s",
        "aggregate.pandas_lane_s": "s", "aggregate.arrow_lane_s": "s",
        "aggregate.partials_s": "s", "aggregate.tree_merge_s": "s",
        "aggregate.partial_bytes": "bytes", "aggregate.merge_rounds": "count",
    }
    for kind in ("bloom", "hll", "cms", "kll", "tdigest"):
        units[f"sketches.{kind}.update_mops"] = "M/s"
        units[f"sketches.{kind}.merge_s"] = "s"
        units[f"sketches.{kind}.blob_bytes"] = "bytes"
    units.update({
        "sketches.bloom.contains_mops": "M/s", "sketches.bloom.fpr": "ratio",
        "sketches.hll.rel_err": "ratio", "sketches.cms.overcount_frac": "ratio",
        "sketches.kll.rank_err": "ratio", "sketches.tdigest.rank_err": "ratio",
        "hashing.tokens_mops": "M/s", "hashing.utf8_mops": "M/s",
        "hashing.columns_mops": "M/s",
        "dedup.incremental_s": "s", "dedup.jobs": "count",
        "dedup.candidate_precision": "ratio",
        "decontam.s": "s", "decontam.jobs": "count",
        "store.append_s": "s", "store.append_mb_written": "MB",
        "store.read_s": "s", "store.read_jobs": "count",
        "trace.call_p50_s": "s", "trace.untraced_call_p50_s": "s",
        "trace.overhead_frac": "ratio", "trace.layer_self_s": "s",
        "trace.harness_self_s": "s", "trace.ops": "count",
    })
    return units


#: layer span name → (seconds metric, jobs metric) read as medians over
#: the traced operations
SPAN_METRICS = {
    "bloom_join.call": ("bloom_join.call_s", "bloom_join.call_jobs"),
    "bloom_join.action": ("bloom_join.action_s", "bloom_join.action_jobs"),
    "aggregate.build_sketches": ("aggregate.build_sketches_s", None),
    "aggregate.grouped": ("aggregate.grouped_s", None),
    "aggregate.pandas_lane": ("aggregate.pandas_lane_s", None),
    "aggregate.arrow_lane": ("aggregate.arrow_lane_s", None),
    "dedup.incremental": ("dedup.incremental_s", "dedup.jobs"),
    "decontam": ("decontam.s", "decontam.jobs"),
    "store.append": ("store.append_s", None),
    "store.read": ("store.read_s", "store.read_jobs"),
}

ENGINE_CODE = {None: 0, "bloom": 1, "native": 2}


def parse_args(argv=None):
    from perfbench.workloads import WORKLOADS

    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--size", choices=("full", "small"), default="full",
                   help="input sizes; 'small' is the self-test size")
    return p.parse_args(argv)


def median(xs):
    return float(statistics.median(xs))


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


class Run:
    def __init__(self, args):
        from perfbench import gen
        from perfbench.workloads import WORKLOADS

        self.args = args
        self.work = os.path.join(ROOT, ".perfbench_work",
                                 f"{args.workload}-{args.seed}-{os.getpid()}")
        self.sizes = gen.SMALL if args.size == "small" else gen.Sizes()
        self.cls = WORKLOADS[args.workload]

    def setup(self):
        from perfbench.session import collect_between_calls, start_session
        from perfbench.spans import Tracer

        cores = os.cpu_count() or 1
        t_start = time.perf_counter()
        self.spark, self.conf, session_s = start_session(ROOT, self.work, cores, self.sizes)
        self.w = self.cls(self.spark, self.args.seed, self.sizes, self.work)
        t0 = time.perf_counter()
        self.w.generate()
        gen_s = time.perf_counter() - t0
        t0 = time.perf_counter()
        self.w.load()
        self.w.oracle()
        oracle_s = time.perf_counter() - t0
        # the oracle was the baseline's first call
        t0 = time.perf_counter()
        tr = Tracer(self.spark, layers=False)
        for _ in range(WARMUP_ROUNDS):
            collect_between_calls(self.spark)
            self.w.check(self.w.op(tr))
            collect_between_calls(self.spark)
            self.w.check_naive(self.w.naive(tr))
        warm_s = time.perf_counter() - t0
        self.setup_s = time.perf_counter() - t_start
        self.setup_parts = {"setup_s": self.setup_s, "session_s": session_s,
                            "generate_s": gen_s, "load_oracle_s": oracle_s,
                            "warmup_s": warm_s}

    def one(self, tr, kind: str, layered: bool):
        """One checked call of the operation or of the baseline."""
        from perfbench.session import collect_between_calls

        collect_between_calls(self.spark)
        tr.layers = layered
        fn = self.w.op if kind == "op" else self.w.naive
        with tr.span(kind, root=True) as root:
            try:
                result = fn(tr)
            except Exception as ex:  # a failed operation counts, the run goes on
                result, err = None, ex
            else:
                err = None
        rec = {"kind": kind, "span": root, "layered": layered, "seconds": root.seconds,
               "ok": err is None, "result": result, "norm_err": None}
        if kind == "naive":
            if err is not None:
                raise err
            self.w.check_naive(result)
            return rec
        if err is None:
            from perfbench.workloads import WrongResult
            try:
                rec["norm_err"] = self.w.check(result)
            except WrongResult as ex:
                err = ex
        if err is not None:
            rec["ok"] = False
            log(f"operation failed: {err!r}")
        return rec

    def loop(self, tr):
        """Closed loop for --seconds: the order of op and baseline (and,
        when tracing, of traced and untraced op) rotates each round.
        After the first round, a baseline shorter than the operation is
        called up to NAIVE_PER_ROUND_MAX times a round, so a round spends
        about as long in the baseline as in the operation."""
        from perfbench.spans import RssSampler

        kinds = [("op", False), ("naive", False)]
        if self.args.trace:
            kinds.insert(0, ("op", True))
        recs = []
        with RssSampler() as rss:
            t_end = time.perf_counter() + self.args.seconds
            i = 0
            while time.perf_counter() < t_end or i < MIN_ROUNDS:
                order = kinds[i % len(kinds):] + kinds[:i % len(kinds)]
                for kind, layered in order:
                    recs.append(self.one(tr, kind, layered))
                if i == 0:
                    t_op = median([r["seconds"] for r in recs if r["kind"] == "op"])
                    t_naive = median([r["seconds"] for r in recs if r["kind"] == "naive"])
                    n = min(NAIVE_PER_ROUND_MAX, max(1, round(t_op / t_naive)))
                    kinds += [("naive", False)] * (n - 1)
                i += 1
        self.peak_rss = rss.peak_bytes
        return recs


def op_counters(tr, root) -> dict:
    """Counters of an operation: its root span and every span inside it."""
    tot: dict = {}
    for s in tr.spans:
        if s.op == root.id:
            for k, v in s.counters.items():
                tot[k] = tot.get(k, 0) + v
    return tot


def end_to_end(run, tr, recs) -> tuple[dict, dict]:
    """(end-to-end metrics, printed-only metrics)"""
    from perfbench.workloads import percentile_tail

    ops = [r for r in recs if r["kind"] == "op" and r["ok"]]
    if not ops:
        raise RuntimeError("every operation failed")
    naive = [r["seconds"] for r in recs if r["kind"] == "naive"]
    times = [r["seconds"] for r in ops]
    p50 = median(times)
    tail_q, tail = percentile_tail(times)
    counters = [op_counters(tr, r["span"]) for r in ops]
    log(f"{len(times)} operations, {len(naive)} baseline calls; "
        f"call_tail_s is p{tail_q} of {len(times)} samples")
    log("operation seconds: " + " ".join(f"{t:.3f}" for t in times)
        + "; baseline seconds: " + " ".join(f"{t:.3f}" for t in naive))
    printed = {"call_p50_s": p50, "rows_per_s": run.w.input_rows() / p50, "call_tail_s": tail}
    errs = [r["norm_err"] for r in ops if r["norm_err"] is not None]
    if errs:
        printed["err_over_bound"] = median(errs)
    return {
        "setup_s": run.setup_s,
        "shuffle_write_mb": median([c["shuffle_write_bytes"] for c in counters]) / 1e6,
        "jobs_per_call": median([c["jobs"] for c in counters]),
        "peak_rss_gb": run.peak_rss / (1 << 30),
        "speedup_vs_naive": median(naive) / p50,
    }, printed


def per_layer(run, tr, recs) -> dict:
    from perfbench import layers

    units = per_layer_units()
    m = dict.fromkeys(units, 0.0)
    traced = [r for r in recs if r["kind"] == "op" and r["layered"] and r["ok"]]
    untraced = [r for r in recs if r["kind"] == "op" and not r["layered"] and r["ok"]]
    if not traced or not untraced:
        raise RuntimeError("no successful traced and untraced operation to compare")
    tr.resolve_counters()
    op_ids = {r["span"].id for r in traced}
    by_name: dict = {}
    for s in tr.spans:
        if s.parent in op_ids:
            by_name.setdefault(s.name, []).append(s)
    for name, (sec_key, jobs_key) in SPAN_METRICS.items():
        spans = by_name.get(name, [])
        if spans:
            m[sec_key] = median([s.seconds for s in spans])
            if jobs_key:
                m[jobs_key] = median([s.counters["jobs"] for s in spans])
    w = run.w
    last = traced[-1]["result"]
    if "bloom_join.action" in by_name:
        act = by_name["bloom_join.action"]
        m["bloom_join.action_stages"] = median([s.counters["stages"] for s in act])
        m["bloom_join.shuffle_write_mb"] = median(
            [s.counters["shuffle_write_bytes"] for s in act]) / 1e6
        reps = [r["result"]["report"] for r in traced]
        rep = reps[-1]
        m["bloom_join.filter_bytes"] = (rep.filter_bits or 0) / 8
        m["bloom_join.engine"] = ENGINE_CODE.get(rep.engine if rep.used_prefilter else None, -1)
        m["bloom_join.fallbacks"] = sum(r.engine_fallback_reason is not None for r in reps)
        # 0 when no traced call reported probe row counts (see fp_over_fpp)
        ratios = [x for x in map(w.fp_over_fpp, reps) if x is not None]
        m["bloom_join.fp_over_fpp"] = median(ratios) if ratios else 0.0
        m["naive_join.s"] = median([r["seconds"] for r in recs if r["kind"] == "naive"])
    if "store.append" in by_name:
        m["store.append_mb_written"] = w.store_snapshot_bytes() / 1e6
    if hasattr(w, "history"):
        m["dedup.candidate_precision"] = layers.candidate_precision(w)
    m.update(layers.plan_metrics(w.main_df(last)))

    arrays = w.sample_arrays()
    m.update(layers.sketch_metrics(arrays))
    m.update(layers.hashing_metrics(arrays))
    tr.layers = True
    skip_spans = layers.skip_call(tr, run.spark, w.partials_input()[0], "doc_id")
    m.update(layers.aggregate_phases(tr, *w.partials_input()))
    lanes = w.lanes_input()
    if lanes is not None and "aggregate.build_sketches" not in by_name:
        for name, seconds in layers.aggregate_lanes(tr, lanes).items():
            m[SPAN_METRICS[name][0]] = seconds
    tr.resolve_counters()
    m["plans.skip_call_s"] = median([s.seconds for s in skip_spans])
    m["plans.skip_call_jobs"] = median([s.counters["jobs"] for s in skip_spans])

    layer_self = [sum(tr.self_seconds(c) for c in tr.children(r["span"])) for r in traced]
    harness_self = [tr.self_seconds(r["span"]) for r in traced]
    t_traced = median([r["seconds"] for r in traced])
    t_plain = median([r["seconds"] for r in untraced])
    m.update({
        "trace.call_p50_s": t_traced, "trace.untraced_call_p50_s": t_plain,
        "trace.overhead_frac": t_traced / t_plain - 1.0,
        "trace.layer_self_s": median(layer_self), "trace.harness_self_s": median(harness_self),
        "trace.ops": len(traced),
    })
    out = os.path.join(ROOT, ".perfbench_out",
                       f"trace-{run.args.workload}-seed{run.args.seed}.json")
    tr.dump(out, {"workload": run.args.workload, "seed": run.args.seed,
                  "session": run.conf, "metrics": m})
    log(f"spans written to {out}")
    return m


def stop_spark(spark) -> None:
    """Stop Spark and wait for the JVM (and with it the Python workers) to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    spark.stop()
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait(timeout=30)


def main(argv=None) -> int:
    # SIGTERM unwinds through the finally below, which stops the JVM
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    sys.path.insert(0, ROOT)
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "bloomjoin_spark", "__init__.py")):
        log(f"package bloomjoin_spark not found under {ROOT}")
        return 2
    run = Run(args)
    spark = None
    try:
        import bloomjoin_spark  # noqa: F401  (fail before Spark starts)

        from perfbench.spans import Tracer

        run.setup()
        spark = run.spark
        print("session " + json.dumps(run.conf, sort_keys=True), flush=True)
        print("setup " + json.dumps(run.setup_parts), flush=True)
        tr = Tracer(spark, layers=bool(args.trace))
        recs = run.loop(tr)
        ops = [r for r in recs if r["kind"] == "op"]
        failed = sum(not r["ok"] for r in ops)
        printed = {"failed_frac": failed / len(ops)}
        if args.trace:
            metrics, units = per_layer(run, tr, recs), per_layer_units()
        else:
            tr.resolve_counters()
            metrics, extra = end_to_end(run, tr, recs)
            units = END_TO_END
            printed.update(extra)
        for k, v in metrics.items():
            print(f"metric {args.workload} {k} = {v:.6g} {units[k]}")
        for k, v in printed.items():
            print(f"metric {args.workload} {k} = {v:.6g} {PRINTED_ONLY[k]} (not in the result line)")
        print(json.dumps({
            "correct": failed == 0,
            "attempted": len(ops),
            "failed": failed,
            "metrics": {k: {"value": float(v), "unit": units[k]} for k, v in metrics.items()},
        }), flush=True)
        return 0
    finally:
        try:
            if spark is not None:
                stop_spark(spark)
        finally:
            shutil.rmtree(run.work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
