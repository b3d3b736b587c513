"""bloom_join — Bloom-filter semi-join prefilter in front of a native
Spark join.  The flagship operator; results are EXACTLY identical to
``x.join(y, on, how)`` — false positives only waste work, never change
output (the reference's core contract, ``/root/reference/README.md:52-58``,
``src/hash_keys.cpp:58-68``).

Spark-first execution (contrast with the reference's single-process
pipeline, ``R/bloomjoin.R:62-124``):

1. keys are canonicalised with explicit casts (Catalyst's own coercion
   rules) and hashed JVM-side with ``F.xxhash64`` — whole-stage codegen,
   nothing leaves the JVM on the hot path;
2. the default engine (``engine="auto"``, whatever ``collect_metrics``
   says) is all-JVM: one HLL sizing aggregate, Spark's own
   ``BloomFilterImpl`` built by one treeAggregate, and a codegen
   ``BloomFilterMightContain`` probe.  Only ``checkpoint_dir`` selects
   the mergeable sketch engine, whose build streams once through
   ``mapInPandas`` (one partial per partition, tree OR-merge) and whose
   broadcast filter is probed by a vectorized pandas UDF;
3. the probe side is filtered BEFORE the join exchange, so dropped rows
   are never shuffled — the filter costs ~10 bits/key instead of
   shuffling the full probe side.  Row counts before and after the
   filter ride the action as two ``Observation``s on every engine;
4. the surviving rows feed an ordinary ``df.join``.  When the sampled
   pass rate times the probe side's plan-stats size fits under
   ``spark.sql.autoBroadcastJoinThreshold``, the survivors are
   broadcast, so the join becomes a BroadcastHashJoin and the build
   side is never shuffled; otherwise Catalyst/AQE pick the strategy.

Why not just ``spark.sql.optimizer.runtime.bloomFilter.enabled``?  That
rule is opaque and heuristic (creation side size thresholds, no fpp
control, no metrics). This operator is the explicit, inspectable
version: you choose fpp/side, you get a ``BloomJoinReport`` with the
filter's size and per-stage row counts (reference metadata parity:
``R/bloomjoin.R:266-322``).
"""

from __future__ import annotations

import math
import warnings

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Observation
from pyspark.sql import functions as F

from ..aggregate import build_sketch
from ..plans.planner import (
    MIN_EXPECTED_REDUCTION,
    BloomJoinReport,
    broadcast_survivors,
    choose_prefilter_target,
    normalize_how,
    resolve_join_columns,
    should_skip_prefilter,
    spark_how,
    validate_join_inputs,
)
from ..sketches.bloom import BloomSketch

#: probe-side sample size for the selectivity estimate — the reference's
#: probe_limit (R/bloomjoin.R:240-257 uses 5000)
_SELECTIVITY_SAMPLE = 5000

#: practical per-executor broadcast budget for the filter itself
_BROADCAST_BUDGET_BYTES = 512 << 20

#: size gate for the native engine's probe expression: the serialized
#: JVM filter rides the plan as a literal, so it is re-serialized into
#: EVERY task binary (a per-task cost Spark's own runtime-filter rule
#: avoids via ScalarSubquery, which is not constructible from PySpark).
#: Above this cap the native path falls back to the two-phase sketch
#: engine, whose filter is broadcast once per executor.
_NATIVE_FILTER_CAP_BYTES = 16 << 20

#: log2 of the HLL sketch's register count used for filter sizing:
#: relative standard error 1.04/sqrt(2^12) ≈ 1.6 %, so the 1.05 sizing
#: margin sits at ≥ 3σ
_HLL_LG_K = 12

#: once-per-session latch for the native→sketch fallback warning (the
#: per-call record lives in the report's engine_fallback_reason)
_native_fallback_warned = False

_NUM_RANK = {
    "tinyint": 0,
    "byte": 0,
    "smallint": 1,
    "short": 1,
    "int": 2,
    "integer": 2,
    "bigint": 3,
    "long": 3,
    "float": 4,
    "double": 5,
}


def _common_cast(tx: str, ty: str) -> str | None:
    """Cast type so our hash agrees with Catalyst's join equality
    (= the reference's cross-type invariant, src/hash_keys.cpp:58-68).
    None = no cast needed."""
    tx, ty = tx.lower(), ty.lower()
    if tx == ty:
        return None
    if tx.startswith("decimal") or ty.startswith("decimal"):
        return "double"
    nx, ny = _NUM_RANK.get(tx), _NUM_RANK.get(ty)
    if nx is not None and ny is not None:
        # Spark's findTightestCommonType: higher-rank wins (long+float→float)
        order = ["byte", "short", "int", "long", "float", "double"]
        return order[max(nx, ny)]
    if "string" in (tx, ty) and (nx is not None or ny is not None):
        return "double"  # Spark compares string vs numeric as double
    if {"date", "timestamp"} == {tx, ty}:
        return "timestamp"
    if "string" in (tx, ty) and ("date" in (tx, ty) or "timestamp" in (tx, ty)):
        return tx if tx != "string" else ty
    warnings.warn(
        f"no canonical cast for join key types ({tx}, {ty}); hashing as string — "
        "consider casting the keys explicitly",
        stacklevel=2,
    )
    return "string"


def _key64(df: DataFrame, cols: list[str], casts: list[str | None]) -> Column:
    """JVM-side canonical 64-bit key hash (stays in whole-stage codegen)."""
    exprs = [
        F.col(c).cast(t) if t is not None else F.col(c) for c, t in zip(cols, casts)
    ]
    return F.xxhash64(*exprs)


def _make_probe_udf(bc):
    """Vectorized membership probe over the broadcast filter.
    ``bc.value`` unpickles the BloomSketch once per executor process."""

    @F.pandas_udf("boolean")
    def probe(h: pd.Series) -> pd.Series:
        bf: BloomSketch = bc.value
        return pd.Series(bf.contains_hashes(h.to_numpy(dtype=np.int64).view(np.uint64)))

    # nondeterministic stops Catalyst's constraint propagation from
    # copying the probe onto the BUILD side through the join condition —
    # the filter was built from those very keys, so it passes 100% there
    # and is pure wasted Python time
    return probe.asNondeterministic()


def _distinct_estimate(df: DataFrame, col: str) -> tuple[int, int]:
    """(row count, distinct estimate of ``col``) in one JVM aggregate.
    The estimate is Spark's ``hll_sketch_agg`` with log2 K = 12
    (relative standard error ≈ 1.6 %); ``col`` must be an int, bigint,
    string or binary column."""
    row = df.agg(
        F.count(F.lit(1)),
        F.hll_sketch_estimate(F.hll_sketch_agg(col, _HLL_LG_K)),
    ).first()
    return int(row[0]), int(row[1])


def _native_filter_bytes(n: int, fpp: float) -> int:
    """Serialized size of Spark's ``BloomFilterImpl`` for (n, fpp),
    known before any build job: ⌊−n·ln fpp / ln²2⌋ bits in 8-byte words
    plus the 16-byte V2 header (version, hash count, seed, word count)."""
    bits = int(-n * math.log(fpp) / (math.log(2) ** 2))
    return 16 + 8 * -(-bits // 64)


def _check_native_size(n: int, fpp: float, cap: int | None = None) -> None:
    """Raise when the native filter for (n, fpp) would exceed the
    plan-literal cap, so callers go straight to the sketch engine
    without paying for the native build."""
    cap = _NATIVE_FILTER_CAP_BYTES if cap is None else cap
    size = _native_filter_bytes(n, fpp)
    if size > cap:
        raise RuntimeError(
            f"serialized native filter would be {size >> 20} MiB, above the "
            f"{cap >> 20} MiB plan-literal cap (it would be re-serialized "
            "into every task binary)"
        )


def _warn_native_fallback(ex: Exception, report, requested: str = "auto") -> None:
    """Record why the native engine was not used and warn.  The reason
    always lands on ``report.engine_fallback_reason``; under auto
    dispatch the warning fires once per session (a pipeline may call an
    operator thousands of times), while an explicitly requested native
    engine warns on every call."""
    global _native_fallback_warned
    if report is not None:
        report.engine_fallback_reason = repr(ex)
    if requested == "native":
        warnings.warn(
            f"native bloom engine unavailable ({ex!r}); falling back to the "
            "sketch engine",
            stacklevel=3,
        )
    elif not _native_fallback_warned:
        _native_fallback_warned = True
        warnings.warn(
            f"native bloom engine unavailable ({ex!r}); falling back to the "
            "sketch engine (warning once per session; every affected report "
            "carries engine_fallback_reason)",
            stacklevel=3,
        )


def bloom_join(
    x: DataFrame,
    y: DataFrame,
    on=None,
    how: str = "inner",
    *,
    fpp: float = 0.01,
    engine: str = "auto",
    prefilter_side: str = "auto",
    n_hint: int | dict | None = None,
    min_probe_bytes: int | None = None,
    force_prefilter: bool = False,
    selectivity_check: bool = True,
    collect_metrics: bool = True,
    fanin: int = 64,
    checkpoint_dir: str | None = None,
    return_report: bool = False,
    verbose: bool = False,
):
    """Join ``x`` and ``y`` with an optional Bloom prefilter stage.

    API parity with the reference entry point
    (``/root/reference/R/bloomjoin.R:62-124``): same join types, same
    fpp default, same side guard + auto side choice + skip heuristics,
    same engine dispatch (``"fuse"`` reserved → NotImplementedError,
    ``R/bloomjoin.R:261-264``), metadata report with the same fields.

    ``min_probe_bytes``: plan-stats floor for the probe side — when its
    Catalyst size estimate is under this, auto mode skips the prefilter
    (the fixed decision/build jobs would cost more than the saved
    shuffle).  ``None`` → the 256 MB default
    (``plans.planner.MIN_PROBE_BYTES``); ``0`` disables the floor.
    ``force_prefilter=True`` bypasses it like every other gate.

    ``engine="auto"`` runs the all-JVM native engine unless
    ``checkpoint_dir`` asks for the mergeable sketch engine.
    ``collect_metrics`` attaches two ``Observation``s to the probe side
    (rows before and after the filter) on either engine; they fill
    ``probe_rows_before``/``probe_rows_after`` when
    ``report.finalize()`` is called after an action.

    Memory-starved executors + ``engine="bloom"``: the sketch probe is
    an ArrowEvalPython stage that queues FULL-WIDTH probe rows while
    their hashes round-trip through Python; on small heaps that queue
    is the bottleneck.  Cap
    ``spark.sql.execution.arrow.maxRecordsPerBatch`` to ~16384 there
    (measured at a 3 GiB heap over 8 M wide rows: 65536→7.3 s,
    16384→6.4 s, 4096→7.5 s — BENCH.md).  ``engine="auto"`` sidesteps
    this entirely by dispatching the all-JVM native probe.

    Returns the joined DataFrame (identical to ``x.join(y, on, how)``),
    or ``(df, BloomJoinReport)`` when ``return_report=True``.
    """
    if engine == "fuse":
        raise NotImplementedError("engine='fuse' is reserved and not implemented")
    if engine not in ("auto", "bloom", "native"):
        raise ValueError(
            f"engine must be 'auto'|'bloom'|'native'|'fuse', got {engine!r}"
        )
    if engine == "native" and checkpoint_dir:
        raise ValueError(
            "checkpoint_dir (per-partition lineage/resume) requires the "
            "mergeable two-phase engine — use engine='bloom'"
        )
    validate_join_inputs(x, y, how, fpp)
    how = normalize_how(how)
    pairs = resolve_join_columns(x, y, on)
    report = BloomJoinReport(join_type=how, engine="bloom", fpr=fpp)

    # ---- side guard (O18) -------------------------------------------
    # inner + auto: filter the LARGER side by Catalyst plan stats (free,
    # no job) — the analog of the reference's density rule
    # (R/bloomjoin.R:367-376): the big side gains the most from being
    # filtered, the small side makes the cheapest filter.
    n_x = n_y = None
    if how == "inner" and prefilter_side == "auto":
        bx, by = _plan_size_bytes(x), _plan_size_bytes(y)
        if bx is not None and by is not None and bx != by:
            n_x, n_y = bx, by
    target, override = choose_prefilter_target(how, prefilter_side, n_x=n_x, n_y=n_y)
    report.override_requested_side = override
    n_hints = _normalize_n_hint(n_hint)

    use_prefilter = target is not None
    skip_reasons: list[str] = []
    n_build = None
    if use_prefilter:
        build_df = y if target == "x" else x
        build_cols = [p[1] for p in pairs] if target == "x" else [p[0] for p in pairs]
        probe_df = x if target == "x" else y
        probe_cols = [p[0] for p in pairs] if target == "x" else [p[1] for p in pairs]
        build_name = "y" if target == "x" else "x"

        # ---- Spark-specific gates, both free (plan-stats sizeInBytes,
        # no job runs — parquet footers / in-memory relation stats):
        # 1. broadcast gate: if Catalyst would broadcast the build side
        #    anyway, a broadcast-hash join already avoids the probe
        #    shuffle and the prefilter only adds passes (SURVEY.md §4.1
        #    "cost-based skip" re-tuned for Spark);
        # 2. probe floor: a probe side under MIN_PROBE_BYTES shuffles
        #    less than the prefilter's fixed decision/build jobs cost —
        #    the reference's probe_rows < 1024 gate (R/bloomjoin.R:385-
        #    387) re-expressed on Catalyst's free size signal.
        #    min_probe_bytes=0 disables; None → planner.MIN_PROBE_BYTES.
        if not force_prefilter:
            floor = _resolve_min_probe_bytes(x.sparkSession, min_probe_bytes)
            bytes_est = _plan_size_bytes(build_df)
            thr = _broadcast_threshold(x.sparkSession)
            gate = should_skip_prefilter(
                n_probe=None,
                build_distinct=None,
                expected_reduction=None,
                build_bytes_estimate=bytes_est,
                broadcast_threshold=thr,
                probe_bytes_estimate=(
                    _plan_size_bytes(probe_df) if floor else None
                ),
                min_probe_bytes=floor or None,
            )
            if gate:
                report.skip_reasons = gate
                if verbose:
                    print(f"bloom_join: prefilter skipped: {'; '.join(gate)}")
                out = _standard_join(x, y, pairs, how)
                return (out, report) if return_report else out

        # ---- canonical casts shared by build hash and probe hash
        xt, yt = dict(x.dtypes), dict(y.dtypes)
        casts = [_common_cast(xt[xc], yt[yc]) for xc, yc in pairs]

        # ---- engine: all-JVM unless checkpointed resume needs the
        # mergeable partials of the sketch engine.  Row metrics are
        # Observations on every engine, so asking for them never
        # selects a slower one.
        requested = engine
        if engine == "auto":
            engine = "bloom" if checkpoint_dir else "native"

        # ---- sizing input: one JVM aggregation over the BUILD side
        # yields the row count and an HLL distinct-key estimate.  The
        # filter is sized by DISTINCT keys, the reference's right-sizing
        # step (src/BloomFilter.cpp:102-118 shrinks to exact unique
        # count): sizing by raw rows over-allocates m when the build
        # side repeats keys.  Only the sketch engine persists the hashed
        # projection (its Python build re-reads it); the native build
        # is one more codegen scan, cheaper than materializing a cache.
        build_keyed = build_df.select(
            _key64(build_df, build_cols, casts).alias("__bj_key64")
        )
        n_build = n_hints.get(build_name)
        persisted = False
        if n_build is None:
            if engine == "bloom":
                build_keyed = build_keyed.persist()
                persisted = True
            report.n_build, build_distinct = _distinct_estimate(build_keyed, "__bj_key64")
            report.build_distinct_estimate = build_distinct
            # 1.05 margin: ≥ 3σ of the HLL estimate, so the fpp target holds
            n_build = max(16, int(build_distinct * 1.05))
        else:
            report.n_build = n_build
            build_distinct = n_build

        skip_reasons = should_skip_prefilter(
            n_probe=n_hints.get("probe"),
            build_distinct=build_distinct,
            expected_reduction=None,
        )
        if force_prefilter:
            skip_reasons = []
        use_prefilter = not skip_reasons
        if not use_prefilter and persisted:
            build_keyed.unpersist()  # skip path must release the cache

    if not use_prefilter:
        report.skip_reasons = skip_reasons
        if verbose and skip_reasons:
            print(f"bloom_join: prefilter skipped: {'; '.join(skip_reasons)}")
        out = _standard_join(x, y, pairs, how)
        return (out, report) if return_report else out

    report.used_prefilter = True
    report.prefilter_side = target
    report.build_side = build_name
    spark = x.sparkSession
    probe_hash = _key64(probe_df, probe_cols, casts)

    # ---- engine='native': all-JVM build (stat.bloomFilter, one
    # treeAggregate) + codegen probe (BloomFilterMightContain) over the
    # SAME canonical xxhash64 keys.  The size cap is checked on the
    # predicted size, before the build job; cap or private-API drift
    # falls back to the sketch engine with a warning.
    native_pred = None
    if engine == "native":
        try:
            _check_native_size(n_build, fpp)
            blob = _native_build_filter(build_keyed, n_build, fpp)
            # build the probe Column HERE so private-API drift on the
            # probe side also degrades to the sketch engine instead of
            # raising out of bloom_join (the build and probe lean on the
            # same classic-mode ExpressionUtils helpers)
            native_pred = _native_might_contain(spark, blob, probe_hash)
            report.engine = "native"
            report.filter_bits = len(blob) * 8  # serialized size (≈ m)
        except Exception as ex:  # private-API drift / size gate → sketch engine
            _warn_native_fallback(ex, report, requested)

    # ---- sketch engine: distributed build, one pass, partial per
    # partition, OR-merge; the sealed filter is broadcast once (below)
    if native_pred is None:
        result = build_sketch(
            build_keyed,
            factory=lambda n=n_build, p=fpp: BloomSketch(n, p),
            cols=["__bj_key64"],
            prehashed=True,
            fanin=fanin,
            checkpoint_dir=checkpoint_dir,
        )
        if persisted:
            build_keyed.unpersist()
        sketch: BloomSketch = result.sketch
        # broadcast-budget guard (SURVEY §7 hard parts): the 2^40-bit cap
        # of the reference becomes a practical broadcast warning — a
        # filter bigger than ~512 MB should be rethought (higher fpp, or
        # let the join shuffle), not silently shipped to every executor
        filter_bytes = sketch.m // 8
        if filter_bytes > _BROADCAST_BUDGET_BYTES:
            warnings.warn(
                f"bloom filter is {filter_bytes >> 20} MiB (n={n_build}, fpp={fpp}) — "
                f"above the {_BROADCAST_BUDGET_BYTES >> 20} MiB broadcast budget; "
                "consider a larger fpp, an n_hint, or skipping the prefilter",
                stacklevel=2,
            )
        report.engine = "bloom"
        report.build_partitions = result.n_partitions
        report.merge_rounds = result.merge_rounds
        report.filter_bits = sketch.m
        report.filter_hashes = sketch.k
        fill = report.filter_fill_ratio = sketch.fill_ratio()
        # distinct estimate by inverting the fill ratio: d ≈ -(m/k)·ln(1-fill)
        if report.build_distinct_estimate is None and 0.0 < fill < 1.0:
            report.build_distinct_estimate = int(-(sketch.m / sketch.k) * np.log1p(-fill))

    # ---- sampled selectivity (O16, estimate_selectivity
    # R/bloomjoin.R:240-257) + cost-based skip (O17, :300-311): probe a
    # systematic sample against the just-built filter; the measured
    # pass rate IS s + (1−s)·fpr, the reference's expected_pass formula.
    # The native engine evaluates its JVM probe inside the sample job;
    # the sketch engine probes the sampled hashes on the driver.
    pass_rate = None
    if selectivity_check and not force_prefilter:
        if native_pred is not None:
            hits = _systematic_probe_sample(probe_df, native_pred, _SELECTIVITY_SAMPLE)
        else:
            hs = _systematic_probe_sample(probe_df, probe_hash, _SELECTIVITY_SAMPLE)
            hits = sketch.contains_hashes(hs.view(np.uint64))
        if len(hits):
            pass_rate = float(np.mean(hits))
            report.selectivity_estimate = max(
                0.0, min(1.0, (pass_rate - fpp) / max(1.0 - fpp, 1e-12))
            )
            report.expected_reduction = 1.0 - pass_rate
            if report.expected_reduction <= MIN_EXPECTED_REDUCTION:
                report.used_prefilter = False
                report.prefilter_side = None
                report.skip_reasons = [
                    f"expected reduction {report.expected_reduction:.3f} "
                    f"≤ {MIN_EXPECTED_REDUCTION} (sampled pass rate "
                    f"{pass_rate:.3f})"
                ]
                if verbose:
                    print(
                        "bloom_join: prefilter skipped after sampling: "
                        + report.skip_reasons[0]
                    )
                out = _standard_join(x, y, pairs, how)
                return (out, report) if return_report else out

    # ---- probe: row counts before/after the filter ride the action as
    # Observations (read by report.finalize(), no extra job)
    probe_pred = native_pred
    if probe_pred is None:
        probe_pred = _make_probe_udf(spark.sparkContext.broadcast(sketch.seal()))(probe_hash)
    filtered = probe_df
    if collect_metrics:
        obs = report._observations = (Observation(), Observation())
        filtered = filtered.observe(obs[0], F.count(F.lit(1)).alias("rows"))
    filtered = filtered.filter(probe_pred)
    if collect_metrics:
        filtered = filtered.observe(obs[1], F.count(F.lit(1)).alias("rows"))

    # ---- survivor broadcast: a filtered side small enough for
    # Catalyst's own broadcast threshold is broadcast, so the build side
    # is never shuffled (the filtered side is always one the join type
    # can build a hash relation from)
    if broadcast_survivors(
        pass_rate, _plan_size_bytes(probe_df), _broadcast_threshold(spark)
    ):
        filtered = F.broadcast(filtered)
        report.survivors_broadcast = True

    if target == "x":
        out = _standard_join(filtered, y, pairs, how)
    else:
        out = _standard_join(x, filtered, pairs, how)
    if verbose:
        print(
            f"bloom_join[{report.engine}]: prefiltering {target} with a "
            f"{report.filter_bits >> 13} KiB filter (build n={n_build}"
            f"{', survivors broadcast' if report.survivors_broadcast else ''})"
        )
    return (out, report) if return_report else out


def _native_might_contain(spark, filter_bytes: bytes, value_col: Column) -> Column:
    """JVM-codegen Bloom probe: a ``BloomFilterMightContain`` expression
    over a binary literal holding Spark's own ``BloomFilterImpl`` —
    ZERO Python on the probe path (the expression participates in
    whole-stage codegen exactly like Spark's internal runtime filter,
    which uses this same expression but is not exposed as SQL).  Built
    through two classic-mode helpers (`ExpressionUtils`); callers catch
    Exception and fall back to the vectorized Python probe."""
    from pyspark.sql.column import Column as PyColumn

    jvm = spark.sparkContext._jvm
    eu = jvm.org.apache.spark.sql.classic.ExpressionUtils
    lit_expr = eu.expression(F.lit(filter_bytes)._jc)
    val_expr = eu.expression(value_col._jc)
    mc = jvm.org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain(
        lit_expr, val_expr
    )
    return PyColumn(eu.column(mc))


def _native_build_filter(build_keyed: DataFrame, n_build: int, fpp: float) -> bytes:
    """Build Spark's JVM BloomFilter over the hashed key projection (one
    treeAggregate, no Python) and serialize it for the probe literal."""
    spark = build_keyed.sparkSession
    jbf = build_keyed._jdf.stat().bloomFilter("__bj_key64", n_build, fpp)
    bos = spark.sparkContext._jvm.java.io.ByteArrayOutputStream()
    jbf.writeTo(bos)
    return bytes(bos.toByteArray())


def _systematic_probe_sample(probe_df: DataFrame, value: Column, n: int) -> np.ndarray:
    """``value`` over the first ⌈n/P⌉ rows of EVERY partition, in one JVM
    job.  ``monotonically_increasing_id`` carries the row's index within
    its partition in its low 33 bits, so the filter keeps exactly those
    rows; every partition is still scanned (the key column only, in
    codegen).  A ``.limit(n)`` sample collapses to the first
    partition(s) and is arbitrarily biased when the data is clustered or
    sorted by the join key; spanning every partition is the reference's
    systematic-sampling intent (R/bloomjoin.R:240-257) at Spark scale."""
    nparts = max(1, probe_df.rdd.getNumPartitions())  # metadata, no job
    per = max(16, -(-n // nparts))
    row_in_part = F.monotonically_increasing_id().bitwiseAND((1 << 33) - 1)
    pdf = probe_df.where(row_in_part < per).select(value.alias("v")).toPandas()
    return pdf["v"].to_numpy()


def _standard_join(x: DataFrame, y: DataFrame, pairs, how: str) -> DataFrame:
    """The exact-identity fallback/final join (reference
    perform_standard_join, R/bloomjoin.R:458-474): a completely native
    Spark join so Catalyst/AQE own the physical strategy."""
    sh = spark_how(how)
    if all(xc == yc for xc, yc in pairs):
        return x.join(y, on=[xc for xc, _ in pairs], how=sh)
    cond = None
    for xc, yc in pairs:
        c = x[xc] == y[yc]
        cond = c if cond is None else (cond & c)
    return x.join(y, on=cond, how=sh)


def _plan_size_bytes(df: DataFrame) -> int | None:
    """Catalyst plan-stats size estimate (bytes); None if unavailable."""
    try:
        return int(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
    except Exception:
        return None


_BYTE_SUFFIX = {"": 1, "b": 1, "k": 1 << 10, "kb": 1 << 10, "m": 1 << 20,
                "mb": 1 << 20, "g": 1 << 30, "gb": 1 << 30, "t": 1 << 40,
                "tb": 1 << 40}


def _parse_byte_string(raw: str) -> int:
    """Spark-style byte string ('128m', '2g', '1024') → bytes.  Parsed
    in Python (no JVM reach-through, works on Connect); raises
    ValueError on malformed input — a user-set conf must never be
    silently ignored."""
    s = raw.strip().lower()
    num = s.rstrip("kmgtb")
    mult = _BYTE_SUFFIX.get(s[len(num):])
    if mult is None or not num:
        raise ValueError(f"cannot parse byte string {raw!r}")
    return int(float(num) * mult)


def _resolve_min_probe_bytes(spark, param: int | None) -> int:
    """Probe-floor resolution: explicit param → session conf
    ``spark.bloomjoin.minProbeBytes`` (accepts Spark byte strings like
    "128m"; "0" disables) → planner.MIN_PROBE_BYTES default.  A SET
    conf that fails to parse raises — silently substituting the
    default would make the planner contradict explicit operator
    config."""
    from ..plans.planner import MIN_PROBE_BYTES

    if param is not None:
        return int(param)
    try:
        raw = spark.conf.get("spark.bloomjoin.minProbeBytes", None)
    except Exception:
        raw = None  # conf API itself unavailable → default
    if raw is not None:
        try:
            return _parse_byte_string(raw)
        except ValueError as ex:
            raise ValueError(
                f"spark.bloomjoin.minProbeBytes={raw!r} is not a valid byte "
                "string (examples: '0', '256m', '2g')"
            ) from ex
    return MIN_PROBE_BYTES


def _broadcast_threshold(spark) -> int | None:
    """autoBroadcastJoinThreshold in bytes; None when disabled (-1)."""
    try:
        raw = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        thr = int(
            spark.sparkContext._jvm.org.apache.spark.util.Utils.byteStringAsBytes(raw)
        )
        return thr if thr > 0 else None
    except Exception:
        return None


def _normalize_n_hint(n_hint) -> dict:
    """Port of normalize_n_hint (R/bloomjoin.R:192-221)."""
    if n_hint is None:
        return {}
    if isinstance(n_hint, (int, float)):
        return {"x": int(n_hint), "y": int(n_hint)}
    if isinstance(n_hint, dict):
        out = {}
        for k, v in n_hint.items():
            if k not in ("x", "y", "probe"):
                raise ValueError(f"n_hint keys must be 'x'/'y'/'probe', got {k!r}")
            out[k] = int(v)
        return out
    raise ValueError(f"unsupported n_hint: {n_hint!r}")
