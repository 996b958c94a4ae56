"""Cross-engine helpers shared by operators and the oracle registry."""

from __future__ import annotations

import functools

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def rnd(col: Column, digits: int = 4) -> Column:
    """Portable rounding for *computed* float aggregates (sum/avg/std/
    corr/percentile/cosine …).

    Different engines sum in different orders, so two correct results
    can differ by an ulp — and when the true value sits exactly on a
    rounding half-boundary (common for data generated with 2-decimal
    values), plain ``round`` flips the last digit between engines.
    Pre-rounding at 8 digits collapses both results to the same value
    first. Plain min/max/passthrough values don't need this (no
    arithmetic → bit-identical inputs).
    """
    return F.round(F.round(col, 8), digits)


def sql_rnd(expr: str, digits: int = 4) -> str:
    """The DuckDB-side twin of :func:`rnd` for oracle SQL strings.

    Spark's ``round`` goes through BigDecimal.valueOf(double) — i.e.
    the double's SHORTEST decimal representation — then HALF_UP.
    DuckDB's ``round`` works on the binary double, which lands one ulp
    the other way exactly at half boundaries. Casting through VARCHAR
    reproduces the shortest-repr step; the DECIMAL(38,8) cast rounds
    half-up at 8 digits like the inner ``F.round(x, 8)``."""
    return (
        f"round(CAST(CAST(({expr}) AS VARCHAR) AS DECIMAL(38,8)), {digits})::DOUBLE"
    )


def shard_hash(key: Column, num_shards: int) -> Column:
    """Engine-portable deterministic shard assignment for an integer
    id: Knuth multiplicative hash mod ``num_shards``, reproducible in
    ANSI SQL as ``(((key % 1000003) * 2654435761) % n + n) % n`` —
    unlike Spark's murmur3 ``repartition(n, col)`` placement, which no
    other engine (or manifest reader) can replay. One scheme shared by
    the JSONL shard writer, sequence packing, and the export manifest
    so they can never drift apart."""
    return F.pmod((key % 1_000_003) * 2654435761, F.lit(num_shards))


# Validity domain of the rnd/sql_rnd parity contract: DuckDB's final
# DECIMAL→DOUBLE converts the scaled integer first, so once
# |value|·10^digits exceeds 2^53 that int→double step rounds and the
# chain can land 1-2 ulp off Spark's BigDecimal path. Keep rounded
# magnitudes below ~9e15 / 10^digits (round4 → |v| < ~9e11; round2 →
# |v| < ~9e13). Every oracle value in queries.py is ≤ ~1e9.
RND_PARITY_MAX_SCALED = 2**53


def fan_out(df: DataFrame) -> DataFrame:
    """Spread a frame over the cluster before CPU-heavy map-only work.

    Map-only stages (regexp features, token explodes) inherit SCAN
    parallelism, and parquet can only split at row-group boundaries —
    a single-row-group file runs regexp over the whole corpus on one
    core no matter how many executors exist. Round-robin repartition
    to ``defaultParallelism`` when the input is coarser; a no-op at
    real scale, where scans already produce ≥ cores partitions.

    Decided from the physical plan and never by running a job: a frame
    above an Exchange (or wrapped by AQE, which also covers exchanges
    inside cached relations and subqueries) is left alone — its
    partition count is only known by materializing the stage, and the
    answer then depends on what the session ran before. Only over
    exchange-free plans (file scans and narrow operators on them) is
    the partition count read, which plans the splits but runs nothing.
    """
    if df.isStreaming:
        # partitioning is the stream source's concern (maxFilesPerTrigger
        # etc.), and .rdd is illegal on a streaming frame
        return df
    plan = df._jdf.queryExecution().executedPlan().toString()
    if plan.startswith("AdaptiveSparkPlan") or "Exchange" in plan:
        return df
    target = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df


# --------------------------------------------------------------------
# Cache lifetime. Every frame the engine caches lives by one of two
# rules, both kept on the SparkSession object so nothing outlives it:
#   - a session memo (session_memo / session_memoized) is shared by the
#     queries of one session and dropped with the session;
#   - a frame an operator caches for its own use (a self-join side, a
#     reused sub-frame) is registered with own_cache, and the caller
#     frees all of them with one release(spark) after its action.
# Caches made while a memo is being built belong to that memo:
# release() leaves them alone.
# --------------------------------------------------------------------


class _CacheScope:
    def __init__(self):
        self.memos: dict = {}  # key -> (value, [(frame, storage level)])
        self.owned: list[DataFrame] = []
        self.building = 0  # memo builds in progress


def _scope(spark) -> _CacheScope:
    scope = getattr(spark, "_graft_cache_scope", None)
    if scope is None:
        scope = spark._graft_cache_scope = _CacheScope()
    return scope


def session_memo(spark, key: tuple, build):
    """The session's value for ``key``, from ``build()`` on first use.

    Frames in the value (a frame or a tuple holding frames) that were
    cached when it was built are re-armed on every hit, so an external
    ``spark.catalog.clearCache()`` (the bench clears between reps)
    does not leave later consumers recomputing the shared pipeline
    per reference."""
    scope = _scope(spark)
    hit = scope.memos.get(key)
    if hit is not None:
        value, cached = hit
        for df, level in cached:
            sl = df.storageLevel
            if not (sl.useMemory or sl.useDisk):
                df.persist(level)
        return value
    scope.building += 1
    try:
        value = build()
    finally:
        scope.building -= 1
    cached = []
    for df in value if isinstance(value, tuple) else (value,):
        if isinstance(df, DataFrame):
            level = df.storageLevel
            if level.useMemory or level.useDisk:
                cached.append((df, level))
    scope.memos[key] = (value, cached)
    return value


def session_memoized(fn):
    """Decorator form of :func:`session_memo` for ``fn(spark, *args)``,
    keyed by the function and its positional arguments."""
    @functools.wraps(fn)
    def memo(spark, *args):
        return session_memo(spark, (fn.__qualname__, *args),
                            lambda: fn(spark, *args))
    return memo


def own_cache(df: DataFrame) -> DataFrame:
    """Register a frame an operator cached for its own use, to be
    unpersisted by :func:`release`; returns it, so it wraps the cache
    call: ``own_cache(x.cache())``. Inside a memo build the frame
    belongs to the memo and is not registered."""
    scope = _scope(df.sparkSession)
    if not scope.building:
        scope.owned.append(df)
    return df


def release(spark) -> None:
    """Unpersist every operator-owned cache of the session (see
    :func:`own_cache`); session memos stay cached. Call after the
    consuming action."""
    scope = _scope(spark)
    for df in scope.owned:
        df.unpersist()
    scope.owned.clear()


def rnd_np(a, digits: int = 4):
    """Numpy twin of :func:`rnd` for Arrow kernels that must compare a
    ROUNDED value against a threshold inside the batch (the block-
    matrix cosine and SemDeDup prune). ``np.round`` is half-to-EVEN on
    the binary double; Spark's ``round`` is HALF_UP on the shortest
    decimal repr — they disagree exactly at decimal half boundaries,
    which is exactly where threshold membership gets decided. Strategy:
    bulk np.round, then re-round the (rare) boundary-suspect entries
    through Decimal(repr(x)) — the same shortest-repr + HALF_UP path
    BigDecimal.valueOf takes — so kernel-side verdicts match the JVM /
    oracle bit-for-bit. Kernels that can emit raw values and round
    JVM-side should still prefer that (ann_topk_pq_arrow's pattern);
    this exists for kernels whose verdict must be computed in-batch.
    """
    from decimal import ROUND_HALF_UP, Decimal

    import numpy as np

    a = np.asarray(a, dtype=np.float64)
    if a.ndim == 0:
        # ufuncs return SCALARS for 0-d inputs, which breaks the
        # out=-reusing buffer chain below — round via a length-1 view
        return rnd_np(a.reshape(1), digits)[0]
    r8 = np.round(a, 8)
    out = np.round(r8, digits)
    # boundary-suspect masks with TWO reused scratch buffers instead
    # of a fresh temporary per step (r13): on matrix-sized inputs the
    # dominant cost was not arithmetic but FIRST-TOUCH page faults on
    # ~10 freshly allocated array temporaries (measured ~1 s per
    # 160 MB temp on this host vs ~0.1 s warm). frac(x) via
    # x - floor(x) is bit-identical to np.modf(x)[0] for the
    # non-negative inputs here (and both paths leave ±inf/NaN inputs
    # out of the suspect set).
    with np.errstate(invalid="ignore"):  # inf - inf → NaN → non-suspect
        s = np.abs(a)
        s *= 1e8
        f = np.floor(s)
        np.subtract(s, f, out=s)
        np.subtract(s, 0.5, out=s)
        np.abs(s, out=s)
        mask = s < 1e-6
        np.abs(r8, out=f)
        f *= 10.0 ** digits
        np.floor(f, out=s)
        np.subtract(f, s, out=f)
        np.subtract(f, 0.5, out=f)
        np.abs(f, out=f)
        mask |= f < 1e-6
    suspects = np.nonzero(mask)
    if len(suspects[0]):
        q8 = Decimal(1).scaleb(-8)
        qd = Decimal(1).scaleb(-digits)
        flat_idx = zip(*suspects)
        for idx in flat_idx:
            v = Decimal(repr(float(a[idx]))).quantize(
                q8, rounding=ROUND_HALF_UP
            )
            out[idx] = float(v.quantize(qd, rounding=ROUND_HALF_UP))
    return out


_COLUMN_TREES: dict = {}


def memo_cols(key: tuple, builder):
    """Process-lived cache of STATIC Column trees (r12 VERDICT item 5).

    Column objects are immutable unresolved expression ASTs bound to
    the JVM gateway, not to any session or DataFrame — rebuilding the
    same tree on every operator call is pure py4j round-trip latency
    (measured 0.3–0.5 ms per F.* call; the q85/q201 funnel builds spent
    1.7–2.5 s/call re-deriving identical regex-feature and winnow
    trees). ``builder`` runs once per (gateway, key); the gateway id in
    the key drops the cache if the JVM is ever relaunched in-process.
    Only STATIC trees belong here — anything embedding per-call model
    literals (trained weights) must stay per-call.
    """
    from pyspark import SparkContext

    full = (id(SparkContext._gateway), *key)
    got = _COLUMN_TREES.get(full)
    if got is None:
        got = _COLUMN_TREES[full] = builder()
    return got


def rnd_threshold(tau: float, digits: int = 4) -> float:
    """The smallest float64 ``x`` with ``rnd_np(x, digits) >= tau``.

    :func:`rnd_np` composes two HALF_UP decimal roundings, each
    monotone non-decreasing in the real value (shortest-repr decimal
    order agrees with double order), so for any ``tau`` there is an
    exact double boundary and ``x >= rnd_threshold(tau, digits)``
    decides ``rnd_np(x, digits) >= tau`` — which lets Arrow kernels
    that only need the BOOLEAN verdict (SemDeDup's prune, the
    block-matrix pair filter) threshold the RAW similarity matrix
    with one vectorized compare instead of materializing a rounded
    copy (~10 matrix-sized temporaries per block)."""
    def ge(x: float) -> bool:
        return float(rnd_np([x], digits)[0]) >= tau

    step = 10.0 ** (-digits)
    lo, hi = tau - 2.0 * step, tau + step
    while ge(lo):
        lo -= step
    while not ge(hi):
        hi += step
    # float bisection converges to two adjacent doubles; hi is the
    # smallest double on the >= side
    while True:
        mid = (lo + hi) / 2.0
        if mid <= lo or mid >= hi:
            break
        if ge(mid):
            hi = mid
        else:
            lo = mid
    return float(hi)
