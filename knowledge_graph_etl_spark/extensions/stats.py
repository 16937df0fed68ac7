"""Distribution statistics operators.

:func:`group_quantiles` — exact discrete per-group quantiles via the
rank-selection rule (smallest value whose cumulative rank reaches the
requested fraction), computed with ONE window pass + ONE aggregate.

Built-in alternatives and why not: ``percentile_approx`` is approximate
(t-digest — fine for monitoring, wrong for a correctness-gated pipeline);
``percentile``/``percentile_cont`` interpolate between values, and the
interpolation arithmetic is not bit-reproducible across engines. The
rank-selection form picks REAL data values with pure integer logic, so it
is exact, deterministic, and verifiable against any SQL engine.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..ckpt import pin
from .hashing import md5_u60


def group_quantiles(
    df: DataFrame,
    group_col: str,
    value_col: str,
    fracs: list[float] = (0.25, 0.5, 0.75),
) -> DataFrame:
    """Per-group discrete quantiles: for each fraction ``p``, the value at
    rank ``ceil(p * n)`` in ascending order (SQL ``percentile_disc``
    semantics). Output: one row per group with ``n_rows`` and one
    ``p<frac>`` column per fraction (``p0_5`` for the median).

    Scale shape: one shuffle on the group key for the in-partition sort
    (rank + group count share the same window frame), then a map-side
    combinable min-aggregate. A single giant group serializes into one
    task — same caveat as any exact per-group sort; pre-split such groups
    or fall back to ``percentile_approx``."""
    if not fracs:
        raise ValueError("fracs must be non-empty")
    if any(not 0.0 < f <= 1.0 for f in fracs):
        raise ValueError(f"fractions must be in (0, 1], got {fracs}")
    w = Window.partitionBy(group_col).orderBy(value_col)
    wn = Window.partitionBy(group_col)
    # NULL values are excluded BEFORE ranking (percentile_disc semantics):
    # ranked NULLs would sort first, occupy ranks, and shift — or NULL out —
    # every quantile; n_rows likewise counts only real values. A group
    # whose values are all NULL disappears from the output.
    ranked = df.select(group_col, value_col).where(
        F.col(value_col).isNotNull()
    ).select(
        F.col(group_col),
        F.col(value_col),
        F.row_number().over(w).alias("__rn"),
        F.count(F.lit(1)).over(wn).alias("__n"),
    )
    aggs = [F.min("__n").alias("n_rows")]
    for f in fracs:
        target = F.ceil(F.lit(float(f)) * F.col("__n"))
        name = "p" + str(f).replace(".", "_").rstrip("0").rstrip("_")
        aggs.append(
            F.min(F.when(F.col("__rn") == target, F.col(value_col))).alias(name)
        )
    return ranked.groupBy(group_col).agg(*aggs)


#: ln(2/0.01) pinned as a literal shared VERBATIM by both engines' DKW
#: expressions (libm ln() is not cross-engine 1-ulp-identical; sqrt IS
#: IEEE-correctly-rounded everywhere, so with the constant pinned the
#: whole bound expression is bit-identical). The same decimal string
#: appears in the oracle SQL; float() of it is the identical double.
_DKW_LN_2_OVER_DELTA = float("5.298317366548036")


def sample_quantile_sketch(
    df: DataFrame,
    value_col: str,
    id_col: str,
    rate_denom: int = 8,
    fracs: list[float] = (0.5, 0.95, 0.99),
    group_col: str | None = None,
    salt: str = "kq0",
) -> DataFrame:
    """Mergeable quantile sketch via a DETERMINISTIC hash sample — the
    companion to :func:`histogram_quantiles` when value bounds are
    unknown up front. The "sketch" of a shard is simply its rows with
    ``md5(id:salt) % rate_denom == 0`` (expected 1/rate_denom of the
    data): merging shards is plain UNION (a hash sample of a union IS
    the union of the hash samples — the KLL merge property without
    KLL's random compaction, which would break this repo's exact
    cross-engine oracle discipline), and quantiles are EXACT order
    statistics of the merged sample, so the only error is sampling
    error, bounded by DKW: ``P(sup|F̂−F| > ε) ≤ 2·exp(−2nε²)``. Each
    output row carries that bound — ``dkw_eps_ppm`` is the 99%-confidence
    ε in ppm — making the sketch self-describing: a consumer sees
    exactly how much to trust each group's numbers.

    Scale shape: the sample filter is a pure map (row-local md5), the
    per-group order statistics are rank windows over SAMPLE-sized
    partitions (1/rate_denom of the group — pick ``rate_denom`` so a
    group's sample fits one task; the window never sees the full
    corpus). Quantile = value at rank ``ceil(frac·n)`` ordered by
    ``(value, id)`` — deterministic under ties. Returns one row per
    group: ``(group?, n_sample, dkw_eps_ppm, p<frac>...)``; groups with
    an empty sample are absent (their bound would be vacuous anyway)."""
    if rate_denom < 1:
        raise ValueError(f"rate_denom must be >= 1, got {rate_denom}")
    if not fracs or any(not 0.0 < f <= 1.0 for f in fracs):
        raise ValueError(f"fractions must be in (0, 1], got {fracs}")
    from .hashing import md5_u60

    key = F.concat(F.col(id_col).cast("string"), F.lit(":" + salt))
    sample = df.where(
        F.col(value_col).isNotNull()
        & (md5_u60(key) % F.lit(int(rate_denom)) == 0)
    )
    keys = [group_col] if group_col else []
    worder = Window.partitionBy(*keys).orderBy(
        F.col(value_col).asc(), F.col(id_col).asc()
    )
    wall = Window.partitionBy(*keys)
    ranked = sample.select(
        *keys,
        F.col(value_col),
        F.row_number().over(worder).alias("__rn"),
        F.count(F.lit(1)).over(wall).alias("__n"),
    )
    eps = F.floor(
        F.sqrt(
            F.lit(_DKW_LN_2_OVER_DELTA)
            / (F.lit(2.0) * F.col("__n").cast("double"))
        )
        * F.lit(1000000.0)
        + F.lit(0.5)
    ).cast("bigint")
    aggs = [
        F.min("__n").cast("bigint").alias("n_sample"),
        F.min(eps).alias("dkw_eps_ppm"),
    ]
    for f in fracs:
        name = "p" + str(f).replace(".", "_").rstrip("0").rstrip("_")
        target = F.ceil(F.lit(float(f)) * F.col("__n"))
        aggs.append(
            F.min(F.when(F.col("__rn") == target, F.col(value_col))).alias(name)
        )
    return ranked.groupBy(*keys).agg(*aggs)


def histogram_quantiles(
    df: DataFrame,
    value_col: str,
    lo: float,
    hi: float,
    bins: int = 1024,
    fracs: list[float] = (0.5, 0.95, 0.99),
    group_col: str | None = None,
) -> DataFrame:
    """Approximate quantiles from a fixed-bin histogram — the MERGEABLE
    scale path for percentiles. :func:`group_quantiles` is exact but
    sorts each group in one task; this is a single map-side-combinable
    count aggregate regardless of data size (the histogram of a 100 TB
    column is ``bins`` longs per partition, merged associatively), at
    the cost of quantization: each quantile is the LOWER EDGE of the
    first bin whose cumulative count reaches ``ceil(p*n)``, so the error
    is bounded by one bin width ``(hi-lo)/bins``. Unlike t-digest /
    ``percentile_approx`` the result is DETERMINISTIC and
    engine-reproducible (bin assignment is a fixed arithmetic
    expression — the same association order on both engines makes even
    the float edge cases identical), which is what lets it be
    oracle-verified exactly.

    Values outside ``[lo, hi)`` clamp into the edge bins (standard
    histogram-sketch behavior — callers pick bounds from domain
    knowledge or a prior pass); NULLs are dropped.

    Returns one row (per group if ``group_col``) with ``n_rows`` and one
    ``p<frac>`` column per fraction, named like :func:`group_quantiles`.
    """
    if bins < 1:
        raise ValueError(f"bins must be >= 1, got {bins}")
    if not hi > lo:
        raise ValueError(f"need hi > lo, got [{lo}, {hi})")
    if not fracs:
        raise ValueError("fracs must be non-empty")
    if any(not 0.0 < f <= 1.0 for f in fracs):
        raise ValueError(f"fractions must be in (0, 1], got {fracs}")
    v = F.col(value_col).cast("double")
    # identical association order to the DuckDB oracle: ((v-lo)*bins)/(hi-lo)
    raw = F.floor((v - F.lit(float(lo))) * F.lit(int(bins)) / F.lit(float(hi - lo)))
    b = F.greatest(F.lit(0), F.least(F.lit(int(bins) - 1), raw)).cast("long")
    keys = [group_col] if group_col else []
    hist = (
        df.where(F.col(value_col).isNotNull())
        .select(*keys, b.alias("__b"))
        .groupBy(*keys, "__b")
        .agg(F.count(F.lit(1)).alias("__c"))
    )
    wcum = (
        Window.partitionBy(*keys).orderBy("__b")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    wall = Window.partitionBy(*keys)
    cum = hist.select(
        *keys,
        "__b",
        F.sum("__c").over(wcum).alias("__cum"),
        F.sum("__c").over(wall).alias("__n"),
    )
    width = (float(hi) - float(lo)) / int(bins)
    aggs = [F.min("__n").alias("n_rows")]
    for f in fracs:
        target = F.ceil(F.lit(float(f)) * F.col("__n"))
        name = "p" + str(f).replace(".", "_").rstrip("0").rstrip("_")
        edge = F.lit(float(lo)) + F.col("__b").cast("double") * F.lit(width)
        aggs.append(
            F.min(F.when(F.col("__cum") >= target, edge)).alias(name)
        )
    return cum.groupBy(*keys).agg(*aggs)


def kmv_distinct(
    df: DataFrame,
    group_col: str,
    value_col: str,
    k: int = 64,
) -> DataFrame:
    """Per-group approximate distinct count via a KMV (k-minimum-values)
    sketch — the classic bottom-k estimator: hash values uniformly into
    (0,1], keep each group's k smallest distinct hashes, estimate
    ``(k-1) / h_k`` from the k-th smallest. Groups with fewer than k
    distinct values report their EXACT count (the sketch degenerates to
    the full set).

    Unlike HLL (``approx_count_distinct``), KMV on a fixed hash is fully
    deterministic — same input, same estimate, on any engine — so even the
    *approximate* answer is verifiable against a SQL oracle, and estimates
    are reproducible across pipeline re-runs. Standard error ≈ 1/√(k-2).

    Scale shape: one distinct-aggregate on (group, hash) — map-side
    combinable, uniform 8-byte keys — then a per-group bottom-k via
    ``row_number`` over the hash order. Returns
    ``(group_col, n_kept, est_distinct)``."""
    if k < 2:
        raise ValueError(f"k must be >= 2, got {k}")
    # md5_u60 → uniform integer in [0, 2^60); +1 keeps the normalized
    # hash in (0, 1] so the estimator never divides by zero
    h = (md5_u60(F.col(value_col).cast("string")) + F.lit(1)).cast(
        "double"
    ) / F.lit(float(16**15))
    pairs = df.select(F.col(group_col), h.alias("__h")).distinct()
    w = Window.partitionBy(group_col).orderBy("__h")
    ranked = pairs.withColumn("__rk", F.row_number().over(w)).where(
        F.col("__rk") <= k
    )
    return ranked.groupBy(group_col).agg(
        F.count("*").alias("n_kept"),
        F.round(
            F.when(
                F.count("*") < k, F.count("*").cast("double")
            ).otherwise(F.lit(float(k - 1)) / F.max("__h")),
            4,
        ).alias("est_distinct"),
    )


def hll_alpha_micro(m: int) -> int:
    """HLL bias-correction constant α_m in integer micro-units —
    ``round(1e6 · 0.7213 / (1 + 1.079/m))`` (Flajolet et al. 2007, the
    m ≥ 128 closed form applied uniformly; the constant is part of the
    operator's DEFINITION here, shared verbatim with the SQL oracle, so
    the estimate is bit-reproducible)."""
    return round(1_000_000 * 0.7213 / (1.0 + 1.079 / m))


def hll_distinct(
    df: DataFrame,
    group_col: str,
    value_col: str,
    p: int = 6,
) -> DataFrame:
    """Per-group HyperLogLog distinct-count estimate with DETERMINISTIC
    md5 registers — the fixed-size (2^p registers ≈ bytes, vs KMV's k
    hashes) cardinality sketch, reproducible run-to-run and across
    engines, unlike ``approx_count_distinct`` whose xxhash/HLL++ innards
    are Spark-private.

    Register construction (all integer, one md5 per value):

        h    = md5_u60(value)                  (uniform 60-bit)
        idx  = h mod m                         (register, m = 2^p)
        base = h div m
        rank = base = 0 → 32
               else least(bit_count((base & -base) - 1) + 1, 32)
                                               (trailing-zeros + 1)
        M[idx] = max rank seen

    Estimate (raw HLL estimator, integer micro-units):

        Z_num     = Σ_present 2^(32 - M[j]) + (m - present)·2^32
        est_micro = (α_micro · m² · 2^32) div Z_num    (decimal(38,0))

    The small-range linear-counting correction is deliberately omitted
    (it needs ln(), which is not bit-reproducible): below ~2.5·m distinct
    values the raw estimator over-reads — documented bias, use
    :func:`kmv_distinct` (exact under k) for small groups.

    Scale shape: one (group, idx) max-aggregate — map-side combinable,
    bounded at m rows per group — then a per-group sum; the sketch for a
    100 TB group is 2^p integers. Returns
    ``(group_col, n_registers_set, est_micro)``."""
    if not 4 <= p <= 12:
        raise ValueError(f"p must be in [4, 12], got {p}")
    m = 1 << p
    cap = 32
    alpha_micro = hll_alpha_micro(m)
    num = alpha_micro * m * m * (1 << cap)  # fits decimal(38,0) for p<=12
    # integer div (not /): float division of a 60-bit hash loses the low
    # bits past 2^53 — exactly the bits the rank reads
    vals = df.select(
        F.col(group_col),
        md5_u60(F.col(value_col).cast("string")).alias("__h"),
    ).select(
        F.col(group_col),
        F.expr(f"__h % {m}").alias("__idx"),
        F.expr(f"__h div {m}").alias("__base"),
    )
    rank = F.when(F.col("__base") == 0, F.lit(cap)).otherwise(
        F.least(
            F.expr("bit_count((__base & -__base) - 1) + 1"), F.lit(cap)
        )
    )
    regs = (
        vals.withColumn("__rank", rank)
        .groupBy(group_col, "__idx")
        .agg(F.max("__rank").alias("__m"))
    )
    return regs.groupBy(group_col).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_registers_set"),
        F.expr(
            f"CAST('{num}' AS DECIMAL(38,0)) div CAST("
            f"sum(shiftleft(CAST(1 AS BIGINT), {cap} - __m)) "
            f"+ CAST({m} - count(1) AS BIGINT) * CAST({1 << cap} AS BIGINT) "
            "AS DECIMAL(38,0))"
        ).cast("bigint").alias("est_micro"),
    )


def profile_table(df: DataFrame, columns: list[str] | None = None) -> DataFrame:
    """Per-column data-profiling report — the dbt/Deequ-style quality
    primitive every ingestion pipeline runs before trusting a new drop:
    for each (selected) column, ``(col_name, dtype, n_rows, n_nulls,
    n_distinct, min_num, max_num)``. ``n_distinct`` is the EXACT non-null
    distinct count; ``min_num``/``max_num`` are cast to double for
    numeric/timestamp/date columns (a min/max is an existing value — no
    arithmetic, so the double is engine-exact) and NULL for strings,
    keeping one uniform output schema.

    Scale shape: ONE aggregation pass over the table produces a single
    wide row (count/sum/min/max are map-side combinable; the distinct
    counts expand the input ``n_cols``-way — the standard
    multi-distinct plan, each stream partial-aggregated before its
    shuffle), which then explodes driver-free into one row per column.
    Unsupported dtypes (arrays, structs, binary) are skipped unless
    explicitly requested via ``columns`` (then: counts only)."""
    from pyspark.sql.types import (
        BooleanType,
        DateType,
        NumericType,
        StringType,
        TimestampNTZType,
        TimestampType,
    )

    fields = [
        f
        for f in df.schema.fields
        if (columns is None and isinstance(
            f.dataType,
            (NumericType, StringType, TimestampType, TimestampNTZType,
             DateType, BooleanType),
        ))
        or (columns is not None and f.name in columns)
    ]
    if not fields:
        raise ValueError("profile_table: no profilable columns selected")
    aggs = [F.count(F.lit(1)).cast("bigint").alias("__n")]
    for f in fields:
        c = F.col(f.name)
        aggs.append(
            F.sum(F.when(c.isNull(), 1).otherwise(0))
            .cast("bigint")
            .alias(f"__nulls_{f.name}")
        )
        aggs.append(
            F.countDistinct(c).cast("bigint").alias(f"__nd_{f.name}")
        )
        # per-dtype min/max-to-double, all TIMEZONE-FREE: NTZ via pure
        # wall-clock timestampdiff µs (cast-to-double is illegal for NTZ
        # and a cast through TimestampType would shift by session tz),
        # tz-aware timestamps via unix_micros, dates via epoch-day diff
        if isinstance(f.dataType, NumericType) or isinstance(
            f.dataType, BooleanType
        ):
            conv = lambda agg: agg.cast("int").cast("double") if isinstance(  # noqa: E731
                f.dataType, BooleanType
            ) else agg.cast("double")
        elif isinstance(f.dataType, TimestampNTZType):
            conv = lambda agg: (  # noqa: E731
                F.timestamp_diff(
                    "MICROSECOND",
                    F.lit("1970-01-01 00:00:00").cast("timestamp_ntz"),
                    agg,
                ).cast("double")
                / F.lit(1000000.0)
            )
        elif isinstance(f.dataType, TimestampType):
            conv = lambda agg: F.unix_micros(agg).cast("double") / F.lit(  # noqa: E731
                1000000.0
            )
        elif isinstance(f.dataType, DateType):
            conv = lambda agg: F.datediff(  # noqa: E731
                agg, F.lit("1970-01-01").cast("date")
            ).cast("double")
        else:
            conv = lambda agg: F.lit(None).cast("double")  # noqa: E731
        aggs.append(conv(F.min(c)).alias(f"__min_{f.name}"))
        aggs.append(conv(F.max(c)).alias(f"__max_{f.name}"))
    wide = df.agg(*aggs)
    structs = F.array(
        *[
            F.struct(
                F.lit(f.name).alias("col_name"),
                F.lit(f.dataType.simpleString()).alias("dtype"),
                F.col("__n").alias("n_rows"),
                F.col(f"__nulls_{f.name}").alias("n_nulls"),
                F.col(f"__nd_{f.name}").alias("n_distinct"),
                F.col(f"__min_{f.name}").alias("min_num"),
                F.col(f"__max_{f.name}").alias("max_num"),
            )
            for f in fields
        ]
    )
    return wide.select(F.explode(structs).alias("p")).select("p.*")


def aggregate_partials(
    df: DataFrame, keys: list[str], value_col: str
) -> DataFrame:
    """Keyed aggregation PARTIALS — the mergeable state a materialized
    view / lambda-architecture rollup persists instead of raw rows:
    per key group, ``(n_rows, sum_v, min_v, max_v)`` over a BIGINT
    measure (convert money to cents first — integer partials merge
    exactly on any engine; float sums do not). Merge two partial tables
    with :func:`merge_partials`; by the aggregate algebra
    (count/sum/min/max are commutative monoids) any merge tree equals
    the one-shot aggregate over the union — which is exactly what the
    correctness oracle checks."""
    v = F.col(value_col)
    return df.groupBy(*keys).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        F.sum(v).cast("bigint").alias("sum_v"),
        F.min(v).cast("bigint").alias("min_v"),
        F.max(v).cast("bigint").alias("max_v"),
    )


def merge_partials(a: DataFrame, b: DataFrame, keys: list[str]) -> DataFrame:
    """Merge two :func:`aggregate_partials` tables: union then ONE
    re-aggregate with the monoid ops (sum of counts/sums, min of mins,
    max of maxes). Keys present in only one side pass through. This is
    the maintenance step of an incremental rollup: yesterday's partials
    + today's delta batch, never a re-scan of the base table."""
    u = a.unionByName(b)
    return u.groupBy(*keys).agg(
        F.sum("n_rows").cast("bigint").alias("n_rows"),
        F.sum("sum_v").cast("bigint").alias("sum_v"),
        F.min("min_v").cast("bigint").alias("min_v"),
        F.max("max_v").cast("bigint").alias("max_v"),
    )


def winsorize_by_group(
    df: DataFrame,
    group_col: str,
    value_col: str,
    p_lo_pct: int = 5,
    p_hi_pct: int = 95,
) -> DataFrame:
    """Per-group winsorization (outlier clipping) at EXACT rank
    quantiles — the robust-normalization step feature pipelines run
    before scaling: each row's BIGINT ``value_col`` is clipped into
    [q_lo, q_hi] of its group, where q_p is the value at 1-based rank
    ``(n-1)·p div 100 + 1`` (lower interpolation — a value that EXISTS
    in the group, integer-exact on any engine; no float percentile
    interpolation). Returns the input's columns plus ``clipped``.
    NULL values are excluded from the quantile histogram and pass
    through with ``clipped`` NULL (they are missing data, not
    outliers — clipping them to a bound would fabricate values, and
    Spark's NULLS-FIRST vs DuckDB's NULLS-LAST histogram ordering
    would otherwise shift the cumulative ranks).

    Scale shape: quantiles come from the group's VALUE HISTOGRAM —
    ``groupBy(group, value)`` counts (map-side combinable), a running
    sum over the histogram rows (the window partition holds one row per
    DISTINCT value, bounded, not one per input row), then rank-select
    and a broadcast join of the tiny (group, lo, hi) bounds table back
    onto the rows. The raw table is never window-partitioned by the
    (low-cardinality, skew-prone) group key."""
    if not 0 <= p_lo_pct <= p_hi_pct <= 100:
        raise ValueError(
            f"need 0 <= p_lo ({p_lo_pct}) <= p_hi ({p_hi_pct}) <= 100"
        )
    g, v = F.col(group_col), F.col(value_col)
    hist = (
        df.where(v.isNotNull())
        .groupBy(group_col, value_col)
        .agg(F.count(F.lit(1)).cast("bigint").alias("__cnt"))
    )
    w_cum = (
        Window.partitionBy(group_col)
        .orderBy(value_col)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    w_all = Window.partitionBy(group_col)
    ranked = hist.select(
        g,
        v,
        F.sum("__cnt").over(w_cum).alias("__cum"),
        F.sum("__cnt").over(w_all).alias("__n"),
    )
    r_lo = F.expr(f"(__n - 1) * {int(p_lo_pct)} div 100") + F.lit(1)
    r_hi = F.expr(f"(__n - 1) * {int(p_hi_pct)} div 100") + F.lit(1)
    bounds = ranked.groupBy(group_col).agg(
        F.min(F.when(F.col("__cum") >= r_lo, v)).alias("__lo"),
        F.min(F.when(F.col("__cum") >= r_hi, v)).alias("__hi"),
    )
    return (
        df.join(F.broadcast(bounds), group_col, "left")
        .withColumn(
            "clipped",
            F.when(
                v.isNotNull(),
                F.greatest(F.col("__lo"), F.least(F.col("__hi"), v)),
            ).cast("bigint"),
        )
        .drop("__lo", "__hi")
    )


def profile_drift(
    old: DataFrame, new: DataFrame, columns: list[str] | None = None
) -> DataFrame:
    """Between-snapshot profile drift — the datasheet DIFF a pipeline
    publishes when a new corpus drop lands: :func:`profile_table` on
    both snapshots, full-outer joined per column, with schema drift
    (columns added/removed, dtype changes) and distribution drift
    (null-fraction shift in integer ppm, distinct-count change, min/max
    movement) as first-class columns. Catches the classic silent
    breakages: a source that started emitting NULLs, a re-encode that
    collapsed distinct values, a unit change that moved the range.

    Returns one row per column seen in either snapshot:
    ``(col_name, status, dtype_changed, old_n_rows, new_n_rows,
    old_nulls_ppm, new_nulls_ppm, null_drift_ppm, old_n_distinct,
    new_n_distinct, min_shifted, max_shifted)`` — all counts exact, all
    fractions integer ppm (``n_nulls * 1_000_000 div n_rows``), booleans
    null-safe; one-sided columns report their side's stats and NULL
    drift fields.

    Scale shape: two single-pass profile aggregates (each one wide row,
    exploded per column) and a full-outer join on the tiny column-name
    key — the join input is O(n_cols), never O(rows)."""
    po = profile_table(old, columns).select(
        F.col("col_name"),
        F.col("dtype").alias("__od"),
        F.col("n_rows").alias("old_n_rows"),
        F.expr(
            "CASE WHEN n_rows > 0 THEN n_nulls * 1000000 div n_rows END"
        ).cast("bigint").alias("old_nulls_ppm"),
        F.col("n_distinct").alias("old_n_distinct"),
        F.col("min_num").alias("__omin"),
        F.col("max_num").alias("__omax"),
    )
    pn = profile_table(new, columns).select(
        F.col("col_name"),
        F.col("dtype").alias("__nd"),
        F.col("n_rows").alias("new_n_rows"),
        F.expr(
            "CASE WHEN n_rows > 0 THEN n_nulls * 1000000 div n_rows END"
        ).cast("bigint").alias("new_nulls_ppm"),
        F.col("n_distinct").alias("new_n_distinct"),
        F.col("min_num").alias("__nmin"),
        F.col("max_num").alias("__nmax"),
    )
    j = po.join(pn, "col_name", "full_outer")
    status = (
        F.when(F.col("old_n_rows").isNull(), F.lit("added"))
        .when(F.col("new_n_rows").isNull(), F.lit("removed"))
        .otherwise(F.lit("common"))
    )
    both = F.col("old_n_rows").isNotNull() & F.col("new_n_rows").isNotNull()
    return j.select(
        "col_name",
        status.alias("status"),
        F.when(both, ~F.col("__od").eqNullSafe(F.col("__nd"))).alias(
            "dtype_changed"
        ),
        "old_n_rows",
        "new_n_rows",
        "old_nulls_ppm",
        "new_nulls_ppm",
        F.when(
            both, F.col("new_nulls_ppm") - F.col("old_nulls_ppm")
        ).cast("bigint").alias("null_drift_ppm"),
        "old_n_distinct",
        "new_n_distinct",
        F.when(both, ~F.col("__omin").eqNullSafe(F.col("__nmin"))).alias(
            "min_shifted"
        ),
        F.when(both, ~F.col("__omax").eqNullSafe(F.col("__nmax"))).alias(
            "max_shifted"
        ),
    )


def kmv_overlap(
    df: DataFrame,
    group_col: str,
    value_col: str,
    k: int = 64,
) -> DataFrame:
    """Pairwise set-INTERSECTION estimation between groups from KMV
    sketches (Beyer et al., SIGMOD'07) — the "audience overlap" query:
    how many distinct users do segments A and B share, for every pair of
    segments, WITHOUT a per-pair distinct-intersection pass over the
    corpus.

    Estimator: per group keep the k minimum distinct hashes (same
    bottom-k as :func:`kmv_distinct`); for a pair, take the bottom-k of
    the UNION of the two sketches, let ``n_both`` of those be present in
    both, and ``h_k`` be the k-th smallest. Then Jaccard ≈ n_both/k,
    |A∪B| ≈ (k-1)/h_k, and |A∩B| ≈ (n_both/k)·|A∪B|. When the union
    sketch holds fewer than k hashes it IS the exact union, and the
    estimates collapse to exact values. Fixed md5 hashing makes even the
    approximate answers bit-deterministic — re-runs and SQL oracles
    reproduce them.

    Scale shape: the corpus is touched ONCE (distinct (group, hash) →
    bottom-k window, |G|·k rows out). Everything pairwise happens on the
    sketches: |G|²·k rows for the pair expansion — independent of corpus
    size, the whole point of sketching segment overlap at 100 TB.

    Returns ``(group_a, group_b, n_kept, n_both, est_union,
    est_intersect, est_jaccard)`` for ordered pairs group_a < group_b.
    """
    if k < 2:
        raise ValueError(f"k must be >= 2, got {k}")
    h = (md5_u60(F.col(value_col).cast("string")) + F.lit(1)).cast(
        "double"
    ) / F.lit(float(16**15))
    sk = (
        df.select(F.col(group_col).alias("g"), h.alias("__h"))
        .distinct()
        .withColumn(
            "__rk", F.row_number().over(Window.partitionBy("g").orderBy("__h"))
        )
        .where(F.col("__rk") <= k)
        .select("g", "__h")
    )
    groups = sk.select("g").distinct()
    pairs = (
        groups.alias("ga")
        .crossJoin(groups.alias("gb"))
        .where(F.col("ga.g") < F.col("gb.g"))
        .select(F.col("ga.g").alias("group_a"), F.col("gb.g").alias("group_b"))
    )
    ea = pairs.join(sk.withColumnRenamed("g", "group_a"), "group_a").select(
        "group_a", "group_b", "__h", F.lit(1).alias("in_a"), F.lit(0).alias("in_b")
    )
    eb = pairs.join(sk.withColumnRenamed("g", "group_b"), "group_b").select(
        "group_a", "group_b", "__h", F.lit(0).alias("in_a"), F.lit(1).alias("in_b")
    )
    union = (
        ea.unionByName(eb)
        .groupBy("group_a", "group_b", "__h")
        .agg(F.max("in_a").alias("in_a"), F.max("in_b").alias("in_b"))
        .withColumn(
            "__rk",
            F.row_number().over(
                Window.partitionBy("group_a", "group_b").orderBy("__h")
            ),
        )
        .where(F.col("__rk") <= k)
    )
    agg = union.groupBy("group_a", "group_b").agg(
        F.count("*").alias("n_kept"),
        F.sum(F.col("in_a") * F.col("in_b")).cast("bigint").alias("n_both"),
        F.max("__h").alias("__hk"),
    )
    est_union = F.when(
        F.col("n_kept") < k, F.col("n_kept").cast("double")
    ).otherwise(F.lit(float(k - 1)) / F.col("__hk"))
    return agg.select(
        "group_a",
        "group_b",
        F.col("n_kept").cast("bigint").alias("n_kept"),
        "n_both",
        F.round(est_union, 4).alias("est_union"),
        F.round(
            F.col("n_both").cast("double") / F.col("n_kept") * est_union, 4
        ).alias("est_intersect"),
        F.round(F.col("n_both").cast("double") / F.col("n_kept"), 6).alias(
            "est_jaccard"
        ),
    )


def join_cardinality_estimate(
    a: DataFrame,
    b: DataFrame,
    key_a: str,
    key_b: str,
    sample_mod: int = 16,
) -> DataFrame:
    """Equi-join output-size estimation from a coordinated key sample —
    the statistic a cost-based planner needs before committing to a join
    strategy (broadcast vs shuffle, join order), computed WITHOUT running
    the join: |A ⋈ B| = Σ_k n_A(k)·n_B(k), estimated over the keys whose
    uniform hash lands in a 1/sample_mod bucket and scaled back up.

    Coordinated (hash-based) sampling is the load-bearing trick: sampling
    ROWS independently on each side would almost never pick the same key
    twice (the classic join-sampling failure); sampling KEYS by a shared
    deterministic hash keeps both sides' full frequency for every sampled
    key, so each per-key product is exact and only the key population is
    sampled. Estimator is unbiased with relative error driven by the
    key-frequency skew captured in the sample (heavy keys are sampled
    with the same probability but contribute exactly when they are).

    Fixed md5 hashing → the estimate is bit-deterministic and
    SQL-oracle-able (the kmv_* standard).

    Scale shape: each side is filtered map-side to ~1/sample_mod of its
    keys BEFORE any shuffle, then aggregated to per-key counts
    (map-combinable), and the final join is between two KEY-CARDINALITY
    sized count tables — never row×row. Returns ONE row
    ``(n_keys_sampled, est_pairs)``."""
    if sample_mod < 1:
        raise ValueError(f"sample_mod must be >= 1, got {sample_mod}")

    def side(df: DataFrame, key: str, out: str) -> DataFrame:
        return (
            df.select(F.col(key).cast("string").alias("k"))
            .where(md5_u60(F.col("k")) % sample_mod == 0)
            .groupBy("k")
            .agg(F.count(F.lit(1)).alias(out))
        )

    ca = side(a, key_a, "na")
    cb = side(b, key_b, "nb")
    joined = ca.join(cb, "k")
    return joined.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_keys_sampled"),
        (F.coalesce(F.sum(F.col("na") * F.col("nb")), F.lit(0)) * sample_mod)
        .cast("bigint")
        .alias("est_pairs"),
    )


def dq_rules_report(
    df: DataFrame,
    not_null: list[str] | None = None,
    unique: list[str] | None = None,
    ranges: dict[str, tuple[float, float]] | None = None,
    references: dict[str, DataFrame] | None = None,
) -> DataFrame:
    """Declarative data-quality rule evaluation (the Deequ/Great-
    Expectations shape): evaluate a set of constraints over a table and
    return one row per rule — ``(rule, n_checked, n_violations)`` — so a
    pipeline can gate a 100 TB load on a contract instead of eyeballing
    profiles.

    Rule families:
      * ``not_null=[col, ...]`` — NULL count per column
      * ``unique=[col, ...]`` — rows carrying a duplicated value
        (NULLs don't count as duplicates of each other, the SQL-standard
        UNIQUE reading)
      * ``ranges={col: (lo, hi)}`` — non-NULL values outside [lo, hi]
      * ``references={col: dim_df}`` — foreign-key violations: non-NULL
        values absent from the single-column dim table

    Scale shape: every not_null/range rule is a conditional-sum in ONE
    shared scan-aggregate, unpivoted lazily with ``stack`` (no per-rule
    pass, no driver collect); each unique rule is one count-per-key
    aggregate on its column; each referential rule is one LEFT ANTI join
    that broadcasts the dim when small. Rule outputs are unioned into a
    rule-count-sized result. The n_checked convention: table rows for
    not_null; non-NULL rows for unique, ranges and references (a NULL FK
    is 'absent', not 'broken' — pair with not_null to forbid it)."""
    not_null = not_null or []
    unique = unique or []
    ranges = ranges or {}
    references = references or {}
    aggs = [F.count(F.lit(1)).alias("__n")]
    stack_items: list[str] = []
    for i, c in enumerate(not_null):
        aggs.append(F.sum(F.col(c).isNull().cast("long")).alias(f"__nn_{i}"))
        stack_items.append(f"'not_null({c})', __n, __nn_{i}")
    for i, (c, (lo, hi)) in enumerate(ranges.items()):
        aggs.append(
            F.sum(
                (
                    F.col(c).isNotNull()
                    & ((F.col(c) < F.lit(lo)) | (F.col(c) > F.lit(hi)))
                ).cast("long")
            ).alias(f"__rg_{i}")
        )
        aggs.append(F.sum(F.col(c).isNotNull().cast("long")).alias(f"__rgn_{i}"))
        stack_items.append(f"'range({c},{lo},{hi})', __rgn_{i}, __rg_{i}")
    out = None
    if stack_items:
        out = df.agg(*aggs).select(
            F.expr(
                "stack({}, {}) as (rule, n_checked, n_violations)".format(
                    len(stack_items), ", ".join(stack_items)
                )
            )
        ).select(
            "rule",
            F.col("n_checked").cast("bigint").alias("n_checked"),
            F.col("n_violations").cast("bigint").alias("n_violations"),
        )
    for c in unique:
        dup = (
            df.where(F.col(c).isNotNull())
            .groupBy(c)
            .agg(F.count(F.lit(1)).alias("__k"))
            .agg(
                F.lit(f"unique({c})").alias("rule"),
                F.coalesce(F.sum("__k"), F.lit(0))
                .cast("bigint")
                .alias("n_checked"),
                F.coalesce(
                    F.sum(F.when(F.col("__k") > 1, F.col("__k"))), F.lit(0)
                )
                .cast("bigint")
                .alias("n_violations"),
            )
        )
        out = dup if out is None else out.unionByName(dup)
    for c, dim in references.items():
        dcol = dim.columns[0]
        nn = df.where(F.col(c).isNotNull())
        viol = (
            nn.join(
                F.broadcast(dim.select(F.col(dcol).alias(c)).distinct()),
                c,
                "left_anti",
            )
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_violations"))
            .crossJoin(
                nn.agg(F.count(F.lit(1)).cast("bigint").alias("n_checked"))
            )
            .select(
                F.lit(f"references({c})").alias("rule"),
                "n_checked",
                "n_violations",
            )
        )
        out = viol if out is None else out.unionByName(viol)
    if out is None:
        raise ValueError("dq_rules_report: no rules given")
    return out


def rank_normalize(
    df: DataFrame,
    value_col: str,
    group_col: str | None = None,
    id_cols: list[str] | None = None,
) -> DataFrame:
    """Rank (quantile) normalization of a numeric feature — the
    distribution-free transform that maps any skewed/heavy-tailed column
    onto [0, 1] uniformly, standard preprocessing before quantile-bucket
    features, calibration curves, or mixing scores from incomparable
    scales (e.g. blending perplexity with length penalties). Emits
    integer ``rank_ppm = (rank-1)·10⁶ div (n-1)`` with SQL ``rank()``
    semantics, so TIES SHARE a value (two equal inputs must map to the
    same feature — row_number would split them nondeterministically);
    single-value groups map to 0; NULLs pass through as NULL rank (they
    carry no order information; Spark sorts them first, so the non-NULL
    ranks are shifted down by the group's NULL count).

    Scale shape: one window shuffle on the group key (or one global sort
    when ungrouped — prefer grouped at corpus scale); group sizes come
    from the same partitioning; integer div end to end (a float ratio
    would silently lose bits past 2^53 on billion-row groups)."""
    keep = (id_cols or []) + ([group_col] if group_col else [])
    part = [group_col] if group_col else []
    w = Window.partitionBy(*part).orderBy(F.col(value_col))
    wall = Window.partitionBy(*part)
    nn = F.sum(F.col(value_col).isNotNull().cast("long")).over(wall)
    n_null = F.count(F.lit(1)).over(wall) - nn
    shifted = F.rank().over(w) - n_null - 1
    out = df.select(
        *keep,
        F.col(value_col),
        nn.alias("__nn"),
        shifted.alias("__rk"),
    )
    rank_ppm = F.when(
        F.col(value_col).isNotNull(),
        F.when(
            F.col("__nn") > 1,
            F.expr("__rk * 1000000 div (__nn - 1)"),
        ).otherwise(F.lit(0)),
    ).cast("bigint")
    return out.select(*keep, F.col(value_col), rank_ppm.alias("rank_ppm"))


def hll_rolling_distinct(
    events: DataFrame,
    window_periods: int = 7,
    period_us: int = 86_400_000_000,
    ts_col: str = "ts",
    entity_col: str = "user_id",
    p: int = 6,
) -> DataFrame:
    """Rolling-window distinct estimation by MERGING per-period HLL
    sketches — the sketch-mergeability pattern that makes windowed
    cardinality affordable at 100 TB: the exact rewrite
    (:func:`..events.rolling_distinct`) shuffles |distinct pairs|·W
    rows, while here each period is first collapsed to 2^p registers and
    only REGISTER rows fan out over the window (|periods|·2^p·W rows —
    corpus-size independent). HLL merge is register-wise max, which is
    exactly a second max-aggregate; same deterministic md5 register
    scheme as :func:`hll_distinct`, so the estimates are
    bit-reproducible and SQL-oracle-able. The small-range
    linear-counting correction is omitted as there (documented raw-HLL
    over-read below ~2.5·2^p distinct — pick p accordingly or use the
    exact rewrite when windows are small).

    Returns ``(period, n_registers_set, est_micro)`` per window END
    (window = [period-W+1, period]), clamped to observed periods."""
    if not 4 <= p <= 12:
        raise ValueError(f"p must be in [4, 12], got {p}")
    if window_periods < 1:
        raise ValueError(f"window_periods must be >= 1, got {window_periods}")
    m = 1 << p
    cap = 32
    alpha_micro = hll_alpha_micro(m)
    num = alpha_micro * m * m * (1 << cap)
    per = F.floor(F.unix_micros(F.col(ts_col)) / F.lit(period_us)).cast(
        "bigint"
    )
    vals = events.select(
        per.alias("p"),
        md5_u60(F.col(entity_col).cast("string")).alias("__h"),
    ).select(
        "p",
        F.expr(f"__h % {m}").alias("__idx"),
        F.expr(f"__h div {m}").alias("__base"),
    )
    rank = F.when(F.col("__base") == 0, F.lit(cap)).otherwise(
        F.least(F.expr("bit_count((__base & -__base) - 1) + 1"), F.lit(cap))
    )
    day_regs = (
        vals.withColumn("__rank", rank)
        .groupBy("p", "__idx")
        .agg(F.max("__rank").alias("__m"))
    )
    bounds = day_regs.agg(F.max("p").alias("pmax"))
    fan = day_regs.crossJoin(F.broadcast(bounds)).select(
        "__idx",
        "__m",
        F.explode(
            F.sequence(
                F.col("p"),
                F.least(F.col("p") + (window_periods - 1), F.col("pmax")),
            )
        ).alias("period"),
    )
    merged = fan.groupBy("period", "__idx").agg(F.max("__m").alias("__m"))
    return (
        merged.groupBy("period")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_registers_set"),
            F.expr(
                f"CAST('{num}' AS DECIMAL(38,0)) div CAST("
                f"sum(shiftleft(CAST(1 AS BIGINT), {cap} - __m)) "
                f"+ CAST({m} - count(1) AS BIGINT) * CAST({1 << cap} AS BIGINT) "
                "AS DECIMAL(38,0))"
            )
            .cast("bigint")
            .alias("est_micro"),
        )
        .orderBy("period")
    )


def kanonymity_report(
    df: DataFrame,
    quasi_cols: list[str],
    sensitive_col: str,
    k: int = 5,
    l: int = 2,
) -> DataFrame:
    """k-anonymity / l-diversity audit (Sweeney; Machanavajjhala et al.)
    over a table about to be released or joined outward: every
    quasi-identifier combination with its group size and the number of
    distinct sensitive values it carries. A group smaller than ``k`` is
    re-identifiable by linkage on the quasi-identifiers; a group with
    fewer than ``l`` distinct sensitive values leaks the sensitive
    attribute even when k holds (homogeneity attack). The row-level
    report (not just a pass/fail) is what a release process needs: it
    names the exact cells to suppress or generalize.

    Scale shape: ONE aggregate on the quasi-identifier key —
    count + count_distinct in the same groupBy (two-phase under the
    hood, map-combinable) — output bounded by the quasi-identifier
    domain, never row count. Returns
    ``(*quasi_cols, group_n, n_sensitive, k_violation, l_violation)``."""
    if k < 1 or l < 1:
        raise ValueError(f"k and l must be >= 1, got k={k}, l={l}")
    agg = df.groupBy(*quasi_cols).agg(
        F.count(F.lit(1)).cast("bigint").alias("group_n"),
        F.count_distinct(F.col(sensitive_col)).cast("bigint").alias(
            "n_sensitive"
        ),
    )
    return agg.select(
        *quasi_cols,
        "group_n",
        "n_sensitive",
        (F.col("group_n") < k).alias("k_violation"),
        (F.col("n_sensitive") < l).alias("l_violation"),
    )


def selectivity_estimate(
    df: DataFrame,
    value_col: str,
    predicates: list[tuple[int, int]],
    bins: int = 64,
) -> DataFrame:
    """Histogram-based range-predicate selectivity estimation, evaluated
    against the truth — the other half of cost-based-optimizer
    statistics next to :func:`join_cardinality_estimate` ("measure,
    don't guess" for the planner itself): how well does a ``bins``-bucket
    equi-width histogram predict the row count of each [lo, hi]
    predicate?

    Estimator: integer bin edges ``mn + (b·(span+1)) div bins`` (uneven
    last-bin widths are fine — they are mirrored exactly), uniform
    spread assumed within a bin, per-bin contribution
    ``cnt · overlap · 2^20 div width`` summed and de-scaled — all
    integer, so the ESTIMATE itself is bit-reproducible, not just the
    truth. Returns one row per predicate:
    ``(lo, hi, est_rows, actual_rows, err_ppm)``.

    Scale shape: one 2-value min/max aggregate, one ``bins``-key bin
    count, one shared conditional-count aggregate for all the actuals —
    three passes total, none keyed on anything finer than the bin id.
    The predicate table is a literal (broadcast) cross join against the
    ``bins``-row histogram."""
    if bins < 1:
        raise ValueError(f"bins must be >= 1, got {bins}")
    spark = df.sparkSession
    # explicit floor before the integer cast: Spark's double->bigint cast
    # truncates but other engines (DuckDB) round — floor is the portable
    # spelling of the same bucketing
    src = df.select(
        F.floor(F.col(value_col)).cast("bigint").alias("v")
    ).where(F.col("v").isNotNull())
    stats = F.broadcast(
        src.agg(F.min("v").alias("mn"), F.max("v").alias("mx"))
    )
    hist = (
        src.crossJoin(stats)
        .select(
            F.expr(f"((v - mn) * {bins}) div (mx - mn + 1)").alias("b"),
            "mn",
            "mx",
        )
        .groupBy("b", "mn", "mx")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    preds = spark.createDataFrame(
        [(int(lo), int(hi)) for lo, hi in predicates], "lo bigint, hi bigint"
    )
    j = F.broadcast(preds).crossJoin(hist)
    lo_b = F.expr(f"mn + (b * (mx - mn + 1)) div {bins}")
    hi_b = F.expr(f"mn + ((b + 1) * (mx - mn + 1)) div {bins}")
    overlap = F.greatest(
        F.lit(0).cast("bigint"),
        F.least(F.col("hi") + 1, hi_b) - F.greatest(F.col("lo"), lo_b),
    )
    est = (
        j.withColumn("lo_b", lo_b)
        .withColumn("hi_b", hi_b)
        .withColumn("ov", overlap)
        .withColumn(
            "contrib",
            F.expr("cnt * ov * 1048576 div (hi_b - lo_b)"),
        )
        .groupBy("lo", "hi")
        .agg(
            F.expr("sum(contrib) div 1048576").cast("bigint").alias("est_rows")
        )
    )
    actual_aggs = [
        F.sum(
            ((F.col("v") >= int(lo)) & (F.col("v") <= int(hi))).cast("long")
        ).alias(f"__a{i}")
        for i, (lo, hi) in enumerate(predicates)
    ]
    actuals_row = src.agg(*actual_aggs)
    actuals = actuals_row.select(
        F.expr(
            "stack({}, {}) as (lo, hi, actual_rows)".format(
                len(predicates),
                ", ".join(
                    f"CAST({int(lo)} AS BIGINT), CAST({int(hi)} AS BIGINT), "
                    f"CAST(__a{i} AS BIGINT)"
                    for i, (lo, hi) in enumerate(predicates)
                ),
            )
        )
    )
    return (
        est.join(actuals, ["lo", "hi"])
        .select(
            "lo",
            "hi",
            "est_rows",
            "actual_rows",
            F.expr(
                "abs(est_rows - actual_rows) * 1000000 div "
                "greatest(actual_rows, 1)"
            )
            .cast("bigint")
            .alias("err_ppm"),
        )
        .orderBy("lo", "hi")
    )


def ks_2sample(
    df: DataFrame,
    group_col: str,
    value_col: str,
    quant_scale: int = 1000,
) -> DataFrame:
    """Two-sample Kolmogorov–Smirnov distance between every PAIR of
    groups' value distributions — the distribution-shape drift test that
    :func:`profile_drift` (nulls/extremes/counts) cannot see: two crawls
    can share min/max/distinct yet have a quality-score distribution
    that shifted wholesale, and KS distance ``D = max_x |ECDF_a(x) −
    ECDF_b(x)|`` is the standard detector (the two-sided DKW bound turns
    D into a significance level; the pipeline decision threshold is on D
    itself).

    Exact integer form: values are micro-quantized to ``floor(x ·
    quant_scale + 0.5)`` bigints (the :func:`~.similarity
    .embedding_comoments` convention — bit-identical cross-engine, and
    ties collapse identically), and instead of comparing float ECDFs the
    op compares the INTEGER cross products: ``D_num = max |ca·nb −
    cb·na|`` over the merged value grid (ca/cb cumulative counts, na/nb
    totals), so ``D = D_num / (na·nb)`` is reported as ``d_ppm = D_num ·
    1_000_000 div (na·nb)`` with zero float arithmetic anywhere. NULL
    values are excluded (an ECDF is over observed values); group totals
    count non-NULL rows.

    Scale shape: the corpus is reduced FIRST to per-group value
    histograms — one shuffle keyed on ``(group, quantized value)``, map-
    side combinable, output bounded by Σ per-group distinct values. The
    all-pairs expansion then runs on histogram rows only (×(|G|−1)
    fan-out of the histogram, never of raw rows), one window pass per
    merged grid. |G| is segment/crawl cardinality — small by
    construction for a drift report. The histogram subtree is referenced
    three times (totals + both pair sides), so the per-group histogram
    (bounded by Σ per-group distinct quantized values — tiny next to the
    corpus) is checkpointed: the source is scanned ONCE and all three
    consumers read the checkpoint. The returned plan references it, so
    whoever consumes the result releases it — the :mod:`..ckpt`
    pinned-RDD budget, same as ``knn_graph``/``select_token_budget``.

    Returns ``(group_a, group_b, n_a, n_b, d_num, d_ppm)`` for ordered
    pairs ``group_a < group_b``.

    Bound: the exact-integer path needs ``n_a · n_b < 2^63`` (≈3·10⁹
    rows per side) — that is the ``ca·n_b − cb·n_a`` dev term's bigint
    ceiling; the final ppm division is widened through decimal(38,0)
    (``d_num · 10⁶`` would otherwise wrap bigint already at ``n_a · n_b
    > ~9.2·10¹²``, ~3·10⁶ rows/side). Beyond that, run it on a
    hash-sampled subset
    (``md5_u60(id) % m == 0``) — the KS statistic concentrates at rate
    1/√n, so a 10⁹-row sample already resolves D to ~3·10⁻⁵.
    """
    if quant_scale < 1:
        raise ValueError(f"quant_scale must be >= 1, got {quant_scale}")
    qv = F.floor(
        F.col(value_col).cast("double") * F.lit(int(quant_scale)) + F.lit(0.5)
    ).cast("bigint")
    hist = (
        df.where(F.col(value_col).isNotNull())
        .select(F.col(group_col).cast("string").alias("g"), qv.alias("v"))
        .groupBy("g", "v")
        .agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
    )
    hist = pin(hist)
    totals = hist.groupBy("g").agg(F.sum("cnt").cast("bigint").alias("n"))
    groups = totals.select("g", "n")
    pairs = (
        groups.select(
            F.col("g").alias("group_a"), F.col("n").alias("n_a")
        )
        .join(
            groups.select(
                F.col("g").alias("group_b"), F.col("n").alias("n_b")
            ),
            F.col("group_a") < F.col("group_b"),
            "inner",
        )
    )
    # merged per-pair grid: each histogram row feeds every pair its group
    # participates in; sided counts land in cnt_a / cnt_b.
    side_a = pairs.join(hist, pairs.group_a == hist.g).select(
        "group_a", "group_b", "n_a", "n_b", "v",
        F.col("cnt").alias("cnt_a"), F.lit(0).cast("bigint").alias("cnt_b"),
    )
    side_b = pairs.join(hist, pairs.group_b == hist.g).select(
        "group_a", "group_b", "n_a", "n_b", "v",
        F.lit(0).cast("bigint").alias("cnt_a"), F.col("cnt").alias("cnt_b"),
    )
    grid = (
        side_a.unionByName(side_b)
        .groupBy("group_a", "group_b", "n_a", "n_b", "v")
        .agg(
            F.sum("cnt_a").cast("bigint").alias("ca_step"),
            F.sum("cnt_b").cast("bigint").alias("cb_step"),
        )
    )
    w = (
        Window.partitionBy("group_a", "group_b")
        .orderBy("v")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = grid.select(
        "group_a", "group_b", "n_a", "n_b",
        F.sum("ca_step").over(w).alias("ca"),
        F.sum("cb_step").over(w).alias("cb"),
    )
    return (
        cum.select(
            "group_a", "group_b", "n_a", "n_b",
            F.abs(
                F.col("ca") * F.col("n_b") - F.col("cb") * F.col("n_a")
            ).alias("dev"),
        )
        .groupBy("group_a", "group_b", "n_a", "n_b")
        .agg(F.max("dev").cast("bigint").alias("d_num"))
        .select(
            "group_a", "group_b", "n_a", "n_b", "d_num",
            # d_num can be as large as n_a*n_b, so d_num*1e6 would wrap
            # bigint once n_a*n_b > ~9.2e12 (~3e6 rows/side) — widen the
            # ppm arithmetic through decimal(38,0) so the whole op holds
            # to the dev term's n_a*n_b < 2^63 bound.
            F.expr(
                "cast(d_num as decimal(38,0)) * 1000000"
                " div (cast(n_a as decimal(38,0)) * n_b)"
            )
            .cast("bigint")
            .alias("d_ppm"),
        )
    )


def mad_outlier_report(
    df: DataFrame,
    group_col: str,
    value_col: str,
    k: int = 3,
    quant_scale: int = 1000,
) -> DataFrame:
    """Robust per-group outlier report via the median / median-absolute-
    deviation (MAD) rule: a value is an outlier when ``|x − median| >
    k·MAD``. Mean/stddev-based z-scores break exactly when you need
    them (the outliers inflate the stddev, masking themselves); the
    median/MAD pair has a 50% breakdown point — the standard robust
    gate for telemetry and training-signal columns.

    Exact integer semantics: values are milli-quantized (``floor(x ·
    quant_scale + 0.5)`` bigints); both medians are the LOWER median
    selected by rank from the per-group value HISTOGRAM (the
    :func:`winsorize_by_group` machinery: window rows are DISTINCT
    values per group, never the raw table), and the flag compare
    ``|x − med| > k · mad`` is pure bigint — no float anywhere, so the
    report is bit-reproducible cross-engine. NULL values are excluded.

    Scale shape: two histogram passes (values, then absolute
    deviations), each one shuffle keyed on (group, distinct value) with
    map-side combine, plus a broadcast join of the per-group med/mad
    row back onto the histogram — the raw table is scanned once per
    pass and never windowed. Returns one row per group: ``(group,
    n, med_milli, mad_milli, n_outliers)``.
    """
    if k < 0:
        raise ValueError(f"k must be >= 0, got {k}")
    if quant_scale < 1:
        raise ValueError(f"quant_scale must be >= 1, got {quant_scale}")
    g = F.col(group_col)
    qv = F.floor(
        F.col(value_col).cast("double") * F.lit(int(quant_scale)) + F.lit(0.5)
    ).cast("bigint")

    def _median_of(hist: DataFrame, out: str) -> DataFrame:
        """Lower median by histogram rank: smallest v whose cumulative
        count reaches ceil(n/2)."""
        w_cum = (
            Window.partitionBy("g")
            .orderBy("v")
            .rowsBetween(Window.unboundedPreceding, 0)
        )
        w_all = Window.partitionBy("g")
        ranked = hist.select(
            "g",
            "v",
            F.sum("cnt").over(w_cum).alias("cum"),
            F.sum("cnt").over(w_all).alias("n"),
        )
        # lower median rank = (n + 1) div 2
        r = F.expr("(n + 1) div 2")
        return ranked.groupBy("g").agg(
            F.min(F.when(F.col("cum") >= r, F.col("v"))).alias(out),
            F.max("n").cast("bigint").alias(f"_n_{out}"),
        )

    vals = df.where(F.col(value_col).isNotNull()).select(
        g.cast("string").alias("g"), qv.alias("v")
    )
    hist = vals.groupBy("g", "v").agg(
        F.count(F.lit(1)).cast("bigint").alias("cnt")
    )
    med = _median_of(hist, "med").select(
        "g", "med", F.col("_n_med").alias("n")
    )
    dev_hist = (
        vals.join(F.broadcast(med.select("g", "med")), "g")
        .select("g", F.abs(F.col("v") - F.col("med")).alias("v"))
        .groupBy("g", "v")
        .agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
    )
    mad = _median_of(dev_hist, "mad").select("g", "mad")
    scores = med.join(mad, "g")
    flagged = (
        vals.join(F.broadcast(scores), "g")
        .where(F.abs(F.col("v") - F.col("med")) > F.lit(int(k)) * F.col("mad"))
        .groupBy("g")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_outliers"))
    )
    return (
        scores.join(flagged, "g", "left")
        .select(
            F.col("g").alias(group_col),
            F.col("n"),
            F.col("med").alias("med_milli"),
            F.col("mad").alias("mad_milli"),
            F.coalesce(F.col("n_outliers"), F.lit(0))
            .cast("bigint")
            .alias("n_outliers"),
        )
    )


#: floor(log10(1 + 1/d) * 1e6 + 0.5) for d = 1..9 — Benford's law in the
#: project's integer-ppm convention, precomputed so neither engine
#: evaluates log10 at query time (float libm differences can't leak in).
BENFORD_PPM = (301030, 176091, 124939, 96910, 79181, 66947, 57992, 51153, 45757)


def benford_report(
    df: DataFrame,
    value_col: str,
    quant_scale: int = 1000,
) -> DataFrame:
    """First-significant-digit distribution vs Benford's law — the
    classic fabricated-data / corruption audit for scale-spanning
    positive quantities (prices, populations, file sizes): organic
    multiplicative data leads with digit 1 ~30.1% of the time; uniform
    or invented numbers don't.

    The digit is extracted with no float arithmetic at all: the first
    character of the milli-quantized value's decimal string (the value
    is filtered ``> 0`` first, so there is never a sign character) —
    identical on any engine; no float log10/pow anywhere, whose libm
    rounding at exact powers of ten differs across platforms.
    Non-positive and NULL values are excluded (Benford is defined on
    positive magnitudes).

    Scale shape: one scan, one 9-key map-side-combinable aggregate.
    Returns per digit: ``(digit, n, pct_ppm, benford_ppm, delta_ppm)``
    with ppm shares in exact integer division; digits absent from the
    data still report (n=0) so the audit never silently shortens.
    """
    if quant_scale < 1:
        raise ValueError(f"quant_scale must be >= 1, got {quant_scale}")
    n = F.floor(
        F.col(value_col).cast("double") * F.lit(int(quant_scale)) + F.lit(0.5)
    ).cast("bigint")
    digit = F.expr("cast(substring(cast(__n as string), 1, 1) as int)")
    counts = (
        df.where(F.col(value_col).isNotNull())
        .select(n.alias("__n"))
        .where(F.col("__n") > 0)
        .select(digit.cast("int").alias("digit"))
        .groupBy("digit")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    )
    spark = df.sparkSession
    spine = spark.createDataFrame(
        [(d, int(BENFORD_PPM[d - 1])) for d in range(1, 10)],
        "digit int, benford_ppm bigint",
    )
    return (
        spine.join(counts, "digit", "left")
        .select(
            "digit",
            F.coalesce(F.col("n"), F.lit(0)).cast("bigint").alias("n"),
            "benford_ppm",
        )
        .withColumn(
            "total", F.sum("n").over(Window.partitionBy(F.lit(1)))
        )
        .select(
            "digit",
            "n",
            F.expr("n * 1000000 div greatest(total, 1)")
            .cast("bigint")
            .alias("pct_ppm"),
            "benford_ppm",
            F.expr(
                "abs(n * 1000000 div greatest(total, 1) - benford_ppm)"
            )
            .cast("bigint")
            .alias("delta_ppm"),
        )
        .orderBy("digit")
    )


def pareto_frontier(
    df: DataFrame,
    max_col: str,
    min_col: str,
    quant_scale: int = 1000,
) -> DataFrame:
    """2-D Pareto frontier (skyline): the rows not DOMINATED by any other
    row, where domination means better-or-equal on both criteria and
    strictly better on at least one — here "better" = larger ``max_col``,
    smaller ``min_col`` (the classic price/performance skyline:
    "largest size for the money"). The naive plan is the O(n²)
    NOT-EXISTS self-join; the sort-based rewrite is one window pass:
    after quantizing both dims to exact bigints, a row survives iff its
    cost is (a) strictly below the minimum cost of all rows with
    STRICTLY larger benefit and (b) equal to the minimum cost within its
    own benefit value (ties on both dims all survive — equal points
    don't dominate each other).

    Scale shape: ONE shuffle for the benefit-ordered window (a RANGE
    frame ending one unit before the current benefit gives "strictly
    larger" exactly, since the quantized dim is integral), evaluated on
    the DISTINCT (benefit, cost) grid — the raw table contributes
    frequency only, so the window input is bounded by the value-pair
    cardinality, and surviving rows join back by value. Global frontier
    = single window partition over the grid (not the corpus): fine for
    any real criteria cardinality; shard by a category column upstream
    for per-category skylines.

    Returns the distinct frontier points ``(benefit, cost)`` in
    quantized units, ordered by benefit.
    """
    if quant_scale < 1:
        raise ValueError(f"quant_scale must be >= 1, got {quant_scale}")
    qb = F.floor(
        F.col(max_col).cast("double") * F.lit(int(quant_scale)) + F.lit(0.5)
    ).cast("bigint")
    qc = F.floor(
        F.col(min_col).cast("double") * F.lit(int(quant_scale)) + F.lit(0.5)
    ).cast("bigint")
    grid = (
        df.where(F.col(max_col).isNotNull() & F.col(min_col).isNotNull())
        .select(qb.alias("benefit"), qc.alias("cost"))
        .distinct()
    )
    # min cost among rows with STRICTLY larger benefit: ascending-by
    # -(benefit) range frame ending 1 before the current row's value
    w_higher = (
        Window.orderBy((-F.col("benefit")).cast("bigint"))
        .rangeBetween(Window.unboundedPreceding, -1)
    )
    w_same = Window.partitionBy("benefit")
    ranked = grid.select(
        "benefit",
        "cost",
        F.min("cost").over(w_higher).alias("_mc_higher"),
        F.min("cost").over(w_same).alias("_mc_same"),
    )
    return (
        ranked.where(
            (F.col("_mc_higher").isNull() | (F.col("cost") < F.col("_mc_higher")))
            & (F.col("cost") == F.col("_mc_same"))
        )
        .select("benefit", "cost")
        .orderBy("benefit")
    )


def psi_report(
    ref: DataFrame,
    cur: DataFrame,
    value_col: str,
    bins: int = 10,
    quant_scale: int = 1000,
) -> DataFrame:
    """Population Stability Index between a reference and a current
    sample of the same column — the binned drift score ML-ops gates ship
    with (rule of thumb: PSI < 0.1 stable, > 0.25 action): ``PSI = Σ
    (p_i − q_i)·ln(p_i/q_i)`` over quantile bins OF THE REFERENCE, so
    the bins always hold ~equal reference mass and the score reacts to
    where current mass MOVED. Complements :func:`ks_2sample` (sup
    distance, unbinned) with the per-bin attribution analysts act on.

    Determinism: bin edges are exact rank-selected reference quantiles
    on milli-quantized bigints (the :func:`winsorize_by_group` rule, no
    interpolation); bin shares are exact integer ppm; only the final
    ``ln`` of a ratio of two exact ppm ints runs in double, floored to
    micro units — one float op per bin, identical on any IEEE libm...
    with ln, which IS specified correctly-rounded nowhere: both engines
    call the same underlying libm here, and the pytest suite pins a
    tolerance-free hand value, so a platform where ln differs would
    surface as an oracle red, not silent drift. Zero-count bins use the
    standard ε = 1 ppm floor (PSI is undefined at 0).

    Scale shape: one histogram aggregate per side + a broadcast of the
    ≤ ``bins`` edge rows; everything past the histograms is bin-sized.
    Known tradeoff (plan-audited): the lazy edge/histogram subtrees have
    several consumers, so the plan carries multiple source scans
    (runtime ReusedExchange collapses some). The operator stays lazy on
    measurement: checkpointing the one-row edge vector and the bin-sized
    joined counts (three source passes total) made the sf0.1 bench entry
    ``stats_psi`` 1.8 → 3.1 s median over 5 alternating pairs, the two
    extra jobs costing more than the re-read tiny inputs save. All joins are
    broadcast (edge rows ≤ bins), no sort-merge join anywhere —
    pinned by tests/test_plan_evidence.py. Returns per bin: ``(bin_id,
    lo_edge, ref_cnt, cur_cnt, ref_ppm, cur_ppm, psi_micro)`` — total
    PSI = Σ psi_micro / 1e6.
    """
    if bins < 2:
        raise ValueError(f"bins must be >= 2, got {bins}")
    if quant_scale < 1:
        raise ValueError(f"quant_scale must be >= 1, got {quant_scale}")

    def _q(df: DataFrame) -> DataFrame:
        v = F.floor(
            F.col(value_col).cast("double") * F.lit(int(quant_scale))
            + F.lit(0.5)
        ).cast("bigint")
        return df.where(F.col(value_col).isNotNull()).select(v.alias("v"))

    r, c = _q(ref), _q(cur)
    hist = r.groupBy("v").agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
    w_cum = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, 0)
    w_all = Window.partitionBy(F.lit(1))
    ranked = hist.select(
        "v",
        F.sum("cnt").over(w_cum).alias("cum"),
        F.sum("cnt").over(w_all).alias("n"),
    )
    # edge i (i = 1..bins-1) = smallest v with cum >= ceil(i*n/bins):
    # upper bound of bin i-1; bin_id of value x = count of edges <= ...
    edge_aggs = [
        F.min(
            F.when(
                F.col("cum") >= F.expr(f"( {i} * n + {bins} - 1) div {bins}"),
                F.col("v"),
            )
        ).alias(f"e{i}")
        for i in range(1, bins)
    ]
    edges = ranked.agg(*edge_aggs)
    edge_arr = F.array(*[F.col(f"e{i}") for i in range(1, bins)])

    def _binned(df: DataFrame, out: str) -> DataFrame:
        # bin_id = number of edges the value EXCEEDS (edges are bin
        # upper bounds, inclusive): aggregate over the broadcast array
        b = df.crossJoin(F.broadcast(edges)).select(
            F.aggregate(
                edge_arr,
                F.lit(0),
                lambda acc, e: acc
                + F.when(F.col("v") > e, F.lit(1)).otherwise(F.lit(0)),
            ).alias("bin_id")
        )
        return b.groupBy("bin_id").agg(
            F.count(F.lit(1)).cast("bigint").alias(out)
        )
    spine = (
        ref.sparkSession.createDataFrame(
            [(i,) for i in range(bins)], "bin_id int"
        )
        .crossJoin(F.broadcast(edges))
        .select(
            "bin_id",
            F.when(F.col("bin_id") == 0, F.lit(None).cast("bigint"))
            .otherwise(
                F.element_at(edge_arr, F.col("bin_id"))
            )
            .alias("lo_edge"),
        )
    )
    rb, cb = _binned(r, "ref_cnt"), _binned(c, "cur_cnt")
    j = (
        spine.join(rb, "bin_id", "left")
        .join(cb, "bin_id", "left")
        .select(
            "bin_id",
            F.coalesce(F.col("lo_edge"), F.lit(-(1 << 62))).alias("lo_edge"),
            F.coalesce(F.col("ref_cnt"), F.lit(0)).cast("bigint").alias("ref_cnt"),
            F.coalesce(F.col("cur_cnt"), F.lit(0)).cast("bigint").alias("cur_cnt"),
        )
    )
    totals = j.agg(
        F.sum("ref_cnt").cast("bigint").alias("_tr"),
        F.sum("cur_cnt").cast("bigint").alias("_tc"),
    )
    shares = j.crossJoin(F.broadcast(totals)).select(
        "bin_id",
        "lo_edge",
        "ref_cnt",
        "cur_cnt",
        F.expr("greatest(ref_cnt * 1000000 div greatest(_tr, 1), 1)")
        .cast("bigint")
        .alias("ref_ppm"),
        F.expr("greatest(cur_cnt * 1000000 div greatest(_tc, 1), 1)")
        .cast("bigint")
        .alias("cur_ppm"),
    )
    psi = (
        (F.col("ref_ppm") - F.col("cur_ppm")).cast("double")
        / F.lit(1000000.0)
        * F.log(
            F.col("ref_ppm").cast("double") / F.col("cur_ppm").cast("double")
        )
    )
    return shares.select(
        "bin_id",
        "lo_edge",
        "ref_cnt",
        "cur_cnt",
        "ref_ppm",
        "cur_ppm",
        F.floor(psi * F.lit(1000000.0) + F.lit(0.5)).cast("bigint").alias(
            "psi_micro"
        ),
    ).orderBy("bin_id")


def fd_violations(
    df: DataFrame,
    lhs_cols: list[str],
    rhs_cols: list[str],
) -> DataFrame:
    """Functional-dependency audit: for the candidate dependency
    ``lhs → rhs``, every lhs value that maps to MORE than one distinct
    rhs combination — the Deequ/dbt uniqueness check's bigger sibling
    (uniqueness is the FD ``key → everything``), and the first thing a
    schema-inference or dimension-modeling pass runs ("is city → state
    actually clean in this feed?"). NULL rhs combinations count as a
    distinct value (NULL-vs-present is exactly the inconsistency the
    audit exists to catch).

    Scale shape: ONE map-side-combinable aggregate keyed on lhs
    (countDistinct over the rhs struct + row count); output only the
    violating groups, bounded by the lhs cardinality. Returns
    ``(lhs..., n_rhs, n_rows)`` ordered by worst first.
    """
    if not lhs_cols or not rhs_cols:
        raise ValueError("lhs_cols and rhs_cols must be non-empty")
    overlap = set(lhs_cols) & set(rhs_cols)
    if overlap:
        raise ValueError(f"lhs and rhs share columns: {sorted(overlap)}")
    rhs = F.struct(*[F.col(c) for c in rhs_cols])
    return (
        df.groupBy(*lhs_cols)
        .agg(
            F.countDistinct(rhs).cast("bigint").alias("n_rhs"),
            F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        )
        .where(F.col("n_rhs") > 1)
        .orderBy(F.col("n_rhs").desc(), *[F.col(c) for c in lhs_cols])
    )


def cramers_v(
    df: DataFrame,
    col_a: str,
    col_b: str,
) -> DataFrame:
    """Association strength between two categorical columns -- chi-square
    over the contingency table, normalized to Cramer's V in [0, 1]. The
    feature-audit question this answers at pipeline scale: "does this
    column leak that one?" (V ~ 1 between a feature and the label means
    leakage; V ~ 0 between a 'random' shard key and anything means the
    sharding is actually uniform).

    Exactness: observed counts and marginals are exact bigints; each
    cell's chi-square term uses the integer identity
    ``(o*N - ra*cb)^2 / (N*ra*cb)`` -- numerator and denominator formed
    in decimal(38,0) (a cell of a billion-row table squares past int64),
    divided in double and ppm-quantized PER CELL before the final sum,
    so the reduction is order-independent. NULL categories form a real
    row/column (NULL association is signal, not noise), encoded with an
    injective tag prefix — ``'N'`` for NULL, ``'V' || value`` otherwise —
    so no real category (including a literal ``" NULL"`` string) can
    ever collide with the NULL bucket.

    Scale shape: ONE map-combinable count aggregate on (a, b); marginals
    and the V reduction run on the contingency rows -- bounded by
    ``|A|*|B|``, never the corpus. Returns one row: ``(n, n_a, n_b,
    dof, chi2_micro, cramers_v_ppm)``.
    """
    def tag(col: str) -> F.Column:
        return F.when(F.col(col).isNull(), F.lit("N")).otherwise(
            F.concat(F.lit("V"), F.col(col).cast("string"))
        )

    a = tag(col_a)
    b = tag(col_b)
    cells = (
        df.select(a.alias("a"), b.alias("b"))
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).cast("bigint").alias("o"))
    )
    ra = cells.groupBy("a").agg(F.sum("o").cast("bigint").alias("ra"))
    cb = cells.groupBy("b").agg(F.sum("o").cast("bigint").alias("cb"))
    n = cells.agg(
        F.sum("o").cast("bigint").alias("n"),
        F.countDistinct("a").cast("bigint").alias("n_a"),
        F.countDistinct("b").cast("bigint").alias("n_b"),
    )

    def dec(c: str) -> F.Column:
        return F.col(c).cast("decimal(38,0)")

    # dense grid: every (a, b) marginal pair contributes its expected
    # count even when the observed cell is absent (o = 0)
    grid = (
        ra.crossJoin(F.broadcast(cb))
        .join(cells, ["a", "b"], "left")
        .select(
            "ra",
            "cb",
            F.coalesce(F.col("o"), F.lit(0)).cast("bigint").alias("o"),
        )
        .crossJoin(F.broadcast(n))
    )
    num = dec("o") * dec("n") - dec("ra") * dec("cb")
    term = (num * num).cast("double") / (
        dec("n") * dec("ra") * dec("cb")
    ).cast("double")
    per_cell = grid.select(
        "n",
        "n_a",
        "n_b",
        F.floor(term * F.lit(1000000.0) + F.lit(0.5))
        .cast("bigint")
        .alias("chi2_cell_micro"),
    )
    return (
        per_cell.groupBy("n", "n_a", "n_b")
        .agg(
            F.sum("chi2_cell_micro").cast("bigint").alias("chi2_micro"),
            (F.least(F.col("n_a"), F.col("n_b")) - F.lit(1))
            .cast("bigint")
            .alias("dof"),
            F.floor(
                F.when(
                    F.least(F.col("n_a"), F.col("n_b")) > 1,
                    F.sqrt(
                        F.sum("chi2_cell_micro").cast("double")
                        / F.lit(1000000.0)
                        / (
                            F.col("n").cast("double")
                            * (
                                F.least(
                                    F.col("n_a"), F.col("n_b")
                                ).cast("double")
                                - F.lit(1.0)
                            )
                        )
                    ),
                ).otherwise(F.lit(0.0))
                * F.lit(1000000.0)
                + F.lit(0.5)
            )
            .cast("bigint")
            .alias("cramers_v_ppm"),
        )
        .select("n", "n_a", "n_b", "dof", "chi2_micro", "cramers_v_ppm")
    )


def mutual_information(
    df: DataFrame,
    col_a: str,
    col_b: str,
) -> DataFrame:
    """Mutual information (bits) between two categorical columns, plus
    the marginal entropies and the normalized MI — the drift/leakage
    audit cramers_v's chi-square can't answer directionally: MI ≈ 0
    means the shard key really is independent of the label; NMI ≈ 1
    means one column determines the other.

    Exactness (the unigram_lm_score / cramers_v discipline): joint and
    marginal counts are exact bigints; each observed cell's
    ``(o/N)·log2(o·N / (ra·cb))`` term — products formed in
    decimal(38,0) so a billion-row table can't overflow the ratio —
    is computed in double from exact integers and 1e-6-quantized PER
    CELL before the sum, so the reduction is order-independent across
    partitionings and engines. Marginal entropies quantize per
    marginal row the same way. ``nmi_ppm`` derives from the exact
    micro-bit integers. NULL categories are real categories (injective
    'N'/'V'-prefix tagging, as cramers_v).

    Scale shape: ONE map-combinable count aggregate on (a, b); the
    marginals and reductions run on contingency rows bounded by
    |A|·|B|, never the corpus. Returns one row:
    ``(n, n_a, n_b, mi_micro_bits, h_a_micro_bits, h_b_micro_bits,
    nmi_ppm)``."""

    def tag(col: str) -> F.Column:
        return F.when(F.col(col).isNull(), F.lit("N")).otherwise(
            F.concat(F.lit("V"), F.col(col).cast("string"))
        )

    cells = (
        df.select(tag(col_a).alias("a"), tag(col_b).alias("b"))
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).cast("bigint").alias("o"))
    )
    ra = cells.groupBy("a").agg(F.sum("o").cast("bigint").alias("ra"))
    cb = cells.groupBy("b").agg(F.sum("o").cast("bigint").alias("cb"))
    n = cells.agg(
        F.sum("o").cast("bigint").alias("n"),
        F.countDistinct("a").cast("bigint").alias("n_a"),
        F.countDistinct("b").cast("bigint").alias("n_b"),
    )

    def dec(c) -> F.Column:
        return c.cast("decimal(38,0)")

    def q_micro(term: F.Column) -> F.Column:
        return F.floor(term * F.lit(1000000.0) + F.lit(0.5)).cast("bigint")

    mi = (
        cells.join(F.broadcast(ra), "a")
        .join(F.broadcast(cb), "b")
        .crossJoin(F.broadcast(n.select("n")))
        .select(
            q_micro(
                (F.col("o").cast("double") / F.col("n").cast("double"))
                * F.log2(
                    (dec(F.col("o")) * dec(F.col("n"))).cast("double")
                    / (dec(F.col("ra")) * dec(F.col("cb"))).cast("double")
                )
            ).alias("cell_micro")
        )
        # clamp at 0: per-cell 1e-6 quantization can sum to a slightly
        # NEGATIVE total on near-independent data (negative cell terms
        # rounding past zero) — MI itself is >= 0, so the clamp keeps
        # the "0 means independent" contract (ADVICE r11); the oracle
        # SQL applies the identical GREATEST(.., 0)
        .agg(
            F.greatest(
                F.sum("cell_micro").cast("bigint"), F.lit(0).cast("bigint")
            ).alias("mi_micro_bits")
        )
    )

    def entropy(marg: DataFrame, cnt: str, out: str) -> DataFrame:
        return (
            marg.crossJoin(F.broadcast(n.select("n")))
            .select(
                q_micro(
                    -(F.col(cnt).cast("double") / F.col("n").cast("double"))
                    * F.log2(
                        F.col(cnt).cast("double") / F.col("n").cast("double")
                    )
                ).alias("h_term")
            )
            .agg(F.sum("h_term").cast("bigint").alias(out))
        )

    h_a = entropy(ra, "ra", "h_a_micro_bits")
    h_b = entropy(cb, "cb", "h_b_micro_bits")
    return (
        n.crossJoin(F.broadcast(mi))
        .crossJoin(F.broadcast(h_a))
        .crossJoin(F.broadcast(h_b))
        .select(
            "n",
            "n_a",
            "n_b",
            "mi_micro_bits",
            "h_a_micro_bits",
            "h_b_micro_bits",
            F.floor(
                F.when(
                    (F.col("h_a_micro_bits") > 0)
                    & (F.col("h_b_micro_bits") > 0),
                    F.col("mi_micro_bits").cast("double")
                    / F.sqrt(
                        F.col("h_a_micro_bits").cast("double")
                        * F.col("h_b_micro_bits").cast("double")
                    ),
                ).otherwise(F.lit(0.0))
                * F.lit(1000000.0)
                + F.lit(0.5)
            )
            .cast("bigint")
            .alias("nmi_ppm"),
        )
    )


def shard_psi_report(
    df: DataFrame,
    value_col: str,
    shard_col: str,
    bins: int = 10,
    quant_scale: int = 1000,
) -> DataFrame:
    """Per-shard distribution-divergence report: PSI of every output
    shard against the FULL corpus over reference-quantile bins — the
    shard-quality gate a training-data pipeline runs after sharding
    (write_sharded_corpus / data_split_shard): a hash-sharded corpus
    should show near-zero PSI per shard; a shard that drifted (bad
    salt, skewed partitioner, ordered writes) lights up. One row per
    shard: ``(shard, n_rows, psi_micro, drifted)`` with the standard
    PSI > 0.25 action threshold as the flag.

    Same determinism contract as :func:`psi_report` (exact rank-selected
    corpus-quantile edges on quantized bigints, integer ppm shares,
    one ``ln`` per (shard, bin) floored to micro units, ε = 1 ppm zero
    floor) — but GROUPED: one histogram pass computes the per-(shard,
    bin) counts, corpus bin counts are the bin-wise SUM of those (never
    a second corpus scan), and the PSI arithmetic runs on the
    (shards × bins)-sized table. Scale shape: one distinct-value
    histogram for the edges (window over distinct quantized values —
    value-cardinality-sized, the psi_report convention), ONE hash
    aggregate on (shard, bin_id) with map-side combine, then bin-sized
    algebra; edges broadcast (≤ bins values). No UDF, no per-shard
    re-scan, shard count can be in the thousands."""
    if bins < 2:
        raise ValueError(f"bins must be >= 2, got {bins}")
    if quant_scale < 1:
        raise ValueError(f"quant_scale must be >= 1, got {quant_scale}")
    q = df.where(F.col(value_col).isNotNull()).select(
        F.col(shard_col).alias("shard"),
        F.floor(
            F.col(value_col).cast("double") * F.lit(int(quant_scale))
            + F.lit(0.5)
        )
        .cast("bigint")
        .alias("v"),
    )
    hist = q.groupBy("v").agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
    w_cum = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, 0)
    w_all = Window.partitionBy(F.lit(1))
    ranked = hist.select(
        "v",
        F.sum("cnt").over(w_cum).alias("cum"),
        F.sum("cnt").over(w_all).alias("n"),
    )
    edge_aggs = [
        F.min(
            F.when(
                F.col("cum") >= F.expr(f"( {i} * n + {bins} - 1) div {bins}"),
                F.col("v"),
            )
        ).alias(f"e{i}")
        for i in range(1, bins)
    ]
    edges = ranked.agg(*edge_aggs)
    edge_arr = F.array(*[F.col(f"e{i}") for i in range(1, bins)])
    binned = (
        q.crossJoin(F.broadcast(edges))
        .select(
            "shard",
            F.aggregate(
                edge_arr,
                F.lit(0),
                lambda acc, e: acc
                + F.when(F.col("v") > e, F.lit(1)).otherwise(F.lit(0)),
            ).alias("bin_id"),
        )
        .groupBy("shard", "bin_id")
        .agg(F.count(F.lit(1)).cast("bigint").alias("cur_cnt"))
    )
    # spine = every (shard, bin) cell, so empty bins get the ε floor;
    # corpus reference counts are the bin-wise sum of the shard counts
    shards = binned.select("shard").distinct()
    spine = shards.crossJoin(
        F.broadcast(
            df.sparkSession.createDataFrame(
                [(i,) for i in range(bins)], "bin_id int"
            )
        )
    )
    ref = binned.groupBy("bin_id").agg(
        F.sum("cur_cnt").cast("bigint").alias("ref_cnt")
    )
    tot = binned.agg(F.sum("cur_cnt").cast("bigint").alias("_tr"))
    per_shard_tot = binned.groupBy("shard").agg(
        F.sum("cur_cnt").cast("bigint").alias("_tc")
    )
    j = (
        spine.join(binned, ["shard", "bin_id"], "left")
        .join(F.broadcast(ref), "bin_id", "left")
        .join(per_shard_tot, "shard")
        .crossJoin(F.broadcast(tot))
        .select(
            "shard",
            "bin_id",
            F.coalesce("cur_cnt", F.lit(0)).cast("bigint").alias("cur_cnt"),
            F.coalesce("ref_cnt", F.lit(0)).cast("bigint").alias("ref_cnt"),
            "_tc",
            "_tr",
        )
    )
    shares = j.select(
        "shard",
        F.expr("greatest(ref_cnt * 1000000 div greatest(_tr, 1), 1)")
        .cast("bigint")
        .alias("ref_ppm"),
        F.expr("greatest(cur_cnt * 1000000 div greatest(_tc, 1), 1)")
        .cast("bigint")
        .alias("cur_ppm"),
        F.col("_tc").alias("n_rows"),
    )
    psi = (
        (F.col("ref_ppm") - F.col("cur_ppm")).cast("double")
        / F.lit(1000000.0)
        * F.log(
            F.col("ref_ppm").cast("double") / F.col("cur_ppm").cast("double")
        )
    )
    cell = shares.select(
        "shard",
        "n_rows",
        F.floor(psi * F.lit(1000000.0) + F.lit(0.5))
        .cast("bigint")
        .alias("psi_cell"),
    )
    return cell.groupBy("shard").agg(
        F.max("n_rows").cast("bigint").alias("n_rows"),
        F.sum("psi_cell").cast("bigint").alias("psi_micro"),
    ).select(
        "shard",
        "n_rows",
        "psi_micro",
        (F.col("psi_micro") > 250_000).alias("drifted"),
    )


def calibration_report(
    df: DataFrame,
    score_col: str,
    label_col: str,
    bins: int = 10,
) -> DataFrame:
    """Classifier reliability report + Expected Calibration Error — the
    eval every learned quality/toxicity filter ships with before its
    scores gate a training corpus: fixed-width bins over the predicted
    probability (integer ppm in [0, 1e6]), and per bin the mean
    predicted vs the observed positive rate. One row per bin:
    ``(bin_id, n, mean_pred_ppm, obs_pos_ppm, gap_ppm, ece_ppm)`` with
    ``ece_ppm`` the dataset-level Σ n_b·|gap_b| / N (repeated per row,
    the report convention of psi_report/contamination_report).

    Exactness: scores are integer ppm in, all binning/means/rates are
    exact integer arithmetic (``div``), no floats anywhere. Scale
    shape: ONE hash aggregate on the bin id (map-side combine) over a
    projection, then bin-sized algebra with a broadcast total — a
    100 TB score table reduces in a single pass."""
    if bins < 2:
        raise ValueError(f"bins must be >= 2, got {bins}")
    s = F.col(score_col).cast("bigint")
    binned = df.where(s.isNotNull()).select(
        F.least(F.lit(bins - 1), F.expr(f"{score_col} * {bins} div 1000000"))
        .cast("int")
        .alias("bin_id"),
        s.alias("s"),
        F.col(label_col).cast("boolean").alias("y"),
    )
    per = binned.groupBy("bin_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("s").cast("bigint").alias("_sum_s"),
        F.sum(F.when(F.col("y"), 1).otherwise(0)).cast("bigint").alias("_pos"),
    )
    per = per.select(
        "bin_id",
        "n",
        F.expr("_sum_s div n").cast("bigint").alias("mean_pred_ppm"),
        F.expr("_pos * 1000000 div n").cast("bigint").alias("obs_pos_ppm"),
        F.abs(
            F.expr("_sum_s div n") - F.expr("_pos * 1000000 div n")
        )
        .cast("bigint")
        .alias("gap_ppm"),
    )
    tot = per.agg(
        F.sum("n").cast("bigint").alias("_tn"),
        F.sum(F.col("n") * F.col("gap_ppm")).cast("bigint").alias("_wg"),
    )
    return per.crossJoin(F.broadcast(tot)).select(
        "bin_id",
        "n",
        "mean_pred_ppm",
        "obs_pos_ppm",
        "gap_ppm",
        F.expr("_wg div greatest(_tn, 1)").cast("bigint").alias("ece_ppm"),
    )


def cohen_kappa(
    df: DataFrame,
    a_col: str,
    b_col: str,
    slice_col: str,
) -> DataFrame:
    """Inter-annotator agreement (Cohen's κ) per slice — the label-noise
    gate for any human- or model-labeled training set: observed
    agreement corrected by the chance agreement of the two annotators'
    marginal label distributions. One row per slice:
    ``(slice, n, po_ppm, pe_ppm, kappa_micro)`` where κ =
    (p_o − p_e)/(1 − p_e) in micro units (floored; 0 when p_e = 1, the
    single-label degenerate case — agreement is vacuous there).

    Exactness: p_o and p_e come from exact integer counts (Σ over
    labels of the marginal products, ``div`` by n²); only the final κ
    ratio runs in doubles, floored — and the two operands are exact ppm
    ints ≥ 1 apart whenever they differ, so the floor is engine-exact
    (the standing |a/b − k| ≥ 1/b ≫ ulp argument). Scale shape: TWO
    hash aggregates — (slice, a, b) confusion cells, then slice-keyed
    algebra over the cell table (cells ≤ slices × |labels|², tiny);
    the fact table is touched once."""
    base = df.select(
        F.col(slice_col).alias("slice"),
        F.col(a_col).cast("string").alias("_a"),
        F.col(b_col).cast("string").alias("_b"),
    ).where(F.col("_a").isNotNull() & F.col("_b").isNotNull())
    cells = base.groupBy("slice", "_a", "_b").agg(
        F.count(F.lit(1)).cast("bigint").alias("c")
    )
    n = cells.groupBy("slice").agg(F.sum("c").cast("bigint").alias("n"))
    diag = (
        cells.where(F.col("_a") == F.col("_b"))
        .groupBy("slice")
        .agg(F.sum("c").cast("bigint").alias("_diag"))
    )
    ma = cells.groupBy("slice", "_a").agg(
        F.sum("c").cast("bigint").alias("ca")
    )
    mb = cells.groupBy("slice", "_b").agg(
        F.sum("c").cast("bigint").alias("cb")
    )
    pe_num = (
        ma.join(mb, (ma["slice"] == mb["slice"]) & (ma["_a"] == mb["_b"]))
        .select(ma["slice"].alias("slice"), (F.col("ca") * F.col("cb")).alias("p"))
        .groupBy("slice")
        .agg(F.sum("p").cast("bigint").alias("_penum"))
    )
    j = (
        n.join(diag, "slice", "left")
        .join(pe_num, "slice", "left")
        .select(
            "slice",
            "n",
            F.expr("coalesce(_diag, 0) * 1000000 div n")
            .cast("bigint")
            .alias("po_ppm"),
            F.expr("coalesce(_penum, 0) * 1000000 div (n * n)")
            .cast("bigint")
            .alias("pe_ppm"),
        )
    )
    kappa = F.when(F.col("pe_ppm") >= 1_000_000, F.lit(0)).otherwise(
        F.floor(
            (F.col("po_ppm") - F.col("pe_ppm")).cast("double")
            * 1000000.0
            / (F.lit(1_000_000) - F.col("pe_ppm")).cast("double")
        )
    )
    return j.select(
        "slice", "n", "po_ppm", "pe_ppm", kappa.cast("bigint").alias("kappa_micro")
    )


def paired_bootstrap_eval(
    df: DataFrame,
    id_col: str,
    score_a_col: str,
    score_b_col: str,
    n_boot: int = 200,
    sample_mod: int = 1,
) -> DataFrame:
    """Paired-bootstrap significance for comparing two systems on the
    same documents (the standard eval-harness test for "is B really
    better than A or is it noise"): resample the paired per-document
    score deltas ``n_boot`` times WITH replacement and report how often
    each system wins. One row out: ``(n_docs, n_boot, mean_delta_ppm,
    b_wins_ppm, a_wins_ppm, ties_ppm)`` — ``b_wins_ppm`` ≥ ~950000 is
    the usual "B better, p < 0.05" read.

    Determinism: the resample draws are md5-derived — draw i of
    resample b picks index ``md5(b || '-' || i) % n`` — so the whole
    test is reproducible and ORACLE-EXACT cross-engine (no RNG), the
    same trick the md5-shuffle curation operators use. All sums are
    exact integer ppm.

    Scale shape: bootstrap resampling is SAMPLE-bounded by design
    (``sample_mod`` knob, the tuner convention): the doc sample is
    rank-indexed once (one sample-sized window), the (resample, draw)
    grid is ``n_boot × n`` rows joined to the sample on the drawn
    index — a co-partitioned equi-join, never a cross product — and
    reduces by resample id then to one row. At 100 TB you bootstrap a
    fixed-size eval set, not the corpus."""
    from .hashing import md5_u60

    if n_boot < 1:
        raise ValueError(f"n_boot must be >= 1, got {n_boot}")
    spark = df.sparkSession
    sample = (
        df.where((F.col(id_col) % sample_mod) == 0)
        .select(
            F.col(id_col).alias("_id"),
            (F.col(score_a_col).cast("bigint") - F.col(score_b_col).cast("bigint")).alias(
                "_delta"
            ),
        )
        .withColumn(
            "_idx",
            F.row_number().over(Window.orderBy("_id")).cast("bigint") - 1,
        )
    )
    n_row = sample.agg(F.count(F.lit(1)).cast("bigint").alias("_n"))
    grid = (
        spark.range(n_boot)
        .select(F.col("id").alias("_b"))
        .crossJoin(F.broadcast(n_row))
        .select(
            "_b",
            F.explode(F.sequence(F.lit(0), F.col("_n") - 1)).alias("_i"),
            "_n",
        )
        .select(
            "_b",
            (
                md5_u60(
                    F.concat(
                        F.col("_b").cast("string"),
                        F.lit("-"),
                        F.col("_i").cast("string"),
                    )
                )
                % F.col("_n")
            ).alias("_idx"),
        )
    )
    per_boot = (
        grid.join(sample.select("_idx", "_delta"), "_idx")
        .groupBy("_b")
        .agg(F.sum("_delta").cast("bigint").alias("_d"))
    )
    out = per_boot.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_boot"),
        F.sum(F.when(F.col("_d") > 0, 1).otherwise(0)).cast("bigint").alias("_aw"),
        F.sum(F.when(F.col("_d") < 0, 1).otherwise(0)).cast("bigint").alias("_bw"),
    )
    stats = sample.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("_delta").cast("bigint").alias("_sd"),
    )
    return out.crossJoin(F.broadcast(stats)).select(
        "n_docs",
        "n_boot",
        # floor of the double division, NOT integer `div`: the sum can
        # be negative and Spark's div truncates toward zero while
        # DuckDB's // floors — floor(double) agrees on both (and the
        # |a/b − k| ≥ 1/b ≫ ulp argument makes it exact)
        F.when(
            F.col("n_docs") > 0,
            F.floor(
                F.col("_sd").cast("double") / F.col("n_docs").cast("double")
            ),
        )
        .otherwise(F.lit(0))
        .cast("bigint")
        .alias("mean_delta_ppm"),
        F.expr("_bw * 1000000 div n_boot").cast("bigint").alias("b_wins_ppm"),
        F.expr("_aw * 1000000 div n_boot").cast("bigint").alias("a_wins_ppm"),
        F.expr("(n_boot - _aw - _bw) * 1000000 div n_boot")
        .cast("bigint")
        .alias("ties_ppm"),
    )


def roc_auc_report(
    df: DataFrame,
    slice_col: str,
    label_col: str,
    score_col: str,
) -> DataFrame:
    """Per-slice ROC-AUC from integer scores via the Mann-Whitney
    rank-sum identity — the classifier-quality gate for a trained
    quality/toxicity filter, computed without materializing the ROC
    curve: AUC = (R_pos − n_pos(n_pos+1)/2) / (n_pos · n_neg) where
    R_pos is the sum of the positives' average ranks (ties get the
    midrank). One row per slice: ``(slice, n_pos, n_neg, auc_ppm)``;
    ``auc_ppm`` is NULL when a slice has no positives or no negatives
    (AUC undefined).

    Exactness: ranks are never materialized per row — per distinct
    score, the midrank contribution is (2·cum_below + tot + 1)/2, so
    2·R_pos = Σ pos·(2·cum_below + tot + 1) stays integer; the final
    AUC is one integer division ``(2R_pos − n_pos(n_pos+1))·10^6 div
    (2·n_pos·n_neg)`` — no doubles anywhere. Overflow bound: 2R_pos ≤
    2n² per slice, so ·10^6 needs n ≲ 2·10^6 rows/slice; beyond that,
    pre-aggregate scores into coarser buckets or split slices.

    Scale shape: ONE hash aggregate on (slice, score) — map-side
    combinable, so the fact table never shuffles raw rows — then a
    window over the DISTINCT-score table (bounded by score cardinality
    per slice, not row count) and a final slice-keyed aggregate."""
    base = df.select(
        F.col(slice_col).alias("slice"),
        F.col(label_col).cast("int").alias("_y"),
        F.col(score_col).cast("bigint").alias("_s"),
    ).where(F.col("_y").isNotNull() & F.col("_s").isNotNull())
    cells = base.groupBy("slice", "_s").agg(
        F.sum("_y").cast("bigint").alias("pos"),
        F.count(F.lit(1)).cast("bigint").alias("tot"),
    )
    w = (
        Window.partitionBy("slice")
        .orderBy("_s")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    ranked = cells.withColumn(
        "_below", F.coalesce(F.sum("tot").over(w), F.lit(0)).cast("bigint")
    )
    per = ranked.groupBy("slice").agg(
        F.sum("pos").cast("bigint").alias("n_pos"),
        (F.sum("tot") - F.sum("pos")).cast("bigint").alias("n_neg"),
        F.sum(
            F.col("pos") * (F.lit(2) * F.col("_below") + F.col("tot") + 1)
        )
        .cast("bigint")
        .alias("_rs2"),
    )
    return per.select(
        "slice",
        "n_pos",
        "n_neg",
        F.when(
            (F.col("n_pos") > 0) & (F.col("n_neg") > 0),
            F.expr(
                "(_rs2 - n_pos * (n_pos + 1)) * 1000000"
                " div (2 * n_pos * n_neg)"
            ),
        )
        .cast("bigint")
        .alias("auc_ppm"),
    )


def fleiss_kappa(
    df: DataFrame,
    item_col: str,
    cat_col: str,
) -> DataFrame:
    """Fleiss' κ — multi-rater nominal agreement, the label-noise gate
    when each item is judged by m ≥ 2 annotators (Cohen's κ covers only
    the two-rater case; see :func:`cohen_kappa`). Input: one row per
    rating ``(item, category)``. The rater count m is taken as the
    MAXIMUM ratings-per-item; items with fewer ratings are dropped
    (partial judgments bias P̄ — the standard fixed-m formulation), and
    their count is reported. One output row:
    ``(n_items, n_raters, n_dropped_items, po_ppm, pe_ppm,
    kappa_micro)`` — NULL agreement fields when m < 2 (vacuous), and
    ``kappa_micro`` = 0 when p_e = 1 (single-label degenerate,
    mirroring :func:`cohen_kappa`).

    Exactness: P̄ = Σ_i Σ_c n_ic(n_ic−1) / (N·m·(m−1)) and
    P̄_e = Σ_c t_c² / (N·m)² are exact integer ratios quantized to ppm
    by ``div``; κ = (p_o − p_e)/(1 − p_e) is the one double op, floored
    — its operands are exact ppm ints, so the floor is engine-exact
    (the standing |a/b − k| ≥ 1/b ≫ ulp argument, as in cohen_kappa).

    Scale shape: ONE map-combinable (item, cat) hash aggregate over the
    fact table, then item-keyed and cat-keyed aggregates over the cell
    table (≤ items × |labels| rows) — every global reduce after the
    first aggregate is over a single-digit number of columns."""
    base = df.select(
        F.col(item_col).alias("_i"),
        F.col(cat_col).cast("string").alias("_c"),
    ).where(F.col("_i").isNotNull() & F.col("_c").isNotNull())
    cells = base.groupBy("_i", "_c").agg(
        F.count(F.lit(1)).cast("bigint").alias("c")
    )
    per_item = cells.groupBy("_i").agg(
        F.sum("c").cast("bigint").alias("n_u"),
        F.sum(F.col("c") * (F.col("c") - 1)).cast("bigint").alias("a_u"),
    )
    m_row = per_item.agg(F.max("n_u").alias("_m"))
    kept = per_item.crossJoin(F.broadcast(m_row))
    item_stats = kept.agg(
        F.sum(F.when(F.col("n_u") == F.col("_m"), 1).otherwise(0))
        .cast("bigint")
        .alias("n_items"),
        F.sum(F.when(F.col("n_u") != F.col("_m"), 1).otherwise(0))
        .cast("bigint")
        .alias("n_dropped_items"),
        F.sum(
            F.when(F.col("n_u") == F.col("_m"), F.col("a_u")).otherwise(0)
        )
        .cast("bigint")
        .alias("_a"),
        F.max("_m").cast("bigint").alias("n_raters"),
    )
    # category marginals over KEPT items only
    t_c = (
        cells.join(
            per_item.crossJoin(F.broadcast(m_row))
            .where(F.col("n_u") == F.col("_m"))
            .select("_i"),
            "_i",
        )
        .groupBy("_c")
        .agg(F.sum("c").cast("bigint").alias("t"))
    )
    pe_num = t_c.agg(F.sum(F.col("t") * F.col("t")).cast("bigint").alias("_t2"))
    j = item_stats.crossJoin(F.broadcast(pe_num))
    po = F.expr("_a * 1000000 div (n_items * n_raters * (n_raters - 1))")
    pe_i = F.expr(
        "_t2 * 1000000 div (n_items * n_raters * n_items * n_raters)"
    )
    out = j.select(
        "n_items",
        "n_raters",
        "n_dropped_items",
        F.when(
            (F.col("n_raters") >= 2) & (F.col("n_items") > 0), po
        )
        .cast("bigint")
        .alias("po_ppm"),
        F.when(
            (F.col("n_raters") >= 2) & (F.col("n_items") > 0), pe_i
        )
        .cast("bigint")
        .alias("pe_ppm"),
    )
    kappa = F.when(F.col("po_ppm").isNull(), F.lit(None)).when(
        F.col("pe_ppm") >= 1_000_000, F.lit(0)
    ).otherwise(
        F.floor(
            (F.col("po_ppm") - F.col("pe_ppm")).cast("double")
            * 1000000.0
            / (F.lit(1_000_000) - F.col("pe_ppm")).cast("double")
        )
    )
    return out.select(
        "n_items",
        "n_raters",
        "n_dropped_items",
        "po_ppm",
        "pe_ppm",
        kappa.cast("bigint").alias("kappa_micro"),
    )


def countmin_heavy_hitters(
    df: DataFrame,
    item_col: str,
    depth: int = 4,
    width: int = 1024,
    top_n: int = 20,
) -> DataFrame:
    """Count-min sketch heavy-hitter report — the mergeable
    fixed-memory frequency sketch (Cormode & Muthukrishnan 2005) a
    streaming/sharded pipeline keeps when exact per-item counts don't
    fit: ``depth`` md5-derived hash rows × ``width`` buckets, estimate
    = min over rows of the item's bucket count (one-sided: NEVER an
    underestimate). This operator builds the sketch AND audits it
    against exact truth for the ``top_n`` true-heaviest items, so the
    report both demonstrates the sketch and measures its overestimate
    on the caller's actual skew. One row per top item: ``(item,
    true_count, est_count, overestimate, hh_rank)``; every number is an
    exact integer (the sketch is deterministic given the seed scheme —
    the DuckDB oracle reconstructs it bit-for-bit).

    Scale shape: the sketch is ONE map-combinable (row, bucket)
    aggregate over a depth-× exploded scan — 4096 cells regardless of
    corpus size, THE point of the sketch (shard sketches merge by
    cell-wise +). Truth is one item-keyed aggregate; the probe join is
    top_n·depth rows against the broadcast cell table."""
    if depth < 1 or width < 1 or top_n < 1:
        raise ValueError("depth, width and top_n must be positive")
    base = df.select(F.col(item_col).cast("string").alias("item")).where(
        F.col("item").isNotNull()
    )
    rs = F.explode(F.sequence(F.lit(0), F.lit(int(depth) - 1))).alias("r")

    def bucket(item, r):
        return (
            md5_u60(
                F.concat(
                    F.lit("cm"), r.cast("string"), F.lit("-"), item
                )
            )
            % int(width)
        ).cast("bigint")

    cm = (
        base.select("item", rs)
        .select("r", bucket(F.col("item"), F.col("r")).alias("b"))
        .groupBy("r", "b")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    )
    truth = base.groupBy("item").agg(
        F.count(F.lit(1)).cast("bigint").alias("true_count")
    )
    w = Window.orderBy(F.col("true_count").desc(), F.col("item").asc())
    top = (
        truth.withColumn("hh_rank", F.row_number().over(w).cast("bigint"))
        .where(F.col("hh_rank") <= int(top_n))
    )
    probes = top.select(
        "item", "true_count", "hh_rank", rs
    ).withColumn("b", bucket(F.col("item"), F.col("r")))
    est = (
        probes.join(F.broadcast(cm), ["r", "b"])
        .groupBy("item", "true_count", "hh_rank")
        .agg(F.min("c").cast("bigint").alias("est_count"))
    )
    return est.select(
        "item",
        "true_count",
        "est_count",
        (F.col("est_count") - F.col("true_count"))
        .cast("bigint")
        .alias("overestimate"),
        "hh_rank",
    )


def rfm_segments(
    df: DataFrame,
    cust_col: str,
    date_col: str,
    amount_col: str,
    q: int = 5,
) -> DataFrame:
    """RFM customer segmentation — the classic recency / frequency /
    monetary quantile coding (segment "555" = recent, frequent, big
    spender) that marketing-analytics warehouses run daily. Per
    customer: recency = max order timestamp (unix seconds), frequency
    = order count, monetary = exact cent total (amounts quantized
    ``floor(a·100 + 0.5)`` BEFORE summing — float sums are
    order-dependent, cent sums are not). Each metric maps to an
    ``ntile(q)`` ASCENDING (tile q = most recent / most frequent /
    highest spend), ties broken by customer id so the tiling is total
    and engine-exact. Output one row per populated segment:
    ``(segment, n_customers, spend_cents)`` with segment =
    r·100 + f·10 + m for q ≤ 9.

    Scale shape: ONE customer-keyed aggregate over the fact table,
    then three ntile windows over the CUSTOMER table (customer-sized,
    not order-sized — the standing global-window convention; at 100 TB
    tile by pre-computed quantile bounds instead), and a final ≤ q³-row
    aggregate."""
    if not 2 <= int(q) <= 9:
        raise ValueError("q must be between 2 and 9")
    per_c = (
        df.select(
            F.col(cust_col).alias("cust"),
            # naive (timezone-free) epoch seconds: TIMESTAMP_NTZ has no
            # bigint cast, and unix_timestamp would re-interpret through
            # the session timezone — timestampdiff against the naive
            # epoch literal is stable across engines and sessions
            F.expr(
                "timestampdiff(SECOND,"
                " TIMESTAMP_NTZ '1970-01-01 00:00:00',"
                f" cast({date_col} as timestamp_ntz))"
            ).alias("_ts"),
            F.expr(
                f"cast(floor(cast({amount_col} as double) * 100 + 0.5)"
                " as bigint)"
            ).alias("_cents"),
        )
        .where(F.col("cust").isNotNull())
        .groupBy("cust")
        .agg(
            F.max("_ts").cast("bigint").alias("_r"),
            F.count(F.lit(1)).cast("bigint").alias("_f"),
            F.sum("_cents").cast("bigint").alias("_m"),
        )
    )
    qq = int(q)
    tiled = (
        per_c.withColumn(
            "_rt",
            F.ntile(qq).over(Window.orderBy(F.col("_r"), F.col("cust"))),
        )
        .withColumn(
            "_ft",
            F.ntile(qq).over(Window.orderBy(F.col("_f"), F.col("cust"))),
        )
        .withColumn(
            "_mt",
            F.ntile(qq).over(Window.orderBy(F.col("_m"), F.col("cust"))),
        )
    )
    return (
        tiled.select(
            (
                F.col("_rt") * 100 + F.col("_ft") * 10 + F.col("_mt")
            )
            .cast("bigint")
            .alias("segment"),
            "_m",
        )
        .groupBy("segment")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_customers"),
            F.sum("_m").cast("bigint").alias("spend_cents"),
        )
    )
