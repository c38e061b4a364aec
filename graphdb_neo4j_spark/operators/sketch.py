"""Sketch operators — approximate distinct counting, oracle-exact.

Spark's ``approx_count_distinct`` (HLL++) can't be cross-checked against
another engine bit-for-bit.  This KMV (k-minimum-values) sketch can:

* hash = md5 (identical in Spark and DuckDB),
* the k-th smallest distinct hash is an exact, deterministic value,
* the first 13 hex nibbles convert to a dyadic fraction (52 bits ≤ the
  53-bit double mantissa → EXACT in both engines),
* estimate = (k-1)/frac — one IEEE division, identical everywhere.

Scale shape: distinct-hash + top-k = map-side partial top-k per
partition, tiny combine at the driver; the shuffle carries at most
k×partitions hashes.  Good for quick cardinality probes on 100 TB
columns where exact COUNT(DISTINCT) would shuffle everything.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

_HEX = "0123456789abcdef"
_FRAC_DIGITS = 13


def _hex_frac(col: Column) -> Column:
    """First 13 hex nibbles of a hash string → exact fraction in [0,1)."""
    out = F.lit(0.0)
    for i in range(1, _FRAC_DIGITS + 1):
        nib = F.instr(F.lit(_HEX), F.substring(col, i, 1)) - 1
        out = out + nib.cast("double") / F.lit(float(16 ** i))
    return out


def hex_frac_sql(col_sql: str) -> str:
    """The same fraction as SQL (same association order → same doubles)."""
    terms = [
        f"(instr('{_HEX}', substr({col_sql}, {i}, 1)) - 1) / {float(16 ** i)!r}"
        for i in range(1, _FRAC_DIGITS + 1)
    ]
    return "(" + " + ".join(terms) + ")"


def kmv_distinct(df: DataFrame, col: str, k: int = 256) -> DataFrame:
    """One row: (kth_hash, est_distinct) — KMV cardinality estimate.

    If fewer than k distinct values exist the estimate equals the exact
    distinct count (degenerate case handled the standard way).
    """
    # NULLs must not enter the sketch: md5(NULL) = NULL survives
    # distinct() and sorts nulls-FIRST in Spark but nulls-LAST in
    # DuckDB, skewing both the top-k set and the estimate.
    hashes = (
        df.filter(F.col(col).isNotNull())
        .select(F.md5(F.col(col).cast("string")).alias("h"))
        .distinct()
    )
    topk = hashes.orderBy("h").limit(k)
    agg = topk.agg(F.max("h").alias("kth_hash"), F.count("*").alias("n"))
    frac = _hex_frac(F.col("kth_hash"))
    est = F.when(F.col("n") < k, F.col("n").cast("double")).otherwise(
        (F.lit(float(k - 1)) / frac)
    )
    return agg.select("kth_hash", F.round(est, 4).alias("est_distinct"))


def kmv_distinct_sql(table: str, col_sql: str, k: int = 256) -> str:
    """DuckDB oracle for :func:`kmv_distinct` over a registered view."""
    return f"""
    WITH topk AS (
      SELECT DISTINCT md5(CAST({col_sql} AS VARCHAR)) AS h FROM {table}
      WHERE {col_sql} IS NOT NULL
      ORDER BY h LIMIT {k}
    ),
    agg AS (SELECT max(h) AS kth_hash, COUNT(*) AS n FROM topk)
    SELECT kth_hash,
           ROUND(CASE WHEN n < {k} THEN CAST(n AS DOUBLE)
                      ELSE {float(k - 1)!r} / {hex_frac_sql('kth_hash')} END, 4)
             AS est_distinct
    FROM agg
    """


# ---------------------------------------------------------------------------
# HyperLogLog — deterministic, oracle-exact registers
# ---------------------------------------------------------------------------
#
# Spark's native HLL++ sketch is not reproducible across engines; this
# one is, by construction:
#
# * hash = md5 hex (identical in Spark and DuckDB),
# * bucket = first 2 hex nibbles (m = 256 registers),
# * rho    = 1 + number of leading zero BITS of the next 14 nibbles
#            (found nibble-wise via a regexp on leading '0's — a pure
#            string op both engines share), capped at 50,
# * the register harmonic sum is kept as an exact BIGINT numerator
#   Σ 2^(50-reg) (one left-shift per register, no floating point), so
#   the only double ops are one constant division and (in the
#   small-range regime) one ln — both bit-identical across engines.
#
# Execution shape: one map-side projection next to the scan, one
# 256-group aggregation, one scalar fold.  The shuffle carries ≤
# 256×partitions rows — the right cardinality probe at 100 TB.

_HLL_P = 8
_HLL_M = 1 << _HLL_P  # 256
_HLL_RHO_CAP = 50
_HLL_ALPHA = 0.7213 / (1.0 + 1.079 / _HLL_M)
# alpha * m^2 * 2^cap, folded to ONE double literal so both engines do a
# single division by the exact integer harmonic numerator
_HLL_NUM = _HLL_ALPHA * _HLL_M * _HLL_M * float(1 << _HLL_RHO_CAP)
_HLL_LINEAR_MAX = 2.5 * _HLL_M


def hll_bucket_rho(value: Column) -> tuple[Column, Column]:
    """(bucket, rho) register coordinates of one value — md5-nibble
    arithmetic, shared by the column sketch (:func:`hll_registers`) and
    the per-node HyperBall state (``traversal.hyperball``).  bucket =
    first two hex nibbles (m=256); rho = 1 + leading zero BITS of the
    next 14 nibbles, capped at ``_HLL_RHO_CAP``.  Exact integer/string
    ops only — identical in Spark, DuckDB, and the Python replicas."""
    h = F.md5(value.cast("string"))
    nib1 = F.instr(F.lit(_HEX), F.substring(h, 1, 1)) - 1
    nib2 = F.instr(F.lit(_HEX), F.substring(h, 2, 1)) - 1
    tail = F.substring(h, 3, 14)
    z = F.length(F.regexp_extract(tail, "^0*", 0))  # leading zero nibbles
    v = F.instr(F.lit(_HEX), F.substring(tail, z + 1, F.lit(1))) - 1
    extra = (
        F.when(v >= 8, 0).when(v >= 4, 1).when(v >= 2, 2).otherwise(3)
    )
    rho = F.when(z == 14, F.lit(4 * 14 + 1)).otherwise(z * 4 + extra + 1)
    rho = F.least(rho, F.lit(_HLL_RHO_CAP))
    return (nib1 * 16 + nib2).alias("bucket"), rho.alias("rho")


def hll_registers(df: DataFrame, col: str) -> DataFrame:
    """(bucket, reg) — the m=256 HLL register table of a column.
    Registers are the MERGEABLE form of the sketch: registers of any
    two shards (or micro-batches) combine by ``groupBy(bucket).max``,
    which is what makes HLL the standard distributed/incremental
    distinct counter.  NULLs are excluded (md5(NULL)=NULL would add a
    phantom register)."""
    bucket, rho = hll_bucket_rho(F.col(col))
    return (
        df.filter(F.col(col).isNotNull())
        .select(bucket, rho)
        .groupBy("bucket")
        .agg(F.max("rho").alias("reg"))
    )


def hll_merge_registers(*reg_tables: DataFrame) -> DataFrame:
    """Union register tables from disjoint shards / micro-batches into
    one sketch: MAX per bucket.  Exactly equivalent to sketching the
    concatenated input — the merge property tests pin this."""
    it = iter(reg_tables)
    out = next(it)
    for t in it:
        out = out.unionByName(t)
    return out.groupBy("bucket").agg(F.max("reg").alias("reg"))


def hll_estimate_from_registers(regs: DataFrame) -> DataFrame:
    """(n_buckets, zero_registers, harmonic_num, est_distinct) from a
    (bucket, reg) table — the exact-integer fold shared by the batch
    and streaming paths (bit-identical estimates by construction)."""
    agg = regs.agg(
        F.count("*").alias("n_buckets"),
        F.sum(F.expr(f"CAST(1 AS BIGINT) << ({_HLL_RHO_CAP} - reg)")).alias("s_obs"),
    )
    zeros = F.lit(_HLL_M) - F.col("n_buckets")
    s_num = F.col("s_obs") + zeros * F.lit(1 << _HLL_RHO_CAP)
    raw = F.lit(_HLL_NUM) / s_num.cast("double")
    est = F.when(
        (raw <= F.lit(_HLL_LINEAR_MAX)) & (zeros > 0),
        F.lit(float(_HLL_M)) * F.log(F.lit(float(_HLL_M)) / zeros.cast("double")),
    ).otherwise(raw)
    return agg.select(
        F.col("n_buckets").cast("bigint").alias("n_buckets"),
        zeros.cast("bigint").alias("zero_registers"),
        s_num.cast("bigint").alias("harmonic_num"),
        F.round(est, 4).alias("est_distinct"),
    )


def hll_distinct(df: DataFrame, col: str) -> DataFrame:
    """One row: (n_buckets, zero_registers, harmonic_num, est_distinct)
    — deterministic HyperLogLog cardinality estimate (m=256).
    Composition of :func:`hll_registers` + :func:`hll_estimate_from_registers`.
    """
    return hll_estimate_from_registers(hll_registers(df, col))


def hll_distinct_sql(table: str, col_sql: str) -> str:
    """DuckDB oracle for :func:`hll_distinct` — same strings, same
    integers, same single division."""
    cap = _HLL_RHO_CAP
    return f"""
    WITH n AS (
      SELECT (instr('{_HEX}', substr(h, 1, 1)) - 1) * 16
             + (instr('{_HEX}', substr(h, 2, 1)) - 1) AS bucket,
             substr(h, 3, 14) AS tail
      FROM (SELECT md5(CAST({col_sql} AS VARCHAR)) AS h FROM {table}
            WHERE {col_sql} IS NOT NULL)
    ),
    rho AS (
      SELECT bucket,
             LEAST(CASE WHEN z = 14 THEN 57
                        ELSE 4*z + CASE WHEN v >= 8 THEN 0 WHEN v >= 4 THEN 1
                                        WHEN v >= 2 THEN 2 ELSE 3 END + 1 END,
                   {cap}) AS rho
      FROM (SELECT bucket,
                   length(regexp_extract(tail, '^0*')) AS z,
                   instr('{_HEX}',
                         substr(tail, length(regexp_extract(tail, '^0*')) + 1, 1)) - 1
                     AS v
            FROM n)
    ),
    regs AS (SELECT bucket, MAX(rho) AS reg FROM rho GROUP BY bucket),
    agg AS (
      SELECT COUNT(*) AS n_buckets,
             SUM(CAST(1 AS BIGINT) << ({cap} - reg)) AS s_obs
      FROM regs
    )
    SELECT CAST(n_buckets AS BIGINT) AS n_buckets,
           CAST({_HLL_M} - n_buckets AS BIGINT) AS zero_registers,
           CAST(s_obs + ({_HLL_M} - n_buckets) * (CAST(1 AS BIGINT) << {cap})
                AS BIGINT) AS harmonic_num,
           ROUND(CASE WHEN {_HLL_NUM!r} / CAST(s_obs + ({_HLL_M} - n_buckets)
                               * (CAST(1 AS BIGINT) << {cap}) AS DOUBLE)
                           <= {_HLL_LINEAR_MAX!r}
                       AND {_HLL_M} - n_buckets > 0
                      THEN {float(_HLL_M)!r} * ln({float(_HLL_M)!r}
                               / CAST({_HLL_M} - n_buckets AS DOUBLE))
                      ELSE {_HLL_NUM!r} / CAST(s_obs + ({_HLL_M} - n_buckets)
                               * (CAST(1 AS BIGINT) << {cap}) AS DOUBLE) END,
                 4) AS est_distinct
    FROM agg
    """


# ---------------------------------------------------------------------------
# Count-min sketch — deterministic counters, oracle-exact
# ---------------------------------------------------------------------------

_CMS_D = 4  # hash rows
_CMS_W = 1024  # counter columns per row


def _cms_bucket(row: int, col: Column) -> Column:
    """Counter column for hash row ``row``: first 3 nibbles of
    md5('<row>:'||value) → 0..4095, mod w.  Deterministic in both
    engines (md5 + string instr arithmetic, no engine-native hashing)."""
    h = F.md5(F.concat(F.lit(f"{row}:"), col.cast("string")))
    n1 = F.instr(F.lit(_HEX), F.substring(h, 1, 1)) - 1
    n2 = F.instr(F.lit(_HEX), F.substring(h, 2, 1)) - 1
    n3 = F.instr(F.lit(_HEX), F.substring(h, 3, 1)) - 1
    return (n1 * 256 + n2 * 16 + n3) % _CMS_W


def _cms_bucket_sql(row: int, col_sql: str) -> str:
    h = f"md5('{row}:' || CAST({col_sql} AS VARCHAR))"
    return (
        f"(((instr('{_HEX}', substr({h}, 1, 1)) - 1) * 256"
        f" + (instr('{_HEX}', substr({h}, 2, 1)) - 1) * 16"
        f" + (instr('{_HEX}', substr({h}, 3, 1)) - 1)) % {_CMS_W})"
    )


def cms_counters(items: DataFrame, col: str, weight_col: str | None = None) -> DataFrame:
    """(r, bucket, cnt) — the d×w count-min counter matrix of ``items``.

    Each item updates one counter per hash row; the matrix is a grouped
    sum over at most d·w = 4096 cells — map-side partial aggregation
    collapses 100 TB of updates into a tiny sketch, the whole point of
    CMS.  ``weight_col`` lets pre-aggregated (item, count) inputs feed
    the sketch without re-expansion.
    """
    wcol = F.col(weight_col) if weight_col else F.lit(1)
    rows = F.explode(F.array(*[F.lit(r) for r in range(_CMS_D)])).alias("r")
    exploded = items.select(F.col(col).alias("item"), wcol.alias("w"), rows)
    return (
        exploded.select("r", _cms_bucket_by_row(F.col("item")).alias("bucket"), "w")
        .groupBy("r", "bucket")
        .agg(F.sum("w").cast("bigint").alias("cnt"))
    )


def _cms_bucket_by_row(item: Column) -> Column:
    """Bucket of ``item`` under the hash row selected by column ``r``."""
    bucket = F.lit(0)
    for r in range(_CMS_D):
        bucket = F.when(F.col("r") == F.lit(r), _cms_bucket(r, item)).otherwise(bucket)
    return bucket


def cms_estimate(candidates: DataFrame, counters: DataFrame, col: str) -> DataFrame:
    """candidates + (cms_est) — point query: min over the d counters the
    item hashes to.  The counter matrix is ≤4096 rows → broadcast join."""
    rows = F.explode(F.array(*[F.lit(r) for r in range(_CMS_D)])).alias("r")
    probes = candidates.withColumn("r", rows)
    probes = probes.withColumn("bucket", _cms_bucket_by_row(F.col(col)))
    est = (
        probes.join(F.broadcast(counters), ["r", "bucket"])
        .groupBy(*[F.col(c) for c in candidates.columns])
        .agg(F.min("cnt").alias("cms_est"))
    )
    return est


def hll_distinct_by(df: DataFrame, group_col: str, col: str) -> DataFrame:
    """(group, n_buckets, zero_registers, harmonic_num, est_distinct) —
    per-group deterministic HLL.  Same register math as
    :func:`hll_distinct`, keyed by ``group_col``: the shuffle carries at
    most 256 rows per group regardless of group size, which is the
    whole point — COUNT(DISTINCT) per group over 100 TB shuffles every
    value, this shuffles a fixed-size sketch.  Sketches of disjoint
    shards also merge by MAX(reg) — the property that makes HLL the
    standard distributed distinct counter."""
    h = F.md5(F.col(col).cast("string"))
    nib1 = F.instr(F.lit(_HEX), F.substring(h, 1, 1)) - 1
    nib2 = F.instr(F.lit(_HEX), F.substring(h, 2, 1)) - 1
    tail = F.substring(h, 3, 14)
    z = F.length(F.regexp_extract(tail, "^0*", 0))
    v = F.instr(F.lit(_HEX), F.substring(tail, z + 1, F.lit(1))) - 1
    extra = F.when(v >= 8, 0).when(v >= 4, 1).when(v >= 2, 2).otherwise(3)
    rho = F.when(z == 14, F.lit(4 * 14 + 1)).otherwise(z * 4 + extra + 1)
    rho = F.least(rho, F.lit(_HLL_RHO_CAP))
    regs = (
        df.filter(F.col(col).isNotNull())
        .select(
            F.col(group_col).alias("grp"),
            (nib1 * 16 + nib2).alias("bucket"),
            rho.alias("rho"),
        )
        .groupBy("grp", "bucket")
        .agg(F.max("rho").alias("reg"))
    )
    return _grouped_estimate(regs).withColumnRenamed("grp", group_col)


def _grouped_estimate(regs: DataFrame) -> DataFrame:
    """Per-group estimate fold over a (grp, bucket, reg) register table
    — shared by :func:`hll_distinct_by` and the rolling-window rollup."""
    agg = regs.groupBy("grp").agg(
        F.count("*").alias("n_buckets"),
        F.sum(F.expr(f"CAST(1 AS BIGINT) << ({_HLL_RHO_CAP} - reg)")).alias("s_obs"),
    )
    zeros = F.lit(_HLL_M) - F.col("n_buckets")
    s_num = F.col("s_obs") + zeros * F.lit(1 << _HLL_RHO_CAP)
    raw = F.lit(_HLL_NUM) / s_num.cast("double")
    est = F.when(
        (raw <= F.lit(_HLL_LINEAR_MAX)) & (zeros > 0),
        F.lit(float(_HLL_M)) * F.log(F.lit(float(_HLL_M)) / zeros.cast("double")),
    ).otherwise(raw)
    return agg.select(
        "grp",
        F.col("n_buckets").cast("bigint").alias("n_buckets"),
        zeros.cast("bigint").alias("zero_registers"),
        s_num.cast("bigint").alias("harmonic_num"),
        F.round(est, 4).alias("est_distinct"),
    )


def hll_rolling_distinct(
    df: DataFrame, hour_col: str, col: str, window_hours: int = 3
) -> DataFrame:
    """(hour, n_buckets, zero_registers, harmonic_num, est_distinct) —
    rolling-window distinct estimate from PRE-AGGREGATED hourly HLL
    sketches: registers per (hour, bucket), then each output hour
    merges the trailing ``window_hours`` hours' registers by MAX.

    This is the sketch-rollup pattern (Druid/ClickHouse datasketches):
    raw data is touched ONCE to build ≤256 register rows per hour;
    ANY trailing window is then answered by merging sketch rows —
    a COUNT(DISTINCT) over the re-scanned window would reread every
    event.  The register merge is exactly :func:`hll_merge_registers`
    semantics, so the rolling estimate is bit-identical to sketching
    the window's raw rows directly (HLL merge losslessness)."""
    bucket, rho = hll_bucket_rho(F.col(col))
    regs = (
        df.filter(F.col(col).isNotNull())
        .select(F.col(hour_col).alias("h"), bucket, rho)
        .groupBy("h", "bucket")
        .agg(F.max("rho").alias("reg"))
    )
    hours = regs.select(F.col("h").alias("grp")).distinct()
    merged = (
        hours.join(
            regs,
            (F.col("h") >= F.col("grp") - F.lit(window_hours - 1))
            & (F.col("h") <= F.col("grp")),
        )
        .groupBy("grp", "bucket")
        .agg(F.max("reg").alias("reg"))
    )
    return _grouped_estimate(merged).withColumnRenamed("grp", "hour")


def hll_rolling_distinct_sql(
    table: str, hour_sql: str, col_sql: str, window_hours: int = 3
) -> str:
    """DuckDB oracle for :func:`hll_rolling_distinct`."""
    cap = _HLL_RHO_CAP
    return f"""
    WITH n AS (
      SELECT h,
             (instr('{_HEX}', substr(md, 1, 1)) - 1) * 16
             + (instr('{_HEX}', substr(md, 2, 1)) - 1) AS bucket,
             substr(md, 3, 14) AS tail
      FROM (SELECT {hour_sql} AS h, md5(CAST({col_sql} AS VARCHAR)) AS md
            FROM {table} WHERE {col_sql} IS NOT NULL)
    ),
    rho AS (
      SELECT h, bucket,
             LEAST(CASE WHEN z = 14 THEN 57
                        ELSE 4*z + CASE WHEN v >= 8 THEN 0 WHEN v >= 4 THEN 1
                                        WHEN v >= 2 THEN 2 ELSE 3 END + 1 END,
                   {cap}) AS rho
      FROM (SELECT h, bucket,
                   length(regexp_extract(tail, '^0*')) AS z,
                   instr('{_HEX}',
                         substr(tail, length(regexp_extract(tail, '^0*')) + 1, 1)) - 1
                     AS v
            FROM n)
    ),
    regs AS (SELECT h, bucket, MAX(rho) AS reg FROM rho GROUP BY h, bucket),
    hours AS (SELECT DISTINCT h AS grp FROM regs),
    merged AS (
      SELECT hours.grp, regs.bucket, MAX(regs.reg) AS reg
      FROM hours JOIN regs
        ON regs.h >= hours.grp - {window_hours - 1} AND regs.h <= hours.grp
      GROUP BY hours.grp, regs.bucket
    ),
    agg AS (
      SELECT grp, COUNT(*) AS n_buckets,
             SUM(CAST(1 AS BIGINT) << ({cap} - reg)) AS s_obs
      FROM merged GROUP BY grp
    )
    SELECT grp AS hour,
           CAST(n_buckets AS BIGINT) AS n_buckets,
           CAST({_HLL_M} - n_buckets AS BIGINT) AS zero_registers,
           CAST(s_obs + ({_HLL_M} - n_buckets) * (CAST(1 AS BIGINT) << {cap})
                AS BIGINT) AS harmonic_num,
           ROUND(CASE WHEN {_HLL_NUM!r} / CAST(s_obs + ({_HLL_M} - n_buckets)
                               * (CAST(1 AS BIGINT) << {cap}) AS DOUBLE)
                           <= {_HLL_LINEAR_MAX!r}
                       AND {_HLL_M} - n_buckets > 0
                      THEN {float(_HLL_M)!r} * ln({float(_HLL_M)!r}
                               / CAST({_HLL_M} - n_buckets AS DOUBLE))
                      ELSE {_HLL_NUM!r} / CAST(s_obs + ({_HLL_M} - n_buckets)
                               * (CAST(1 AS BIGINT) << {cap}) AS DOUBLE) END,
                 4) AS est_distinct
    FROM agg
    """


def hll_distinct_by_sql(
    table: str, group_sql: str, col_sql: str, group_alias: str = "grp"
) -> str:
    """DuckDB oracle for :func:`hll_distinct_by`."""
    cap = _HLL_RHO_CAP
    return f"""
    WITH n AS (
      SELECT grp,
             (instr('{_HEX}', substr(h, 1, 1)) - 1) * 16
             + (instr('{_HEX}', substr(h, 2, 1)) - 1) AS bucket,
             substr(h, 3, 14) AS tail
      FROM (SELECT {group_sql} AS grp, md5(CAST({col_sql} AS VARCHAR)) AS h
            FROM {table} WHERE {col_sql} IS NOT NULL)
    ),
    rho AS (
      SELECT grp, bucket,
             LEAST(CASE WHEN z = 14 THEN 57
                        ELSE 4*z + CASE WHEN v >= 8 THEN 0 WHEN v >= 4 THEN 1
                                        WHEN v >= 2 THEN 2 ELSE 3 END + 1 END,
                   {cap}) AS rho
      FROM (SELECT grp, bucket,
                   length(regexp_extract(tail, '^0*')) AS z,
                   instr('{_HEX}',
                         substr(tail, length(regexp_extract(tail, '^0*')) + 1, 1)) - 1
                     AS v
            FROM n)
    ),
    regs AS (SELECT grp, bucket, MAX(rho) AS reg FROM rho GROUP BY grp, bucket),
    agg AS (
      SELECT grp, COUNT(*) AS n_buckets,
             SUM(CAST(1 AS BIGINT) << ({cap} - reg)) AS s_obs
      FROM regs GROUP BY grp
    )
    SELECT grp AS {group_alias},
           CAST(n_buckets AS BIGINT) AS n_buckets,
           CAST({_HLL_M} - n_buckets AS BIGINT) AS zero_registers,
           CAST(s_obs + ({_HLL_M} - n_buckets) * (CAST(1 AS BIGINT) << {cap})
                AS BIGINT) AS harmonic_num,
           ROUND(CASE WHEN {_HLL_NUM!r} / CAST(s_obs + ({_HLL_M} - n_buckets)
                               * (CAST(1 AS BIGINT) << {cap}) AS DOUBLE)
                           <= {_HLL_LINEAR_MAX!r}
                       AND {_HLL_M} - n_buckets > 0
                      THEN {float(_HLL_M)!r} * ln({float(_HLL_M)!r}
                               / CAST({_HLL_M} - n_buckets AS DOUBLE))
                      ELSE {_HLL_NUM!r} / CAST(s_obs + ({_HLL_M} - n_buckets)
                               * (CAST(1 AS BIGINT) << {cap}) AS DOUBLE) END,
                 4) AS est_distinct
    FROM agg
    """


# ---------------------------------------------------------------------------
# KMV set operations — distinct intersection / union / Jaccard, oracle-exact
# ---------------------------------------------------------------------------

def kmv_set_overlap(
    df_a: DataFrame, df_b: DataFrame, col: str, k: int = 256
) -> DataFrame:
    """One row: (theta_hash, n_union_sample, n_inter_sample,
    est_union, est_intersection, est_jaccard) — theta-sketch-style set
    overlap between two columns' distinct values.

    Method (Dasgupta et al., "Theta sketches"): take each side's k
    minimum distinct md5 hashes; θ = the k-th smallest hash of the
    UNION sample (both samples merged, deduped); every union hash < θ
    is a uniform sample of A∪B, so

    * ``est_union``        = (n_union_sample − 1)/θ  (KMV estimator),
    * ``est_jaccard``      = |sample ∩ both sides| / n_union_sample,
    * ``est_intersection`` = jaccard × est_union.

    All inputs to the float math are exact integers plus one dyadic
    hash fraction — bit-identical in DuckDB.  Degenerate small sets
    (union sample < k) fall back to exact counts.  Scale shape: two
    map-side top-k folds + a tiny driver-side-free merge; nothing
    larger than 2k hashes ever moves.
    """
    ha = (
        df_a.filter(F.col(col).isNotNull())
        .select(F.md5(F.col(col).cast("string")).alias("h"))
        .distinct().orderBy("h").limit(k)
        .withColumn("in_a", F.lit(1)).withColumn("in_b", F.lit(0))
    )
    hb = (
        df_b.filter(F.col(col).isNotNull())
        .select(F.md5(F.col(col).cast("string")).alias("h"))
        .distinct().orderBy("h").limit(k)
        .withColumn("in_a", F.lit(0)).withColumn("in_b", F.lit(1))
    )
    both = (
        ha.unionByName(hb)
        .groupBy("h")
        .agg(F.max("in_a").alias("in_a"), F.max("in_b").alias("in_b"))
    )
    from pyspark.sql import Window

    ranked = both.withColumn(
        "rn", F.row_number().over(Window.orderBy("h"))
    ).filter(F.col("rn") <= k)
    agg = ranked.agg(
        F.max("h").alias("theta_hash"),
        F.count("*").alias("n_union_sample"),
        F.sum(
            F.when((F.col("in_a") == 1) & (F.col("in_b") == 1), 1).otherwise(0)
        ).alias("n_inter_sample"),
    )
    frac = _hex_frac(F.col("theta_hash"))
    full = F.col("n_union_sample") < k
    est_union = F.when(full, F.col("n_union_sample").cast("double")).otherwise(
        F.lit(float(k - 1)) / frac
    )
    jac = F.when(
        F.col("n_union_sample") == 0, F.lit(0.0)
    ).otherwise(F.col("n_inter_sample").cast("double") / F.col("n_union_sample"))
    return agg.select(
        "theta_hash",
        F.col("n_union_sample").cast("bigint").alias("n_union_sample"),
        F.col("n_inter_sample").cast("bigint").alias("n_inter_sample"),
        F.round(est_union, 4).alias("est_union"),
        F.round(jac * est_union, 4).alias("est_intersection"),
        F.round(jac, 6).alias("est_jaccard"),
    )


def kmv_set_overlap_sql(
    table_a: str, col_a: str, table_b: str, col_b: str, k: int = 256
) -> str:
    """DuckDB oracle for :func:`kmv_set_overlap`."""
    return f"""
    WITH ha AS (
      SELECT h, 1 AS in_a, 0 AS in_b FROM (
        SELECT DISTINCT md5(CAST({col_a} AS VARCHAR)) AS h FROM {table_a}
        WHERE {col_a} IS NOT NULL ORDER BY h LIMIT {k})
    ),
    hb AS (
      SELECT h, 0 AS in_a, 1 AS in_b FROM (
        SELECT DISTINCT md5(CAST({col_b} AS VARCHAR)) AS h FROM {table_b}
        WHERE {col_b} IS NOT NULL ORDER BY h LIMIT {k})
    ),
    merged AS (
      SELECT h, MAX(in_a) AS in_a, MAX(in_b) AS in_b
      FROM (SELECT * FROM ha UNION ALL SELECT * FROM hb) GROUP BY h
    ),
    ranked AS (
      SELECT h, in_a, in_b, ROW_NUMBER() OVER (ORDER BY h) AS rn FROM merged
    ),
    agg AS (
      SELECT MAX(h) AS theta_hash, COUNT(*) AS n_union_sample,
             SUM(CASE WHEN in_a = 1 AND in_b = 1 THEN 1 ELSE 0 END)
               AS n_inter_sample
      FROM ranked WHERE rn <= {k}
    )
    SELECT theta_hash,
           CAST(n_union_sample AS BIGINT) AS n_union_sample,
           CAST(n_inter_sample AS BIGINT) AS n_inter_sample,
           ROUND(CASE WHEN n_union_sample < {k}
                      THEN CAST(n_union_sample AS DOUBLE)
                      ELSE {float(k - 1)!r} / {hex_frac_sql('theta_hash')} END, 4)
             AS est_union,
           ROUND((CASE WHEN n_union_sample = 0 THEN 0.0
                       ELSE CAST(n_inter_sample AS DOUBLE) / n_union_sample END)
                 * (CASE WHEN n_union_sample < {k}
                         THEN CAST(n_union_sample AS DOUBLE)
                         ELSE {float(k - 1)!r} / {hex_frac_sql('theta_hash')} END),
                 4) AS est_intersection,
           ROUND(CASE WHEN n_union_sample = 0 THEN 0.0
                      ELSE CAST(n_inter_sample AS DOUBLE) / n_union_sample END,
                 6) AS est_jaccard
    FROM agg
    """


# --------------------------------------------------------------------------
# hash-sample quantile sketch (mergeable bottom-k uniform sample)
# --------------------------------------------------------------------------

def quantile_positions(k: int, quantiles: list[float]) -> list[tuple[float, int]]:
    """(q, 1-based rank in a k-row sample) for each requested quantile —
    computed ONCE driver-side in exact integer/float math and inlined as
    literals into BOTH engines' plans (DuckDB parses ``0.9`` as DECIMAL,
    so ``CEIL(0.9*k)`` can disagree with IEEE-double ``ceil`` by one
    rank; pinning the integer here removes the ambiguity)."""
    import math

    out = []
    for q in quantiles:
        pos = max(1, min(k, int(math.ceil(round(q * k, 9)))))
        out.append((float(q), pos))
    return out


def hash_sample_quantiles(
    df: DataFrame,
    key_cols: list[str],
    value_col: str,
    k: int = 1000,
    quantiles: list[float] | None = None,
) -> DataFrame:
    """Deterministic MERGEABLE quantile sketch: the k rows with the
    smallest ``md5(key)`` form a uniform pseudo-random sample (the same
    bottom-k-by-hash trick as the KMV distinct sketch), and quantiles
    are read off the ordered sample: ``(q, value)``.

    Mergeability (what KLL/GK buy, here for free): the bottom-k of a
    union is the bottom-k of the per-shard bottom-k's — per-partition
    partial top-k, tiny combine, and sketches from different shards,
    days, or streaming micro-batches merge by union + re-trim with NO
    error drift; the merged sketch is bit-identical to the sketch of
    the concatenated data (tested in tests/test_round3b.py).

    100 TB shape: ``orderBy(h).limit(k)`` is TakeOrderedAndProject —
    map-side partial top-k per partition, no global sort, no shuffle of
    the data; the only single-partition work is ranking the k sample
    rows.  Error is the usual sampling bound O(1/√k) on quantile rank.

    Determinism: md5 keys, total order (value, hash) inside the sample,
    and integer rank literals from `quantile_positions` — bit-identical
    to the SQL oracle."""
    if quantiles is None:
        quantiles = [0.25, 0.5, 0.75, 0.9, 0.99]
    h = F.md5(
        F.concat_ws("-", *[F.col(c).cast("string") for c in key_cols])
    )
    sample = (
        df.select(F.col(value_col).alias("v"), h.alias("h"))
        .orderBy("h")
        .limit(k)
    )
    from pyspark.sql import Window

    w = Window.orderBy("v", "h")  # k rows — bounded single partition
    ranked = sample.select(
        "v", F.row_number().over(w).alias("rn")
    )
    spark = df.sparkSession
    pos = spark.createDataFrame(
        quantile_positions(k, quantiles), "q double, rn int"
    )
    return (
        ranked.join(F.broadcast(pos), "rn")
        .select("q", F.col("v").alias("value"))
    )


def hash_sample_quantiles_sql(
    table: str,
    key_sql: str,
    value_sql: str,
    k: int = 1000,
    quantiles: list[float] | None = None,
) -> str:
    """DuckDB mirror of `hash_sample_quantiles` (same bottom-k sample,
    same total order, same integer rank literals)."""
    if quantiles is None:
        quantiles = [0.25, 0.5, 0.75, 0.9, 0.99]
    pos = quantile_positions(k, quantiles)
    values = ", ".join(f"({q!r}, {rn})" for q, rn in pos)
    return f"""
    WITH sample AS (
      SELECT {value_sql} AS v, md5({key_sql}) AS h
      FROM {table} ORDER BY h LIMIT {k}
    ),
    ranked AS (
      SELECT v, ROW_NUMBER() OVER (ORDER BY v, h) AS rn FROM sample
    ),
    pos(q, rn) AS (VALUES {values})
    SELECT CAST(pos.q AS DOUBLE) AS q, ranked.v AS value
    FROM ranked JOIN pos ON ranked.rn = pos.rn
    """


# ---------------------------------------------------------------------------
# Bloom filter — mergeable membership sketch (build = bit_or-reduced words,
# probe = k bit tests).  Completes the sketch family next to KMV/HLL/CMS:
# HLL answers "how many distinct", CMS "how often", Bloom "have I seen this
# key" with zero false negatives and a tunable false-positive rate
# ((1-e^{-kn/m})^k).  Spark itself builds runtime bloom pruning filters from
# the same math (InjectRuntimeFilter); this one is engine-portable and
# oracle-checkable: positions come from the md5 nibble bucket, the filter is
# a (word_idx, word) table reduced by BIT_OR — mergeable across shards and
# micro-batches by construction.
# ---------------------------------------------------------------------------

BLOOM_BITS = 65536  # one md5 nibble-bucket per lane (operators/sampling.py)
BLOOM_LANES = 5
# 63 bits per word: bigint is SIGNED in both engines and DuckDB raises on
# 1::BIGINT << 63, so the sign bit is never used (1041 words for 65536 bits)
BLOOM_WORD_BITS = 63


def _bloom_positions(key: Column, lanes: int) -> list[Column]:
    from graphdb_neo4j_spark.operators.sampling import _hash_bucket

    return [_hash_bucket(key, f"bloom{i}") for i in range(lanes)]


def bloom_build(
    df: DataFrame, col: str, lanes: int = BLOOM_LANES
) -> DataFrame:
    """(word_idx, word) — a 65536-bit Bloom filter over the column's
    distinct values as 1024 bigint words, BIT_OR-reduced.

    Scale shape: explode to ``lanes`` positions per key (map-side),
    one hash-agg on word_idx (1024 groups, map-side combinable).  The
    result is a ~8 KB broadcastable table; merging two filters is
    ``unionByName`` + the same BIT_OR agg."""
    key = F.col(col).cast("string")
    pos = F.explode(F.array(*_bloom_positions(key, lanes))).alias("pos")
    return (
        df.select(pos)
        .select(
            F.expr(f"pos div {BLOOM_WORD_BITS}").cast("int").alias("word_idx"),
            F.expr(
                f"shiftleft(cast(1 as bigint), cast(pos % {BLOOM_WORD_BITS} as int))"
            ).alias("b"),
        )
        .groupBy("word_idx")
        .agg(F.bit_or("b").alias("word"))
    )


def bloom_probe(
    df: DataFrame, bloom: DataFrame, col: str, lanes: int = BLOOM_LANES
) -> DataFrame:
    """(key, maybe_present) — probe each distinct value of ``col``
    against a :func:`bloom_build` filter.  A key is maybe-present iff
    ALL its lane bits are set (no false negatives).  The filter
    broadcasts; the probe is a map-side join + one per-key count."""
    key = F.col(col).cast("string")
    probes = (
        df.select(key.alias("key")).distinct()
        .select(
            "key", F.explode(F.array(*_bloom_positions(F.col("key"), lanes))).alias("pos")
        )
        .select(
            "key",
            F.expr(f"pos div {BLOOM_WORD_BITS}").cast("int").alias("word_idx"),
            (F.col("pos") % BLOOM_WORD_BITS).alias("bit"),
        )
    )
    hit = (
        probes.join(F.broadcast(bloom), "word_idx", "left")
        .withColumn(
            "set",
            F.when(
                F.col("word").isNotNull()
                & (
                    F.col("word").bitwiseAND(
                        F.expr("shiftleft(cast(1 as bigint), cast(bit as int))")
                    )
                    != 0
                ),
                1,
            ).otherwise(0),
        )
        .groupBy("key")
        .agg((F.sum("set") == F.lit(lanes)).alias("maybe_present"))
    )
    return hit


def mg_candidates(
    items: DataFrame, col: str, k: int = 200
) -> DataFrame:
    """Misra–Gries heavy-hitter CANDIDATES — one pass, ``k`` counters
    per partition, constant memory.  Returns the union of per-partition
    summaries as ``(item, lower_bound)``.

    Guarantee (the mergeable-summaries theorem, Agarwal et al., PODS
    2012): a Misra–Gries summary of a bag undercounts any item by at
    most ``n_bag/(k+1)``, and summing per-partition summaries keeps the
    total undercount ≤ ``N/(k+1)``.  Hence every item with true
    frequency > ``N/(k+1)`` appears in at least one partition summary —
    the candidate set is a SUPERSET of the ε-heavy hitters with
    ε = 1/(k+1).  Pair with one exact recount of the candidates (a
    semi-join — see :func:`heavy_hitters_exact`) for exact output.

    Implementation detail: inside each partition the stream is folded
    Arrow-batch-at-a-time — ``value_counts`` per batch (vectorized),
    then a summary MERGE (sum counters; if > k survive, subtract the
    (k+1)-st largest count from all and drop non-positives), which is
    exactly the PODS-2012 merge and never touches rows one at a time.

    100 TB shape: one scan, zero shuffle (mapPartitions-only), output
    ≤ k rows per partition.  This is the candidate generator for
    exact heavy hitters without a full-cardinality groupBy: the
    recount pass aggregates ONLY candidate keys, so the shuffle carries
    a bounded key set instead of the full distinct domain.
    """
    import pandas as pd

    kk = int(k)

    def summarize(batches):
        counts: "pd.Series | None" = None
        for pdf in batches:
            batch = pdf[col].value_counts()
            counts = batch if counts is None else counts.add(batch, fill_value=0)
            if len(counts) > kk:
                counts = counts.sort_values(ascending=False)
                pivot = counts.iloc[kk]
                counts = counts - pivot
                counts = counts[counts > 0]
        if counts is not None and len(counts):
            yield pd.DataFrame(
                {
                    "item": counts.index.astype(str),
                    "lower_bound": counts.values.astype("int64"),
                }
            )

    return (
        items.select(F.col(col).cast("string").alias(col))
        .mapInPandas(summarize, schema="item string, lower_bound bigint")
    )


def heavy_hitters_exact(
    items: DataFrame, col: str, k: int = 200
) -> DataFrame:
    """EXACT ε-heavy hitters (ε = 1/(k+1)) via Misra–Gries candidates +
    one exact recount: ``(item, cnt)`` for every item with
    ``cnt · (k+1) > N``, computed without ever grouping the full
    distinct domain.  Output is oracle-equal to the naive
    ``GROUP BY … HAVING cnt*(k+1) > N`` (that IS the DuckDB oracle) —
    the sketch only changes the plan, not the answer."""
    src = items.select(F.col(col).cast("string").alias("item")).persist()
    total = src.groupBy().agg(F.count("*").alias("n_total"))
    cand = mg_candidates(src, "item", k=k).select("item").distinct()
    counted = (
        src.join(F.broadcast(cand), "item")
        .groupBy("item")
        .agg(F.count("*").alias("cnt"))
    )
    out = (
        counted.crossJoin(F.broadcast(total))
        .filter(F.col("cnt") * (int(k) + 1) > F.col("n_total"))
        .select("item", "cnt")
    )
    return out


def histogram_quantiles(
    df: DataFrame,
    group_col: str,
    value_col: str,
    nbins: int = 256,
    quantiles_micro: list[int] | None = None,
) -> DataFrame:
    """Equi-width-histogram quantile estimates per group — the SCALE
    path for grouped quantiles (the streaming-histogram idea of
    Ben-Haim & Tom-Tov, JMLR 2010, fixed-grid variant): exact
    ``percentile()`` buffers every value per group in one aggregation
    buffer, which dies when a single group holds billions of rows;
    a fixed-bin histogram is O(nbins) state per group, fully map-side
    combinable, and mergeable across shards/days by adding counts.

    Everything is exact integer arithmetic on micro-unit values, so the
    result hash-matches the SQL oracle bit-for-bit:

    * ``vm = round(value * 1e6)`` (micro-units),
    * bin index ``(vm - mn) * nbins div (mx - mn + 1)``,
    * target rank ``ceil(q * n) = (q_micro * n + 999999) div 1e6``,
    * estimate = the LOWER EDGE of the first bin whose cumulative count
      reaches the target rank: ``mn + bin * (mx - mn + 1) div nbins``.

    Error bound: one bin width, (mx-mn)/nbins — the histogram contract.
    Overflow bound (int64): ``|vm| * nbins < 2^63`` → values up to
    ~3.6e13 at nbins=256; raise the micro scale only with care.

    100 TB shape: two grouped aggregations over the scan (min/max/count,
    then bin counts) with the tiny per-group stats broadcast between
    them; the cumulative window partitions by group over <= nbins rows —
    never a data-sized window.
    """
    if quantiles_micro is None:
        quantiles_micro = [250_000, 500_000, 750_000, 900_000, 990_000]
    from pyspark.sql import Window

    g = group_col
    vm = F.round(F.col(value_col) * 1_000_000).cast("bigint")
    base = df.select(F.col(g), vm.alias("vm"))
    stats = base.groupBy(g).agg(
        F.min("vm").alias("mn"),
        F.max("vm").alias("mx"),
        F.count("*").cast("bigint").alias("n"),
    )
    binned = base.join(F.broadcast(stats), g).select(
        F.col(g),
        F.when(
            F.col("mx") > F.col("mn"),
            F.expr(f"(vm - mn) * {int(nbins)} div (mx - mn + 1)"),
        )
        .otherwise(F.lit(0))
        .cast("bigint")
        .alias("bin"),
    )
    counts = binned.groupBy(g, "bin").agg(
        F.count("*").cast("bigint").alias("cnt")
    )
    w = Window.partitionBy(g).orderBy("bin")  # <= nbins rows per group
    cum = counts.select(g, "bin", "cnt", F.sum("cnt").over(w).alias("cum"))
    qs = df.sparkSession.createDataFrame(
        [(int(q),) for q in quantiles_micro], "q_micro bigint"
    )
    return (
        cum.join(F.broadcast(stats), g)
        .crossJoin(F.broadcast(qs))
        .filter(
            (F.col("cum") >= F.expr("(q_micro * n + 999999) div 1000000"))
            & (
                F.col("cum") - F.col("cnt")
                < F.expr("(q_micro * n + 999999) div 1000000")
            )
        )
        .select(
            F.col(g),
            "q_micro",
            F.expr(f"mn + bin * (mx - mn + 1) div {int(nbins)}")
            .cast("bigint")
            .alias("est_micro"),
        )
    )


def histogram_quantiles_sql(
    table: str,
    group_sql: str,
    value_sql: str,
    nbins: int = 256,
    quantiles_micro: list[int] | None = None,
) -> str:
    """DuckDB mirror of :func:`histogram_quantiles`."""
    if quantiles_micro is None:
        quantiles_micro = [250_000, 500_000, 750_000, 900_000, 990_000]
    qvals = ", ".join(f"({int(q)})" for q in quantiles_micro)
    return f"""
    WITH base AS (
      SELECT {group_sql} AS g,
             CAST(ROUND(({value_sql}) * 1000000) AS BIGINT) AS vm
      FROM {table}
    ),
    stats AS (
      SELECT g, MIN(vm) AS mn, MAX(vm) AS mx,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM base GROUP BY g
    ),
    binned AS (
      SELECT base.g,
             CASE WHEN stats.mx > stats.mn
                  THEN (base.vm - stats.mn) * {int(nbins)}
                       // (stats.mx - stats.mn + 1)
                  ELSE 0 END AS bin
      FROM base JOIN stats USING (g)
    ),
    counts AS (
      SELECT g, bin, CAST(COUNT(*) AS BIGINT) AS cnt
      FROM binned GROUP BY g, bin
    ),
    cum AS (
      SELECT g, bin, cnt,
             SUM(cnt) OVER (PARTITION BY g ORDER BY bin) AS cum
      FROM counts
    ),
    qs(q_micro) AS (VALUES {qvals})
    SELECT cum.g AS {group_sql},
           CAST(qs.q_micro AS BIGINT) AS q_micro,
           CAST(stats.mn + cum.bin * (stats.mx - stats.mn + 1)
                // {int(nbins)} AS BIGINT) AS est_micro
    FROM cum JOIN stats USING (g), qs
    WHERE cum.cum >= (qs.q_micro * stats.n + 999999) // 1000000
      AND cum.cum - cum.cnt < (qs.q_micro * stats.n + 999999) // 1000000
    """


def fixed_histogram_counts(
    df: DataFrame,
    group_col: str,
    value_col: str,
    lo_micro: int,
    hi_micro: int,
    nbins: int = 256,
) -> DataFrame:
    """Per-(group, bin) counts on a FIXED grid ``[lo_micro, hi_micro]``
    (micro-unit bounds chosen at definition time, out-of-range values
    clamp into the edge bins) — the mergeable building block of
    :func:`histogram_quantiles` for pipelines that already know the
    metric's range (scores in [0,1], latencies under a cap, ...).
    Fixing the grid buys two things the adaptive variant can't give:
    no min/max pre-pass (one scan total), and cell-wise SUM mergeability
    across shards / days / STREAMING micro-batches (grid never moves).

    Returns ``(g, bin, cnt)`` with the group column canonicalized to
    ``g`` so logs from different sources union cleanly.
    """
    lo, hi, nb = int(lo_micro), int(hi_micro), int(nbins)
    if hi <= lo:
        raise ValueError("hi_micro must exceed lo_micro")
    vm = F.round(F.col(value_col) * 1_000_000).cast("bigint")
    return (
        df.select(F.col(group_col).alias("g"), vm.alias("vm"))
        .select(
            "g",
            F.least(
                F.greatest(
                    F.expr(f"(vm - {lo}) * {nb} div ({hi} - {lo} + 1)"),
                    F.lit(0).cast("bigint"),
                ),
                F.lit(nb - 1).cast("bigint"),
            ).alias("bin"),
        )
        .groupBy("g", "bin")
        .agg(F.count("*").cast("bigint").alias("cnt"))
    )


def fixed_histogram_quantiles(
    counts: DataFrame,
    lo_micro: int,
    hi_micro: int,
    nbins: int = 256,
    quantiles_micro: list[int] | None = None,
) -> DataFrame:
    """Quantile estimates ``(g, q_micro, est_micro)`` from fixed-grid
    ``(g, bin, cnt)`` counts (:func:`fixed_histogram_counts` or a fold
    of them) — same integer target-rank / lower-edge semantics as
    :func:`histogram_quantiles`, so estimates are bit-stable across
    engines and across any batch split of the counts."""
    if quantiles_micro is None:
        quantiles_micro = [250_000, 500_000, 750_000, 900_000, 990_000]
    from pyspark.sql import Window

    lo, hi, nb = int(lo_micro), int(hi_micro), int(nbins)
    w = Window.partitionBy("g").orderBy("bin")  # <= nbins rows per group
    totals = counts.groupBy("g").agg(F.sum("cnt").cast("bigint").alias("n"))
    cum = counts.select(
        "g", "bin", "cnt", F.sum("cnt").over(w).alias("cum")
    )
    qs = counts.sparkSession.createDataFrame(
        [(int(q),) for q in quantiles_micro], "q_micro bigint"
    )
    return (
        cum.join(F.broadcast(totals), "g")
        .crossJoin(F.broadcast(qs))
        .filter(
            (F.col("cum") >= F.expr("(q_micro * n + 999999) div 1000000"))
            & (
                F.col("cum") - F.col("cnt")
                < F.expr("(q_micro * n + 999999) div 1000000")
            )
        )
        .select(
            "g",
            "q_micro",
            F.expr(f"{lo} + bin * ({hi} - {lo} + 1) div {nb}")
            .cast("bigint")
            .alias("est_micro"),
        )
    )
