"""Similarity search over embedding columns (array<float>).

* **Brute-force top-k** — the exact baseline: cosine against a literal
  query vector as a pure fold expression, ``ORDER BY sim DESC LIMIT k``
  (Catalyst turns this into TakeOrderedAndProject — no global sort).
  Per-row cost is O(d); the scan is embarrassingly parallel.  This is
  the right plan even at 100 TB when k is small — one pass, no shuffle
  beyond the top-k combine.
* **Random-hyperplane LSH** — the sub-linear scale path: P signed
  projections → P-bit bucket signature; candidates = same bucket (plus
  optional multi-probe neighbors at Hamming distance 1); exact cosine
  re-rank of candidates only.  Hyperplanes are deterministic
  (seeded from md5) so results are reproducible across runs/engines.

Determinism: all arithmetic in float64 with a left-fold (F.aggregate)
— the same element order as the SQL oracle's list_reduce, so results
match bit-for-bit, not just approximately.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def dot_expr(a: Column, b: Column) -> Column:
    """Σ aᵢbᵢ as a deterministic left fold in float64."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def norm_expr(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(
            a, F.lit(0.0), lambda acc, v: acc + v.cast("double") * v.cast("double")
        )
    )


def cosine_expr(a: Column, b: Column) -> Column:
    return dot_expr(a, b) / (norm_expr(a) * norm_expr(b))


def topk_bruteforce(
    df: DataFrame,
    query_vec: list[float],
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_sim: int | None = None,
) -> DataFrame:
    """Exact cosine top-k against a literal query vector.

    Returns (id, sim) ordered by (sim desc, id) — the id tiebreak makes
    the result total-ordered and oracle-stable.  ``round_sim`` rounds
    BEFORE ranking so ties at the k boundary break on id, matching an
    oracle that orders by the rounded value (ranking on raw sims and
    rounding after can select a different id set near the boundary).
    """
    q = F.array(*[F.lit(float(x)) for x in query_vec])
    sim = cosine_expr(F.col(vec_col), q)
    if round_sim is not None:
        sim = F.round(sim, round_sim)
    spread = df.repartition(df.sparkSession.sparkContext.defaultParallelism)
    return (
        spread.select(F.col(id_col).alias("id"), sim.alias("sim"))
        .orderBy(F.col("sim").desc(), F.col("id"))
        .limit(k)
    )


def knn_join(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    method: str = "lsh",
    bands: int = 8,
    rows_per_band: int = 4,
    seed: int = 42,
    dims: int = 64,
    id_col: str = "vec_id",
    query_id_col: str | None = None,
    vec_col: str = "embedding",
    round_sim: int = 6,
) -> DataFrame:
    """(query_id, id, sim, rank) — top-k corpus neighbors for EVERY
    query row: the batch retrieval / RAG-indexing workload (a k-NN
    JOIN, not a single-vector probe like :func:`topk_bruteforce`).

    ``method="brute"``: the query side is broadcast and similarities
    are computed map-side on corpus partitions — the only shuffle is
    the per-query top-k window on ``query_id``.  Exact; right whenever
    |queries| is broadcastable (the common case: a query/eval set
    against a huge corpus).

    ``method="lsh"``: banded sign-LSH on BOTH sides (one
    :func:`hyperplane_bits` scan each, band structs exploded),
    candidates = equi-join on (band, bucket), exact-cosine re-rank of
    candidates only — sub-linear and never all-pairs; a query with no
    co-bucketed neighbor returns fewer than k rows (the standard
    recall trade, measured by the recall test).

    Determinism: sims round to ``round_sim`` BEFORE ranking and ties
    break on id, so the k-boundary is oracle-stable across engines.
    """
    from pyspark.sql import Window

    qid = query_id_col or id_col
    qdf = queries.select(
        F.col(qid).alias("query_id"), F.col(vec_col).alias("qv")
    )
    cdf = corpus.select(F.col(id_col).alias("id"), F.col(vec_col).alias("cv"))
    sim = F.round(cosine_expr(F.col("cv"), F.col("qv")), round_sim)
    if method == "brute":
        scored = cdf.crossJoin(F.broadcast(qdf)).select(
            "query_id", "id", sim.alias("sim")
        )
    elif method == "lsh":
        n_planes = bands * rows_per_band

        def _buckets(bits: DataFrame, out: str) -> DataFrame:
            structs = [
                F.struct(
                    F.lit(b).alias("band"),
                    F.concat(
                        *[
                            F.col(f"bit_{b * rows_per_band + r}")
                            for r in range(rows_per_band)
                        ]
                    ).alias("bucket"),
                )
                for b in range(bands)
            ]
            return bits.select(
                F.col("id").alias(out), F.explode(F.array(*structs)).alias("bb")
            ).select(out, F.col("bb.band").alias("band"), F.col("bb.bucket").alias("bucket"))

        qb = _buckets(
            hyperplane_bits(qdf, dims, n_planes, seed, id_col="query_id", vec_col="qv"),
            "query_id",
        )
        cb = _buckets(
            hyperplane_bits(cdf, dims, n_planes, seed, id_col="id", vec_col="cv"),
            "id",
        )
        cand = qb.join(cb, ["band", "bucket"]).select("query_id", "id").distinct()
        scored = (
            cand.join(qdf, "query_id")
            .join(cdf, "id")
            .select("query_id", "id", sim.alias("sim"))
        )
    else:
        raise ValueError(f"unknown knn_join method: {method!r}")
    w = Window.partitionBy("query_id").orderBy(F.col("sim").desc(), F.col("id"))
    return scored.withColumn("rank", F.row_number().over(w)).filter(
        F.col("rank") <= k
    )


def _plane_sign(seed: int, plane: int, dim: int) -> float:
    """Deterministic ±1 from md5 — reproducible across engines/runs."""
    h = hashlib.md5(f"{seed}|{plane}|{dim}".encode()).hexdigest()
    return 1.0 if int(h[0], 16) % 2 == 0 else -1.0


QUANT = 1 << 20  # fixed-point scale for integer hyperplane projections


def hyperplane_bits(
    df: DataFrame,
    dims: int,
    n_planes: int,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    impl: str = "arrow",
) -> DataFrame:
    """(id, bit_0..bit_{P-1}) sign bits of ``n_planes`` hyperplane
    projections from ONE scan.

    ``impl="arrow"`` (default): an Arrow-batched ``mapInPandas`` kernel
    — ``floor(x·2²⁰)`` to int64, then one numpy int64 matmul against
    the ±1 plane matrix per batch.  ZERO shuffle (a pure map; the
    relational form pays an explode + exchange + P-wide hash
    aggregate) and ~5× faster measured at sf0.1; a dims×planes
    projection is a matmul, which no Catalyst expression tree
    expresses efficiently.  Exact int64 arithmetic → bit-identical to
    the relational form (equality pinned in tests) and to the SQL
    oracles.

    ``impl="relational"``: the pure-DataFrame formulation (kept as the
    executable mirror of the DuckDB oracle SQL and for engines without
    Arrow): explode + broadcast sign join + one hash aggregate.

    The projection uses FIXED-POINT arithmetic: each component is
    ``floor(x * 2^20)`` (the scale is a power of two, so the multiply is
    exact), and the per-plane sum is over 64-bit integers — order-free,
    so the hash aggregate's arbitrary combine order cannot perturb the
    result, and bit-identical in any engine (the float-fold alternative
    is only deterministic as an interpreted left fold).  One shuffle
    carrying (id, P partial sums) with map-side combine; all P planes
    (across every LSH table) come out of a single scan.
    """
    if impl == "arrow":
        import numpy as np
        import pandas as pd

        signs_mat = np.array(
            [
                [int(_plane_sign(seed, p, d)) for p in range(n_planes)]
                for d in range(dims)
            ],
            dtype=np.int64,
        )
        quant = float(QUANT)

        def project(batches):
            for pdf in batches:
                if len(pdf) == 0:
                    continue
                x = np.stack(pdf[vec_col].to_numpy())[:, :dims]
                q = np.floor(x.astype(np.float64) * quant).astype(np.int64)
                proj = q @ signs_mat  # exact int64
                ge0 = proj >= 0
                out = {"id": pdf[id_col]}
                for p in range(n_planes):
                    out[f"bit_{p}"] = np.where(ge0[:, p], "1", "0")
                yield pd.DataFrame(out)

        id_type = df.schema[id_col].dataType.simpleString()
        schema = f"id {id_type}, " + ", ".join(
            f"bit_{p} string" for p in range(n_planes)
        )
        return (
            df.select(id_col, vec_col)
            .repartition(df.sparkSession.sparkContext.defaultParallelism)
            .mapInPandas(project, schema=schema)
        )
    if impl != "relational":
        raise ValueError(f"unknown impl {impl!r}")
    # the ±1 plane matrix rides as a broadcast 64-row dimension table —
    # joining it beats inlining dims×planes literals into the plan
    # (thousands of literal-array element_at nodes ≈ seconds of plan
    # compile per query, measured 2× the whole job)
    spark = df.sparkSession
    signs_rows = [
        tuple([d] + [int(_plane_sign(seed, p, d)) for p in range(n_planes)])
        for d in range(dims)
    ]
    signs_schema = "d int, " + ", ".join(f"s{p} long" for p in range(n_planes))
    signs = spark.createDataFrame(signs_rows, signs_schema)

    exploded = df.repartition(spark.sparkContext.defaultParallelism).select(
        F.col(id_col).alias("id"),
        F.posexplode(F.col(vec_col)).alias("d", "x"),
    )
    q = F.floor(F.col("x").cast("double") * F.lit(float(QUANT))).cast("long")
    joined = exploded.select("id", "d", q.alias("q")).join(F.broadcast(signs), "d")
    sums = [
        F.sum(F.col("q") * F.col(f"s{p}")).alias(f"proj_{p}")
        for p in range(n_planes)
    ]
    agg = joined.groupBy("id").agg(*sums)
    bit_cols = [
        F.when(F.col(f"proj_{p}") >= 0, F.lit("1"))
        .otherwise(F.lit("0"))
        .alias(f"bit_{p}")
        for p in range(n_planes)
    ]
    return agg.select("id", *bit_cols)


def _query_bits(query_vec: list[float], dims: int, n_planes: int, seed: int) -> str:
    """Driver-side replica of :func:`hyperplane_bits` for a literal
    query vector (same fixed-point arithmetic)."""
    import math

    bits = []
    for p in range(n_planes):
        proj = sum(
            math.floor(float(query_vec[d]) * QUANT) * int(_plane_sign(seed, p, d))
            for d in range(dims)
        )
        bits.append("1" if proj >= 0 else "0")
    return "".join(bits)


def _table_probes(
    query_vec: list[float],
    dims: int,
    planes: int,
    tables: int,
    seed: int,
    multiprobe: bool,
) -> list[list[str]]:
    """Per-table probe signature sets for a query vector (exact bucket
    ± Hamming-1 neighbors when ``multiprobe``) — table t owns global
    planes [t·planes, (t+1)·planes)."""
    all_bits = _query_bits(query_vec, dims, tables * planes, seed)
    out = []
    for t in range(tables):
        sig = all_bits[t * planes:(t + 1) * planes]
        probes = {sig}
        if multiprobe:
            for p in range(planes):
                probes.add(sig[:p] + ("0" if sig[p] == "1" else "1") + sig[p + 1:])
        out.append(sorted(probes))
    return out


def topk_lsh(
    df: DataFrame,
    query_vec: list[float],
    k: int = 10,
    dims: int = 64,
    planes: int = 6,
    tables: int = 4,
    seed: int = 42,
    multiprobe: bool = True,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_sim: int | None = None,
) -> DataFrame:
    """Approximate top-k via multi-table random-hyperplane LSH.

    OR-construction: ``tables`` independent plane sets; candidates =
    union over tables of the query's bucket (± Hamming-1 neighbors when
    ``multiprobe``); exact cosine re-rank of candidates only.  More
    tables → higher recall, linearly more bucket probes — the standard
    knob.  ALL tables' signatures come from ONE scan
    (:func:`hyperplane_bits` computes every plane in a single explode +
    hash-agg pass); the probe is one disjunctive filter, so the plan
    has exactly one pass over the data plus the candidate re-rank.

    For repeated queries, write the index once with
    :func:`lsh_index_write` and probe with :func:`topk_lsh_indexed` —
    partition pruning then reads only the probed buckets.

    Recall < 1.0 by construction; tests measure it against
    :func:`topk_bruteforce`.
    """
    bits = hyperplane_bits(
        df, dims=dims, n_planes=tables * planes, seed=seed,
        id_col=id_col, vec_col=vec_col,
    )
    probes = _table_probes(query_vec, dims, planes, tables, seed, multiprobe)
    cond = None
    for t in range(tables):
        sig_t = F.concat(*[F.col(f"bit_{t * planes + r}") for r in range(planes)])
        c = sig_t.isin(*probes[t])
        cond = c if cond is None else (cond | c)
    cand_ids = bits.filter(cond).select("id")
    candidates = df.join(
        cand_ids, df[id_col] == cand_ids["id"], "left_semi"
    ).select(F.col(id_col).alias("id"), F.col(vec_col).alias("__v"))

    q = F.array(*[F.lit(float(x)) for x in query_vec])
    sim = cosine_expr(F.col("__v"), q)
    if round_sim is not None:
        sim = F.round(sim, round_sim)  # rank on rounded → id-tiebreak parity
    return (
        candidates.select("id", sim.alias("sim"))
        .orderBy(F.col("sim").desc(), F.col("id"))
        .limit(k)
    )


def lsh_index_write(
    df: DataFrame,
    path: str,
    dims: int = 64,
    planes: int = 6,
    tables: int = 4,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Materialize the LSH index: ``tables`` copies of (id, vec), each
    partitioned by (lsh_table, bucket).

    This is the at-scale layout the probe path needs: a query touches
    ``tables × (1 + planes)`` bucket DIRECTORIES out of
    ``tables × 2^planes`` — partition pruning turns the probe into a
    sub-linear read instead of a full scan.  The ×tables storage is the
    standard OR-construction trade.  One scan computes every table's
    signature; one shuffle-free write fans rows out to partitions.
    """
    bits = hyperplane_bits(
        df, dims=dims, n_planes=tables * planes, seed=seed,
        id_col=id_col, vec_col=vec_col,
    )
    sig_structs = [
        F.struct(
            F.lit(t).alias("lsh_table"),
            F.concat(
                *[F.col(f"bit_{t * planes + r}") for r in range(planes)]
            ).alias("bucket"),
        )
        for t in range(tables)
    ]
    stacked = bits.select(
        "id", F.explode(F.array(*sig_structs)).alias("tb")
    ).select("id", F.col("tb.lsh_table").alias("lsh_table"), F.col("tb.bucket").alias("bucket"))
    rows = df.select(F.col(id_col).alias("id"), F.col(vec_col).alias("v"))
    (
        stacked.join(rows, "id")
        .write.mode("overwrite")
        .partitionBy("lsh_table", "bucket")
        .parquet(path)
    )


def topk_lsh_indexed(
    spark,
    path: str,
    query_vec: list[float],
    k: int = 10,
    dims: int = 64,
    planes: int = 6,
    tables: int = 4,
    seed: int = 42,
    multiprobe: bool = True,
) -> DataFrame:
    """Probe a :func:`lsh_index_write` layout: the (lsh_table, bucket)
    predicate is a pure partition filter, so only probed bucket
    directories are read — the plan must show PartitionFilters and no
    full scan (asserted in test_plan_audit)."""
    idx = spark.read.parquet(path)
    probes = _table_probes(query_vec, dims, planes, tables, seed, multiprobe)
    cond = None
    for t in range(tables):
        c = (F.col("lsh_table") == t) & F.col("bucket").isin(*probes[t])
        cond = c if cond is None else (cond | c)
    candidates = idx.filter(cond).dropDuplicates(["id"])
    q = F.array(*[F.lit(float(x)) for x in query_vec])
    sim = cosine_expr(F.col("v"), q)
    return (
        candidates.select("id", sim.alias("sim"))
        .orderBy(F.col("sim").desc(), F.col("id"))
        .limit(k)
    )


def ivf_index(
    df: DataFrame,
    n_centroids: int = 16,
    dims: int = 64,
    iters: int = 5,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
):
    """IVF (inverted-file) ANN index: deterministic Lloyd's k-means.

    Centroids initialize from the ``n_centroids`` rows with the
    smallest md5(id) (reproducible, data-independent of ordering); a
    few Lloyd iterations run as DataFrame joins with the centroid set
    broadcast as literals (centroids are tiny — driver-side is the
    right home for them).  Returns (assignments DF with ``centroid_id``
    column, centroid list).
    """
    spark = df.sparkSession
    rows = (
        df.select(F.col(id_col).alias("id"), F.col(vec_col).alias("v"))
        .withColumn("__h", F.md5(F.col("id").cast("string")))
        .orderBy("__h")
        .limit(n_centroids)
        .collect()
    )
    centroids = [[float(x) for x in r["v"]] for r in rows]

    # one exploded copy feeds every iteration: the centroid matrix rides
    # as a broadcast dims-row table (joining beats inlining k*dims
    # literals into the plan; the plan-construction cost of the literal
    # form dominated the whole job), and the centroid UPDATE reuses the
    # same exploded rows grouped by (centroid, dim) -- k*dims tiny rows
    # to the driver, never the data
    exploded = (
        df.repartition(spark.sparkContext.defaultParallelism)
        .select(F.col(id_col).alias("id"), F.posexplode(F.col(vec_col)).alias("d", "x"))
        .withColumn("x", F.col("x").cast("double"))
        .persist()
    )

    def assignment(cents) -> DataFrame:
        k = len(cents)
        cent_rows = [
            tuple([d] + [cents[ci][d] for ci in range(k)]) for d in range(dims)
        ]
        schema = "d int, " + ", ".join(f"c{ci} double" for ci in range(k))
        cent_df = spark.createDataFrame(cent_rows, schema)
        joined = exploded.join(F.broadcast(cent_df), "d")
        dist_aggs = [
            F.sum((F.col("x") - F.col(f"c{ci}")) ** 2).alias(f"dist{ci}")
            for ci in range(k)
        ]
        dists = joined.groupBy("id").agg(*dist_aggs)
        best_id = F.lit(0)
        best_d = F.col("dist0")
        for ci in range(1, k):
            d = F.col(f"dist{ci}")
            best_id = F.when(d < best_d, F.lit(ci)).otherwise(best_id)
            best_d = F.when(d < best_d, d).otherwise(best_d)
        return dists.select(F.col("id").alias("__aid"), best_id.alias("centroid_id"))

    for _ in range(iters):
        asg = assignment(centroids)
        stats = (
            exploded.join(asg, exploded["id"] == asg["__aid"])
            .groupBy("centroid_id", "d")
            .agg(F.sum("x").alias("s"), F.count("*").alias("n"))
            .collect()
        )
        new_cents = [list(c) for c in centroids]
        for r in stats:
            new_cents[r["centroid_id"]][r["d"]] = r["s"] / r["n"]
        centroids = new_cents

    final = assignment(centroids)
    assigned = df.join(final, df[id_col] == final["__aid"]).drop("__aid")
    return assigned, centroids


def ivf_index_write(
    df: DataFrame,
    path: str,
    n_centroids: int = 16,
    dims: int = 64,
    iters: int = 5,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> list[list[float]]:
    """Materialize the IVF index: assignments partitioned by
    ``centroid_id`` (probe = partition-pruned read of n_probe inverted
    lists) plus the tiny centroid table alongside."""
    assigned, centroids = ivf_index(
        df, n_centroids=n_centroids, dims=dims, iters=iters, seed=seed,
        id_col=id_col, vec_col=vec_col,
    )
    (
        assigned.select(
            F.col(id_col).alias("id"), F.col(vec_col).alias("v"), "centroid_id"
        )
        .write.mode("overwrite")
        .partitionBy("centroid_id")
        .parquet(f"{path}/vectors")
    )
    spark = df.sparkSession
    spark.createDataFrame(
        [(ci, c) for ci, c in enumerate(centroids)], "centroid_id int, centroid array<double>"
    ).coalesce(1).write.mode("overwrite").parquet(f"{path}/centroids")
    return centroids


def topk_ivf_indexed(
    spark,
    path: str,
    query_vec: list[float],
    k: int = 10,
    n_probe: int = 4,
    dims: int = 64,
) -> DataFrame:
    """Probe an :func:`ivf_index_write` layout: rank centroids from the
    tiny centroid table (driver-side — it is k rows), then read ONLY the
    ``n_probe`` closest centroids' partitions (partition pruning) and
    re-rank exactly."""
    cents = {
        r["centroid_id"]: list(r["centroid"])
        for r in spark.read.parquet(f"{path}/centroids").collect()
    }

    def dist2(c):
        return sum((query_vec[i] - c[i]) ** 2 for i in range(dims))

    probe = sorted(cents, key=lambda ci: dist2(cents[ci]))[:n_probe]
    candidates = spark.read.parquet(f"{path}/vectors").filter(
        F.col("centroid_id").isin(probe)
    )
    q = F.array(*[F.lit(float(x)) for x in query_vec])
    sim = cosine_expr(F.col("v"), q)
    return (
        candidates.select("id", sim.alias("sim"))
        .orderBy(F.col("sim").desc(), F.col("id"))
        .limit(k)
    )


def pq_train(
    df: DataFrame,
    m_subs: int = 8,
    k_codes: int = 16,
    dims: int = 64,
    iters: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> list[list[list[int]]]:
    """Train product-quantization codebooks: split each vector into
    ``m_subs`` subvectors and run Lloyd's k-means with ``k_codes``
    codewords independently per subspace.

    ALL subspaces train jointly from ONE exploded pass: rows are
    (id, sub, d, xq) with xq a fixed-point long (``floor(x * 2^20)``),
    the codeword matrix rides as a broadcast ``dims``-row table, and the
    per-(id, sub) distance aggregation is pure integer arithmetic —
    order-free under the hash aggregate's arbitrary combine order, so
    training is bit-deterministic across runs and cluster layouts.
    Each iteration moves one shuffle of (id, sub, K sums) with map-side
    combine; the centroid update collects ≤ ``k_codes × dims`` tiny
    rows to the driver — never the data.

    Returns ``cb[m][k][rd]`` fixed-point longs (divide by ``QUANT`` for
    the float codeword).
    """
    import math

    sub_dims = dims // m_subs
    spark = df.sparkSession
    # deterministic init: the k_codes rows with smallest md5(id) seed
    # every subspace's codebook (data-order independent)
    rows = (
        df.select(F.col(id_col).alias("id"), F.col(vec_col).alias("v"))
        .withColumn("__h", F.md5(F.col("id").cast("string")))
        .orderBy("__h")
        .limit(k_codes)
        .collect()
    )
    cb = [
        [
            [
                math.floor(float(rows[k]["v"][m * sub_dims + rd]) * QUANT)
                for rd in range(sub_dims)
            ]
            for k in range(len(rows))
        ]
        for m in range(m_subs)
    ]

    exploded = (
        df.repartition(spark.sparkContext.defaultParallelism)
        .select(F.col(id_col).alias("id"), F.posexplode(F.col(vec_col)).alias("d", "x"))
        .select(
            "id",
            "d",
            F.floor(F.col("d") / sub_dims).cast("int").alias("sub"),
            F.floor(F.col("x").cast("double") * F.lit(float(QUANT)))
            .cast("long")
            .alias("xq"),
        )
        .persist()
    )
    try:
        for _ in range(iters):
            asg = _pq_assignment(exploded, cb, sub_dims)
            stats = (
                exploded.join(asg, ["id", "sub"])
                .groupBy("code", "d")
                .agg(F.sum("xq").alias("s"), F.count(F.lit(1)).alias("n"))
                .collect()
            )
            new_cb = [[list(c) for c in sub] for sub in cb]
            for r in stats:
                m, rd = r["d"] // sub_dims, r["d"] % sub_dims
                new_cb[m][r["code"]][rd] = r["s"] // r["n"]  # floor div: exact
            cb = new_cb
    finally:
        exploded.unpersist()
    return cb


def _pq_assignment(exploded: DataFrame, cb, sub_dims: int) -> DataFrame:
    """(id, sub, code): nearest codeword per subspace, integer L2.

    The codebook melts to (d, k, c) rows and broadcast-joins the
    exploded vectors, then two narrow hash aggregates do the argmin:
    sum the squared diffs per (id, sub, k), then ``min_by`` on the
    (dist, k) struct per (id, sub).  A 16-wide conditional-sum
    aggregate here blows the 64 KB Janino method limit and drops the
    whole stage to interpreted mode (measured ~10× slower) — the melt
    form stays inside whole-stage codegen.  Explicit multiply, not
    ``**`` (double POWER in Spark), keeps everything in long
    arithmetic; the (dist, k) struct tie-break makes the argmin
    deterministic under any combine order.
    """
    spark = exploded.sparkSession
    k_codes = len(cb[0])
    dims = len(cb) * sub_dims
    cent_rows = [
        (d, k, cb[d // sub_dims][k][d % sub_dims])
        for d in range(dims)
        for k in range(k_codes)
    ]
    cent_df = spark.createDataFrame(cent_rows, "d int, k int, c long")
    joined = exploded.join(F.broadcast(cent_df), "d")
    diff = F.col("xq") - F.col("c")
    dists = joined.groupBy("id", "sub", "k").agg(F.sum(diff * diff).alias("dist"))
    return dists.groupBy("id", "sub").agg(
        F.min_by("k", F.struct("dist", "k")).alias("code")
    )


def pq_encode(
    df: DataFrame,
    cb: list[list[list[int]]],
    dims: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(id, codes array<int> of length M): each vector compressed to one
    codeword index per subspace — 64 float32 (256 B) → 8 small ints.
    At 100 TB this is the point of PQ: the ADC scan touches the codes
    table only (~32× less I/O and memory than raw vectors)."""
    m_subs = len(cb)
    sub_dims = dims // m_subs
    spark = df.sparkSession
    exploded = (
        df.repartition(spark.sparkContext.defaultParallelism)
        .select(F.col(id_col).alias("id"), F.posexplode(F.col(vec_col)).alias("d", "x"))
        .select(
            "id",
            "d",
            F.floor(F.col("d") / sub_dims).cast("int").alias("sub"),
            F.floor(F.col("x").cast("double") * F.lit(float(QUANT)))
            .cast("long")
            .alias("xq"),
        )
    )
    asg = _pq_assignment(exploded, cb, sub_dims)
    pivots = [
        F.max(F.when(F.col("sub") == m, F.col("code"))).alias(f"k{m}")
        for m in range(m_subs)
    ]
    return (
        asg.groupBy("id")
        .agg(*pivots)
        .select("id", F.array(*[F.col(f"k{m}") for m in range(m_subs)]).alias("codes"))
    )


def _pq_luts(query_vec: list[float], cb) -> tuple[list[list[int]], list[list[int]], int]:
    """Driver-side ADC lookup tables in the SAME fixed-point domain as
    the codebooks: dot[m][k] = <q_m, c_m[k]>, n2[m][k] = ||c_m[k]||²,
    plus ||q||² — all exact integers."""
    import math

    m_subs = len(cb)
    sub_dims = len(cb[0][0])
    qq = [math.floor(float(x) * QUANT) for x in query_vec]
    dot = [
        [
            sum(qq[m * sub_dims + rd] * cb[m][k][rd] for rd in range(sub_dims))
            for k in range(len(cb[m]))
        ]
        for m in range(m_subs)
    ]
    n2 = [
        [
            sum(cb[m][k][rd] * cb[m][k][rd] for rd in range(sub_dims))
            for k in range(len(cb[m]))
        ]
        for m in range(m_subs)
    ]
    q_n2 = sum(x * x for x in qq)
    return dot, n2, q_n2


def _pq_score(codes_col: Column, dot, n2, q_n2: int) -> Column:
    """Approximate cosine from codes only (asymmetric distance
    computation): Σ_m LUT_dot[m][code_m] / (‖q‖·‖recon‖).  Subspaces are
    orthogonal so ‖recon‖² = Σ_m ‖c_m[code_m]‖² exactly.  Pure map-side
    expression — M element_at lookups per row, no vector math."""
    m_subs = len(dot)
    dot_sum = None
    n2_sum = None
    for m in range(m_subs):
        code_m = F.element_at(codes_col, m + 1) + 1  # element_at is 1-based
        d = F.element_at(F.array(*[F.lit(v) for v in dot[m]]), code_m)
        n = F.element_at(F.array(*[F.lit(v) for v in n2[m]]), code_m)
        dot_sum = d if dot_sum is None else dot_sum + d
        n2_sum = n if n2_sum is None else n2_sum + n
    return F.when(
        n2_sum > 0,
        dot_sum.cast("double")
        / (F.sqrt(F.lit(float(q_n2))) * F.sqrt(n2_sum.cast("double"))),
    ).otherwise(F.lit(-1.0))


def topk_pq(
    df: DataFrame,
    query_vec: list[float],
    k: int = 10,
    m_subs: int = 8,
    k_codes: int = 16,
    dims: int = 64,
    iters: int = 5,
    refine: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Approximate top-k via product quantization + exact re-rank.

    The ADC scan ranks CODES (M small ints per row) with per-subspace
    lookup tables — at scale the candidate generation reads the compact
    codes table instead of raw vectors (≈32× less I/O); then the top
    ``k × refine`` candidates are re-ranked with exact cosine against
    the full vectors (a semi-joined pruned read).  Both stages are
    TakeOrderedAndProject — no global sort.  Deterministic end-to-end:
    integer codebooks, integer LUTs, id tiebreaks.
    """
    cb = pq_train(
        df, m_subs=m_subs, k_codes=k_codes, dims=dims, iters=iters,
        id_col=id_col, vec_col=vec_col,
    )
    codes = pq_encode(df, cb, dims=dims, id_col=id_col, vec_col=vec_col)
    dot, n2, q_n2 = _pq_luts(query_vec, cb)
    cand = (
        codes.select("id", _pq_score(F.col("codes"), dot, n2, q_n2).alias("score"))
        .orderBy(F.col("score").desc(), F.col("id"))
        .limit(k * refine)
        .select("id")
    )
    vecs = df.join(cand, df[id_col] == cand["id"], "left_semi").select(
        F.col(id_col).alias("id"), F.col(vec_col).alias("__v")
    )
    q = F.array(*[F.lit(float(x)) for x in query_vec])
    sim = cosine_expr(F.col("__v"), q)
    return (
        vecs.select("id", sim.alias("sim"))
        .orderBy(F.col("sim").desc(), F.col("id"))
        .limit(k)
    )


def pq_index_write(
    df: DataFrame,
    path: str,
    m_subs: int = 8,
    k_codes: int = 16,
    dims: int = 64,
    iters: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> list[list[list[int]]]:
    """Materialize the PQ index: the compact codes table (+ raw vectors
    for the re-rank read) and the codebooks alongside.  The codes file
    is what the ADC scan reads — a 100 TB corpus compresses to ~3 TB of
    codes, the piece that actually has to be fast."""
    cb = pq_train(
        df, m_subs=m_subs, k_codes=k_codes, dims=dims, iters=iters,
        id_col=id_col, vec_col=vec_col,
    )
    codes = pq_encode(df, cb, dims=dims, id_col=id_col, vec_col=vec_col)
    codes.write.mode("overwrite").parquet(f"{path}/codes")
    (
        df.select(F.col(id_col).alias("id"), F.col(vec_col).alias("v"))
        .write.mode("overwrite")
        .parquet(f"{path}/vectors")
    )
    spark = df.sparkSession
    cb_rows = [
        (m, k, cb[m][k]) for m in range(len(cb)) for k in range(len(cb[m]))
    ]
    spark.createDataFrame(
        cb_rows, "m int, k int, codeword array<long>"
    ).coalesce(1).write.mode("overwrite").parquet(f"{path}/codebooks")
    return cb


def topk_pq_indexed(
    spark,
    path: str,
    query_vec: list[float],
    k: int = 10,
    refine: int = 4,
) -> DataFrame:
    """Probe a :func:`pq_index_write` layout: ADC over the codes file,
    exact re-rank of the survivors against the vectors file."""
    cb_rows = spark.read.parquet(f"{path}/codebooks").collect()
    m_subs = 1 + max(r["m"] for r in cb_rows)
    k_codes = 1 + max(r["k"] for r in cb_rows)
    cb = [[None] * k_codes for _ in range(m_subs)]
    for r in cb_rows:
        cb[r["m"]][r["k"]] = [int(x) for x in r["codeword"]]
    dot, n2, q_n2 = _pq_luts(query_vec, cb)
    codes = spark.read.parquet(f"{path}/codes")
    cand = (
        codes.select("id", _pq_score(F.col("codes"), dot, n2, q_n2).alias("score"))
        .orderBy(F.col("score").desc(), F.col("id"))
        .limit(k * refine)
        .select("id")
    )
    vecs = spark.read.parquet(f"{path}/vectors")
    vecs = vecs.join(cand, "id", "left_semi")
    q = F.array(*[F.lit(float(x)) for x in query_vec])
    sim = cosine_expr(F.col("v"), q)
    return (
        vecs.select("id", sim.alias("sim"))
        .orderBy(F.col("sim").desc(), F.col("id"))
        .limit(k)
    )


def topk_ivf(
    df: DataFrame,
    query_vec: list[float],
    k: int = 10,
    n_centroids: int = 16,
    n_probe: int = 4,
    dims: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
):
    """Approximate top-k via IVF: score only the ``n_probe`` closest
    centroids' inverted lists.  At scale the assignment DF is written
    partitioned by ``centroid_id`` so a query scans n_probe/n_centroids
    of the data."""
    assigned, centroids = ivf_index(
        df, n_centroids=n_centroids, dims=dims, id_col=id_col, vec_col=vec_col
    )

    def dist2(c):
        return sum((query_vec[i] - c[i]) ** 2 for i in range(dims))

    probe = sorted(range(len(centroids)), key=lambda ci: dist2(centroids[ci]))[:n_probe]
    candidates = assigned.filter(F.col("centroid_id").isin(probe))
    q = F.array(*[F.lit(float(x)) for x in query_vec])
    sim = cosine_expr(F.col(vec_col), q)
    return (
        candidates.select(F.col(id_col).alias("id"), sim.alias("sim"))
        .orderBy(F.col("sim").desc(), F.col("id"))
        .limit(k)
    )


def neighbor_jaccard(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    top_k: int | None = None,
    max_neighbor_degree: int | None = None,
) -> DataFrame:
    """Node-similarity: Jaccard over neighbor sets of a bipartite
    adjacency (node → neighbor), e.g. suppliers over the parts they
    ship, customers over the parts they buy — the collaborative-
    filtering / entity-resolution primitive (Neo4j GDS
    ``nodeSimilarity`` surface; the reference's implied analyst layer,
    /root/reference/main.py:19).

    Returns (node_a, node_b, inter, union_size, jaccard) for
    node_a < node_b with at least one shared neighbor.

    Scale shape: one distinct-project of the adjacency, a degree
    hash-agg, and an intersection self-join keyed on the *neighbor*
    column — candidate pairs are generated only through shared
    neighbors (never node × node).  The quadratic risk is a hot
    neighbor shared by many nodes (same failure mode as a hot shingle
    in n-gram dedup); ``max_neighbor_degree`` drops such hub neighbors
    via a broadcast anti-join, exactly like ``dedup.max_doc_freq``.
    ``jaccard`` is one float64 division of exact integer counts —
    bit-identical cross-engine.  ``top_k`` uses a totally-ordered
    ``orderBy().limit`` (TakeOrderedAndProject — no single-partition
    window)."""
    e = (
        edges.select(F.col(src).alias("node"), F.col(dst).alias("nbr"))
        .where(F.col("node").isNotNull() & F.col("nbr").isNotNull())
        .distinct()
    )
    if max_neighbor_degree is not None:
        hot = (
            e.groupBy("nbr")
            .agg(F.count("*").alias("nd"))
            .filter(F.col("nd") > max_neighbor_degree)
            .select("nbr")
        )
        e = e.join(F.broadcast(hot), "nbr", "left_anti")
    deg = e.groupBy("node").agg(F.count("*").cast("bigint").alias("deg"))
    inter = (
        e.alias("a")
        .join(
            e.alias("b"),
            (F.col("a.nbr") == F.col("b.nbr"))
            & (F.col("a.node") < F.col("b.node")),
        )
        .groupBy(
            F.col("a.node").alias("node_a"), F.col("b.node").alias("node_b")
        )
        .agg(F.count("*").cast("bigint").alias("inter"))
    )
    out = (
        inter.join(deg.withColumnRenamed("node", "node_a"), "node_a")
        .withColumnRenamed("deg", "deg_a")
        .join(
            deg.withColumnRenamed("node", "node_b").withColumnRenamed(
                "deg", "deg_b"
            ),
            "node_b",
        )
        .select(
            "node_a",
            "node_b",
            "inter",
            (F.col("deg_a") + F.col("deg_b") - F.col("inter")).alias(
                "union_size"
            ),
            (
                F.col("inter").cast("double")
                / (F.col("deg_a") + F.col("deg_b") - F.col("inter"))
            ).alias("jaccard"),
        )
    )
    if top_k is not None:
        out = out.orderBy(
            F.col("jaccard").desc(), F.col("node_a"), F.col("node_b")
        ).limit(top_k)
    return out


def hard_negative_mining(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
) -> DataFrame:
    """Per query vector, the ``k`` most-similar corpus vectors with a
    DIFFERENT label — contrastive-training hard negatives (the mining
    stage of triplet/InfoNCE pipelines): ``(query_id, neg_id, sim,
    rank)``.

    Same 100 TB shape as `knn_join`'s brute path: the query side
    broadcasts (queries are few), cosine is a map-side float64 fold
    over the corpus scan, and per-query top-k is one window shuffle on
    query_id.  The label-inequality predicate rides the broadcast join
    condition, so same-label pairs never reach scoring.  For corpus-
    scale query sets, swap the broadcast for the banded-LSH candidate
    join (`knn_join(method="lsh")`) and apply the label filter to the
    candidates."""
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(label_col).alias("q_label"),
        F.col(vec_col).alias("qv"),
    )
    c = corpus.select(
        F.col(id_col).alias("neg_id"),
        F.col(label_col).alias("c_label"),
        F.col(vec_col).alias("cv"),
    )
    sim = F.round(cosine_expr(F.col("cv"), F.col("qv")), 6)
    from pyspark.sql import Window

    w = Window.partitionBy("query_id").orderBy(
        F.col("sim").desc(), F.col("neg_id")
    )
    return (
        c.join(
            F.broadcast(q), F.col("c_label") != F.col("q_label"), "inner"
        )
        .select("query_id", "neg_id", sim.alias("sim"))
        .withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= k)
    )


def filtered_topk(
    df: DataFrame,
    allowed_ids: DataFrame,
    query_vec: list[float],
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_sim: int | None = None,
) -> DataFrame:
    """HYBRID (filtered) vector search: exact cosine top-k restricted
    to an allowed-id set — the metadata-filter + ANN workload every
    retrieval stack runs ("top-k among English docs with quality ≥ x").

    PRE-filter strategy: the predicate semi-joins the corpus BEFORE any
    scoring, so the scan scores only surviving rows — the right plan
    whenever the filter is selective (post-filtering a top-k can return
    < k rows and wastes score work).  At 100 TB the semi-join
    co-partitions on the id; a small filter side broadcasts.  Exact
    and total-ordered like :func:`topk_bruteforce` (round-before-rank,
    id tiebreak).
    """
    ids = allowed_ids.select(
        F.col(allowed_ids.columns[0]).alias(id_col)
    ).distinct()
    q = F.array(*[F.lit(float(x)) for x in query_vec])
    sim = cosine_expr(F.col(vec_col), q)
    if round_sim is not None:
        sim = F.round(sim, round_sim)
    return (
        df.join(ids, id_col, "left_semi")
        .select(F.col(id_col).alias("id"), sim.alias("sim"))
        .orderBy(F.col("sim").desc(), F.col("id"))
        .limit(k)
    )


def filtered_topk_lsh(
    df: DataFrame,
    allowed_ids: DataFrame,
    query_vec: list[float],
    k: int = 10,
    dims: int = 64,
    planes: int = 6,
    tables: int = 4,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_sim: int | None = None,
) -> DataFrame:
    """Sub-linear hybrid search: LSH candidates ∩ allowed ids, then
    exact re-rank — the scale path of :func:`filtered_topk`.

    Filter-THEN-probe: the allowed-id semi-join lands on the corpus
    BEFORE signatures are computed, so a selective filter shrinks the
    signature scan itself (with a materialized index the same semi-join
    applies to the probed bucket partitions).  May return < k rows when
    the filtered bucket population runs dry — the standard LSH recall
    trade, measured by the recall test; raise ``tables`` or fall back
    to :func:`filtered_topk` for guaranteed k.
    """
    ids = allowed_ids.select(
        F.col(allowed_ids.columns[0]).alias(id_col)
    ).distinct()
    return topk_lsh(
        df.join(ids, id_col, "left_semi"),
        query_vec,
        k=k,
        dims=dims,
        planes=planes,
        tables=tables,
        seed=seed,
        id_col=id_col,
        vec_col=vec_col,
        round_sim=round_sim,
    )


def mmr_rerank(
    candidates: DataFrame,
    k: int = 10,
    lam: float = 0.5,
    query_col: str = "query_id",
    id_col: str = "id",
    vec_col: str = "embedding",
    rel_col: str = "sim",
) -> DataFrame:
    """Maximal Marginal Relevance re-rank (Carbonell & Goldstein,
    SIGIR 1998): per query, greedily pick k candidates maximizing
    ``lam·relevance − (1−lam)·max_cosine_to_already_picked`` — the
    standard diversification pass after any ANN stage (brute/LSH/IVF/PQ
    all emit the (query_id, id, sim, embedding) shape this consumes).

    Deterministic: ties break on smaller id at every step, vectors are
    L2-normalized once up front, and the greedy loop is plain float64
    numpy — the Python oracle in tests reproduces it exactly.

    100 TB shape: ONE ``applyInPandas`` over query_id groups — the
    candidate set per query is ANN output (N ≈ 100-1000 rows), so each
    group is a small dense matrix; work is embarrassingly parallel
    across queries and nothing but (k × queries) rows come back.  The
    O(k·N) pairwise step runs vectorized inside the Arrow batch, never
    as a Spark cross join.
    """
    import pandas as pd
    from pyspark.sql.types import (
        DoubleType,
        IntegerType,
        StructField,
        StructType,
    )

    # id/query field types come from the input schema, not a hardcoded
    # long — string or int ids must survive the Arrow round-trip.
    out_schema = StructType(
        [
            StructField(query_col, candidates.schema[query_col].dataType),
            StructField(id_col, candidates.schema[id_col].dataType),
            StructField(rel_col, DoubleType()),
            StructField("mmr_rank", IntegerType()),
            StructField("mmr_score", DoubleType()),
        ]
    )

    def pick(pdf: pd.DataFrame) -> pd.DataFrame:
        import numpy as np

        pdf = pdf.sort_values([rel_col, id_col], ascending=[False, True])
        V = np.stack(pdf[vec_col].to_numpy())
        n = np.linalg.norm(V, axis=1)
        n[n == 0.0] = 1.0
        V = V / n[:, None]
        rel = pdf[rel_col].to_numpy(dtype="float64")
        ids = pdf[id_col].to_numpy()
        qid = pdf[query_col].iloc[0]
        n_rows = len(pdf)
        kk = min(k, n_rows)
        picked: list[int] = []
        scores: list[float] = []
        max_sim = np.full(n_rows, -np.inf)
        for _ in range(kk):
            if picked:
                mmr = lam * rel - (1.0 - lam) * max_sim
            else:
                mmr = lam * rel
            mmr[picked] = -np.inf
            # argmax with smallest-id tiebreak: scan best score, then
            # min id among exact-equal scores
            best = mmr.max()
            cand = np.flatnonzero(mmr == best)
            j = cand[np.argmin(ids[cand])]
            picked.append(int(j))
            scores.append(float(best))
            sims = V @ V[j]
            max_sim = np.maximum(max_sim, sims)
        return pd.DataFrame(
            {
                query_col: [qid] * kk,
                id_col: ids[picked],
                rel_col: rel[picked],
                "mmr_rank": range(1, kk + 1),
                "mmr_score": scores,
            }
        )

    return candidates.groupBy(query_col).applyInPandas(pick, schema=out_schema)
