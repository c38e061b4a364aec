"""Deterministic sampling / splitting / packing for training-data
pipelines.

Random sampling (``df.sample``, ``sampleBy``) is seed-and-partitioning
dependent — rerun the job with a different partition count and the
sample changes, and no other engine can reproduce it.  Every operator
here derives its randomness from md5 of a stable key instead:

* reproducible across runs, engines, partitionings, and cluster sizes;
* a row's assignment never changes when the corpus grows (critical for
  train/eval splits — no test-set contamination on incremental loads);
* oracle-checkable bit-for-bit in DuckDB.

The hash fraction uses the first 4 md5 nibbles (16 bits) — plenty for
percent-level split boundaries, and cheap to mirror in SQL.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

_HEX = "0123456789abcdef"
_NIBBLES = 4
_BUCKETS = 16 ** _NIBBLES  # 65536


def _hash_bucket(key: Column, seed: str) -> Column:
    """Stable bucket in [0, 65536) from md5(seed|key) — the nibble
    arithmetic (instr on a hex alphabet) is portable to any SQL
    engine, unlike hex→int casts."""
    h = F.md5(F.concat(F.lit(f"{seed}|"), key.cast("string")))
    val = F.lit(0)
    for i in range(1, _NIBBLES + 1):
        nib = F.instr(F.lit(_HEX), F.substring(h, i, 1)) - F.lit(1)
        val = val * 16 + nib
    return val


def hash_bucket_sql(key_sql: str, seed: str) -> str:
    """The same bucket as SQL (same association order)."""
    expr = "0"
    for i in range(1, _NIBBLES + 1):
        nib = f"(instr('{_HEX}', substr(md5('{seed}|' || CAST({key_sql} AS VARCHAR)), {i}, 1)) - 1)"
        expr = f"({expr} * 16 + {nib})"
    return expr


def hash_split(
    df: DataFrame,
    id_col: str = "doc_id",
    weights: dict[str, float] | None = None,
    seed: str = "split",
) -> DataFrame:
    """Add a ``split`` column assigning each row to a named split with
    the given weights (default 98/1/1 train/val/test).

    Pure map-side expression — no shuffle, no state; the split of a
    document is a function of its id alone, so it is stable under any
    reprocessing.
    """
    weights = weights or {"train": 0.98, "val": 0.01, "test": 0.01}
    bucket = _hash_bucket(F.col(id_col), seed)
    expr = None
    upper = 0.0
    names = list(weights)
    for name in names[:-1]:
        upper += weights[name]
        cond = bucket < int(upper * _BUCKETS)
        expr = F.when(cond, name) if expr is None else expr.when(cond, name)
    split = F.lit(names[-1]) if expr is None else expr.otherwise(names[-1])
    return df.withColumn("split", split)


def hash_split_sql(
    id_sql: str,
    weights: dict[str, float] | None = None,
    seed: str = "split",
) -> str:
    """SQL CASE expression mirroring :func:`hash_split`."""
    weights = weights or {"train": 0.98, "val": 0.01, "test": 0.01}
    bucket = hash_bucket_sql(id_sql, seed)
    names = list(weights)
    clauses = []
    upper = 0.0
    for name in names[:-1]:
        upper += weights[name]
        clauses.append(f"WHEN {bucket} < {int(upper * _BUCKETS)} THEN '{name}'")
    return "CASE " + " ".join(clauses) + f" ELSE '{names[-1]}' END"


def stratified_sample(
    df: DataFrame,
    fractions: dict[str, float],
    strata_col: str = "source",
    id_col: str = "doc_id",
    seed: str = "sample",
) -> DataFrame:
    """Deterministic per-stratum subsample: keep a row iff its hash
    bucket falls below its stratum's fraction.  Unknown strata are
    dropped (fraction 0).  Map-side only; reproducible regardless of
    partitioning — unlike ``DataFrame.sampleBy``."""
    bucket = _hash_bucket(F.col(id_col), seed)
    thresh = None
    for stratum, frac in sorted(fractions.items()):
        cond = F.col(strata_col) == stratum
        t = F.lit(int(frac * _BUCKETS))
        thresh = F.when(cond, t) if thresh is None else thresh.when(cond, t)
    thresh = thresh.otherwise(F.lit(0)) if thresh is not None else F.lit(0)
    return df.filter(bucket < thresh)


def mixture_resample(
    df: DataFrame,
    rates: dict[str, float],
    default_rate: float = 1.0,
    source_col: str = "source",
    id_col: str = "doc_id",
    seed: str = "mix",
) -> DataFrame:
    """Deterministic per-source downsampling to hit a target domain
    mixture (the "data mixing" step of an LLM pipeline: e.g. keep 10%
    of web, 100% of books).  A row survives iff
    ``md5_16(seed|id) / 2¹⁶ < rate(source)`` — a pure map-side filter,
    reproducible across runs/engines, independent of partitioning, and
    stable under corpus growth (a document's fate never changes when
    other documents arrive).  Rates are compiled into a literal
    CASE-WHEN chain — no join, no shuffle, fused into the scan.
    """
    u = _hash_bucket(F.col(id_col), seed) / F.lit(65536.0)
    rate = F.lit(float(default_rate))
    for src, r in sorted(rates.items()):
        rate = F.when(F.col(source_col) == src, F.lit(float(r))).otherwise(rate)
    return df.filter(u < rate)


def pack_sequences(
    df: DataFrame,
    budget: int,
    token_col: str = "n_tokens",
    order_col: str = "doc_id",
    by_col: str | None = None,
    id_col: str = "doc_id",
    deskew_groups: bool = True,
):
    """Assign documents to training-sequence bins of ~``budget`` tokens:
    adds ``bin`` = floor(exclusive-running-token-sum / budget) over a
    deterministic ``order_col`` order (per ``by_col`` group when given).

    Returns ``(packed_df, handle)``.  ``handle`` is the
    CheckpointHandle owning the range-partitioned intermediate —
    call ``handle.release()`` after the final consuming action, after
    which the frame is unusable by design (fail-loud contract; same
    explicit-handle convention as order.materialize, which
    replaced the previous dynamic ``checkpoint_handle`` attribute,
    which any transformation silently dropped).  Only the
    ``deskew_groups=False`` bounded-groups fast path returns
    ``handle=None`` (a pure window, nothing materialized).

    This is contiguous streaming packing — the shape production
    pipelines use at scale (one window, one shuffle on the group key)
    — not bin-packing: a document may straddle a boundary, in which
    case it lands in the bin its first token falls into, and bins
    overflow by at most one document.  Exact first-fit would be a
    sequential fold — O(n) driver state — for a marginal density gain.

    With ``by_col`` the DEFAULT plans skew-free: "pack per
    language/source" groups are unbounded (English dominance puts one
    group's whole corpus in a single task under a plain
    ``PARTITION BY group`` window), so the grouped path runs through
    :func:`order.group_prefix_sum_distributed` — bit-identical bins
    (the prefix sum is exact), no per-group single task, a real
    handle.  ``deskew_groups=False`` is the bounded-groups FAST PATH
    (one window, one shuffle, nothing materialized — right when the
    group key is known-small, e.g. packing per shard id); flipped from
    opt-in to opt-out in r10 because skew is the default at corpus
    scale, not the exception.  WITHOUT ``by_col`` the global order
    would collapse a window to ONE task, so that path runs through
    :func:`order.prefix_sum_distributed` (range shuffle +
    per-partition running sums + driver-side partition offsets) —
    identical bins for a unique ``order_col``, no SinglePartition.
    """
    from pyspark.sql import Window

    if by_col is not None and deskew_groups:
        from graphdb_neo4j_spark.operators.order import (
            group_prefix_sum_distributed,
        )

        out, handle = group_prefix_sum_distributed(
            df, [by_col], [order_col], token_col, out_col="__cum"
        )
        res = out.withColumn(
            "bin",
            F.floor(
                (F.col("__cum") - F.col(token_col)) / F.lit(budget)
            ).cast("bigint"),
        ).drop("__cum")
        return res, handle
    if by_col is not None:
        w = Window.partitionBy(by_col).orderBy(order_col)
        cum_excl = F.coalesce(
            F.sum(token_col).over(
                w.rowsBetween(Window.unboundedPreceding, -1)
            ),
            F.lit(0),
        )
        return (
            df.withColumn(
                "bin", F.floor(cum_excl / F.lit(budget)).cast("bigint")
            ),
            None,
        )

    from graphdb_neo4j_spark.operators.order import prefix_sum_distributed

    out, handle = prefix_sum_distributed(
        df, [order_col], token_col, out_col="__cum"
    )
    res = out.withColumn(
        "bin",
        F.floor(
            (F.col("__cum") - F.col(token_col)) / F.lit(budget)
        ).cast("bigint"),
    ).drop("__cum")
    return res, handle


def weighted_sample(
    df: DataFrame,
    k: int,
    weight_col: str,
    id_col: str = "doc_id",
    seed: str = "ws",
) -> DataFrame:
    """Deterministic weighted sampling WITHOUT replacement, k items
    with inclusion probability ∝ ``weight_col`` — Efraimidis-Spirakis
    A-ES: each item gets key = ln(u)/w for u uniform in (0,1); the k
    LARGEST keys are the sample.  (Equivalent to ranking u^(1/w); the
    ln form avoids pow.)

    u comes from the md5 hash of ``seed|id`` via the 52-bit dyadic
    fraction — so the "randomness" is a pure function of the id, the
    sample is reproducible under reprocessing/retries (the property
    that matters in a 100 TB pipeline), and the DuckDB oracle replays
    it bit-for-bit (ln over identical doubles, one division by the
    exact weight).  Execution: map-side key computation fused into the
    scan + one TakeOrdered top-k — no global sort, no shuffle of the
    un-sampled mass.  Zero/negative weights are excluded (their
    inclusion probability is 0).
    """
    from graphdb_neo4j_spark.operators.sketch import _hex_frac

    u = _hex_frac(F.md5(F.concat(F.lit(f"{seed}|"), F.col(id_col).cast("string"))))
    # ln differs in the last ulp between engines for some inputs; rank
    # on the 12-dp ROUNDED key (id tiebreak) so both engines agree at
    # the k boundary — the same round-before-rank rule as q26/q50
    key = F.round(F.log(u) / F.col(weight_col).cast("double"), 12)
    return (
        df.filter(F.col(weight_col) > 0)
        .withColumn("es_key", key)
        .orderBy(F.col("es_key").desc(), F.col(id_col))
        .limit(k)
    )


def dsir_weights(
    df: DataFrame,
    is_target: Column,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_buckets: int = 1024,
    seed: str = "dsir",
    smooth: int = 1,
) -> DataFrame:
    """Per-document DSIR importance scores (Xie et al. 2023, "Data
    Selection for Language Models via Importance Resampling") —
    ``(id_col, dsir_score_micro)``, larger = more target-like.

    DSIR estimates hashed n-gram feature distributions for a TARGET
    subset and the RAW corpus, then scores every document by its
    importance weight under the ratio.  Here: whitespace unigrams
    hashed into ``n_buckets`` buckets (the md5 nibble bucket, portable
    to any engine), per-bucket ratio ``(1e6·(tgt+smooth)) div
    (raw+smooth)`` in exact bigint micro-units, document score = the
    SUM of its token occurrences' ratio weights (the log-linear
    product surrogate, kept additive and integer so cross-engine
    ranking is exact).

    Scale shape: one explode + one ``n_buckets``-row aggregate (a
    broadcastable ratio table — the model IS those 1024 rows) + a
    broadcast join back onto the token stream + one per-doc sum; no
    shuffle carries text.  Selection = rank by score (descending) and
    take the head, exactly what q136's oracle mirrors.
    """
    toks = (
        df.select(
            F.col(id_col),
            is_target.alias("_tgt"),
            F.explode(F.split(F.col(text_col), " ")).alias("term"),
        )
        .filter(F.col("term") != "")
        .withColumn("bucket", _hash_bucket(F.col("term"), seed) % n_buckets)
    )
    ratios = (
        toks.groupBy("bucket")
        .agg(
            F.count("*").alias("raw_n"),
            F.sum(F.when(F.col("_tgt"), 1).otherwise(0)).alias("tgt_n"),
        )
        .select(
            "bucket",
            F.expr(
                f"(1000000 * (tgt_n + {smooth})) div (raw_n + {smooth})"
            ).cast("bigint").alias("w_micro"),
        )
    )
    scores = (
        toks.join(F.broadcast(ratios), "bucket")
        .groupBy(id_col)
        .agg(F.sum("w_micro").cast("bigint").alias("dsir_score_micro"))
    )
    return df.select(id_col).join(scores, id_col, "left").select(
        id_col,
        F.coalesce(F.col("dsir_score_micro"), F.lit(0)).cast("bigint").alias(
            "dsir_score_micro"
        ),
    )


def dsir_weights_sql(
    table: str,
    is_target_sql: str,
    text_sql: str = "text",
    id_sql: str = "doc_id",
    n_buckets: int = 1024,
    seed: str = "dsir",
    smooth: int = 1,
) -> str:
    """DuckDB oracle for :func:`dsir_weights` (same bucket hash, same
    integer ratio, same per-doc sum)."""
    bucket = hash_bucket_sql("term", seed)
    return f"""
    WITH tok AS (
      SELECT {id_sql} AS id, {is_target_sql} AS tgt,
             ({bucket}) % {n_buckets} AS bucket
      FROM (SELECT *, unnest(string_split({text_sql}, ' ')) AS term FROM {table})
      WHERE term <> ''
    ),
    ratios AS (
      SELECT bucket,
             CAST((1000000 * (SUM(CASE WHEN tgt THEN 1 ELSE 0 END) + {smooth}))
                  // (COUNT(*) + {smooth}) AS BIGINT) AS w_micro
      FROM tok GROUP BY bucket
    ),
    scores AS (
      SELECT tok.id, CAST(SUM(w_micro) AS BIGINT) AS dsir_score_micro
      FROM tok JOIN ratios USING (bucket) GROUP BY tok.id
    )
    SELECT d.{id_sql}, COALESCE(s.dsir_score_micro, 0) AS dsir_score_micro
    FROM {table} d LEFT JOIN scores s ON d.{id_sql} = s.id
    """


def cluster_balanced_sample(
    df: DataFrame,
    k: int = 8,
    per_cluster: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: str = "cbs",
    round_sim: int = 6,
) -> DataFrame:
    """Diversity-preserving subsample over an embedding column —
    ``(id, cluster, cent_cos)``, at most ``per_cluster`` rows per
    semantic cluster.

    Uniform subsampling keeps the corpus's mode collapse; sampling a
    FIXED QUOTA per embedding cluster flattens the distribution (the
    cluster-balanced selection step of SemDeDup-style curation
    pipelines).  Clusters come from the deterministic hash-seeded
    assignment shared with ``dedup.semdedup`` (broadcast centroid
    fold-cosine, round-before-rank); within each cluster the quota is
    filled by md5(seed|id) order — a reproducible "random" draw, same
    discipline as :func:`hash_split`.

    Scale shape: assignment is one broadcast-join pass + one per-id
    rank; the quota rank shuffles once on cluster id.  Skew-safe: the
    per-cluster window ranks at most cluster-population rows and the
    output is ≤ k·per_cluster."""
    from pyspark.sql import Window

    from graphdb_neo4j_spark.operators.dedup import _normalized, semantic_assign

    normed = _normalized(df, id_col, vec_col)
    assign = semantic_assign(normed, k, round_sim)
    h = F.md5(F.concat(F.lit(f"{seed}|"), F.col("id").cast("string")))
    w = Window.partitionBy("cid").orderBy(h, "id")
    return (
        assign.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= per_cluster)
        .select("id", F.col("cid").alias("cluster"), "cent_cos")
    )


def weighted_sample_sql(
    table: str, k: int, weight_sql: str, id_sql: str = "doc_id", seed: str = "ws"
) -> str:
    """DuckDB oracle for :func:`weighted_sample` (same hash fraction,
    same ln, same division, same (key DESC, id) ranking)."""
    from graphdb_neo4j_spark.operators.sketch import hex_frac_sql

    frac = hex_frac_sql(f"md5('{seed}|' || CAST({id_sql} AS VARCHAR))")
    return f"""
    SELECT *, ROUND(ln({frac}) / CAST({weight_sql} AS DOUBLE), 12) AS es_key
    FROM {table}
    WHERE {weight_sql} > 0
    ORDER BY es_key DESC, {id_sql}
    LIMIT {k}
    """


def neighbor_sample(
    edges: DataFrame,
    fanout: int,
    src_col: str = "src",
    dst_col: str = "dst",
    seed: str = "nbr",
) -> DataFrame:
    """GraphSAGE-style fixed-fanout neighbor sampling, deterministic.

    For every source vertex keep at most ``fanout`` out-neighbors,
    chosen by md5(seed|src:dst) rank — the neighbor-expansion stage of
    mini-batch GNN training (Hamilton et al., NeurIPS 2017) made
    reproducible: a vertex's sample never depends on partitioning or
    cluster size, and only changes for vertices whose edge set changed.

    One hash-partitioned window per source (no shuffle beyond the
    partitionBy(src) exchange, which co-locates each adjacency list);
    skewed hubs cost one top-``fanout`` heap per partition via the
    rank filter — at 100 TB pre-aggregate hot sources or cap with a
    degree filter first.  Returns (src, dst, rank) with rank in
    [1, fanout].
    """
    from pyspark.sql import Window

    h = F.md5(
        F.concat(
            F.lit(f"{seed}|"),
            F.col(src_col).cast("string"),
            F.lit(":"),
            F.col(dst_col).cast("string"),
        )
    )
    w = Window.partitionBy(src_col).orderBy(h.asc(), F.col(dst_col).asc())
    return (
        edges.select(src_col, dst_col)
        .distinct()
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= int(fanout))
    )


def neighbor_sample_sql(
    edges_sql: str,
    fanout: int,
    src_sql: str = "src",
    dst_sql: str = "dst",
    seed: str = "nbr",
) -> str:
    """DuckDB oracle for :func:`neighbor_sample` — same md5 rank, same
    (hash, dst) tie-break, over a deduplicated edge relation."""
    return f"""
    SELECT src, dst, rank FROM (
      SELECT src, dst,
             ROW_NUMBER() OVER (
               PARTITION BY src
               ORDER BY md5('{seed}|' || CAST(src AS VARCHAR)
                            || ':' || CAST(dst AS VARCHAR)) ASC, dst ASC
             ) AS rank
      FROM (SELECT DISTINCT {src_sql} AS src, {dst_sql} AS dst
            FROM {edges_sql})
    ) WHERE rank <= {fanout}
    """


def random_walks(
    edges: DataFrame,
    seeds: DataFrame,
    n_walks: int = 2,
    length: int = 3,
    seed: str = "walk",
    src_col: str = "src",
    dst_col: str = "dst",
) -> DataFrame:
    """DeepWalk-style deterministic random walks — ``n_walks`` walks of
    ``length`` steps from every seed vertex, returned as one row per
    visited position ``(seed, walk, step, vertex)`` (step 0 is the seed
    itself).  The walk corpus that feeds skip-gram graph-embedding
    training (Perozzi et al., "DeepWalk", KDD 2014) and node2vec with
    p=q=1, made reproducible: step ``s`` of walk ``w`` from seed ``v0``
    moves to the neighbor whose dense (ORDER BY dst) rank equals
    ``1 + md5(seed|v0:w:s) mod outdeg`` — a pre-drawn random tape keyed
    by (seed, walk, step), so results never depend on partitioning,
    cluster size, or visit order, and are SQL-mirrorable.

    Walks stop early at sink vertices (no outgoing edges) — their
    remaining positions are simply absent.

    100 TB shape: the ranked adjacency (one row_number window over the
    deduped edge list, co-partitioned with its degree table) is built
    once and persisted; each step is then ONE equi-join of the frontier
    with the adjacency on (vertex, picked_rank) — frontier size is
    |seeds|·n_walks, never graph-sized, and AQE broadcasts it against
    the big adjacency.  ``length`` joins total, no iteration state
    beyond the frontier.  Skewed hubs cost nothing extra: only ONE rank
    per (frontier row) is fetched, not the hub's whole adjacency list.
    """
    from pyspark.sql import Window

    # all vertex ids travel as strings: the frontier's vertex column must
    # equi-join the adjacency without implicit numeric coercion, and the
    # neighbor rank (ORDER BY dst) must sort identically in both engines
    adj = edges.select(
        F.col(src_col).cast("string").alias("src"),
        F.col(dst_col).cast("string").alias("dst"),
    ).distinct()
    ranked = (
        adj.withColumn(
            "rnk",
            F.row_number().over(Window.partitionBy("src").orderBy("dst")),
        )
        .select(
            F.col("src").alias("rsrc"), F.col("dst").alias("rdst"), "rnk"
        )
        .persist()
    )
    deg = ranked.groupBy("rsrc").agg(F.max("rnk").alias("outdeg")).select(
        F.col("rsrc").alias("dsrc"), "outdeg"
    )

    cur = (
        seeds.select(F.col(seeds.columns[0]).cast("string").alias("seed"))
        .distinct()
        .select(
            "seed",
            F.explode(
                F.sequence(F.lit(0), F.lit(int(n_walks) - 1))
            ).alias("walk"),
        )
        .withColumn("vertex", F.col("seed"))
    )
    out = cur.select(
        "seed", "walk", F.lit(0).alias("step"), "vertex"
    )
    for s in range(1, int(length) + 1):
        tape = F.conv(
            F.substring(
                F.md5(
                    F.concat(
                        F.lit(f"{seed}|"),
                        F.col("seed"),
                        F.lit(":"),
                        F.col("walk").cast("string"),
                        F.lit(":"),
                        F.lit(str(s)),
                    )
                ),
                1,
                8,
            ),
            16,
            10,
        ).cast("bigint")
        cur = (
            cur.join(deg, F.col("vertex") == F.col("dsrc"))
            .withColumn("pick", tape % F.col("outdeg") + 1)
            .join(
                ranked,
                (F.col("vertex") == F.col("rsrc"))
                & (F.col("pick") == F.col("rnk")),
            )
            .select("seed", "walk", F.col("rdst").alias("vertex"))
        )
        out = out.unionByName(
            cur.select("seed", "walk", F.lit(s).alias("step"), "vertex")
        )
    return out


def random_walks_sql(
    edges_sql: str,
    seeds_sql: str,
    n_walks: int = 2,
    length: int = 3,
    seed: str = "walk",
) -> str:
    """DuckDB oracle for :func:`random_walks` — the step loop unrolled
    into ``length`` chained CTE joins with the identical md5 tape.
    ``edges_sql`` must yield (src, dst); ``seeds_sql`` one seed column.
    """
    walks = ", ".join(f"({w})" for w in range(int(n_walks)))
    ctes = [
        f"""adj AS (
      SELECT src, dst,
             ROW_NUMBER() OVER (PARTITION BY src ORDER BY dst) AS rnk
      FROM (SELECT DISTINCT CAST(src AS VARCHAR) AS src,
                            CAST(dst AS VARCHAR) AS dst
            FROM ({edges_sql}))
    ),
    deg AS (SELECT src, MAX(rnk) AS outdeg FROM adj GROUP BY src),
    s0 AS (
      SELECT CAST(sd.seed AS VARCHAR) AS seed, w.walk, CAST(sd.seed AS VARCHAR) AS vertex
      FROM (SELECT DISTINCT * FROM ({seeds_sql})) sd(seed)
      CROSS JOIN (VALUES {walks}) w(walk)
    )"""
    ]
    for s in range(1, int(length) + 1):
        tape = (
            f"('0x' || substr(md5('{seed}|' || seed || ':' "
            f"|| CAST(walk AS VARCHAR) || ':{s}'), 1, 8))::BIGINT"
        )
        ctes.append(
            f"""s{s} AS (
      SELECT p.seed, p.walk, CAST(adj.dst AS VARCHAR) AS vertex
      FROM s{s - 1} p
      JOIN deg ON deg.src = p.vertex
      JOIN adj ON adj.src = p.vertex
             AND adj.rnk = 1 + ({tape} % deg.outdeg)
    )"""
        )
    unions = "\n    UNION ALL\n    ".join(
        f"SELECT seed, walk, {s} AS step, vertex FROM s{s}"
        for s in range(int(length) + 1)
    )
    return f"WITH {', '.join(ctes)}\n    {unions}"
