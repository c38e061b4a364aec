"""Entity resolution (record linkage): block → verify → cluster.

The classic Fellegi–Sunter / Dedoop pipeline over a records table:

1. **Blocking** — candidate pairs only WITHIN a block (equal blocking
   key), never all-pairs: the recall/cost dial of every ER system
   (Christen, "Data Matching", 2012, ch. 4).  Multiple blocking keys
   union their candidates (multi-pass blocking) so one noisy key
   doesn't lose a true match.
2. **Verify** — JVM-codegen ``levenshtein`` on the name column with
   the sound ``|len(a)-len(b)|`` prefilter (edit distance is never
   below the length difference).
3. **Cluster** — connected components over the verified match graph
   (smallest record id becomes the entity id), so transitive matches
   (a≈b, b≈c) land in ONE entity even when a and c differ by more
   than the threshold — the part a pairwise report can't give you.

100 TB shape: blocking keys shuffle (key, id, name) — never the full
record; per-block pair fan-out is bounded by the largest block (pick
keys that keep blocks small; the ``max_block`` guard drops
pathological blocks loudly rather than letting one giant block go
quadratic); components run on the MATCH graph, which is tiny relative
to the input.

Related primitives: text.fuzzy_match_pairs (pairwise over the distinct
value space, no clustering), dedup.neardup_clusters (LSH blocking for
long text; use it as the blocker here when names are long strings).
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def _block_pairs(
    proj: DataFrame, i: int, max_dist: int, max_block: int | None
) -> DataFrame:
    """Length-filtered candidate pairs co-blocked under key ``__bk{i}``
    of the shared projection — the lazy per-key join fragment of
    :func:`candidate_pairs` (extracted so the plan shape is testable).
    """
    keyed = proj.select(
        F.col(f"__bk{i}").alias("bkey"), "rid", "name"
    ).filter(F.col("bkey").isNotNull())
    if max_block is not None:
        sizes = keyed.groupBy("bkey").agg(F.count("*").alias("bn"))
        keyed = keyed.join(
            sizes.filter(F.col("bn") <= int(max_block)).select("bkey"),
            "bkey",
        )
    # pin block-level parallelism (r10): block keys are few and the
    # keyed rows are tiny, so AQE's byte-based coalescing collapses
    # the join input to ONE partition — and the block self-join's
    # quadratic fan-out plus the per-pair levenshtein then run in a
    # single task (measured: one 5s-CPU task at sf0.1; spreading it
    # cut q172's warm wall 6.9s → 3.9s).  An explicit user partition
    # count is exempt from AQE coalescing.
    #
    # r11 (guide §2.5 salting): hashing on bkey alone caps parallelism
    # at n_blocks and leaves a hot block WHOLE in one task, so when the
    # block count is below the core count each row also gets a
    # deterministic sub-bucket u = xxhash64(rid) mod s: the a-leg fans
    # out over partner buckets j, the b-leg over i, and the join runs
    # per CELL (bkey, i, j) — a block's quadratic work splits s² ways
    # and every pair lands in exactly one cell (i = bucket(id_a),
    # j = bucket(id_b)).  s derives from the MEASURED block count (one
    # tiny agg over the persisted projection), because the salt is not
    # free — s× row replication and a second exchange (ReuseExchange
    # gone); with plentiful blocks it buys nothing (measured at sf0.1:
    # unconditional s=5 cost +15-50% CPU on q172's 25-block join), so
    # s stays 1 and the r10 single-exchange plan stands unchanged.
    np_ = proj.sparkSession.sparkContext.defaultParallelism
    n_blocks = keyed.select("bkey").distinct().count()
    s = 1
    if 0 < n_blocks < np_ // 2:
        s = min(8, math.isqrt(int(np_) // n_blocks) + 1)
    if s > 1:
        bucket = F.pmod(F.xxhash64(F.col("rid")), F.lit(s)).cast("int")
        fanout = F.explode(F.sequence(F.lit(0), F.lit(s - 1)))
        a_leg = (
            keyed.withColumn("__ui", bucket)
            .withColumn("__uj", fanout)
            .repartition(np_, "bkey", "__ui", "__uj")
        )
        b_leg = (
            keyed.withColumn("__uj", bucket)
            .withColumn("__ui", fanout)
            .repartition(np_, "bkey", "__ui", "__uj")
        )
        a = a_leg.alias("a")
        b = b_leg.alias("b")
        cell = (F.col("a.__ui") == F.col("b.__ui")) & (
            F.col("a.__uj") == F.col("b.__uj")
        )
    else:
        # the exchange moves only (bkey, rid, name) rows and both join
        # legs reuse it (ReuseExchange)
        keyed = keyed.repartition(np_, "bkey")
        a = keyed.alias("a")
        b = keyed.alias("b")
        cell = F.lit(True)
    return a.join(
        b,
        (F.col("a.bkey") == F.col("b.bkey"))
        & cell
        & (F.col("a.rid") < F.col("b.rid"))
        & (
            F.abs(F.length(F.col("a.name")) - F.length(F.col("b.name")))
            <= int(max_dist)
        ),
    ).select(
        F.col("a.rid").alias("id_a"),
        F.col("b.rid").alias("id_b"),
        F.col("a.name").alias("name_a"),
        F.col("b.name").alias("name_b"),
    )


def candidate_pairs(
    records: DataFrame,
    id_col: str,
    name_col: str,
    blocking: list[str | Column],
    max_dist: int = 2,
    max_block: int | None = 10_000,
):
    """Verified match pairs: returns ``(pairs_df, handle)`` where
    ``pairs_df`` is ``(id_a, id_b, dist)`` with id_a < id_b and
    ``handle`` is the CheckpointHandle owning the materialized blocks —
    call ``handle.release()`` after the final action on ``pairs_df``
    (the same explicit-handle contract as order.materialize and
    order.prefix_sum_distributed; ADVICE r5 replaced the previous
    dynamic ``checkpoint_handle`` attribute, which any transformation
    silently dropped).

    ``blocking`` is a list of column names / expressions; each key
    contributes the pairs co-located under it (multi-pass union,
    deduped).  ``max_block`` drops blocks with more rows than the cap
    (quadratic-blowup guard — standard ER practice; widen the key
    instead of raising the cap).

    The multi-pass union probes ONE persisted projection (rid, name,
    every blocking key computed in a single pass over the input) —
    without it each key re-scanned the full records source twice
    (block sizes + probe).  The verified pair set — tiny relative to
    the input — is materialized in-query so the cache can be released
    deterministically before returning.
    """
    if not blocking:
        raise ValueError("blocking must name at least one key")
    kcols = [F.col(k) if isinstance(k, str) else k for k in blocking]
    proj = records.select(
        F.col(id_col).alias("rid"),
        F.col(name_col).alias("name"),
        *[k.alias(f"__bk{i}") for i, k in enumerate(kcols)],
    ).filter(F.col("name").isNotNull())
    proj = proj.persist()
    proj.count()

    all_pairs = None
    for i in range(len(kcols)):
        pairs = _block_pairs(proj, i, max_dist, max_block)
        all_pairs = pairs if all_pairs is None else all_pairs.unionByName(pairs)

    verified = (
        all_pairs
        # verify BEFORE deduping: the distance is map-side on the join
        # output, so only the (few) surviving matches cross the wire
        # into dropDuplicates — deduping first shuffled every blocked
        # pair with both name strings attached.  BOUNDED levenshtein:
        # the threshold argument abandons a pair as soon as the
        # distance provably exceeds max_dist (O(len*k) band instead of
        # the O(len^2) table; -1 = over budget).  A pair reachable via
        # several blocking keys always carries the same names, so its
        # dist is identical under every key — dedup order is safe.
        .withColumn(
            "dist",
            F.levenshtein(
                F.col("name_a"), F.col("name_b"), int(max_dist)
            ).cast("int"),
        )
        .filter(F.col("dist") >= 0)
        .dropDuplicates(["id_a", "id_b"])
        .select("id_a", "id_b", "dist")
    )
    from graphdb_neo4j_spark.operators.order import materialize

    out, handle = materialize(verified)
    proj.unpersist()
    return out, handle


def resolve_entities(
    records: DataFrame,
    id_col: str,
    name_col: str,
    blocking: list[str | Column],
    max_dist: int = 2,
    max_block: int | None = 10_000,
) -> DataFrame:
    """``(id_col, entity_id)`` for EVERY input record: entity_id is the
    smallest record id in the record's match-graph component (records
    with no match resolve to themselves).  Deterministic: blocking,
    verify, and min-id components are all order-free.
    """
    from graphdb_neo4j_spark.operators.traversal import connected_components

    pairs, handle = candidate_pairs(
        records, id_col, name_col, blocking, max_dist, max_block
    )
    nodes = records.select(F.col(id_col).alias("key")).distinct()
    comp = connected_components(
        nodes, pairs.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))
    )
    # comp is checkpoint-rooted (the loop's per-round freeze), so the
    # verified-pairs blocks are no longer referenced — release now
    handle.release()
    return comp.select(
        F.col("key").alias(id_col), F.col("component").alias("entity_id")
    )
