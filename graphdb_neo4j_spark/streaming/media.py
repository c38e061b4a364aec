"""Streaming fingerprint near-dup — the incremental face of the batch
image/audio dedup chain (q225-q227): media arrives in waves with a
crawl, gets fingerprinted ONCE per batch, and only first-seen-KEEPER
content survives into a durable append-only ledger.

Composition, per micro-batch:

* (optional) fingerprint the batch's payload column with a caller
  -supplied hasher (:func:`~graphdb_neo4j_spark.operators.multimodal.
  perceptual_hashes` / :func:`~graphdb_neo4j_spark.operators.
  multimodal.audio_fingerprints`) — payloads die inside the batch,
  only 8-byte fingerprints persist;
* drop batch rows within ``max_hamming`` of ANY ledgered keeper
  (:func:`~graphdb_neo4j_spark.operators.dedup.hamming_neardup_join`
  — the cross-frame banded Hamming LSH, never all-pairs);
* close the survivors' in-batch near-dup graph into connected
  components (perceptual similarity is not transitive — q226's
  argument) and keep ONE member per component, the first arrival by
  (event time, id) — a :func:`~graphdb_neo4j_spark.operators.order.
  group_argmin` aggregation, no per-component single-task window;
* append the keepers to ``{state_path}/kept`` and commit the meta row
  LAST (exactly-once, run-scoped — the crawl-frontier replay
  machinery).

The ledger holds KEEPERS only — the curation contract ("what did we
actually keep?"), mirroring the batch
:func:`~graphdb_neo4j_spark.operators.dedup.
hamming_neardup_clusters` pass applied wave by wave: a later item
near a previously DROPPED item but not near any keeper is admitted
(near-duplication is not transitive, and the dropped item's keeper
already represents its cluster as of its own batch).  Cross-batch
precedence is ARRIVAL order (a late arrival with an earlier event
time never displaces a ledgered keeper — same contract as the
frontier); within a batch the (event time, id) ordering makes the
keeper arrival-independent.

100 TB notes: the ledger is append-only, O(keepers) per batch, and
everything that shuffles after the in-batch decode is 8-byte
fingerprint keys; the anti-join explodes the ledger per batch (cheap
codegen over two integer columns — pre-materializing the exploded
ledger by band is a storage optimization, not a semantic one); the
in-batch component loop moves (key, label) pairs only.
"""

from __future__ import annotations

import uuid
from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.utils import AnalysisException

from graphdb_neo4j_spark.streaming.crawl import _last_done_batch


def streaming_fingerprint_neardup(
    media_stream: DataFrame,
    state_path: str,
    id_col: str = "media_id",
    hash_col: str = "phash",
    time_col: str = "event_time",
    payload_col: str | None = None,
    hasher: Callable[[DataFrame], DataFrame] | None = None,
    bands: int = 8,
    max_hamming: int | None = None,
    bucket_cap: int | None = None,
):
    """``writeStream`` builder: durable cross-batch fingerprint
    near-dup with a first-seen-keeper ledger (module docstring has the
    full semantics).

    Two input shapes:

    * fingerprints precomputed upstream — ``media_stream`` carries
      ``(id_col, hash_col, time_col)``; leave ``hasher`` unset.
    * raw payloads — pass ``payload_col`` plus ``hasher``, a callable
      mapping a ``(id_col, payload_col)`` frame to one carrying
      ``(id_col, hash_col)`` (e.g. ``perceptual_hashes`` /
      ``audio_fingerprints``); it runs INSIDE each micro-batch, the
      hash frame joins back on ``id_col``, and the payload dies before
      anything persists.

    Rows whose fingerprint is NULL after hashing (the undersized-media
    class) are dropped — they have no similarity defined; quarantine
    them upstream with the media-audit splits if they must be kept.
    ``id_col`` must be non-NULL and unique per row.  Exactly-once
    replay is run-scoped exactly like the crawl frontier: the ledger
    partitions on (run_id, batch_id), a committed (run_id, batch_id)
    replay is skipped whole, and a crashed batch rewrites only its own
    partition.  Reprocessing committed data under a FRESH checkpoint
    lineage never duplicates a keeper (each former keeper self-matches
    its ledger copy at distance 0 and is dropped) and drops every row
    DIRECTLY within ``max_hamming`` of a ledgered keeper; the one
    honest caveat is chain-only members — near a formerly DROPPED
    member but beyond the threshold from the keeper itself — which a
    replay may re-admit as fresh keepers, because near-duplication is
    not transitive and the ledger intentionally holds keepers only.
    Read keepers with :func:`fingerprint_kept`.
    """
    if (payload_col is None) != (hasher is None):
        raise ValueError("pass payload_col and hasher together, or neither")
    kept_path = f"{state_path}/kept"
    meta_path = f"{state_path}/meta"
    run_id = uuid.uuid4().hex

    def _process(batch_df: DataFrame, batch_id: int) -> None:
        from graphdb_neo4j_spark.operators.dedup import (
            hamming_neardup_join,
            hamming_neardup_pairs,
        )
        from graphdb_neo4j_spark.operators.order import (
            group_argmin,
            materialize,
        )
        from graphdb_neo4j_spark.operators.traversal import (
            connected_components,
        )

        spark = batch_df.sparkSession
        if batch_id <= _last_done_batch(spark, meta_path, run_id):
            return
        batch = batch_df
        if hasher is not None:
            fps = hasher(batch_df.select(id_col, payload_col))
            # drop a pre-existing hash_col too: keeping it would make
            # the post-join F.col(hash_col) ambiguous (r10 review)
            batch = batch_df.drop(payload_col, hash_col).join(
                fps.select(id_col, hash_col), id_col, "left"
            )
        # freeze (handled, not a bare checkpoint — blocks release at
        # end of batch, never accumulate across a long-lived stream):
        # when hashing in-batch this is what makes the Arrow decode
        # pass run ONCE (the q225 single-decode discipline)
        batch, batch_handle = materialize(
            batch.filter(F.col(hash_col).isNotNull())
        )
        try:
            # mergeSchema: keeper rows persist the full stream schema,
            # which may evolve across runs sharing one state_path — a
            # single-file schema sample would silently drop columns
            # (the frontier-ledger lesson, ADVICE r8)
            prior = (
                spark.read.option("mergeSchema", "true")
                .parquet(kept_path)
                .filter(
                    ~(
                        (F.col("run_id") == F.lit(run_id))
                        & (F.col("batch_id") == F.lit(batch_id))
                    )
                )
                .select(id_col, hash_col)
            )
        except AnalysisException:
            prior = None
        if prior is not None:
            hit = hamming_neardup_join(
                batch.select(id_col, hash_col),
                prior,
                id_col=id_col,
                hash_col=hash_col,
                bands=bands,
                max_hamming=max_hamming,
                bucket_cap=bucket_cap,
            ).select(F.col("id_a").alias(id_col)).distinct()
            # freeze the anti-join: its lineage (ledger scan + band
            # explode + equi-join) would otherwise re-execute in each
            # of its three consumers — the in-batch LSH's checkpoint,
            # the component loop's node freeze, and the keeper pick
            # (r10 review); the batch freeze alone does not cover it
            new, new_handle = materialize(
                batch.join(hit, id_col, "left_anti")
            )
            batch_handle.release()  # batch fully consumed by `new`
        else:
            new, new_handle = batch, batch_handle
        pairs, p_handle = hamming_neardup_pairs(
            new.select(id_col, hash_col),
            id_col=id_col,
            hash_col=hash_col,
            bands=bands,
            max_hamming=max_hamming,
            bucket_cap=bucket_cap,
        )
        ids = new.select(F.col(id_col).cast("string").alias("key")).distinct()
        edges = pairs.select(
            F.col("id_a").cast("string").alias("src"),
            F.col("id_b").cast("string").alias("dst"),
        )
        comp = connected_components(ids, edges)
        p_handle.release()  # the components loop consumed the pairs
        labeled = (
            new.withColumn("__k", F.col(id_col).cast("string"))
            .join(comp, F.col("__k") == F.col("key"))
            .drop("key", "__k")
        )
        # freeze before writing the path the lineage anti-joined
        # (handled — released after the meta commit)
        kept, kept_handle = materialize(
            group_argmin(
                labeled,
                ["component"],
                [F.col(time_col).cast("timestamp"), F.col(id_col)],
            ).drop("component")
        )
        new_handle.release()  # survivors consumed by components + kept
        (
            kept.withColumn("run_id", F.lit(run_id))
            .withColumn("batch_id", F.lit(batch_id))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("run_id", "batch_id")
            .parquet(kept_path)
        )
        n_kept = kept.count()
        spark.createDataFrame(
            [(run_id, batch_id, n_kept)],
            "run_id string, batch_id long, n_kept long",
        ).write.mode("append").parquet(meta_path)
        kept_handle.release()

    return media_stream.writeStream.foreachBatch(_process)


def fingerprint_kept(spark: SparkSession, state_path: str) -> DataFrame:
    """Every keeper admitted across batches (the deduped media set).
    Schemas are merged across partitions — keeper rows persist the
    full stream schema, which may evolve across runs sharing one
    ``state_path`` (the frontier-ledger mergeSchema lesson)."""
    return (
        spark.read.option("mergeSchema", "true")
        .parquet(f"{state_path}/kept")
        .drop("run_id", "batch_id")
    )
