"""Streaming ANN serving: a stream of query vectors answered from a
persisted index.

Annoy's production workflow is build once -> ``save`` -> every serving
process ``load``s (mmaps) the same index file and answers
``get_nns_by_vector`` lookups forever (/root/reference/README.rst:25-27,
41; annoylib.h:1167-1236). The Spark-idiomatic serving loop is Structured
Streaming: query vectors arrive as files (in production: Kafka/Iceberg
ingestion), each micro-batch is routed through the SAME stored model and
equi-joined against the stored bucket assignments, and ranked neighbors
append to the sink exactly-once via the checkpoint.

The index is loaded ONCE at query-stream start (the mmap analog: the
model npz is driver-held; the bucket/vector parquet is re-scanned per
micro-batch — an Iceberg table served from cluster cache in production).
Micro-batches are query-batch-sized by contract, so one of at most one
Arrow batch is routed on the driver and the per-batch plan is the
broadcast shape audited in PLANS.md (stored relations streamed, routed
query side built).

foreachBatch (not a streaming join) because the per-batch work is a
full multi-join + window top-k over a BATCH relation — the exact pattern
foreachBatch exists for; the stream carries only queries, never state.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming import StreamingQuery

from annoy_spark.sources.ann_index import AnnIndex, load_index

QUERY_SCHEMA = "vec_id long, embedding array<double>"


def ann_query_stream(
    spark: SparkSession,
    index_root: str,
    input_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    k: int,
    spill_eps: float = 0.0,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_schema: str = QUERY_SCHEMA,
    available_now: bool = True,
    max_files_per_trigger: int | None = 64,
) -> StreamingQuery:
    """Serve (qid, nid, rank, distance) for every query vector landing
    under input_dir, from the index persisted at index_root.

    Idempotent per micro-batch: a replayed batch overwrites its own
    partition directory, so the sink stays exactly-once under restarts.

    max_files_per_trigger bounds how much backlog one micro-batch drains
    (availableNow would otherwise take EVERYTHING in one batch after
    downtime); per-batch plan choice is still probed (small_queries=None)
    so a batch past SMALL_QUERY_MAX degrades to the shuffle serving plan
    instead of forcing an oversized broadcast. Pass None to unbound the
    reader (e.g. a trusted low-rate source).
    """
    idx: AnnIndex = load_index(spark, index_root)

    def answer_batch(batch: DataFrame, batch_id: int) -> None:
        if batch.isEmpty():
            return
        # probe each batch's size (one cheap limit-count): a steady-state
        # online batch (at most one Arrow batch) is routed on the driver
        # and broadcast, a larger one routes on the executors, and a
        # catch-up batch past SMALL_QUERY_MAX falls back to shuffle
        # equi-joins rather than a broadcast OOM
        result = idx.query(
            batch, k=k, id_col=id_col, vec_col=vec_col,
            spill_eps=spill_eps, small_queries=None,
        )
        result.write.mode("overwrite").parquet(
            f"{out_dir}/batch_id={batch_id}"
        )

    reader = spark.readStream.schema(query_schema)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    stream = reader.parquet(input_dir)
    writer = (
        stream.writeStream.foreachBatch(answer_batch)
        .option("checkpointLocation", checkpoint_dir)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
