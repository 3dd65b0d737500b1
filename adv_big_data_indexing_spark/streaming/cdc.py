"""OP-A11/A12/2.H — the write-behind index pipeline, done right.

Reference architecture: writes land in Redis (authoritative), an index
request is published to RabbitMQ (sendMessage, src/utils/rabbitMq.ts:5-42,
message = {doc, type: insert|update}), a consumer drains the queue into
ES (receiveMessage, :92-115, manual-ack at-least-once + idempotent
upsert-by-_id), while the HTTP writer polls ES every 200 ms until
visible (OP-G7, apiLogicForCRUD.ts:17-58).

Spark-first replacement (SURVEY.md §3.1):
- the queue is a streaming source directory of JSON CDC records
  {key, op, seq, doc} (op ∈ insert|update|delete — delete via queue is
  the reference's unimplemented V2 requirement, README.md:118; shipped
  here),
- the consumer is ONE Structured Streaming job (``run_document_indexer``):
  readStream → foreachBatch validate → shred → replace,
- the 200 ms visibility poll disappears — micro-batch commit IS the
  visibility barrier (processAllAvailable ≈ awaiting the queue drain).

The one replace rule. A nested document is the unit that is shredded,
reassembled and replaced. Its closure is every entity fragment whose
``root_key`` is the document's key, plus the reconstructed view row whose
``id`` is that key. A valid upsert or a delete replaces its root's whole
closure, in the entity store and in the view, iff its ``seq`` is ≥ the
root's stored ``seq`` (the max ``seq`` over the root's fragments; a root
with no fragments has no stored ``seq``, and any record for it wins).
Within a micro-batch the highest ``seq`` per root is the record. Ties
win, so a replayed batch rewrites what it wrote before and heals a batch
that crashed between the two swaps; a late lower-seq record changes
nothing. A delete leaves no tombstone, so an upsert that arrives after
the delete of its root wins whatever its ``seq``.
Exactly-once follows from checkpointed source offsets plus this
idempotent rule: a replay from a fresh checkpoint converges to the same
stores.

Scale: the winners (one row per root touched by the batch) are the only
state computed against the store, and they are batch-sized.
"""

from __future__ import annotations

import os
import shutil
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming import StreamingQuery
from pyspark.sql.window import Window

CDC_SCHEMA = T.StructType(
    [
        T.StructField("key", T.StringType(), False),
        T.StructField("op", T.StringType(), False),  # insert | update | delete
        T.StructField("seq", T.LongType(), False),  # monotone per key
        T.StructField("doc", T.StringType(), True),  # payload JSON (null for delete)
    ]
)


def enqueue(spark: SparkSession, queue_dir: str, records: list[dict]) -> None:
    """OP-A11 producer: append CDC records to the queue directory.

    One JSON file per call ≈ one AMQP publish batch (sendESRequest,
    rabbitMq.ts:5-17). Files are immutable-once-written, which is what
    makes the directory a valid replayable streaming source.
    """
    df = spark.createDataFrame(
        [(r["key"], r["op"], r["seq"], r.get("doc")) for r in records], CDC_SCHEMA
    )
    df.coalesce(1).write.mode("append").json(queue_dir)


def drain(query: StreamingQuery, timeout_sec: int = 120) -> None:
    """OP-G7 analog: await queue visibility. The reference polls ES every
    200 ms (apiLogicForCRUD.ts:47-58); here commit == visibility, so
    waiting for the availableNow trigger to finish is the whole story."""
    query.awaitTermination(timeout_sec)


def _replace(path: str, key: str, winners: DataFrame, fresh: DataFrame, batch_id: int) -> None:
    """Swap ``path`` for its rows outside the winners' closures (``key``
    not a winning root) plus ``fresh``. Parquet has no transactional
    MERGE, so stage the new store and rename it in (a Delta MERGE on a
    real deployment)."""
    if os.path.exists(path):
        kept = winners.sparkSession.read.parquet(path).join(
            winners.select(F.col("root_key").alias(key)), key, "left_anti"
        )
        fresh = kept.unionByName(fresh)
    tag = f"{batch_id}_{uuid.uuid4().hex[:8]}"
    stage, old = f"{path}__stage_{tag}", f"{path}__old_{tag}"
    fresh.write.mode("overwrite").parquet(stage)
    if os.path.exists(path):
        os.rename(path, old)
    os.rename(stage, path)
    shutil.rmtree(old, ignore_errors=True)


def run_document_indexer(
    spark: SparkSession,
    queue_dir: str,
    entities_dir: str,
    rejects_dir: str,
    checkpoint_dir: str,
    schema: dict,
    reconstructed_dir: str | None = None,
) -> StreamingQuery:
    """POST /plan, end-to-end, streaming: each micro-batch of CDC records
    carrying raw plan JSON is validated against the registered schema
    (plans/json_schema_compiler), invalid docs are routed to a rejects
    table (the 400 path, with their violation list), and every winning
    upsert or delete replaces its root's closure under the module's one
    rule: the shredded fragments (operators/shred) in the entity store
    and, with ``reconstructed_dir``, the nested ETag-stamped view row —
    replacing the reference's 10-step Redis→AMQP→poll→ES choreography
    (apiLogicForCRUD.ts:82-144) with one exactly-once pipeline.
    """
    from adv_big_data_indexing_spark.operators.reconstruct import reconstruct, with_etag
    from adv_big_data_indexing_spark.operators.shred import shred
    from adv_big_data_indexing_spark.plans.json_schema_compiler import validate

    def process(batch: DataFrame, batch_id: int) -> None:
        upserts = batch.filter(F.col("op") != "delete")
        v = validate(upserts.select("key", "seq", F.col("doc").alias("raw")), schema)
        bad = v.filter(~F.col("is_valid")).select(
            "key", "seq", "violations", F.col("raw").alias("doc")
        )
        if bad.take(1):
            bad.write.mode("append").parquet(rejects_dir)
        records = (
            v.filter(F.col("is_valid"))
            .select(
                F.concat_ws("_", F.lit("plan"), F.col("doc.objectId")).alias("root_key"),
                "seq",
                "doc",
            )
            .unionByName(
                batch.filter(F.col("op") == "delete").select(
                    F.col("key").alias("root_key"),
                    "seq",
                    F.lit(None).cast(v.schema["doc"].dataType).alias("doc"),
                )
            )
        )
        w = Window.partitionBy("root_key").orderBy(F.col("seq").desc())
        winners = (
            records.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1)
            .drop("__rn")
        )
        if os.path.exists(entities_dir):
            stored = (
                spark.read.parquet(entities_dir)
                .groupBy("root_key")
                .agg(F.max("seq").alias("stored_seq"))
            )
            winners = (
                winners.join(stored, "root_key", "left")
                .filter(F.col("stored_seq").isNull() | (F.col("seq") >= F.col("stored_seq")))
                .drop("stored_seq")
            )
        # computed once, before the first swap: a lazy winners frame would
        # re-read the entity files that the swap below deletes
        winners = winners.localCheckpoint()
        if winners.isEmpty():
            return
        tables = shred(winners.filter(F.col("doc").isNotNull()).select("doc.*"))
        edges = tables["edges"]
        root_of = edges.alias("e1").join(
            edges.alias("e2"),
            F.col("e1.parent_id") == F.col("e2.child_id"),
            "left",
        ).select(
            F.col("e1.child_id").alias("id"),
            F.coalesce(F.col("e2.parent_id"), F.col("e1.parent_id"), F.col("e1.child_id")).alias(
                "root_key"
            ),
        )
        fragments = (
            tables["entities"]
            .join(root_of, "id")
            .join(winners.select("root_key", "seq"), "root_key")
            .select("id", "root_key", "seq", "object_type", "payload")
        )
        _replace(entities_dir, "root_key", winners, fragments, batch_id)
        if reconstructed_dir is not None:
            view = with_etag(reconstruct(tables))
            _replace(reconstructed_dir, "id", winners, view, batch_id)

    stream = (
        spark.readStream.schema(CDC_SCHEMA)
        .option("maxFilesPerTrigger", 16)
        .json(queue_dir)
    )
    return (
        stream.writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
