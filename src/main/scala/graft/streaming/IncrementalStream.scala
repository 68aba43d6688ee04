package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.StructType

/** Structured-Streaming formalization of the reference's batch-incremental
  * loop (`scripts/oracle_to_snowflake.py:76-110`; SURVEY.md §2.9): the
  * reference re-runs a script that anti-joins new rows against the sink and
  * appends; here the same semantics run continuously — a file-source stream,
  * in-stream exact-once-by-key dedup, and a `foreachBatch` merge that
  * re-checks the sink so the pipeline is idempotent under restarts and
  * re-delivered files.
  *
  * No watermark is configured by default because the reference's key-set
  * semantics make arbitrary lateness a non-issue (late rows are just new
  * keys); pass `watermark` to bound the dedup state at scale.
  */
object IncrementalStream {

  /** Continuous incremental load: parquet files arriving under `srcDir` →
    * key-dedup'd append into `sinkPath`.
    */
  def run(
      spark: SparkSession,
      srcDir: String,
      sinkPath: String,
      checkpoint: String,
      schema: StructType,
      keys: Seq[String],
      watermark: Option[(String, String)] = None, // (eventTimeCol, delay)
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery = {

    val src = spark.readStream.schema(schema).parquet(srcDir)
    val withWm = watermark.fold(src) { case (c, d) => src.withWatermark(c, d) }
    // in-stream exactly-once-by-key. With a watermark the dedup MUST be
    // dropDuplicatesWithinWatermark: plain dropDuplicates(keys) only evicts
    // state when the event-time column is itself among the keys, so the
    // "pass watermark to bound the dedup state" contract would silently
    // hold NO state bound at all — every distinct key would pin a state row
    // forever. Within-watermark dedup trades unbounded-lateness dedup for
    // the bound (a key re-arriving after the watermark passes is treated
    // as new in-stream), which the sink-side anti-join below absorbs: a
    // late re-delivery of a known key is still filtered against the SINK.
    val deduped = watermark.fold(src.dropDuplicates(keys))(_ =>
      withWm.dropDuplicatesWithinWatermark(keys))

    deduped.writeStream
      .trigger(trigger)
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        // re-check against the sink (idempotence across restarts, mirrors
        // the reference's anti-join before insert)
        graft.ingest.IncrementalLoader.appendNew(spark, batch, sinkPath, keys)
        ()
      }
      .start()
  }

  /** Continuous keyed upsert — the streaming MERGE shape: each micro-batch
    * runs [[graft.ingest.IncrementalLoader.mergeIntoSink]] (update-else-
    * insert, rewriting only the dt partitions the batch touches). Because
    * the merge itself is idempotent, a batch re-delivered after a restart
    * is a no-op — exactly-once sink state from at-least-once delivery.
    *
    * `source` is any streaming DataFrame carrying the key columns (must
    * include `dt`); dedup within a batch must be done upstream (standard
    * MERGE ambiguity rule).
    */
  def runUpsert(
      source: DataFrame,
      sinkPath: String,
      checkpoint: String,
      keys: Seq[String],
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    source.writeStream
      .trigger(trigger)
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        if (!batch.isEmpty)
          graft.ingest.IncrementalLoader.mergeIntoSink(batch.sparkSession, batch, sinkPath, keys)
      }
      .start()
}
