package graft.streaming

import scala.util.chaining._

import java.nio.file.{Files, Paths, StandardCopyOption}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.operators.Checkpoints
import graft.pipeline.{Pipeline, Stages}
import graft.sources.PushSinks

/** Incremental (streaming) form of the pipeline — the reference's
  * cron-every-6h + committed-SQLite model (run.yml:8-12, SURVEY §2.10)
  * as Structured Streaming:
  *
  *  - the feed is a streaming source; each micro-batch is one "cron run";
  *  - dedup across runs stays a LEFT ANTI join against the SINK table
  *    (not watermarked dropDuplicates state) — faithful to the
  *    reference, whose seen-set is the store itself and never expires;
  *  - `foreachBatch` runs the batch stages, merges into the store
  *    (J5), and appends alert/report rows — store-then-alert per batch,
  *    at-least-once alerts (§4.4);
  *  - the store is swapped atomically (write staging dir, rename), the
  *    Parquet stand-in for a transactional table commit;
  *  - use `Trigger.AvailableNow()` for the scheduled-run shape, or the
  *    default micro-batch trigger for continuous tailing.
  *
  * Scale: per-batch work is the batch pipeline's plan; the only growing
  * state is the store table itself (shuffled once per merge on the
  * natural key). Checkpointing covers source offsets; store writes are
  * idempotent per batch via the staging-swap.
  */
/** @param alertPush  optional outbound alert delivery: (poster, api
  *   url, chat id) — each batch's alert rows POST through
  *   [[PushSinks.telegramPayload]] AFTER the durable parquet append,
  *   so a failed POST fails the batch and replays having already
  *   recorded the alert (at-least-once outward, no loss). The durable
  *   append itself is idempotent per (query, batch): replays overwrite
  *   their own partition, so alertsDir stays effectively-once.
  * @param reportPush optional outbound report append: (poster, url) —
  *   the batch's report rows push as chunked append_rows payloads
  *   from the executors ([[PushSinks.pushReport]]).
  */
class StreamingPipeline(
    spark: SparkSession,
    fx: Pipeline.Fixtures,
    storeDir: String,
    alertsDir: String,
    asOf: String,
    daysBack: Int = 7,
    limit: Int = 20,
    alertPush: Option[(PushSinks.HttpPoster, String, String)] = None,
    reportPush: Option[(PushSinks.HttpPoster, String)] = None) {

  def loadStore(): DataFrame =
    if (Files.exists(Paths.get(storeDir)))
      spark.read.schema(Pipeline.emptyStore(spark).schema).parquet(storeDir)
    else Pipeline.emptyStore(spark)

  /** One micro-batch = one pipeline run against the current store.
    *
    * `runKey` identifies the QUERY LINEAGE (stable across restarts from
    * the same checkpoint — [[start]] derives it from the checkpoint
    * location): (runKey, batchId) is the idempotency key for the alert
    * append, so a replayed batch overwrites its own alert partition
    * while distinct queries sharing an alertsDir still accumulate.
    */
  def processBatch(feedBatch: DataFrame, batchId: Long,
                   runKey: String = "run"): Unit = {
    val store = loadStore()
    val result = Pipeline.run(
      fx.copy(feedEntries = feedBatch), store, to_timestamp(lit(asOf)),
      daysBack, limit)

    // Alerts MUST be written before the store swap: their lineage reads
    // parquet(storeDir) via the anti-join, and persist() is best-effort —
    // an evicted partition recomputed after the swap would anti-join
    // against the already-merged store and silently drop every alert.
    // Writing first pins the result while the old store dir still exists.
    val alerts = result.alerts
      .withColumn("batch_id", lit(batchId))
      .withColumn("batch_key", lit(s"$runKey-$batchId"))
      .pipe(Checkpoints.pin) // pin: one computation feeds append + POST
    // Idempotent per batch: a replayed batch (e.g. after a failed
    // outbound POST below) OVERWRITES its own (runKey, batchId)
    // partition instead of appending duplicate rows — alertsDir keeps
    // its effectively-once property even when the push path flakes.
    // LAYOUT NOTE: alerts live under batch_key=… partition dirs; an
    // alertsDir written by a pre-partitioning build (flat part files)
    // must be migrated (read + rewrite) before pointing this at it —
    // parquet cannot mix leaf files at two directory depths.
    alerts.write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("batch_key")
      .parquet(alertsDir)
    // outbound delivery AFTER the durable append: a failed POST fails
    // the batch and the replay re-delivers (at-least-once, W3 live half)
    alertPush.foreach { case (poster, apiUrl, chatId) =>
      alerts.foreachPartition { (rows: Iterator[org.apache.spark.sql.Row]) =>
        rows.foreach { r =>
          val status = poster.post(apiUrl,
            PushSinks.telegramPayload(chatId, r.getAs[String]("message")))
          if (status < 200 || status >= 300)
            throw new IllegalStateException(s"alert POST failed: HTTP $status")
        }
      }
    }
    reportPush.foreach { case (poster, url) =>
      PushSinks.pushReport(result.report, poster, url)
    }

    // Atomic store swap: write to a staging dir, then rename over.
    // Partitioned by hiring_tier — the Spark analogue of the reference's
    // idx_hiring_tier secondary index (schema.sql:29-30): tier-filtered
    // reads (the alert path) prune to one partition directory.
    val staging = s"$storeDir-staging-$batchId"
    result.newStore.write.partitionBy("hiring_tier").mode("overwrite").parquet(staging)
    val target = Paths.get(storeDir)
    if (Files.exists(target)) {
      val old = Paths.get(s"$storeDir-old-$batchId")
      Files.move(target, old, StandardCopyOption.ATOMIC_MOVE)
      Files.move(Paths.get(staging), target)
      org.apache.commons.io.FileUtils.deleteDirectory(old.toFile)
    } else {
      Files.move(Paths.get(staging), target)
    }
    result.batch.unpersist()
  }

  /** Start the stream over a streaming feed-entries DataFrame. */
  def start(feedStream: DataFrame, checkpointDir: String,
            availableNow: Boolean = false): StreamingQuery = {
    // stable across restarts from the same checkpoint (the streaming
    // runId is NOT — it changes per restart, which would defeat the
    // replay-overwrite idempotency of the alert append)
    val runKey = f"${scala.util.hashing.MurmurHash3.stringHash(checkpointDir)}%08x"
    val w = feedStream.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch((b: DataFrame, id: Long) => processBatch(b, id, runKey))
    (if (availableNow) w.trigger(Trigger.AvailableNow()) else w).start()
  }
}
