package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.functions.GraftFunctions.words
import graft.operators.{Checkpoints, Dedup}

/** Streaming near-dup gate — the continuous form of q54's incremental
  * dedup: a stream of documents where each micro-batch
  *
  *  1. dedups WITHIN itself (banded LSH + Jaccard verify; greedy
  *     keep-smallest-id on verified pairs),
  *  2. probes the survivors against the ON-DISK corpus band index
  *     ([[Dedup.writeBandIndex]] tables — bucketed, so the corpus side
  *     is never re-shuffled or recomputed),
  *  3. appends what survives to the kept-documents store AND into the
  *     band index itself — so batch N+1 dedups against everything
  *     batches 1..N admitted. The index grows by exactly the admitted
  *     documents; nothing corpus-sized is ever cached in memory.
  *
  * Delivery semantics: the kept-docs write is idempotent per batch
  * (each batch overwrites its own `batch=<id>` partition — the alerts-
  * dir pattern); index appends are at-least-once, made replay-safe by
  * excluding same-id matches in the probe (a replayed document finding
  * its own earlier append must not flag itself a duplicate). Duplicate
  * index rows from a replay cost storage, not correctness (candidate
  * pairs are DISTINCT); a periodic offline compaction can rewrite the
  * index tables.
  *
  * Cost per batch scales with the BATCH (shingling, banding, bucket
  * probes), never with the corpus — the property that makes this the
  * daily-ingest shape at 100 TB.
  */
object StreamingContentDedup {

  private val Bands = 4
  private val RowsPerBand = 2
  private val Seeds = 8

  private def shingled(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), col("text"),
      Dedup.shingleHashes3(Dedup.wordHashes(words(col("text")))).as("sh"))
      .filter(size(col("sh")) > 0)

  private def banded(sh: DataFrame): DataFrame =
    Dedup.lshBands(
      sh.select(col("doc_id"), Dedup.minhashSig(col("sh"), Seeds).as("sig")),
      "doc_id", "sig", bands = Bands, rowsPerBand = RowsPerBand)

  /** Create the empty band-index tables if absent (first run). Empty
    * frames flow through the SAME expressions as real batches, so the
    * bootstrap schemas can never drift from the append schemas.
    */
  def bootstrapIndex(spark: SparkSession, prefix: String, buckets: Int): Unit = {
    if (!spark.catalog.tableExists(s"${prefix}_bands")) {
      import spark.implicits._
      val empty = shingled(Seq.empty[(Long, String)].toDF("doc_id", "text"))
      Dedup.writeBandIndex(banded(empty), empty.select(col("doc_id"), col("sh")),
        "doc_id", prefix, buckets)
    }
  }

  private def appendBucketed(df: DataFrame, table: String,
                             bucketCol: String, buckets: Int): Unit =
    df.write.mode("append").format("parquet")
      .bucketBy(buckets, bucketCol).sortBy(bucketCol)
      .saveAsTable(table)

  /** One micro-batch: writes the admitted documents to `keptPath`
    * (overwrite — the caller makes the path per-batch for idempotent
    * replay) and extends the index with them. Exposed for testing;
    * [[start]] wires it into `foreachBatch`.
    */
  def processBatch(spark: SparkSession, batch: DataFrame, prefix: String,
                   keptPath: String, jaccardMin: Double, buckets: Int): Unit = {
    val sh = shingled(batch).persist() // batch-sized, the only cache
    try {
      val bands = banded(sh)
      // intra-batch: greedy keep-smallest — every verified pair drops
      // its larger id (id_a < id_b by lshCandidatePairs' contract)
      val intraDrop = Dedup.lshCandidatePairs(bands, "doc_id")
        .join(sh.select(col("doc_id").as("id_a"), col("sh").as("sh_a")), "id_a")
        .join(sh.select(col("doc_id").as("id_b"), col("sh").as("sh_b")), "id_b")
        .filter(Dedup.jaccard(col("sh_a"), col("sh_b")) >= jaccardMin)
        .select(col("id_b").as("doc_id")).distinct()
      // cross-corpus probe against the bucketed on-disk index; same-id
      // matches excluded so a replayed append can't flag itself
      val (bandsT, shT) = Dedup.readBandIndex(spark, prefix)
      val crossDrop = Dedup.lshCrossPairs(bands, bandsT, "doc_id")
        .filter(col("id_new") =!= col("id_old"))
        .join(sh.select(col("doc_id").as("id_new"), col("sh").as("sh_a")), "id_new")
        .join(shT.select(col("doc_id").as("id_old"), col("sh").as("sh_b")), "id_old")
        .filter(Dedup.jaccard(col("sh_a"), col("sh_b")) >= jaccardMin)
        .select(col("id_new").as("doc_id")).distinct()
      val kept = sh
        .join(intraDrop, Seq("doc_id"), "left_anti")
        .join(crossDrop, Seq("doc_id"), "left_anti")
        .persist()
      try {
        // durable kept-docs write FIRST (materializes kept before the
        // index append mutates the tables beneath the probe plan)
        kept.select(col("doc_id"), col("text"))
          .write.mode("overwrite").parquet(keptPath)
        appendBucketed(banded(kept), s"${prefix}_bands", "band_key", buckets)
        appendBucketed(kept.select(col("doc_id"), col("sh")),
          s"${prefix}_shingles", "doc_id", buckets)
      } finally kept.unpersist()
    } finally sh.unpersist()
  }

  /** Start the gate on a streaming `(doc_id, text)` source. Admitted
    * documents land under `keptDir/batch=<id>/` (idempotent per batch).
    */
  def start(source: DataFrame, prefix: String, keptDir: String,
            checkpoint: String, jaccardMin: Double = 0.5,
            buckets: Int = 8): StreamingQuery = {
    bootstrapIndex(source.sparkSession, prefix, buckets)
    source.writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        processBatch(batch.sparkSession, batch, prefix,
          s"$keptDir/batch=$batchId", jaccardMin, buckets)
      }
      .option("checkpointLocation", checkpoint)
      .start()
  }

  /** Rebuild the band index FROM a `(doc_id, text)` corpus — the
    * re-derivation entry a text-rewriting maintenance pass needs
    * (boilerplate fingerprints live in the shingles, so a retroactive
    * scrub that rewrites kept text must re-fingerprint; a
    * [[Dedup.compactBandIndex]] only distincts the STALE rows). The
    * corpus flows through the exact per-batch shingle/band expressions,
    * so the rebuilt tables are bit-identical to what a fresh stream
    * over the same text would have appended. Catalog overwrite, the
    * [[Dedup.compactBandIndexWith]] swap semantics — run it with the
    * stream stopped (the retroactive-scrub contract) or accept the
    * missing-table window
    * [[graft.streaming.StreamingVectorIndex.rebuildIndex]] documents.
    */
  def rebuildIndexFrom(spark: SparkSession, corpus: DataFrame,
                       prefix: String, buckets: Int): Unit = {
    val sh = shingled(corpus)
    // materialize BEFORE the overwrite (the compactBandIndexWith
    // note): the corpus frame may read through catalog state
    val bands = Checkpoints.pin(banded(sh))
    val shD = Checkpoints.pin(sh.select(col("doc_id"), col("sh")))
    Dedup.writeBandIndex(bands, shD, "doc_id", prefix, buckets)
  }
}
