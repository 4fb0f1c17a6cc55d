package graft

import org.apache.spark.sql.SparkSession

/** The one local-mode session factory: every main (Bench, Verify,
  * Plans, Receipts, SoakGen, the dev tools) and the test suite run the
  * engine under the same conf, so a timing or a verdict taken by one of
  * them holds for the others.
  */
object GraftSession {

  /** The `local[cpus]` builder with the engine conf, for a caller that
    * must add static confs before the session exists (the test suite's
    * warehouse dir). */
  def builder(cpus: Int): SparkSession.Builder = SparkSession.builder()
    .master(s"local[$cpus]")
    .config("spark.sql.shuffle.partitions", cpus.toLong)
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    // delete reliable checkpoint data when its RDD is GC'd — the
    // cleanup half of Checkpoints.pin that release() can't do for
    // the final frame an operator returns (Checkpoints scaladoc)
    .config("spark.cleaner.referenceTracking.cleanCheckpoints", "true")
    // let AQE size the output partitions of CACHED plans too (round
    // 20; guide §2.2): off, every persisted bounded intermediate
    // (histograms, codebooks, signature tables, per-customer aggs)
    // stays fanned across spark.sql.shuffle.partitions near-empty
    // partitions and every consumer stage schedules that many tasks
    // — the round-19 verdict's "tiny-frame overhead class". Scale-
    // independent: AQE picks partition counts from bytes at any sf.
    .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning",
      "true")

  /** A `local[cpus]` session with the engine conf, logging at WARN. */
  def local(cpus: Int): SparkSession = {
    val spark = builder(cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
