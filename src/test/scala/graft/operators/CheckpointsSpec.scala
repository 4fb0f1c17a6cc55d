package graft.operators

import graft.SparkSpec

/** Checkpoints.pin must upgrade to a RELIABLE checkpoint when the
  * session has a checkpoint dir (cluster deployments: survives executor
  * loss) and operators must inherit that via session config alone.
  */
class CheckpointsSpec extends SparkSpec {

  import spark.implicits._

  test("pin uses the reliable checkpoint dir when configured, local otherwise") {
    val sc = spark.sparkContext
    assert(sc.getCheckpointDir.isEmpty) // test default: local mode
    val local = Checkpoints.pin(Seq(1, 2, 3).toDF("x"))
    assert(local.count() == 3)

    val dir = java.nio.file.Files.createTempDirectory("graft-ckpt")
    sc.setCheckpointDir(dir.toString)
    try {
      val reliable = Checkpoints.pin(Seq(4, 5).toDF("x"))
      assert(reliable.count() == 2)
      // the checkpoint dir now holds the materialized RDD files
      val files = java.nio.file.Files.walk(dir).count()
      assert(files > 1, s"expected checkpoint files under $dir")

      // an operator built on pin runs unchanged under reliable mode
      val labels = Dedup.connectedComponents(
        Seq((2L, 1L), (3L, 2L)).toDF("a", "b"), "a", "b")
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(labels == Map(1L -> 1L, 2L -> 1L, 3L -> 1L))
    } finally {
      // restore the shared session: other suites must keep
      // localCheckpoint semantics regardless of suite ordering
      org.apache.spark.GraftCheckpointTestHook.clear(sc)
      org.apache.commons.io.FileUtils.deleteDirectory(dir.toFile)
    }
    assert(sc.getCheckpointDir.isEmpty)
  }

  test("iterative operators release superseded checkpoints (bounded storage)") {
    val sc = spark.sparkContext
    val dir = java.nio.file.Files.createTempDirectory("graft-ckpt-hyg")
    sc.setCheckpointDir(dir.toString)
    try {
      // a 33-node chain: multiple large/small-star rounds, so the loop
      // pins (and must release) several per-round edge frames
      val edges = (0L until 32L).map(i => (i + 1, i)).toDF("a", "b")
      val labels = Dedup.connectedComponents(edges, "a", "b")
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(labels.size == 33 && labels.values.forall(_ == 0L))

      // only the pins the RETURNED frame still reads may remain on
      // disk: canon (feeds verts) and the final edge frame — every
      // superseded round's checkpoint must have been deleted. (≤, not
      // ==: the session runs with cleanCheckpoints=true, so the
      // ContextCleaner may ALSO have collected the final frames by now)
      import scala.jdk.CollectionConverters._
      def rddDirs = java.nio.file.Files.walk(dir).iterator().asScala
        .filter(p => p.getFileName.toString.startsWith("rdd-") &&
          java.nio.file.Files.isDirectory(p))
        .toList
      assert(rddDirs.size <= 2,
        s"superseded round checkpoints must not accumulate, got: $rddDirs")

      // release() frees a pin deterministically (no waiting on GC):
      // the exact checkpoint dir must exist before and be gone after
      val pinned = Checkpoints.pin(Seq(1, 2).toDF("x"))
      assert(pinned.count() == 2)
      val ckptFile = org.apache.spark.sql.graftrdd.backingRdd(pinned)
        .flatMap(_.getCheckpointFile)
      assert(ckptFile.isDefined, "reliable pin must have a checkpoint file")
      val ckptPath = java.nio.file.Paths.get(new java.net.URI(ckptFile.get).getPath)
      assert(java.nio.file.Files.exists(ckptPath), s"missing: $ckptPath")
      Checkpoints.release(pinned)
      assert(!java.nio.file.Files.exists(ckptPath),
        s"release must delete the pinned dir: $ckptPath")
    } finally {
      org.apache.spark.GraftCheckpointTestHook.clear(sc)
      org.apache.commons.io.FileUtils.deleteDirectory(dir.toFile)
    }
  }

  test("StreamingPipeline.processBatch pins through Checkpoints: reliable " +
    "checkpoint files land under the configured dir") {
    import graft.pipeline.DemoFixtures
    import scala.jdk.CollectionConverters._
    val sc = spark.sparkContext
    val dir = java.nio.file.Files.createTempDirectory("graft-ckpt-leads")
    val out = java.nio.file.Files.createTempDirectory("graft-leads-out")
    sc.setCheckpointDir(dir.toString)
    try {
      val fx = DemoFixtures(spark)
      new graft.streaming.StreamingPipeline(spark, fx,
          storeDir = s"$out/store", alertsDir = s"$out/alerts",
          asOf = DemoFixtures.AsOf)
        .processBatch(fx.feedEntries, 0L)
      // the alert pin is the batch's only materialization: with a
      // checkpoint dir it must be a reliable checkpoint (an rdd-N dir),
      // not executor-local blocks
      val rddDirs = java.nio.file.Files.walk(dir).iterator().asScala
        .filter(p => p.getFileName.toString.startsWith("rdd-"))
        .toList
      assert(rddDirs.nonEmpty,
        s"processBatch must write reliable checkpoint files under $dir")
      assert(spark.read.parquet(s"$out/alerts").count() > 0,
        "the pinned alerts must still reach the alerts sink")
    } finally {
      org.apache.spark.GraftCheckpointTestHook.clear(sc)
      org.apache.commons.io.FileUtils.deleteDirectory(dir.toFile)
      org.apache.commons.io.FileUtils.deleteDirectory(out.toFile)
    }
  }
}
