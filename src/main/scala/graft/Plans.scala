package graft

import java.nio.file.{Files, Paths}

/** Dump `.explain("formatted")` for declared queries to files — the
  * plan evidence the optimization rounds commit under `plans/` (the
  * judge checks plan claims against these files, guide §7.2). One file
  * per query: `<outDir>/<name>_<suffix>.txt`.
  *
  * Usage: `runMain graft.Plans <sfDir> <outDir> <suffix> [q1,q2,…]`
  * (no name list = every declared query). Queries that do eager work
  * at composition time (trainings, materializations) run that work
  * here too — the dumped plan is the plan of the frame the bench's
  * noop write consumes, which is the honest object to pin.
  */
object Plans {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0); val outDir = args(1); val suffix = args(2)
    val names = if (args.length > 3)
      args(3).split(',').map(_.trim).filter(_.nonEmpty).toSeq
    else SparkEntry.queries.keys.toSeq.sorted
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = GraftSession.local(cpus.toInt)
    Files.createDirectories(Paths.get(outDir))
    names.foreach { n =>
      val df = SparkEntry.queries(n)(spark, sfDir)
      val txt = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      Files.writeString(Paths.get(s"$outDir/${n}_$suffix.txt"), txt)
      // the Bench between-queries reclaim, so composition residue from
      // one query never colors the next plan's statistics
      spark.sharedState.cacheManager.clearCache()
      spark.sparkContext.getPersistentRDDs.values
        .foreach(_.unpersist(blocking = false))
    }
    spark.stop()
  }
}
