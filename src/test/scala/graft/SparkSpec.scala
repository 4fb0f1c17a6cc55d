package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared test SparkSession.
  *
  * `ConvertToLocalRelation` is excluded so that expressions over small
  * in-memory test DataFrames actually run through the physical engine
  * (whole-stage codegen) instead of being constant-folded by the
  * optimizer's interpreted eval — otherwise a `doGenCode` bug in a
  * custom expression would never surface in tests.
  */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session

  /** Collect a single-column DataFrame to a Seq for assertions. */
  def col1[T](df: org.apache.spark.sql.DataFrame): Seq[T] =
    df.collect().toSeq.map(r => if (r.isNullAt(0)) null.asInstanceOf[T] else r.getAs[T](0))
}

object SparkSpec {
  lazy val session: SparkSession = {
    // the mains' engine conf (GraftSession), plus the suite's own
    // warehouse and optimizer exclusion
    val s = GraftSession.builder(4)
      .appName("graft-test")
      // fresh warehouse per test JVM: catalog tables (band indexes,
      // tombstones) must not leak between `sbt test` runs — especially
      // now that Tombstones.adopt deliberately resurrects a previous
      // JVM's orphaned delete markers (the durability contract a
      // persistent-warehouse deployment wants, and exactly what a
      // fresh-fixture test run does not)
      .config("spark.sql.warehouse.dir",
        java.nio.file.Files.createTempDirectory("graft-warehouse")
          .toString)
      .config("spark.sql.optimizer.excludedRules",
        "org.apache.spark.sql.catalyst.optimizer.ConvertToLocalRelation")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
