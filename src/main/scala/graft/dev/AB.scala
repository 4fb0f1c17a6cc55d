package graft.dev

/** Dev diagnostic: interleaved A/B of a DYNAMIC SQL conf across declared
  * queries — both arms run alternately in the same JVM and window, so a
  * contended host inflates them equally (this sandbox shows 0-15% CPU
  * steal that varies minute to minute; sequential before/after runs are
  * not comparable). NOT part of the driver contract.
  *
  * Usage: `runMain graft.dev.AB <sfDir> <q1,q2,...> <conf=key> <valA> <valB> [pairs]`
  */
object AB {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val names = args(1).split(',').map(_.trim).filter(_.nonEmpty).toSeq
    val key = args(2)
    val valA = args(3)
    val valB = args(4)
    val pairs = if (args.length > 5) args(5).toInt else 3
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = graft.GraftSession.local(cpus.toInt)

    def clear(): Unit = {
      spark.sharedState.cacheManager.clearCache()
      spark.sparkContext.getPersistentRDDs.values
        .foreach(_.unpersist(blocking = false))
    }
    def run(n: String): Double = {
      val t0 = System.nanoTime()
      graft.SparkEntry.queries(n)(spark, sfDir)
        .write.format("noop").mode("overwrite").save()
      val t = (System.nanoTime() - t0) / 1e9
      clear()
      t
    }
    names.foreach { n =>
      run(n) // warmup, conf at session default
      val a = collection.mutable.ArrayBuffer.empty[Double]
      val b = collection.mutable.ArrayBuffer.empty[Double]
      (1 to pairs).foreach { _ =>
        spark.conf.set(key, valA); a += run(n)
        spark.conf.set(key, valB); b += run(n)
      }
      spark.conf.unset(key)
      def fmt(xs: Seq[Double]) =
        f"min ${xs.min}%.3f med ${xs.sorted.apply(xs.size / 2)}%.3f " +
          xs.map(x => f"$x%.2f").mkString("[", " ", "]")
      println(s"== $n  A($valA): ${fmt(a.toSeq)}")
      println(s"== $n  B($valB): ${fmt(b.toSeq)}")
    }
    spark.stop()
  }
}
