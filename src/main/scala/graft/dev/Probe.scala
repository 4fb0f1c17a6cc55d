package graft.dev

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted}

/** Dev diagnostic: run selected declared queries in isolation and print
  * per-stage wall/task-time breakdowns (guide §1 "measure first" — the
  * Spark UI is disabled in this sandbox, so a listener substitutes for
  * the Stages tab). NOT part of the driver contract; timings here are
  * for finding WHERE a query spends, not the number of record.
  *
  * Usage: `runMain graft.dev.Probe <sfDir> <q1,q2,...> [passes]`
  */
object Probe {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val names = args(1).split(',').map(_.trim).filter(_.nonEmpty).toSeq
    val passes = if (args.length > 2) args(2).toInt else 2
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = graft.GraftSession.local(cpus.toInt)

    case class St(id: Int, name: String, wallMs: Long, taskMs: Long,
                  nTasks: Int, submitted: Long)
    val stages = new java.util.concurrent.ConcurrentLinkedQueue[St]()
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
      override def onStageCompleted(s: SparkListenerStageCompleted): Unit = {
        val i = s.stageInfo
        val wall = (for {a <- i.completionTime; b <- i.submissionTime}
          yield a - b).getOrElse(-1L)
        stages.add(St(i.stageId, i.name.takeWhile(_ != '\n'), wall,
          i.taskMetrics.executorRunTime, i.numTasks,
          i.submissionTime.getOrElse(-1L)))
      }
    }
    spark.sparkContext.addSparkListener(listener)

    names.foreach { n =>
      (1 to passes).foreach { p =>
        stages.clear(); jobs.set(0)
        val t0 = System.nanoTime()
        graft.SparkEntry.queries(n)(spark, sfDir)
          .write.format("noop").mode("overwrite").save()
        val wall = (System.nanoTime() - t0) / 1e9
        // let the listener bus drain before reading (private API — go
        // through a tiny sleep instead; diagnostics only)
        Thread.sleep(300)
        val ss = stages.toArray(Array.empty[St]).sortBy(-_.wallMs)
        val sumWall = ss.map(_.wallMs).sum / 1000.0
        val sumTask = ss.map(_.taskMs).sum / 1000.0
        println(f"== $n pass $p: wall $wall%.3f s, ${jobs.get()} jobs, " +
          f"${ss.length} stages (stage-wall sum $sumWall%.2f s, " +
          f"task-time sum $sumTask%.2f s)")
        ss.take(12).foreach { s =>
          println(f"   stage ${s.id}%4d wall ${s.wallMs / 1000.0}%7.3f s " +
            f"task ${s.taskMs / 1000.0}%7.3f s n=${s.nTasks}%3d  ${s.name}")
        }
      }
      spark.sharedState.cacheManager.clearCache()
      spark.sparkContext.getPersistentRDDs.values
        .foreach(_.unpersist(blocking = false))
    }
    spark.stop()
  }
}
