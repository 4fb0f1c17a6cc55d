package perfbench

import java.io.File
import java.lang.management.{ManagementFactory, MemoryType}
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** The benchmark's JVM side: one workload, closed loop, one driver
  * thread. `perfbench/run.py` generates the inputs, launches this main
  * and checks what it writes; see `perfbench/README.md`.
  *
  * Usage: `perfbench.Main key=value ...` with keys `workload`
  * (queries | curation | leads), `inputs`, `run`, `seed`, `seconds`,
  * `trace`, `cpus`, `min_units`, `fn_rows`, and the workload's own keys
  * (`queries`; `batch_docs`, `warm_batches`, `max_segments`; `replicas`,
  * `store_rows`). Writes `<run>/result.json`.
  */
object Main {

  /** One measured operation: a query execution or a stream batch. */
  case class OpResult(name: String, unit: Int, wallS: Double, rows: Long,
                      ok: Boolean, err: Option[String]) {
    def toJson: String = Json(mutable.LinkedHashMap[String, Any](
      "name" -> name, "unit" -> unit, "wall_s" -> wallS, "rows" -> rows,
      "ok" -> ok, "err" -> err))
  }

  final class Ctx(val spark: SparkSession, val args: Map[String, String]) {
    val seed: Long = args("seed").toLong
    val inputs: String = args("inputs")
    val run: String = args("run")
    val seconds: Double = args("seconds").toDouble
    val tracer: Option[Tracer] =
      if (args("trace") == "1") Some(new Tracer(spark)) else None
    val ops = mutable.ArrayBuffer.empty[OpResult]
    val checks = mutable.ArrayBuffer.empty[(String, Boolean, String)]
    val out = mutable.LinkedHashMap.empty[String, Any]
    var setupEndMs = 0L
    var windowS = 0.0
    private var gcAtStart = 0L
    private var cpuAtStart = 0L

    def int(key: String): Int = args(key).toInt
    private val born = System.nanoTime()
    /** Stamp a set-up step in the JVM log (seconds since the session). */
    def log(step: String): Unit =
      System.err.println(f"[perfbench] ${(System.nanoTime() - born) / 1e9}%.2f s: $step")
    def check(name: String, ok: Boolean, detail: => String = ""): Unit =
      checks += ((name, ok, if (ok) "" else detail))

    /** Set-up ends here: reset the heap peak and start the window. */
    def startWindow(): Long = {
      ManagementFactory.getMemoryPoolMXBeans.asScala
        .filter(_.getType == MemoryType.HEAP).foreach(_.resetPeakUsage())
      gcAtStart = gcMs()
      cpuAtStart = cpuNs()
      setupEndMs = System.currentTimeMillis()
      setupEndMs
    }

    def endWindow(): Unit = {
      windowS = (System.currentTimeMillis() - setupEndMs) / 1000.0
      out("gc_s") = (gcMs() - gcAtStart) / 1000.0
      out("cpu_s") = (cpuNs() - cpuAtStart) / 1e9
      out("peak_heap_mb") = ManagementFactory.getMemoryPoolMXBeans.asScala
        .filter(_.getType == MemoryType.HEAP)
        .map(_.getPeakUsage.getUsed).sum / MB
    }

    /** Whether another unit of work (a query pass, a batch) taking as
      * long as the last one still ends inside the window. */
    def fits(lastUnitS: Double): Boolean =
      (System.currentTimeMillis() - setupEndMs) / 1000.0 + lastUnitS <= seconds

    /** Time `body` as one operation; traced runs also open a ledger row,
      * handed to `body` so it can record child spans. A throw fails the
      * operation, and the workload goes on. */
    def op(name: String, unit: Int, rows: Long)
          (body: Option[TraceOp] => Boolean): Option[TraceOp] = {
      val row = tracer.map(_.begin(name, unit))
      val t0 = System.nanoTime()
      val (ok, err) =
        try (body(row), None)
        catch { case e: Throwable =>
          System.err.println(s"[perfbench] $name/$unit failed: $e")
          (false, Some(e.toString.take(300)))
        }
      val wall = (System.nanoTime() - t0) / 1e9
      tracer.zip(row).foreach { case (t, r) => t.end(r, wall) }
      ops += OpResult(name, unit, wall, rows, ok, err)
      row
    }
  }

  private val MB = 1024.0 * 1024.0

  /** CPU time of the whole JVM: driver, task, JIT and GC threads. */
  private def cpuNs(): Long = ManagementFactory.getOperatingSystemMXBean match {
    case os: com.sun.management.OperatingSystemMXBean => os.getProcessCpuTime
    case _ => 0L
  }

  private def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).filter(_ >= 0).sum

  /** Drop every cached plan and persistent RDD, so each measured query
    * runs the plan a cold caller runs. */
  def clearCaches(spark: SparkSession): Unit = {
    spark.sharedState.cacheManager.clearCache()
    val persisted = spark.sparkContext.getPersistentRDDs.values
    persisted.foreach(_.unpersist(blocking = true))
    if (persisted.nonEmpty) System.gc()
  }

  def dirBytes(f: File): Long =
    if (!f.exists) 0L
    else if (f.isFile) f.length
    else Option(f.listFiles).toSeq.flatten.map(dirBytes).sum

  def main(argv: Array[String]): Unit = {
    val args = argv.map { a =>
      val i = a.indexOf('=')
      a.take(i) -> a.drop(i + 1)
    }.toMap
    val cpus = args("cpus")
    // graft.Bench's session confs; the directories are per run (passed
    // as system properties by the launcher)
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.cleaner.referenceTracking.cleanCheckpoints", "true")
      .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning",
        "true")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val ctx = new Ctx(spark, args)
    args("workload") match {
      case "queries" => Workloads.queries(ctx)
      case "curation" => Workloads.curation(ctx)
      case "leads" => Workloads.leads(ctx)
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }
    ctx.tracer.foreach { t =>
      Microbench.functions(ctx)
      System.gc()
      val heap = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage
      ctx.out("heap_used_mb") = heap.getUsed / MB
      ctx.out("ledger") = RawJson(t.finish().mkString("[", ",\n", "]"))
    }
    ctx.out("canary_s") = Microbench.canary(spark, cpus.toInt)
    val res = mutable.LinkedHashMap[String, Any](
      "setup_end_ms" -> ctx.setupEndMs, "window_s" -> ctx.windowS,
      "ops" -> RawJson(ctx.ops.map(_.toJson).mkString("[", ",\n", "]")),
      "checks" -> ctx.checks.map { case (n, ok, d) =>
        mutable.LinkedHashMap("name" -> n, "ok" -> ok, "detail" -> d) })
    res ++= ctx.out
    Files.writeString(Paths.get(ctx.run, "result.json"), Json(res) + "\n")
    spark.stop()
  }
}

/** Pre-rendered JSON, spliced as is. */
final case class RawJson(text: String) {
  override def toString: String = text
}
