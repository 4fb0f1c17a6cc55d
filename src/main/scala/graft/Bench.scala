package graft

import java.nio.file.{Files, Paths}

/** Round benchmark: run every declared query on SPARK_GRAFT_SF_DIR and emit
  * one JSON line with per-query wall seconds.
  *
  * Measurement rules (round-1 verdict findings):
  *  - execute with a `noop` write, NOT `.count()` — count() lets Catalyst
  *    prune the projection and measures a cheaper plan than the one the
  *    correctness gate verified;
  *  - one untimed warmup pass (session init, codegen, Parquet footer reads)
  *    so the first timed query isn't billed ~10 s of JVM warmup;
  *  - JSON goes to a file (BENCH.json, or args(0)) as well as stdout —
  *    sbt's `[info]` stdout prefix broke machine parsing in round 1;
  *  - each query is timed twice and the MIN reported: identical code
  *    measured 48 s vs 89 s total across two driver runs (GC pauses and
  *    host contention), and min-of-2 removes most of that variance;
  *  - contention guard (round-8 finding: a fully-contended driver window
  *    reported a phantom 12.8x regression on q1 that min-of-2 could not
  *    see): each query's min-of-2 is compared against its own UNTIMED
  *    warmup wall time — the warmup ran the same plan cold, so timed
  *    runs exceeding 2.5x the warmup mean the host got busier AFTER
  *    warmup, not that the code got slower. Such queries get one extra
  *    timed pass (a later, possibly quieter window) and, if still over
  *    the threshold, are flagged in the JSON (`contended_queries` +
  *    run-level `contended`) so a bad run can't masquerade as a
  *    regression.
  *  - previous-round yardstick (round-10 finding: queries whose code was
  *    untouched since round 9 reported 3-5x phantom regressions in a run
  *    the warmup-only guard stamped `contended: false` — warmup and
  *    timed runs were EQUALLY slowed, so the ratio looked clean): the
  *    last round's per-query times are read from `BENCH.json` (override
  *    with SPARK_GRAFT_BENCH_PREV; skipped when the sf differs), any
  *    query whose best exceeds 1.5x its previous time + 0.2 s (2.5x
  *    for sub-0.5 s queries — jitter-dominated) gets a min-of-3
  *    confirmation rerun, and the JSON reports `rerun_delta`
  *    (seconds recovered by each rerun — a large delta means the first
  *    window was noisy, not the code) plus `prev_outliers` (still over
  *    the previous-round threshold after the rerun — a REAL candidate
  *    regression, or a deliberate trade recorded in BASELINE.md).
  *  - whole-run drift (round-11 finding: a busy host inflated EVERY
  *    query ~1.3x — under the 2.5x per-query threshold, so nothing was
  *    flagged, and the run read as ~30 phantom regressions): the JSON
  *    reports `median_vs_prev` (median per-query ratio against the
  *    previous round) and `env_drift` (true above 1.25) — an
  *    env-drifted run should be re-taken when quiet, not graded.
  *  - protocol stamping + canary (round-19 verdict findings: (a) the
  *    committed BENCH.json was silently an 8-core run, so the next
  *    round's comparison would have been cross-protocol; (b) a +26%-
  *    median window sailed through with `contended:false` because both
  *    guards are RELATIVE — nothing in the run measured the window's
  *    absolute noise floor): the JSON now carries `cpus`, the same
  *    JSON is ALSO written to `<out>.c<cpus>.json` so per-protocol
  *    artifacts can never overwrite each other, and a fixed-work
  *    canary (64M-row xxhash64 sum — constant cost, sf-independent,
  *    no I/O) is timed before and after the timed loop and reported
  *    as `canary_sec:[start,end]`; cross-round canary drift calibrates
  *    the window without touching any query's methodology.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val outFile = args.headOption.getOrElse("BENCH.json")
    val spark = GraftSession.local(cpus.toInt)

    def execute(name: String): Double = {
      val t0 = System.nanoTime()
      try SparkEntry.queries(name)(spark, sfDir)
        .write.format("noop").mode("overwrite").save()
      catch { case e: Throwable =>
        System.err.println(s"[bench] $name failed: ${e.getMessage}")
        return -1.0
      }
      (System.nanoTime() - t0) / 1e9
    }

    // Optional subset for dev soak runs: SPARK_GRAFT_QUERIES=q1_agg,q11_…
    val subset = sys.env.get("SPARK_GRAFT_QUERIES")
      .map(_.split(',').map(_.trim).filter(_.nonEmpty).toSet)
    val names = SparkEntry.queries.keys.toSeq.sorted
      .filter(n => subset.forall(_.contains(n)))
    // Queries that persist() intermediates (LSH signature tables) would
    // otherwise accumulate 40+ cached datasets over the run, evicting
    // each other and skewing later timings. Clearing BETWEEN queries
    // keeps memory flat; within a query, timed run 1 rebuilds its own
    // cache and run 2 reuses it, so min-of-2 still reports the warm
    // number.
    // clearCache alone is NOT enough (round-13 integrated-100x
    // finding): localCheckpoint blocks (Checkpoints.pin) are reclaimed
    // only when their RDD is GC'd, and in a large heap full GCs are
    // rare — so a long run accumulates every query's pinned frames
    // until the storage pool pressures later queries into evictions
    // and recomputes. Measured: q36 8.5-15.9 s isolated, 57 s right
    // after q35's 120M-row range exchange in the same JVM, 87 s deep
    // into the full 162-query 100x session. Dropping every persistent
    // RDD plus one GC nudge removes the residue deterministically.
    // The nudge is CONDITIONAL (round-14 adjudication of the round-13
    // whole-run +20%): an unconditional System.gc() between queries
    // taxes every subsequent small query ~0.1-0.3 s (G1 full GC
    // uncommits heap it must re-fault in, and the ContextCleaner's
    // GC-triggered cleanup spills into the next timed pass) — measured
    // 23.0 s vs 21.3 s on a 14-query A/B subset, concentrated on
    // sub-2 s queries. Only queries that actually leave pinned frames
    // (Checkpoints.pin final frames, LSH persist residue — the q36
    // 15.9 s -> 87 s class) need the reclaim, and those are exactly
    // the ones still registered in getPersistentRDDs. An RDD that was
    // already collected does not need the GC (the ContextCleaner's
    // reference queue cleans its blocks without one).
    // SPARK_GRAFT_BENCH_GC=0 disables the nudge outright — the A/B
    // dial for adjudicating whole-run shifts.
    val gcNudge = sys.env.getOrElse("SPARK_GRAFT_BENCH_GC", "1") != "0"
    def clearCache(): Unit = {
      spark.sharedState.cacheManager.clearCache()
      val persisted = spark.sparkContext.getPersistentRDDs.values
      if (gcNudge && persisted.nonEmpty) {
        persisted.foreach(_.unpersist(blocking = false))
        System.gc()
      }
    }
    // fixed-work canary (see scaladoc): constant cost at a given core
    // count, independent of sf and of any query's code — its absolute
    // seconds calibrate THIS window's noise floor round-over-round
    def canary(): Double = {
      val t0 = System.nanoTime()
      spark.range(0L, 64L << 20, 1L,
          scala.util.Try(cpus.toInt).getOrElse(8) * 2)
        .select(org.apache.spark.sql.functions.xxhash64(
          org.apache.spark.sql.functions.col("id")).as("h"))
        // bit_xor, not sum: ANSI mode makes a sum of 64M full-range
        // hashes overflow; xor is overflow-free and the same work
        .agg(org.apache.spark.sql.functions.expr("bit_xor(h)"))
        .write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }
    // warmup: untimed for reporting, but each query's cold wall time is
    // kept as the contention yardstick (see scaladoc)
    val warm = names.map { n => val t = execute(n); clearCache(); n -> t }.toMap
    val canaryStart = canary()
    // threshold: 2.5x the cold warmup, +0.2 s floor so sub-second
    // queries aren't flagged on scheduler jitter alone
    def thresh(n: String): Double =
      if (warm(n) < 0) Double.MaxValue else 2.5 * warm(n) + 0.2
    // previous-round per-query times (same JSON this main emits, read
    // before it is overwritten; ignored when missing or a different sf)
    val prevFile = sys.env.getOrElse("SPARK_GRAFT_BENCH_PREV", "BENCH.json")
    val prev: Map[String, Double] = try {
      val txt = Files.readString(Paths.get(prevFile))
      val sfOk = """"sf":"([^"]+)"""".r.findFirstMatchIn(txt)
        .exists(_.group(1) == sfDir)
      val start = txt.indexOf("\"queries\":{")
      val end = if (start < 0) -1 else txt.indexOf('}', start)
      if (!sfOk || end < 0) Map.empty
      else """"(q[A-Za-z0-9_]+)":(-?[0-9.][0-9.eE+-]*)""".r
        .findAllMatchIn(txt.substring(start, end + 1))
        .map(m => m.group(1) -> m.group(2).toDouble)
        .filter(_._2 >= 0).toMap
    } catch { case _: Exception => Map.empty }
    // round-12 finding: q141/q143 moved 2.3-2.5x vs the previous round
    // on untouched code and sat just UNDER the old 2.5x bar, so they
    // shipped unadjudicated. Second-scale queries get a 1.5x bar (a
    // real regression worth a look is rarely subtler than that, and
    // min-of-3 below absorbs the extra reruns noise would trigger);
    // sub-0.5 s queries keep 2.5x +0.2 s — scheduler jitter alone
    // moves them 1.5x.
    def prevThresh(n: String): Double =
      prev.get(n).map(p => (if (p >= 0.5) 1.5 else 2.5) * p + 0.2)
        .getOrElse(Double.MaxValue)
    // soak runs at large factors set SPARK_GRAFT_BENCH_TIMED=1: one
    // timed pass instead of min-of-2 (the driver protocol default)
    val timedPasses = sys.env.getOrElse("SPARK_GRAFT_BENCH_TIMED", "2").toInt
    val results = names.map { n =>
      val t1 = execute(n)
      val t2 = if (timedPasses > 1) execute(n) else t1
      // if EITHER timed run failed, report the failure marker — taking
      // the surviving run's time would mask a 50%-flaky query
      var best = if (t1 < 0 || t2 < 0) -1.0 else math.min(t1, t2)
      var rerunDelta = Option.empty[Double]
      if (best > thresh(n) || best > prevThresh(n)) {
        // min-of-3 confirmation: a single retry can itself land in a
        // noisy slot and leave a phantom regression standing (the
        // round-12 q141/q143 lesson); three passes in later windows
        // make a surviving outlier a REAL candidate, not host luck
        val retries = Seq.fill(3)(execute(n)).filter(_ >= 0)
        val before = best
        if (retries.nonEmpty && retries.min < best) best = retries.min
        rerunDelta = Some(before - best)
      }
      val contended = best > thresh(n)
      val prevOutlier = best >= 0 && best > prevThresh(n)
      clearCache()
      (n, best, contended, rerunDelta, prevOutlier)
    }

    // whole-run environment drift: the per-query 2.5x threshold misses
    // a BROAD slowdown (a busy host inflating every query ~1.3x flags
    // nothing, then reads as 30 phantom regressions round-over-round).
    // The median per-query ratio vs the previous round is the robust
    // whole-run signal: > ~1.25 means "re-run when quiet", not "30
    // queries regressed". Measured instance: two back-to-back full
    // runs of the same build at sf0.1 totaled 149.6 s (median ratio
    // 1.31) and 97.9 s (0.95).
    // sub-0.5 s queries are scheduler-jitter-dominated (a 0.2 s wobble
    // is a 1.7x "ratio"), so only second-scale queries vote; <10 voters
    // (dev subsets) → no verdict rather than a noisy one
    val medianDrift: Option[Double] = {
      val ratios = results.collect {
        case (k, v, _, _, _) if v >= 0 && prev.get(k).exists(_ >= 0.5) =>
          v / prev(k)
      }.sorted
      if (ratios.size < 10) None else Some(ratios(ratios.size / 2))
    }

    val qs = results.map { case (k, v, _, _, _) => "\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val flagged = results.collect { case (k, _, true, _, _) => "\"" + k + "\"" }
    val deltas = results.collect { case (k, _, _, Some(d), _) =>
      "\"" + k + "\":" + d }
    val prevOut = results.collect { case (k, _, _, _, true) => "\"" + k + "\"" }
    val total = results.map(_._2).filter(_ >= 0).sum
    val canaryEnd = canary()
    val json =
      s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,""" +
        s""""contended":${flagged.nonEmpty},""" +
        s""""contended_queries":${flagged.mkString("[", ",", "]")},""" +
        s""""rerun_delta":${deltas.mkString("{", ",", "}")},""" +
        s""""prev_outliers":${prevOut.mkString("[", ",", "]")},""" +
        medianDrift.map(m =>
          s""""median_vs_prev":${math.rint(m * 1000) / 1000.0},""" +
          s""""env_drift":${m > 1.25},""").getOrElse("") +
        s""""cpus":$cpus,""" +
        s""""canary_sec":[$canaryStart,$canaryEnd],""" +
        s""""sf":"$sfDir"}"""
    Files.writeString(Paths.get(outFile), json + "\n")
    // per-protocol copy: a later run at a DIFFERENT core count cannot
    // silently replace this protocol's number of record (round-19
    // ADVICE — the committed BENCH.json turned out to be an 8c run)
    Files.writeString(Paths.get(
      outFile.stripSuffix(".json") + s".c$cpus.json"), json + "\n")
    println(json)
    spark.stop()
  }
}
