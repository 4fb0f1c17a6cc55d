package graft.operators

/** Overlap INDEPENDENT eager chains (guide §2.6 "overlap independent
  * jobs"): Spark happily schedules several jobs at once inside one
  * application — iterative operators like
  * [[Dedup.connectedComponents]] and [[Graphs.pageRank]] are sequential
  * chains of small pin/broadcast jobs, and when a query runs several
  * such chains over the SAME pinned input, running them from separate
  * driver threads lets each chain's tasks back-fill the idle slots of
  * the others' stragglers and job gaps. Row-identity is trivial: the
  * chains share no mutable state (each consumes an already-pinned frame
  * and pins its own rounds), so the results are byte-identical to the
  * sequential composition.
  *
  * The one driver fan-out of the [[graft.operators]] package: q102 and
  * q104 overlap two chains, q176 two ranged SemDeDup runs, and
  * [[Similarity.semDedupSliced]] its per-(family, table, shard) slices.
  */
object Overlap {

  /** Run `jobs` and return their results in input order: in the
    * calling thread when `parallelism` = 1, else from a pool of
    * `min(parallelism, jobs.size)` driver threads.
    *
    * ABORT path, explicit: when any job throws, the fan-out does not
    * leave the other jobs running against a dead caller —
    *  - each pool thread tags its Spark jobs with one per-fan-out job
    *    group BEFORE its job starts any eager work (the group id is
    *    also added as a job tag, which threads spawned inside the job
    *    inherit, so a fan-out nested in a job — q176 — is reached too);
    *  - on failure every in-flight job's Spark jobs are cancelled by
    *    that tag, with task threads interrupted;
    *  - queued jobs that have not started refuse to (the abort flag);
    *  - the wait for the cancelled threads to settle is BOUNDED
    *    (10 min — a backstop, the cancellation is what unsticks a
    *    stalled job);
    *  - `release` is applied to the result of every job that DID
    *    complete (e.g. [[Checkpoints.release]] on pinned frames), and
    *    then the original failure rethrows.
    * An aborted fan-out leaks neither running jobs nor the storage of
    * its completed results.
    */
  def fanOut[A](jobs: Seq[() => A], parallelism: Int,
                release: A => Unit = (_: A) => ()): Seq[A] = {
    require(parallelism >= 1, "parallelism must be >= 1")
    if (parallelism == 1) jobs.map(_())
    else {
      import scala.concurrent.{Await, ExecutionContext, Future}
      import scala.concurrent.duration.{Duration, DurationInt}
      import scala.util.{Success, Try}
      val sc = org.apache.spark.sql.SparkSession.active.sparkContext
      val pool = java.util.concurrent.Executors.newFixedThreadPool(
        math.min(parallelism, jobs.size))
      implicit val ec: ExecutionContext =
        ExecutionContext.fromExecutorService(pool)
      val group = s"graft-fanout-${java.util.UUID.randomUUID()}"
      val aborted = new java.util.concurrent.atomic.AtomicBoolean(false)
      val futures = jobs.map { job => Future {
        if (aborted.get())
          throw new InterruptedException("fan-out aborted by a failed job")
        sc.setJobGroup(group, "graft fan-out job", interruptOnCancel = true)
        sc.addJobTag(group)
        try job() finally { sc.removeJobTag(group); sc.clearJobGroup() }
      } }
      try Await.result(Future.sequence(futures), Duration.Inf)
      catch { case e: Throwable =>
        aborted.set(true)
        Try(sc.cancelJobsWithTag(group))
        Try(Await.result(
            Future.sequence(futures.map(_.transform(Success(_)))),
            10.minutes))
          .toOption.toSeq.flatten.foreach {
            case Success(a) => Try(release(a))
            case _          => ()
          }
        throw e
      } finally pool.shutdown()
    }
  }
}
