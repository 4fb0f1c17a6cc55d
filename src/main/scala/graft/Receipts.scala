package graft

import scala.util.chaining._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.GraftFunctions.hash64
import graft.operators.{Checkpoints, Similarity}
import graft.operators.Similarity.Slicing

/** Scale-receipt harness: the one-off measurements BASELINE.md's soak
  * tables record, committed so every number is reproducible from the
  * tree instead of living in a throwaway script. Each invocation runs
  * ONE measurement in a fresh JVM (the round-16 receipt protocol —
  * cross-form comparisons come from separate invocations so neither
  * form warms the other's page cache or JIT) and prints one JSON line.
  *
  * Not part of the driver contract: no oracle rows here — these mains
  * measure wall/recall of operators whose CORRECTNESS is pinned by
  * `SparkEntry.queries` + the specs. Fixture arithmetic is the q169
  * plant recipe (64 md5-smallest embedding rows, amplitude-spread
  * md5 noise, plant id = vec_id + 10⁹) so receipts and oracle-checked
  * queries measure the same planted structure.
  *
  * Usage: `Receipts <cmd> <sfDir> [args…]` with commands
  *  - `sharded <dir> <shards> <kmax> <filter|mat> [parallelism]` —
  *    id-hash sharded SemDeDup, one form;
  *  - `content <dir> <planes> <tables> <filter|mat> [kmax]
  *    [parallelism]` — content-keyed sharded SemDeDup with the 64
  *    plants aboard (verdict_md5 pins byte-identity across forms and
  *    parallelism levels);
  *  - `family <dir> <families>` — flat multi-family SemDeDup with the
  *    plants aboard (per-family-prefix recall from one run);
  *  - `contentfam <dir> <planes> <tables> <families> [parallelism]` —
  *    the COMPOSED deployment point: content sharding × the families
  *    dial ([[graft.operators.Similarity.semDedupSliced]] with
  *    [[graft.operators.Similarity.Slicing.Content]] and `families`,
  *    one shared materialization), per-family-prefix recall from one
  *    run;
  *  - `streamsem <dir> <nprobe> [families]` — streaming semantic gate:
  *    soak index from the embeddings table (plus an independently
  *    seeded second quantizer tree per extra family), one 64-plant +
  *    16-clean batch gated, in-stream recall + per-batch wall;
  *  - `streamsem2 <dir> <nprobe> [families] [fillers]` — the RE-ARMED
  *    gate fixture (round 19): the amplitude-spread plants saturated at
  *    families = 3 (recall 1.0 — a harness that can no longer fail
  *    measures nothing), so these plants are τ-ADJACENT — each
  *    perturbation is sized by per-plant bisection so cos(source,
  *    plant) lands at 0.8005 + 0.01·(id % 5), i.e. {0.80..0.84} hard
  *    against τ = 0.8 — and the batch is DILUTED with a filler band of
  *    synthetic novel vectors (default 256; all must be admitted, the
  *    zero-false-drop pin at volume);
  *  - `contentmat <dir> <planes> <tables> <matPath>` — write the
  *    content-shard materialization (plants aboard) ONCE for a
  *    cross-JVM fan-out;
  *  - `contentrun <dir> <planes> <tables> <matPath> <lo-hi> <outPath>
  *    [families] [parallelism]` — run ONE JVM's shard range against an
  *    existing materialization
  *    ([[graft.operators.Similarity.Slicing.Materialized]]),
  *    verdict written to `outPath`;
  *  - `contentmd5 <outPath> [outPath…]` — union the per-JVM verdicts
  *    and print drops/plants/verdict_md5 (compare against the
  *    single-JVM run's md5 — byte-identity across the JVM split).
  */
object Receipts {
  private val TestN = 64

  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: Receipts <cmd> <sfDir> [args...]")
    val cmd = args(0); val dir = args(1)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = GraftSession.local(cpus.toInt)

    val out = cmd match {
      case "sharded" =>
        val shards = args(2).toInt; val kmax = args(3).toInt
        val form = args(4)
        val par = if (args.length > 5) args(5).toInt else 1
        val vecs = embeddings(spark, dir).persist()
        vecs.count()
        val mp = if (form == "mat") Some(tmp("sharded")) else None
        val (wall, n) = timeCount(Similarity.semDedupSliced(vecs,
          "embedding", "vec_id", targetCell = 64L, tau = 0.95,
          Slicing.IdHash(shards), kmax = kmax, matPath = mp,
          parallelism = par))
        s"""{"cmd":"sharded","form":"$form","shards":$shards,"kmax":$kmax,"parallelism":$par,"wall_sec":$wall,"rows":$n}"""
      case "content" =>
        val planes = args(2).toInt; val tables = args(3).toInt
        val form = args(4)
        val kmax = if (args.length > 5) args(5).toInt else Int.MaxValue
        val par = if (args.length > 6) args(6).toInt else 1
        val vecs = withPlants(spark, dir).persist()
        vecs.count()
        val mp = if (form == "mat") Some(tmp("content")) else None
        val t0 = System.nanoTime()
        val drops = Similarity.semDedupSliced(vecs, "embedding", "vec_id",
            targetCell = 64L, tau = 0.8, Slicing.Content(64, planes, tables),
            kmax = kmax, matPath = mp, parallelism = par)
          .select(col("vec_id")).distinct().persist()
        val nDrops = drops.count()
        val wall = (System.nanoTime() - t0) / 1e9
        val caught = drops.filter(col("vec_id") >= 1000000000L).count()
        val vmd5 = verdictMd5(drops)
        s"""{"cmd":"content","form":"$form","planes":$planes,"tables":$tables,"kmax":$kmax,"parallelism":$par,"wall_sec":$wall,"drops":$nDrops,"plants_caught":$caught,"plants":$TestN,"verdict_md5":"$vmd5"}"""
      case "contentfam" =>
        val planes = args(2).toInt; val tables = args(3).toInt
        val families = args(4).toInt
        val par = if (args.length > 5) args(5).toInt else 1
        val vecs = withPlants(spark, dir).persist()
        vecs.count()
        val t0 = System.nanoTime()
        val all = Similarity.semDedupSliced(vecs, "embedding", "vec_id",
            targetCell = 64L, tau = 0.8, Slicing.Content(64, planes, tables),
            families = families, matPath = Some(tmp("contentfam")),
            parallelism = par)
          .select(col("family"), col("vec_id")).persist()
        all.count()
        val wall = (System.nanoTime() - t0) / 1e9
        // per-prefix stats from the ONE run (the `family` mode shape):
        // families = k is exactly the union of families 0..k-1
        val rows = (1 to families).map { k =>
          val d = all.filter(col("family") < k)
            .select(col("vec_id")).distinct()
          val nD = d.count()
          val c = d.filter(col("vec_id") >= 1000000000L).count()
          s"""{"families":$k,"drops":$nD,"plants_caught":$c}"""
        }
        // byte-identity of the FULL (all-family) drop set across
        // parallelism levels — the round-18 content-mode pin applied here
        val vmd5 = verdictMd5(all.select(col("vec_id")).distinct())
        s"""{"cmd":"contentfam","planes":$planes,"tables":$tables,"families":$families,"parallelism":$par,"wall_sec":$wall,"plants":$TestN,"verdict_md5":"$vmd5","per_prefix":[${rows.mkString(",")}]}"""
      case "family" =>
        val families = args(2).toInt
        val vecs = withPlants(spark, dir).persist()
        vecs.count()
        val t0 = System.nanoTime()
        val all = Similarity.semDedupSliced(vecs, "embedding",
            "vec_id", targetCell = 64L, tau = 0.8, families = families)
          .select(col("family"), col("vec_id")).persist()
        all.count()
        val wall = (System.nanoTime() - t0) / 1e9
        // per-prefix stats from the ONE run: families = k is exactly
        // the union of families 0..k-1 (seed prefixes)
        val rows = (1 to families).map { k =>
          val d = all.filter(col("family") < k)
            .select(col("vec_id")).distinct()
          val nD = d.count()
          val c = d.filter(col("vec_id") >= 1000000000L).count()
          s"""{"families":$k,"drops":$nD,"plants_caught":$c}"""
        }
        s"""{"cmd":"family","families":$families,"wall_sec":$wall,"plants":$TestN,"per_prefix":[${rows.mkString(",")}]}"""
      case "streamsem" =>
        val nprobe = args(2).toInt
        val families = if (args.length > 3) args(3).toInt else 1
        val batch = plantBatch(spark, dir).persist()
        streamGate(spark, dir, nprobe, families, batch, nClean = 16,
          cmd = "streamsem")
      case "streamsem2" =>
        val nprobe = args(2).toInt
        val families = if (args.length > 3) args(3).toInt else 1
        val fillers = if (args.length > 4) args(4).toInt else 256
        val batch = plantsTauAdjacent(spark, dir)
          .unionByName(fillerBand(spark, fillers)).persist()
        streamGate(spark, dir, nprobe, families, batch, nClean = fillers,
          cmd = "streamsem2")
      case "contentmat" =>
        val planes = args(2).toInt; val tables = args(3).toInt
        val matPath = args(4)
        val vecs = withPlants(spark, dir).persist()
        vecs.count()
        val t0 = System.nanoTime()
        Similarity.materializeContentShards(vecs, "embedding", 64,
          planes, tables, matPath)
        val wall = (System.nanoTime() - t0) / 1e9
        s"""{"cmd":"contentmat","planes":$planes,"tables":$tables,"matPath":"$matPath","wall_sec":$wall}"""
      case "contentrun" =>
        val planes = args(2).toInt; val tables = args(3).toInt
        val matPath = args(4)
        val Array(lo, hi) = args(5).split("-").map(_.toInt)
        val outPath = args(6)
        val families = if (args.length > 7) args(7).toInt else 1
        val par = if (args.length > 8) args(8).toInt else 1
        val t0 = System.nanoTime()
        Similarity.semDedupSliced(spark.read.parquet(matPath),
            "embedding", "vec_id", targetCell = 64L, tau = 0.8,
            Slicing.Materialized(planes, tables, lo, hi),
            families = families, parallelism = par)
          .write.mode("overwrite").parquet(outPath)
        val wall = (System.nanoTime() - t0) / 1e9
        s"""{"cmd":"contentrun","planes":$planes,"tables":$tables,"shards":"$lo-$hi","families":$families,"parallelism":$par,"wall_sec":$wall,"out":"$outPath"}"""
      case "contentmd5" =>
        val drops = args.drop(1).map(spark.read.parquet(_))
          .reduce(_ unionByName _)
          .select(col("vec_id")).distinct().persist()
        val nDrops = drops.count()
        val caught = drops.filter(col("vec_id") >= 1000000000L).count()
        val vmd5 = verdictMd5(drops)
        s"""{"cmd":"contentmd5","drops":$nDrops,"plants_caught":$caught,"plants":$TestN,"verdict_md5":"$vmd5"}"""
      case other => sys.error(s"unknown receipt: $other")
    }
    println(out)
    spark.stop()
  }

  /** The shared streaming-gate protocol (streamsem / streamsem2): per
    * FAMILY an independently seeded trained coarse quantizer at the
    * semDedup target occupancy (the semDedupSliced family seed convention,
    * seed = f·1000), whole corpus admitted as batch 0 into every
    * family's own tree, then ONE timed `gateBatchMulti` pass over the
    * already-persisted `batch`. Plants carry ids in [10⁹, 2·10⁹),
    * clean/filler probes ids ≥ 2·10⁹.
    */
  private def streamGate(spark: SparkSession, dir: String, nprobe: Int,
                         families: Int, batch: DataFrame, nClean: Int,
                         cmd: String): String = {
    val vecs = embeddings(spark, dir).persist()
    val n = vecs.count()
    val k = Similarity.coarseCells(n, 64L)
    val fams = (0 until families).map { f =>
      val cents = Similarity.kmeans(vecs, "embedding", "vec_id",
        k = k, iters = 2, seed = 1000 * f).pipe(Checkpoints.pin)
      val ivf = tmp(s"$cmd-f$f")
      graft.streaming.StreamingVectorIndex.writeBatch(
        vecs.select(col("vec_id").as("cand_id"),
          col("embedding").as("cv")),
        cents, ivf, 0L)
      graft.streaming.StreamingSemanticDedup.QuantizerFamily(cents, ivf)
    }
    batch.count()
    val t0 = System.nanoTime()
    val admitted = graft.streaming.StreamingSemanticDedup.gateBatchMulti(
        spark, batch, "vec_id", "embedding", fams,
        tau = 0.8, nprobe = nprobe)
      .select(col("vec_id")).persist()
    val nAdm = admitted.count()
    val wall = (System.nanoTime() - t0) / 1e9
    val plantsAdmitted = admitted
      .filter(col("vec_id") >= 1000000000L &&
        col("vec_id") < 2000000000L).count()
    val cleanAdmitted = admitted
      .filter(col("vec_id") >= 2000000000L).count()
    val caught = TestN - plantsAdmitted
    s"""{"cmd":"$cmd","nprobe":$nprobe,"families":$families,"corpus":$n,"cells":$k,"wall_sec":$wall,"batch":${TestN + nClean},"admitted":$nAdm,"plants_caught":$caught,"plants":$TestN,"clean_admitted":$cleanAdmitted,"clean":$nClean}"""
  }

  /** The RE-ARMED plant set (round 19): the same 64 md5-smallest source
    * rows and the same deterministic unit-noise direction as [[plants]],
    * but each plant's amplitude is sized by BISECTION so cos(source,
    * plant) lands at `0.8005 + 0.01·(vec_id % 5)` — hard against the
    * τ = 0.8 the gate verifies at (the 5·10⁻⁴ offset keeps the
    * round-to-6 verification unambiguous), instead of the
    * amplitude-spread recipe whose 64 plants the families dial
    * saturated (recall 1.0 — BASELINE round-18). 64 rows collect to the
    * driver for the bisection: fixture arithmetic, not an operator —
    * the search is deterministic double arithmetic on hash-derived
    * noise, so every run rebuilds the identical plants.
    */
  private def plantsTauAdjacent(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val base = embeddings(spark, dir)
      .withColumn("_h", hash64(col("vec_id").cast("string"), 169))
      .orderBy(col("_h"), col("vec_id")).limit(TestN).drop("_h")
      .withColumn("_u", transform(col("embedding"), (x, i) =>
        (hash64(concat(col("vec_id").cast("string"), lit(":"),
          i.cast("string")), 8) % 1000L).cast("double") / 1000.0 - 0.5))
    val planted = base.select(col("vec_id"), col("embedding"), col("_u"))
      .collect().toSeq.map { r =>
        val id = r.getLong(0)
        val v = r.getSeq[Double](1).toArray
        val u = r.getSeq[Double](2).toArray
        val target = 0.8005 + 0.01 * (id % 5)
        def cosAt(a: Double): Double = {
          var vv = 0.0; var vp = 0.0; var pp = 0.0; var i = 0
          while (i < v.length) {
            val p = v(i) + a * u(i)
            vv += v(i) * v(i); vp += v(i) * p; pp += p * p; i += 1
          }
          vp / math.sqrt(vv * pp)
        }
        var hiA = 1.0
        while (cosAt(hiA) > target && hiA < 1e6) hiA *= 2
        var loA = 0.0
        var it = 0
        while (it < 80) {
          val mid = (loA + hiA) / 2
          if (cosAt(mid) > target) loA = mid else hiA = mid
          it += 1
        }
        val a = (loA + hiA) / 2
        (id + 1000000000L, v.indices.map(i => v(i) + a * u(i)).toSeq)
      }
    planted.toDF("vec_id", "embedding")
  }

  /** The filler band: `n` synthetic NOVEL vectors (hash-noise
    * components, centered) — random 64-dim directions sit at |cos| ≈
    * 0.125·Z of anything, so every filler must be admitted (P[any
    * false drop] < 10⁻⁵ across the band at τ = 0.8); ids ≥ 2·10⁹, the
    * clean-probe range.
    */
  private def fillerBand(spark: SparkSession, n: Int): DataFrame =
    spark.range(n).select(
      (col("id") + 2000000000L).as("vec_id"),
      transform(sequence(lit(0), lit(63)), d =>
        (hash64(concat(lit("fill:"), col("id").cast("string"), lit(":"),
          d.cast("string")), 19) % 1000L).cast("double") / 1000.0 - 0.5)
        .as("embedding"))

  private def tmp(tag: String): String =
    java.nio.file.Files.createTempDirectory(s"graft-receipt-$tag")
      .toString + "/data"

  private def embeddings(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(s"$dir/embeddings.parquet")
      .select(col("vec_id"),
        transform(col("embedding"), _.cast("double")).as("embedding"))

  /** The planted pairs, the round-16 end-to-end recipe: 64 md5-smallest
    * rows perturbed at amplitudes {0.05, 0.15, 0.25} (all above the
    * τ = 0.8 the receipts verify at, so `plants_caught / 64` reads as
    * recall directly), plant id = vec_id + 10⁹. q169/q172 measure the
    * wider {0.05..0.55} spread where recall-vs-amplitude is the point.
    */
  private def plants(spark: SparkSession, dir: String): DataFrame = {
    val amp = (lit(5L) + (col("vec_id") % 3) * 10L).cast("double") / 100.0
    embeddings(spark, dir)
      .withColumn("_h", hash64(col("vec_id").cast("string"), 169))
      .orderBy(col("_h"), col("vec_id")).limit(TestN).drop("_h")
      // perturb under the ORIGINAL id (the noise seed), then shift the
      // id in a second projection — never both at once (lateral-alias
      // capture, the q173 note)
      .select(col("vec_id"),
        transform(col("embedding"), (x, i) => x + amp *
          ((hash64(concat(col("vec_id").cast("string"), lit(":"),
            i.cast("string")), 8) % 1000L).cast("double") / 1000.0 - 0.5))
          .as("embedding"))
      .select((col("vec_id") + 1000000000L).as("vec_id"), col("embedding"))
  }

  private def withPlants(spark: SparkSession, dir: String): DataFrame =
    embeddings(spark, dir).unionByName(plants(spark, dir))

  /** The streamed batch: the 64 plants + 16 clean probes (antipodes of
    * md5-ranked rows 65..80 — cos −1 to their source, below any tau).
    */
  private def plantBatch(spark: SparkSession, dir: String): DataFrame = {
    val clean = embeddings(spark, dir)
      .withColumn("_h", hash64(col("vec_id").cast("string"), 169))
      .orderBy(col("_h"), col("vec_id")).limit(TestN + 16)
      .orderBy(col("_h").desc, col("vec_id")).limit(16)
      .select((col("vec_id") + 2000000000L).as("vec_id"),
        transform(col("embedding"), x => -x).as("embedding"))
    plants(spark, dir).unionByName(clean)
  }

  /** md5 over the sorted distinct drop-id list — byte-identity of a
    * verdict set across forms/parallelism in one comparable string.
    */
  private def verdictMd5(drops: DataFrame): String =
    drops.agg(md5(concat_ws(",",
        sort_array(collect_list(col("vec_id"))))).as("h"))
      .head().getString(0)

  /** Wall + row count, bracketing COMPOSITION as well as the count:
    * `df` is by-name because the sharded forms do eager work at
    * composition time (the matPath materialization write; with
    * parallelism > 1 every per-shard chain runs and pins there) — an
    * evaluated argument would exclude exactly the work being measured
    * (the round-17 id-hash mat rows excluded the materialization
    * write this way; re-measured in round 18).
    */
  private def timeCount(df: => DataFrame): (Double, Long) = {
    val t0 = System.nanoTime()
    val n = df.count()
    ((System.nanoTime() - t0) / 1e9, n)
  }
}
