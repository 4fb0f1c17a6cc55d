package perfbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.Random

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import Main.{Ctx, clearCaches, dirBytes}

/** The workload loops (README.md says why each workload exists). Each
  * does its set-up, calls `ctx.startWindow()`, runs `min_units` units of
  * work and then more while the next still fits in `seconds`, calls
  * `ctx.endWindow()`, then checks its outputs. */
object Workloads {

  /** Order-free fingerprint of a result: equal iff the same multiset of
    * rows (as rendered by `Row.toString`). */
  def fingerprint(rows: Array[Row]): String = {
    val s = rows.map(_.toString).sorted
    s"${s.length}:${scala.util.hashing.MurmurHash3.seqHash(s.toSeq)}"
  }

  /** Declared queries from `SparkEntry.queries`, each once per pass in a
    * seed-shuffled order, from cleared caches. The set-up pass is the
    * warm-up; its results are saved for the DuckDB oracle and their
    * fingerprints checked against every measured execution. */
  def queries(ctx: Ctx): Unit = {
    val spark = ctx.spark
    val names = new Random(ctx.seed).shuffle(ctx.args("queries").split(',').toSeq)
    val all = graft.SparkEntry.queries
    val oracle = graft.SparkEntry.oracleSql
    ctx.out("order") = names
    ctx.out("oracle") = names.flatMap(n => oracle.get(n).map(n -> _)).toMap
    val expected = mutable.Map.empty[String, String]
    names.foreach { n =>
      try {
        val df = all(n)(spark, ctx.inputs)
        val rows = df.collect()
        spark.createDataFrame(rows.toSeq.asJava, df.schema).coalesce(1)
          .write.parquet(s"${ctx.run}/results/$n")
        expected(n) = fingerprint(rows)
      } catch { case e: Throwable =>
        ctx.check(s"$n.warmup", ok = false, e.toString.take(300))
      }
      clearCaches(spark)
      ctx.log(s"warm $n")
    }
    ctx.startWindow()
    var pass = 0
    var passS = 0.0
    while (pass < ctx.int("min_units") || ctx.fits(passS)) {
      val t0 = System.nanoTime()
      names.foreach { n =>
        clearCaches(spark)
        ctx.op(n, pass, 0L) { row =>
          val c0 = System.nanoTime()
          val df = all(n)(spark, ctx.inputs)
          row.foreach(_.spans("compose_s") = (System.nanoTime() - c0) / 1e9)
          expected.get(n).contains(fingerprint(df.collect()))
        }
      }
      passS = (System.nanoTime() - t0) / 1e9
      pass += 1
    }
    ctx.endWindow()
  }

  /** `StreamingCurationChain.processBatch` over the seed's documents,
    * dealt in seed order into `batch_docs`-row micro-batches, with line
    * curation, semantic dedup and compaction (`max_segments`) on. */
  def curation(ctx: Ctx): Unit = {
    import graft.operators.TextAnalysis
    import graft.streaming.{StreamingContentDedup, StreamingPostingsIndex,
      StreamingVectorIndex, StreamingCurationChain => Chain}
    val spark = ctx.spark
    import spark.implicits._
    val docs = spark.read.parquet(s"${ctx.inputs}/documents.parquet")
      .select("doc_id", "text", "lang", "source")
    val rnd = new Random(ctx.seed)
    val batches = rnd.shuffle(docs.collect().toSeq)
      .grouped(ctx.int("batch_docs")).toIndexedSeq
    val dir = s"${ctx.run}/chain"
    val (kept, card, ivf, post) = (s"$dir/kept", s"$dir/card", s"$dir/ivf", s"$dir/post")
    val prefix = "perfbench_chain"
    val centroids = (0 until 4).map(i => (i.toLong, Seq.fill(8)(rnd.nextGaussian())))
      .toDF("centroid_id", "centroid_vec")
    val pool = TextAnalysis.boilerplateLinePool(docs, "text", maxDf = 1L)
      .localCheckpoint(true)
    StreamingContentDedup.bootstrapIndex(spark, prefix, buckets = 8)
    val stageSpans = Map(1 -> "admit_s", 2 -> "card_s", 3 -> "index_s",
      4 -> "postings_s", 5 -> "maintain_s")
    def batch(i: Int, onStage: (Long, Int) => Unit): Unit =
      Chain.processBatch(spark, spark.createDataFrame(batches(i).asJava, docs.schema),
        prefix, kept, card, ivf, post, centroids, i.toLong,
        maxSegments = ctx.int("max_segments"),
        lineCuration = Some(Chain.LineCuration(pool)),
        semanticDedup = Some(Chain.SemanticDedup(tau = 0.99)),
        onStage = onStage)
    def keptRows(): Long =
      if (new java.io.File(kept).exists) spark.read.parquet(kept).count() else 0L
    val warm = ctx.int("warm_batches")
    ctx.log("pool and band index ready")
    (0 until warm).foreach { i => batch(i, (_, _) => ()); ctx.log(s"warm batch $i") }
    var keptBefore = if (ctx.tracer.isDefined) keptRows() else 0L
    ctx.startWindow()
    var i = warm
    while (i < batches.size &&
        (i < warm + ctx.int("min_units") || ctx.fits(ctx.ops.last.wallS))) {
      val n = batches(i).size
      val row = ctx.op("batch", i, n) { row =>
        var last = System.nanoTime()
        batch(i, (_, k) => {
          val now = System.nanoTime()
          row.foreach(_.spans(stageSpans(k)) = (now - last) / 1e9)
          last = now
        })
        true
      }
      row.foreach { r =>
        val k = keptRows()
        r.extra("admit_ratio") = (k - keptBefore).toDouble / n
        keptBefore = k
        r.extra("segments") = Option(new java.io.File(ivf).list()).toSeq.flatten
          .count(_.startsWith("batch=")).toDouble
        r.extra("disk_mb") = dirBytes(new java.io.File(dir)) / (1024.0 * 1024.0)
      }
      i += 1
    }
    ctx.endWindow()
    ctx.check("curation.stream_not_exhausted", i < batches.size,
      s"all ${batches.size} batches ran before the window closed")
    // the four artifacts describe the admitted set, once each
    val streamed = batches.take(i).flatten.map(_.getLong(0)).toSet
    val keptIds = spark.read.parquet(kept).select("doc_id").as[Long].collect()
    val keptSet = keptIds.toSet
    ctx.check("curation.kept_once", keptIds.length == keptSet.size,
      s"${keptIds.length} kept rows for ${keptSet.size} ids")
    ctx.check("curation.kept_from_stream", keptSet.subsetOf(streamed),
      s"${(keptSet -- streamed).size} kept ids never streamed")
    val ivfIds = StreamingVectorIndex.lists(spark, ivf).select("cand_id").as[Long]
      .collect().sorted.toSeq
    ctx.check("curation.ivf_matches_kept", ivfIds == keptIds.sorted.toSeq,
      s"ivf ${ivfIds.size} rows vs kept ${keptIds.length}")
    val postIds = StreamingPostingsIndex.postings(spark, post,
        spark.read.parquet(kept).select("doc_id", "text"), "doc_id", "text")
      .select("doc_id").distinct().as[Long].collect().toSet
    ctx.check("curation.postings_match_kept", postIds == keptSet,
      s"postings ${postIds.size} docs vs kept ${keptSet.size}")
    val cardDocs = spark.read.parquet(card).agg(sum("n_docs")).head().getLong(0)
    ctx.check("curation.card_matches_kept", cardDocs == keptIds.length,
      s"card counts $cardDocs docs vs kept ${keptIds.length}")
  }

  /** Report rows each leads batch pushes, captured in process. */
  object Capture extends graft.sources.PushSinks.HttpPoster {
    val payloads = new ConcurrentLinkedQueue[String]()
    override def post(url: String, jsonBody: String): Int = {
      payloads.add(jsonBody)
      200
    }
  }

  /** The reference pipeline as a stream: seeded replicas of
    * `DemoFixtures` arrive one per micro-batch at
    * `StreamingPipeline.processBatch`, against a store pre-grown to
    * `store_rows` rows. Replica r appends `-r<r>` to every article URL —
    * the feed links and the bodies, extractions and anchors keyed by
    * them — so each replica is new to the store anti-join and its
    * report is q27's golden report with that rewrite. */
  def leads(ctx: Ctx): Unit = {
    import graft.pipeline.DemoFixtures
    import graft.streaming.StreamingPipeline
    val spark = ctx.spark
    val base = DemoFixtures(spark)
    val articles = base.feedEntries.select("link").collect().map(_.getString(0)).toSet
    val replicas = new Random(ctx.seed).shuffle((0 until ctx.int("replicas")).toIndexedSeq)
    def rewrite(df: DataFrame, c: String, rs: Seq[Int]): DataFrame = {
      val i = df.schema.fieldIndex(c)
      val rows = df.collect()
      val out = rs.flatMap(r => rows.map { row =>
        val v = row.getString(i)
        if (v != null && articles(v)) Row.fromSeq(row.toSeq.updated(i, s"$v-r$r"))
        else row
      }).distinct
      spark.createDataFrame(out.asJava, df.schema)
    }
    val fx = base.copy(
      articleBodies = rewrite(base.articleBodies, "url", replicas),
      llmExtractions = rewrite(base.llmExtractions, "url", replicas),
      pageAnchors = rewrite(base.pageAnchors, "page_url", replicas))
    ctx.log("fixtures replicated")
    val storeDir = s"${ctx.run}/leads/store"
    growStore(spark, storeDir, ctx.int("store_rows"), replicas,
      DemoFixtures.initialStore(spark).head(), new Random(ctx.seed + 1))
    ctx.log("store grown")
    val pipeline = new StreamingPipeline(spark, fx, storeDir,
      s"${ctx.run}/leads/alerts", DemoFixtures.AsOf,
      reportPush = Some((Capture, "capture://report")))
    ctx.out("oracle") = Map("q27_pipeline_report" ->
      graft.SparkEntry.oracleSql("q27_pipeline_report"))
    val reports = mutable.ArrayBuffer.empty[Map[String, Any]]
    val feedRows = base.feedEntries.count()
    // the feed arrives before the batch starts: rewriting it is not timed
    def feed(b: Int): DataFrame = rewrite(base.feedEntries, "link", Seq(replicas(b)))
    def batch(b: Int, in: DataFrame): Unit = {
      Capture.payloads.clear()
      pipeline.processBatch(in, b, "perfbench")
    }
    def record(b: Int): Unit =
      reports += Map("unit" -> b, "replica" -> replicas(b),
        "payloads" -> Capture.payloads.asScala.toSeq)
    val warm = ctx.int("warm_batches")
    (0 until warm).foreach { b => batch(b, feed(b)); record(b); ctx.log(s"warm batch $b") }
    ctx.startWindow()
    var b = warm
    while (b < replicas.size &&
        (b < warm + ctx.int("min_units") || ctx.fits(ctx.ops.last.wallS))) {
      val in = feed(b)
      val row = ctx.op("batch", b, feedRows) { _ => batch(b, in); true }
      record(b)
      row.foreach { r =>
        r.extra("store_rows") = spark.read.parquet(storeDir).count().toDouble
        r.extra("store_mb") = dirBytes(new java.io.File(storeDir)) / (1024.0 * 1024.0)
      }
      b += 1
    }
    ctx.endWindow()
    ctx.check("leads.replicas_not_exhausted", b < replicas.size,
      s"all ${replicas.size} replicas ran before the window closed")
    ctx.out("reports") = reports
  }

  /** Write the pre-grown store: `n` filler companies plus, for every
    * replica, the replica's copy of `echo` (the store row q27's initial
    * store holds, so each replica's Echo article is already seen). */
  private def growStore(spark: SparkSession, dir: String, n: Int,
                        replicas: Seq[Int], echo: Row, rnd: Random): Unit = {
    import graft.pipeline.Pipeline
    val schema = Pipeline.emptyStore(spark).schema
    val url = schema.fieldIndex("source_url")
    val rounds = Seq("Seed", "Series A", "Series B", "Angel", null)
    val day = java.time.LocalDate.parse("2026-01-01")
    val filler = (0 until n).map { i =>
      Row(s"Filler Co $i", s"https://filler$i.example", null,
        (1 + rnd.nextInt(500)) * 100000L, rounds(rnd.nextInt(rounds.size)),
        Seq(s"Fund ${rnd.nextInt(300)}"), null, "USA",
        java.sql.Date.valueOf(day.plusDays(rnd.nextInt(220))),
        Seq("A", "B", "C")(rnd.nextInt(3)), rnd.nextInt(5), null, null,
        s"https://news.example.com/filler-$i",
        java.sql.Timestamp.valueOf("2026-08-01 00:00:00"))
    }
    val echoes = replicas.map(r =>
      Row.fromSeq(echo.toSeq.updated(url, s"${echo.getString(url)}-r$r")))
    spark.createDataFrame((filler ++ echoes).asJava, schema)
      .write.partitionBy("hiring_tier").parquet(dir)
  }
}
