package graft

import scala.util.chaining._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.GraftFunctions._
import graft.operators.{AsOfJoin, Checkpoints, Multimodal, RangeJoin,
  ScaleJoins}

/** Round-4 query surface: temporal joins (as-of, interval), the remaining
  * grouping/reshape shapes (cube, pivot), skew-safe join machinery, the
  * multimodal planning columns, and sequence window functions. Oracle-
  * parity rules as in [[Queries]]/[[Queries2]]; timestamps cross the
  * engine boundary as `epoch_us` BIGINTs (the driver testdata is
  * µs-aligned — see [[Tables]]).
  */
object Queries3 {

  private def t(s: org.apache.spark.sql.SparkSession, dir: String, name: String): DataFrame =
    Tables(s, dir, name)

  // ------------------------------------------------------------ q28_asof_join
  /** Backward as-of join ([[AsOfJoin]]): each purchase gets the latest
    * at-or-before view of the same user. The right side is pre-reduced to
    * one row per (user, ts) so the attach is deterministic; DuckDB's
    * native ASOF JOIN is the oracle.
    */
  val q28AsofJoin = QueryDef(
    "q28_asof_join",
    (s, dir) => {
      import s.implicits._
      val ev = t(s, dir, "events")
      val purchases = ev.filter($"event_type" === "purchase")
        .select($"event_id", $"user_id", $"ts")
      val views = ev.filter($"event_type" === "view")
        .groupBy($"user_id", $"ts")
        .agg(max($"event_id").as("view_id"))
      AsOfJoin.backward(purchases, views, Seq("user_id"), "ts", "ts", prefix = "v_")
        .select(
          $"event_id", $"user_id",
          unix_micros($"ts").as("ts_us"),
          $"v_view_id".as("view_id"),
          unix_micros($"v_ts").as("view_ts_us"),
          (unix_micros($"ts") - unix_micros($"v_ts")).as("gap_us"))
        .orderBy($"event_id")
    },
    Some("""
      WITH v AS (
        SELECT user_id, ts, max(event_id) AS view_id
        FROM events WHERE event_type = 'view' GROUP BY 1, 2),
      p AS (
        SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase')
      SELECT p.event_id, p.user_id, epoch_us(p.ts) AS ts_us,
             v.view_id, epoch_us(v.ts) AS view_ts_us,
             epoch_us(p.ts) - epoch_us(v.ts) AS gap_us
      FROM p ASOF LEFT JOIN v ON p.user_id = v.user_id AND v.ts <= p.ts
      ORDER BY p.event_id"""))

  // -------------------------------------------------------- q29_interval_join
  /** Interval join ([[RangeJoin]]): events of the same user in the hour
    * before each purchase, bucketized to an equi-join (never a per-key
    * cross product); zero-candidate purchases survive via the left join
    * back.
    */
  val q29IntervalJoin = QueryDef(
    "q29_interval_join",
    (s, dir) => {
      import s.implicits._
      val ev = t(s, dir, "events")
      val purchases = ev.filter($"event_type" === "purchase")
        .select($"event_id", $"user_id", $"ts")
      val cands = ev.select($"user_id", $"ts", $"event_id")
      val pairs = RangeJoin.lookbackPairs(
        purchases, cands, Seq("user_id"), "ts", "ts", windowSec = 3600L)
      val counts = pairs.groupBy($"event_id").agg(count(lit(1)).as("n"))
      purchases.join(counts, Seq("event_id"), "left")
        .select($"event_id", $"user_id", unix_micros($"ts").as("ts_us"),
          coalesce($"n", lit(0L)).as("n_prev_hour"))
        .orderBy($"event_id")
    },
    Some("""
      SELECT p.event_id, p.user_id, epoch_us(p.ts) AS ts_us,
             CAST(count(e.event_id) AS BIGINT) AS n_prev_hour
      FROM (SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase') p
      LEFT JOIN events e
        ON e.user_id = p.user_id
       AND e.ts >= p.ts - INTERVAL 1 HOUR AND e.ts < p.ts
      GROUP BY 1, 2, 3 ORDER BY p.event_id"""))

  // ------------------------------------------------------------------ q30_cube
  /** CUBE over two dimensions with grouping_id — all four grouping sets
    * in one pass (rollup's sibling; same partial-agg shuffle shape).
    */
  val q30Cube = QueryDef(
    "q30_cube",
    (s, dir) => {
      import s.implicits._
      t(s, dir, "orders")
        .cube($"o_orderstatus", $"o_orderpriority")
        .agg(
          grouping_id().cast("long").as("gid"),
          count(lit(1)).as("n_orders"),
          dsum($"o_totalprice").as("sum_price"))
        .select($"gid", $"o_orderstatus", $"o_orderpriority", $"n_orders", $"sum_price")
        .orderBy($"gid", $"o_orderstatus".asc_nulls_first,
          $"o_orderpriority".asc_nulls_first)
    },
    Some("""
      SELECT CAST(GROUPING(o_orderstatus, o_orderpriority) AS BIGINT) AS gid,
             o_orderstatus, o_orderpriority,
             COUNT(*) AS n_orders,
             round(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE), 4) AS sum_price
      FROM orders
      GROUP BY CUBE(o_orderstatus, o_orderpriority)
      ORDER BY gid, o_orderstatus ASC NULLS FIRST, o_orderpriority ASC NULLS FIRST"""))

  // ----------------------------------------------------------------- q31_pivot
  /** Pivot (long → wide reshape): per-user event-type counts as columns.
    * The pivot values are pinned (no extra distinct-collect pass — at
    * scale an unpinned pivot is a full extra job over the input).
    */
  val q31Pivot = {
    val types = Seq("click", "error", "purchase", "signup", "view")
    QueryDef(
      "q31_pivot",
      (s, dir) => {
        import s.implicits._
        t(s, dir, "events")
          .groupBy($"user_id")
          .pivot("event_type", types)
          .agg(count(lit(1)))
          .select($"user_id" +:
            types.map(v => coalesce(col(v), lit(0L)).cast("long").as(s"n_$v")): _*)
          .orderBy($"user_id")
      },
      Some(s"""
        SELECT user_id,
               ${types.map(v =>
                 s"CAST(SUM(CASE WHEN event_type = '$v' THEN 1 ELSE 0 END) AS BIGINT) AS n_$v")
                 .mkString(",\n               ")}
        FROM events GROUP BY user_id ORDER BY user_id"""))
  }

  // ----------------------------------------------------------- q32_salted_join
  /** Skew-safe salted join ([[ScaleJoins.saltedJoin]]): lineitem joined
    * to orders, two-phase — keys the left-side sample estimates as hot
    * are salted 8 ways (only THEIR right rows replicate); everything
    * else takes the plain join untouched. Result is provably identical
    * to the plain equi-join (the oracle) whatever the hot/cold split:
    * at sf0.1 no orderkey is skewed, so the hot branch is empty and the
    * query measures the two-phase overhead, while ScaleJoinsSpec drives
    * genuinely skewed data through the hot branch.
    */
  val q32SaltedJoin = QueryDef(
    "q32_salted_join",
    (s, dir) => {
      import s.implicits._
      val li = t(s, dir, "lineitem")
        .select($"l_orderkey".as("o_orderkey"), $"l_extendedprice")
      val ords = t(s, dir, "orders").select($"o_orderkey", $"o_orderpriority")
      ScaleJoins.saltedJoin(li, ords, "o_orderkey", buckets = 8)
        .groupBy($"o_orderpriority")
        .agg(count(lit(1)).as("n_items"), dsum($"l_extendedprice").as("sum_price"))
        .orderBy($"o_orderpriority")
    },
    Some("""
      SELECT o_orderpriority, COUNT(*) AS n_items,
             round(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE), 4) AS sum_price
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      GROUP BY 1 ORDER BY o_orderpriority"""))

  // ----------------------------------------------------------- q33_multimodal
  /** Multimodal planning + REAL image decode ([[Multimodal]]): resize
    * targets and frame-sample offsets are pure column math; image rows
    * are decoded by the partition-local `javax.imageio` kernel
    * ([[Multimodal.MediaCodecImageIO]]) and report their DECODED
    * width/height and per-channel pixel means, with the deliberately
    * corrupt payload (id 57) degrading to `decode_ok = false`. The
    * synthetic PNGs are lossless encodings of an integer pixel formula,
    * so the codec-less oracle predicts the decoded stats arithmetically
    * — the cross-engine check that the decode is faithful, not merely
    * present. Byte-level stats stay for audio/video; they are NULL for
    * image rows because a PNG's encoded byte length is an encoder
    * detail no oracle should pin.
    */
  val q33Multimodal = QueryDef(
    "q33_multimodal",
    (s, dir) => {
      import s.implicits._
      val media = Multimodal.syntheticMedia(s, 60)
      val feats = Multimodal.decodeFeatures(media).toDF()
        .select($"media_id",
          when($"kind" =!= "image", $"n_bytes").as("n_bytes"),
          when($"kind" =!= "image", round($"mean_byte", 6)).as("mean_byte"),
          $"decode_ok", $"decoded_width", $"decoded_height",
          round($"mean_r", 6).as("mean_r"),
          round($"mean_g", 6).as("mean_g"),
          round($"mean_b", 6).as("mean_b"))
      val planned = Multimodal.withFrameSamples(
        Multimodal.withResizePlan(media.toDF(), maxSide = 256), nFrames = 4)
        .select($"media_id", $"kind", $"target_width", $"target_height",
          $"needs_resize", concat_ws(",", $"frame_offsets_ms").as("frame_offsets"))
      planned.join(feats, "media_id").orderBy($"media_id")
    },
    Some("""
      WITH m AS (
        SELECT id,
               CASE id % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END AS kind,
               id % 64 + 16 AS n_b,
               CASE WHEN id % 3 = 0 THEN id % 5000 + 100 END AS width,
               CASE WHEN id % 3 = 0 THEN id % 3000 + 100 END AS height,
               CASE WHEN id % 3 = 2 THEN id % 90000 + 1000 END AS duration_ms,
               (id % 3 = 0 AND id % 60 != 57) AS ok,
               CASE WHEN id % 3 = 0 AND id % 60 != 57 THEN id % 7 + 2 END AS dw,
               CASE WHEN id % 3 = 0 AND id % 60 != 57 THEN id % 5 + 2 END AS dh
        FROM range(0, 60) t(id))
      SELECT id AS media_id, kind,
             CASE WHEN width IS NOT NULL THEN
               CAST(floor(width * least(1.0, 256.0 / greatest(width, height))) AS INTEGER) END
               AS target_width,
             CASE WHEN width IS NOT NULL THEN
               CAST(floor(height * least(1.0, 256.0 / greatest(width, height))) AS INTEGER) END
               AS target_height,
             COALESCE(greatest(width, height) > 256, false) AS needs_resize,
             CASE WHEN kind = 'video' THEN
               array_to_string(list_transform(range(0, 4),
                 i -> CAST(floor(i * duration_ms / 4.0) AS INTEGER)), ',')
             ELSE '' END AS frame_offsets,
             CASE WHEN kind != 'image' THEN CAST(n_b AS BIGINT) END AS n_bytes,
             CASE WHEN kind != 'image' THEN
               round(CAST(list_sum(list_transform(range(0, n_b),
                 j -> (id * 31 + j * 7) % 256)) AS DOUBLE) / n_b, 6) END AS mean_byte,
             ok AS decode_ok,
             CAST(dw AS INTEGER) AS decoded_width,
             CAST(dh AS INTEGER) AS decoded_height,
             CASE WHEN ok THEN round(CAST(list_sum(list_transform(range(0, dw * dh),
               i -> (id * 31 + (i % dw) * 7 + (i // dw) * 13) % 256)) AS DOUBLE) / (dw * dh), 6) END AS mean_r,
             CASE WHEN ok THEN round(CAST(list_sum(list_transform(range(0, dw * dh),
               i -> (id * 17 + (i % dw) * 5 + (i // dw) * 11) % 256)) AS DOUBLE) / (dw * dh), 6) END AS mean_g,
             CASE WHEN ok THEN round(CAST(list_sum(list_transform(range(0, dw * dh),
               i -> (id * 23 + (i % dw) * 3 + (i // dw) * 19) % 256)) AS DOUBLE) / (dw * dh), 6) END AS mean_b
      FROM m ORDER BY media_id"""))

  // ------------------------------------------------------------- q34_lag_lead
  /** Sequence window functions over per-user event streams: lag, lead,
    * running first_value, inter-event gap. One shuffle on user_id; all
    * four functions share the same window sort.
    */
  val q34LagLead = QueryDef(
    "q34_lag_lead",
    (s, dir) => {
      import s.implicits._
      val w = Window.partitionBy($"user_id").orderBy($"ts".asc, $"event_id".asc)
      t(s, dir, "events")
        .select(
          $"user_id", $"event_id", unix_micros($"ts").as("ts_us"),
          lag($"event_type", 1).over(w).as("prev_type"),
          lead($"event_type", 1).over(w).as("next_type"),
          first($"event_type").over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)).as("first_type"),
          (unix_micros($"ts") - lag(unix_micros($"ts"), 1).over(w)).as("gap_us"))
        .orderBy($"user_id", $"event_id")
    },
    Some("""
      SELECT user_id, event_id, epoch_us(ts) AS ts_us,
             lag(event_type, 1) OVER w AS prev_type,
             lead(event_type, 1) OVER w AS next_type,
             first_value(event_type) OVER
               (PARTITION BY user_id ORDER BY ts, event_id
                ROWS UNBOUNDED PRECEDING) AS first_type,
             epoch_us(ts) - lag(epoch_us(ts), 1) OVER w AS gap_us
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
      ORDER BY user_id, event_id"""))

  // ---------------------------------------------------------- q35_percentiles
  /** Exact linear-interpolation percentiles per group (Spark `percentile`
    * = DuckDB `quantile_cont`). Exact, not approximate — but computed by
    * [[graft.operators.Percentiles.exactCont]] (range-partition +
    * two-phase rank selection), NOT the built-in `percentile()`
    * aggregate, whose per-group value map puts an entire group's values
    * on one reducer (memory ∝ group cardinality: with 3 groups at
    * 100 TB that is the whole table on 3 tasks). Same answer, bounded
    * memory; round(6) absorbs the last-ulp interpolation difference.
    */
  val q35Percentiles = QueryDef(
    "q35_percentiles",
    (s, dir) => {
      import s.implicits._
      import graft.operators.Percentiles
      // melt both value columns into (flag, metric, v) rows so ONE
      // exactCont pass (one scan, one range shuffle) covers all four
      // requested quantiles; the long result pivots back to columns
      val long = t(s, dir, "lineitem").select($"l_returnflag",
          explode(array(
            struct(lit("qty").as("metric"), $"l_quantity".cast("double").as("v")),
            struct(lit("price").as("metric"), $"l_extendedprice".cast("double").as("v"))))
            .as("x"))
        .select($"l_returnflag", $"x.metric".as("metric"), $"x.v".as("v"))
      def pick(metric: String, p: Double, name: String) =
        round(min(when($"metric" === metric && $"p" === p, $"value")), 6).as(name)
      Percentiles.exactCont(long, Seq("l_returnflag", "metric"), "v",
          Seq(0.5, 0.9, 0.99))
        .groupBy($"l_returnflag")
        .agg(pick("qty", 0.5, "p50_qty"), pick("qty", 0.9, "p90_qty"),
          pick("price", 0.5, "p50_price"), pick("price", 0.99, "p99_price"))
        .orderBy($"l_returnflag")
    },
    Some("""
      SELECT l_returnflag,
             round(quantile_cont(l_quantity, 0.5), 6) AS p50_qty,
             round(quantile_cont(l_quantity, 0.9), 6) AS p90_qty,
             round(quantile_cont(l_extendedprice, 0.5), 6) AS p50_price,
             round(quantile_cont(l_extendedprice, 0.99), 6) AS p99_price
      FROM lineitem GROUP BY 1 ORDER BY l_returnflag"""))

  // -------------------------------------------------------- q36_dedup_clusters
  /** Near-dup CLUSTERS: the q11 LSH candidate pipeline, thresholded on
    * exact Jaccard, then [[Dedup.connectedComponents]] turns pairs into
    * groups (component = min reachable doc_id = the canonical keeper).
    * Oracle: the same pair CTEs + a recursive-CTE label propagation.
    */
  val q36DedupClusters = QueryDef(
    "q36_dedup_clusters",
    (s, dir) => {
      import s.implicits._
      import graft.operators.Dedup
      Dedup.nearDupComponents(t(s, dir, "documents"), "doc_id", "text",
          seeds = 8, bands = 4, rowsPerBand = 2, minJaccard = 0.4)
        .groupBy($"component")
        .agg(
          count(lit(1)).as("n_docs"),
          concat_ws(",",
            transform(sort_array(collect_list($"id")), _.cast("string")))
            .as("members"))
        .orderBy($"component")
    },
    Some(s"""
      WITH RECURSIVE ${MinhashCcSql.ctes}
      SELECT component, CAST(count(*) AS BIGINT) AS n_docs,
             array_to_string(list_sort(list(id)), ',') AS members
      FROM comp GROUP BY component ORDER BY component"""))

  // ----------------------------------------------------------------- q37_tfidf
  /** TF-IDF top-3 terms per document. Three shuffles (doc-term counts,
    * doc frequencies, per-doc window) — all on bounded keys; N comes
    * from a broadcast 1-row aggregate, never a driver collect. Scores
    * are rounded to 6 places BEFORE ranking so both engines rank
    * identical values (ln() may differ in the last ulp across libm
    * implementations); ties break on the term.
    */
  val q37Tfidf = QueryDef(
    "q37_tfidf",
    (s, dir) => {
      import s.implicits._
      val docs = t(s, dir, "documents")
      val tok = docs.select($"doc_id", explode(words($"text")).as("term"))
      val tf = tok.groupBy($"doc_id", $"term").agg(count(lit(1)).as("tf"))
      // df(term) = |{doc: term ∈ doc}| = row count per term in tf — so
      // derive it FROM tf instead of re-aggregating tok: both consumers
      // share tf's (doc_id, term) exchange, which ReuseExchange computes
      // once, so the corpus is tokenized in a single pass (the old
      // two-branch shape ran the explode+regexp scan twice).
      val df = tf.groupBy($"term").agg(count(lit(1)).as("df"))
      val n = docs.agg(count(lit(1)).as("n"))
      val scored = tf.join(df, "term")
        .crossJoin(broadcast(n))
        .select($"doc_id", $"term",
          round($"tf" * log($"n".cast("double") / $"df"), 6).as("tfidf"))
      val w = Window.partitionBy($"doc_id").orderBy($"tfidf".desc, $"term".asc)
      scored
        .withColumn("rn", row_number().over(w).cast("long"))
        .filter($"rn" <= 3)
        .select($"doc_id", $"rn", $"term", $"tfidf")
        .orderBy($"doc_id", $"rn")
    },
    Some("""
      WITH tok AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
      tf AS (SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY 1, 2),
      df AS (SELECT term, count(DISTINCT doc_id) AS df FROM tok GROUP BY 1),
      n AS (SELECT count(*) AS n FROM documents),
      s AS (
        SELECT doc_id, term,
               round(tf * ln(CAST(n AS DOUBLE) / df), 6) AS tfidf
        FROM tf JOIN df USING (term) CROSS JOIN n),
      r AS (
        SELECT doc_id, term, tfidf,
               CAST(ROW_NUMBER() OVER (PARTITION BY doc_id
                 ORDER BY tfidf DESC, term) AS BIGINT) AS rn
        FROM s)
      SELECT doc_id, rn, term, tfidf FROM r WHERE rn <= 3
      ORDER BY doc_id, rn"""))

  // ----------------------------------------------------------- q38_hash_sample
  /** Deterministic 10% sample by key hash — the reproducible-sampling
    * primitive for training-data pipelines (rand()-based sampling can't
    * be re-run, audited, or oracle-checked; a key-hash cut can). The
    * predicate is scan-adjacent: no shuffle before the sample filter.
    */
  val q38HashSample = QueryDef(
    "q38_hash_sample",
    (s, dir) => {
      import s.implicits._
      t(s, dir, "lineitem")
        .filter(hash64($"l_orderkey".cast("string"), 11) % 100 < 10)
        .groupBy($"l_returnflag")
        .agg(count(lit(1)).as("n_items"), dsum($"l_extendedprice").as("sum_price"))
        .orderBy($"l_returnflag")
    },
    Some("""
      SELECT l_returnflag, COUNT(*) AS n_items,
             round(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE), 4) AS sum_price
      FROM lineitem
      WHERE CAST(('0x' || substr(md5('11:' || CAST(l_orderkey AS VARCHAR)), 1, 15)) AS BIGINT) % 100 < 10
      GROUP BY 1 ORDER BY l_returnflag"""))

  // ------------------------------------------------------------ q39_histogram
  /** Fixed-width value histogram (bin = floor(value/width)) — one
    * partial-agg shuffle on the bin id; the standard distribution sketch
    * before choosing quality-score cutoffs.
    */
  val q39Histogram = QueryDef(
    "q39_histogram",
    (s, dir) => {
      import s.implicits._
      t(s, dir, "events")
        .groupBy(floor($"value" / 50).cast("long").as("bin"))
        .agg(count(lit(1)).as("n"), dsum($"value").as("sum_value"))
        .withColumn("bin_lo", ($"bin" * 50).cast("double"))
        .select($"bin", $"bin_lo", $"n", $"sum_value")
        .orderBy($"bin")
    },
    Some("""
      SELECT CAST(floor(value / 50) AS BIGINT) AS bin,
             CAST(CAST(floor(value / 50) AS BIGINT) * 50 AS DOUBLE) AS bin_lo,
             COUNT(*) AS n,
             round(CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE), 4) AS sum_value
      FROM events GROUP BY 1 ORDER BY bin"""))

  // -------------------------------------------------------- q40_dedup_pipeline
  /** The PRODUCTION dedup pipeline shape, end to end: exact-collapse by
    * content hash FIRST (recrawls and mirror copies are the common case
    * — collapsing them up front shrinks the expensive near-dup stage to
    * unique contents only), then LSH near-dup + connected components on
    * the representatives, then expand the cluster ids back over every
    * member. Corpus = documents ∪ a simulated recrawl (ids +10000), so
    * every content has an exact-dup group of 2 and the near-dup stage
    * runs on the 500 uniques, not the 1000 rows.
    */
  val q40DedupPipeline = QueryDef(
    "q40_dedup_pipeline",
    (s, dir) => {
      import s.implicits._
      import graft.operators.Dedup
      val d = t(s, dir, "documents").select($"doc_id", $"text")
      val corpus = d.unionByName(d.select(($"doc_id" + 10000).as("doc_id"), $"text"))
      val keyed = corpus.select($"doc_id", md5($"text").as("ck"), $"text")
      // exact collapse: one representative (min id) per content hash.
      // pinned (eager): reps feeds both the near-dup chain and
      // the final expand join, and the blocks free themselves by GC —
      // no cache-manager entry to leak across queries.
      val reps = keyed.groupBy($"ck")
        .agg(min($"doc_id").as("rep_id"), first($"text").as("text"))
        .pipe(Checkpoints.pin)
      val sh = reps
        .select($"rep_id", Dedup.shingleHashes3(Dedup.wordHashes(words($"text"))).as("sh"))
        .filter(size($"sh") > 0)
        .persist()
      val sig = sh.select($"rep_id", Dedup.minhashSig($"sh", 8).as("sig"))
      val bands = Dedup.lshBands(sig, "rep_id", "sig", bands = 4, rowsPerBand = 2)
      val near = Dedup.lshCandidatePairs(bands, "rep_id")
        .join(sh.select($"rep_id".as("id_a"), $"sh".as("sh_a")), "id_a")
        .join(sh.select($"rep_id".as("id_b"), $"sh".as("sh_b")), "id_b")
        .filter(Dedup.jaccard($"sh_a", $"sh_b") >= 0.4)
        .select($"id_a", $"id_b")
      val comp = Dedup.connectedComponents(near, "id_a", "id_b")
      // CC consumed `near` eagerly; the shingle cache is dead weight now
      sh.unpersist()
      val repComp = reps.join(comp, reps("rep_id") === comp("id"), "left")
        .select($"ck", coalesce($"component", $"rep_id").as("component"))
      keyed.join(repComp, "ck")
        .groupBy($"component")
        .agg(count(lit(1)).as("n_docs"), min($"doc_id").as("keep_id"))
        .orderBy($"component")
    },
    Some("""
      WITH RECURSIVE corpus AS (
        SELECT doc_id, text FROM documents
        UNION ALL
        SELECT doc_id + 10000, text FROM documents),
      keyed AS (SELECT doc_id, md5(text) AS ck, text FROM corpus),
      reps AS (SELECT ck, min(doc_id) AS rep_id, min(text) AS text
               FROM keyed GROUP BY ck),
      toks AS (
        SELECT rep_id, string_split(text, ' ') AS w,
               list_transform(string_split(text, ' '),
                 x -> CAST(('0x' || substr(md5('0:' || x), 1, 15)) AS BIGINT)) AS wh
        FROM reps),
      shf AS (
        SELECT rep_id,
               list_transform(range(0, len(w) - 2), i ->
                 ((wh[i+1] % 1073741824) * 37 + (wh[i+2] % 1073741824)) % 1073741789
                   * 41 + (wh[i+3] % 1073741824)) AS sh0
        FROM toks WHERE len(w) >= 3),
      shx AS (SELECT rep_id, list_transform(sh0, v -> v % 1073741789) AS sh FROM shf),
      mh AS (
        SELECT rep_id,
               list_transform([31, 37, 41, 43, 47, 53, 59, 61], a ->
                 list_min(list_transform(sh,
                   h -> (a * (h % 1073741824) + a*7 + 3) % 1073741789))) AS sig
        FROM shx),
      bands AS (
        SELECT rep_id, b,
               md5(b || ':' || sig[2*b+1] || ',' || sig[2*b+2]) AS band_key
        FROM mh, unnest(range(0, 4)) AS tt(b)),
      pairs AS (
        SELECT DISTINCT a.rep_id AS id_a, c.rep_id AS id_b
        FROM bands a JOIN bands c USING (b, band_key)
        WHERE a.rep_id < c.rep_id),
      near AS (
        SELECT id_a, id_b FROM pairs
        JOIN shx sa ON sa.rep_id = id_a
        JOIN shx sb ON sb.rep_id = id_b
        WHERE CAST(len(list_distinct(list_intersect(sa.sh, sb.sh))) AS DOUBLE)
              / len(list_distinct(list_concat(sa.sh, sb.sh))) >= 0.4),
      e AS (
        SELECT id_a AS s, id_b AS d FROM near
        UNION
        SELECT id_b, id_a FROM near),
      reach(id, lab) AS (
        SELECT DISTINCT s, s FROM e
        UNION
        SELECT e.d, r.lab FROM reach r JOIN e ON e.s = r.id),
      ccomp AS (SELECT id, min(lab) AS component FROM reach GROUP BY id),
      repc AS (
        SELECT r.ck, COALESCE(c.component, r.rep_id) AS component
        FROM reps r LEFT JOIN ccomp c ON c.id = r.rep_id)
      SELECT component, CAST(count(*) AS BIGINT) AS n_docs,
             min(k.doc_id) AS keep_id
      FROM keyed k JOIN repc USING (ck)
      GROUP BY component ORDER BY component"""))

  // ------------------------------------------------------------ q41_range_frame
  /** RANGE window frame (value-based, not row-based): per-customer
    * 30-day moving spend — every order sees the decimal-exact sum of
    * that customer's orders in [date-30d, date], peers included. The
    * one frame type q8's running windows don't cover.
    */
  val q41RangeFrame = QueryDef(
    "q41_range_frame",
    (s, dir) => {
      import s.implicits._
      val w = Window.partitionBy($"o_custkey")
        .orderBy($"o_orderdate".cast("long"))
        .rangeBetween(-30L * 86400, 0)
      t(s, dir, "orders")
        .withColumn("moving_spend_30d",
          round(sum(dec($"o_totalprice")).over(w).cast("double"), 4))
        .select($"o_orderkey", $"o_custkey",
          unix_micros($"o_orderdate").as("date_us"), $"moving_spend_30d")
        .orderBy($"o_orderkey")
    },
    Some("""
      SELECT o_orderkey, o_custkey, epoch_us(o_orderdate) AS date_us,
             round(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) OVER (
               PARTITION BY o_custkey ORDER BY o_orderdate
               RANGE BETWEEN INTERVAL 30 DAY PRECEDING AND CURRENT ROW
             ) AS DOUBLE), 4) AS moving_spend_30d
      FROM orders ORDER BY o_orderkey"""))

  // ------------------------------------------------------------ q42_token_budget
  /** Token-budget corpus selection ([[graft.operators.TokenBudget]]):
    * keep documents in deterministic hash order until 10k cumulative
    * SUBWORD tokens ([[graft.functions.BpeTokenCount]] — whitespace
    * counts were a ~1.4x biased proxy; the budget is honest against
    * the tokenizer a trainer would run, and the oracle replays the
    * identical merge table). Engine-side this is the two-phase prefix
    * sum (range partitions + per-partition totals + broadcast offsets)
    * — NEVER the single-partition global window the oracle can afford
    * at 500 rows.
    */
  val q42TokenBudget = QueryDef(
    "q42_token_budget",
    (s, dir) => {
      import s.implicits._
      import graft.operators.{TextAnalysis, TokenBudget}
      val d = t(s, dir, "documents")
        .select($"doc_id", TextAnalysis.subwordCount($"text").cast("long").as("n_tokens"))
      TokenBudget.take(d, "doc_id", "n_tokens", budget = 10000L, numParts = 8)
        .select($"doc_id", $"n_tokens", $"cum_tokens")
        .orderBy($"cum_tokens")
    },
    Some(s"""
      WITH t AS (
        SELECT doc_id,
               ${graft.functions.BpeTokenCount.duckdbSql("text")} AS n_tokens,
               CAST(('0x' || substr(md5('17:' || CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) AS h
        FROM documents),
      c AS (
        SELECT doc_id, n_tokens,
               CAST(SUM(n_tokens) OVER (ORDER BY h, doc_id
                 ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_tokens
        FROM t)
      SELECT doc_id, n_tokens, cum_tokens FROM c
      WHERE cum_tokens <= 10000 ORDER BY cum_tokens"""))

  // --------------------------------------------------- q43_percentiles_approx
  /** The one-pass companion to q35: `percentile_approx` (a rank-sketch
    * aggregate). WHEN TO USE WHICH of the three percentile paths:
    * the built-in exact `percentile` buffers every distinct value per
    * group on one reducer (memory ∝ group cardinality — only for
    * known-small groups); [[graft.operators.Percentiles.exactCont]]
    * (q35) is exact with bounded memory but costs a full range shuffle
    * of the (group, value) pairs; the sketch here holds O(accuracy)
    * entries per group regardless of cardinality in a SINGLE pass,
    * with rank error ≤ n/accuracy — here accuracy=10000 ⇒ the returned
    * value's rank is within 0.01% · n of the true rank. The sketch
    * also merges associatively, so partial aggregation works map-side
    * — the cheapest option when approximate answers suffice.
    *
    * The sketch's picked element is engine-specific (DuckDB's
    * approx_quantile is a t-digest — close but not bit-equal), so the
    * RAW approx values can never hash-match across engines. What CAN
    * be oracle-checked is the approx-percentile CONTRACT itself: each
    * engine computes its own sketch answer, then verifies IN SQL that
    * the answer's exact rank (count of values below / at-or-below it —
    * one extra conditional aggregation after broadcasting the tiny
    * per-group sketch table) lands within a documented rank window of
    * the target rank `p·n`. The emitted relation — group, metric, p,
    * exact group count, and the window verdict — is engine-independent
    * and hash-green iff both sketches honor their bounds.
    *
    * Windows: Spark's GK sketch guarantees rank error ≤ n/accuracy
    * (accuracy=10000 here), checked tightly (+1 slack for the
    * floor/ceil in the target-rank definition). DuckDB's t-digest has
    * no accuracy knob or hard bound, so its side of the oracle checks
    * a conservative 1%·n window (t-digest's empirical error is ~10x
    * smaller) — documented asymmetry, same verdict column.
    * ApproxPercentileSpec still pins the tight Spark-side bound
    * against the exact aggregate per-value.
    */
  val q43PercentilesApprox = QueryDef(
    "q43_percentiles_approx",
    (s, dir) => {
      import s.implicits._
      val ps = Seq(0.5, 0.9, 0.99)
      val psArr = array(ps.map(lit): _*)
      val melted = t(s, dir, "lineitem")
        .select($"l_returnflag", explode(map(
          lit("price"), $"l_extendedprice".cast("double"),
          lit("qty"), $"l_quantity".cast("double"))).as(Seq("metric", "v")))
      // per (group, metric): n plus the 3-entry sketch answer — a tiny
      // relation (groups × metrics rows), broadcast into the rank pass
      val approx = melted.groupBy($"l_returnflag", $"metric")
        .agg(count(lit(1)).as("n"),
          percentile_approx($"v", psArr, lit(10000)).as("_av"))
        .select($"l_returnflag", $"metric", $"n",
          posexplode($"_av").as(Seq("_i", "_va")))
        .select($"l_returnflag", $"metric", $"n",
          element_at(psArr, $"_i" + 1).as("p"), $"_va")
      // exact rank of each sketch answer: one map-side-combined pass
      // over the melted corpus (fan-out = |ps| via the broadcast join)
      val ranked = melted.join(broadcast(approx), Seq("l_returnflag", "metric"))
        .groupBy($"l_returnflag", $"metric", $"n", $"p", $"_va")
        .agg(sum(when($"v" < $"_va", 1L).otherwise(0L)).as("_rlo"),
          sum(when($"v" <= $"_va", 1L).otherwise(0L)).as("_rhi"))
      // the answer occupies rank positions [_rlo+1, _rhi] (an interval
      // when ties; the straddled gap when the t-digest interpolates a
      // non-element) — within_window iff it intersects p·n ± window
      ranked.select($"l_returnflag", $"metric", $"p", $"n",
        (($"_rlo" <= $"p" * $"n" + $"n" / 10000.0 + 1.0) &&
          ($"_rhi" + 1.0 >= $"p" * $"n" - $"n" / 10000.0 - 1.0))
          .as("within_window"))
        .orderBy($"l_returnflag", $"metric", $"p")
    },
    Some("""
      WITH m AS (
        SELECT l_returnflag, 'price' AS metric, CAST(l_extendedprice AS DOUBLE) AS v FROM lineitem
        UNION ALL
        SELECT l_returnflag, 'qty' AS metric, CAST(l_quantity AS DOUBLE) AS v FROM lineitem),
      a AS (
        SELECT l_returnflag, metric, count(*) AS n,
               approx_quantile(v, [0.5, 0.9, 0.99]) AS av
        FROM m GROUP BY 1, 2),
      x AS (
        SELECT l_returnflag, metric, n, CAST(t.p AS DOUBLE) AS p, av[t.i] AS va
        FROM a CROSS JOIN (VALUES (1, 0.5), (2, 0.9), (3, 0.99)) t(i, p)),
      r AS (
        SELECT x.l_returnflag, x.metric, x.n, x.p,
               sum(CASE WHEN m.v < x.va THEN 1 ELSE 0 END) AS rlo,
               sum(CASE WHEN m.v <= x.va THEN 1 ELSE 0 END) AS rhi
        FROM x JOIN m ON m.l_returnflag = x.l_returnflag AND m.metric = x.metric
        GROUP BY 1, 2, 3, 4)
      SELECT l_returnflag, metric, p, CAST(n AS BIGINT) AS n,
             (rlo <= p * n + n / 100.0 + 1.0) AND (rhi + 1.0 >= p * n - n / 100.0 - 1.0)
               AS within_window
      FROM r ORDER BY l_returnflag, metric, p"""),
    notes = "oracle checks the rank-window contract per engine; raw sketch values are engine-specific")

  // --------------------------------------------------- q44_knn_ivf_multiprobe
  /** Multi-probe IVF ANN: q25's quantizer and inverted lists, but each
    * probe searches its TWO nearest cells (nprobe=2) — the standard
    * recall dial for IVF at scale: cost grows only on the probe side
    * (nprobe × the per-probe join fan-out), never on the corpus, and a
    * true neighbor just across the probe's cell boundary is no longer
    * missed. Candidates cannot duplicate across probed cells (each
    * lives in exactly one list).
    */
  val q44KnnIvfMultiprobe = {
    import KmeansSql.{sqlCos, sqlDot}
    QueryDef(
      "q44_knn_ivf_multiprobe",
      (s, dir) => {
        import s.implicits._
        import graft.operators.Similarity
        val e = t(s, dir, "embeddings")
        val centroids = e.filter($"vec_id" % 37 === 0 && $"vec_id" >= 100)
          .orderBy($"vec_id").limit(8)
          .select($"vec_id".as("centroid_id"), $"embedding".as("centroid_vec"))
        val probes = e.filter($"vec_id" < 5)
          .select($"vec_id".as("probe_id"), $"embedding".as("pv"))
        val corpus = e.select($"vec_id".as("cand_id"), $"embedding".as("cv"))
        Similarity.knnIvf(probes, corpus, centroids, k = 3, nprobe = 2)
          .select($"probe_id", $"cell", $"rn".cast("long").as("rn"), $"cand_id", $"cos")
          .orderBy($"probe_id", $"rn")
      },
      Some(s"""
        WITH cent AS (
          SELECT vec_id AS centroid_id, embedding AS centroid_vec
          FROM embeddings WHERE vec_id % 37 = 0 AND vec_id >= 100
          ORDER BY vec_id LIMIT 8),
        pa AS (
          SELECT probe_id, pv, centroid_id AS cell,
                 ROW_NUMBER() OVER (PARTITION BY probe_id
                   ORDER BY ${sqlCos("pv", "centroid_vec")} DESC, centroid_id) AS crn
          FROM (SELECT vec_id AS probe_id, embedding AS pv FROM embeddings WHERE vec_id < 5), cent),
        pc AS (SELECT probe_id, pv, cell FROM pa WHERE crn <= 2),
        ca AS (
          SELECT cand_id, cv, centroid_id AS cell,
                 ROW_NUMBER() OVER (PARTITION BY cand_id
                   ORDER BY ${sqlCos("cv", "centroid_vec")} DESC, centroid_id) AS crn
          FROM (SELECT vec_id AS cand_id, embedding AS cv FROM embeddings), cent),
        cc AS (SELECT cand_id, cv, cell FROM ca WHERE crn = 1),
        s AS (
          SELECT probe_id, pc.cell AS cell, cand_id, ${sqlCos("pv", "cv")} AS cos
          FROM pc JOIN cc USING (cell) WHERE probe_id != cand_id),
        r AS (
          SELECT probe_id, cell, cand_id, cos,
                 CAST(ROW_NUMBER() OVER (PARTITION BY probe_id ORDER BY cos DESC, cand_id) AS BIGINT) AS rn
          FROM s)
        SELECT probe_id, cell, rn, cand_id, cos FROM r
        WHERE rn <= 3 ORDER BY probe_id, rn"""))
  }

  // ------------------------------------------------------ q45_stratified_sample
  /** Stratified deterministic sampling ([[graft.operators.Sampling]]):
    * rebalance the language mix by downsampling over-represented
    * strata with a per-stratum key-hash cut — reproducible and
    * auditable where `sampleBy(rand)` is neither. The predicate is
    * scan-adjacent (no join, no shuffle before the filter); the output
    * aggregates the sample per stratum to keep the check compact.
    */
  val q45StratifiedSample = QueryDef(
    "q45_stratified_sample",
    (s, dir) => {
      import s.implicits._
      import graft.operators.Sampling
      Sampling.stratifiedByHash(
        t(s, dir, "documents"),
        key = $"doc_id".cast("string"), stratum = $"lang",
        rates = Map("en" -> 0.3, "zh" -> 0.2, "es" -> 0.5),
        default = 1.0, seed = 23)
        .groupBy($"lang")
        .agg(count(lit(1)).as("n_docs"),
          sum($"n_chars").cast("long").as("sum_chars"))
        .orderBy($"lang")
    },
    Some("""
      SELECT lang, COUNT(*) AS n_docs,
             CAST(SUM(n_chars) AS BIGINT) AS sum_chars
      FROM documents
      WHERE CAST(('0x' || substr(md5('23:' || CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) % 10000
            < CASE lang WHEN 'en' THEN 3000 WHEN 'zh' THEN 2000
                        WHEN 'es' THEN 5000 ELSE 10000 END
      GROUP BY 1 ORDER BY lang"""))

  // ------------------------------------------------------------ q46_repetition
  /** Intra-document repetition scoring: the duplicate-shingle fraction
    * (1 − distinct/total over the rolling 3-gram shingle hashes) — the
    * within-document twin of the cross-document near-dup family, and
    * the standard "repetitious document" quality gate for training
    * corpora. Entirely narrow: one codegen'd shingle pass per row
    * ([[graft.operators.Dedup.shingleHashes3]]), two array ops, no
    * shuffle before the final ORDER BY.
    */
  val q46Repetition = QueryDef(
    "q46_repetition",
    (s, dir) => {
      import s.implicits._
      import graft.operators.Dedup
      t(s, dir, "documents")
        .select($"doc_id",
          Dedup.shingleHashes3(Dedup.wordHashes(words($"text"))).as("sh"))
        .select($"doc_id",
          size($"sh").cast("long").as("n_shingles"),
          size(array_distinct($"sh")).cast("long").as("n_distinct"))
        .select($"doc_id", $"n_shingles", $"n_distinct",
          when($"n_shingles" === 0, lit(0.0)).otherwise(
            round(lit(1.0) - $"n_distinct".cast("double") / $"n_shingles", 6))
            .as("dup_frac"))
        .orderBy($"doc_id")
    },
    Some("""
      WITH toks AS (
        SELECT doc_id, string_split(text, ' ') AS w,
               list_transform(string_split(text, ' '),
                 x -> CAST(('0x' || substr(md5('0:' || x), 1, 15)) AS BIGINT)) AS wh
        FROM documents),
      shx AS (
        SELECT doc_id,
               CASE WHEN len(w) >= 3 THEN
                 list_transform(
                   list_transform(range(0, len(w) - 2), i ->
                     ((wh[i+1] % 1073741824) * 37 + (wh[i+2] % 1073741824)) % 1073741789
                       * 41 + (wh[i+3] % 1073741824)),
                   v -> v % 1073741789)
               ELSE CAST([] AS BIGINT[]) END AS sh
        FROM toks)
      SELECT doc_id,
             CAST(len(sh) AS BIGINT) AS n_shingles,
             CAST(len(list_distinct(sh)) AS BIGINT) AS n_distinct,
             CASE WHEN len(sh) = 0 THEN CAST(0.0 AS DOUBLE)
                  ELSE round(1.0 - CAST(len(list_distinct(sh)) AS DOUBLE) / len(sh), 6)
             END AS dup_frac
      FROM shx ORDER BY doc_id"""))

  // --------------------------------------------------------- q47_contamination
  /** Benchmark-contamination detection: flag training documents whose
    * 3-gram shingle sets overlap a held-out test set (here: every 97th
    * doc stands in for the benchmark suite). Corpus-side work is one
    * narrow pass: per-doc `array_distinct` (so no corpus-wide
    * distinct), explode, and a map-side broadcast-hash probe against
    * the benchmark's shingle index (small by construction — benchmarks
    * are). Only the MATCHES reach a shuffle — the per-doc count
    * aggregation carries rows proportional to actual contamination,
    * not to the corpus. Output: contaminated train docs with
    * shared-shingle count and overlap fraction.
    */
  val q47Contamination = QueryDef(
    "q47_contamination",
    (s, dir) => {
      import s.implicits._
      import graft.operators.Dedup
      val sh = t(s, dir, "documents")
        .select($"doc_id",
          array_distinct(
            Dedup.shingleHashes3(Dedup.wordHashes(words($"text")))).as("sh"))
        .filter(size($"sh") > 0)
      val testSet = sh.filter($"doc_id" % 97 === 0)
        .select(explode($"sh").as("h")).distinct()
      // n_shingles rides the exploded rows (constant per doc) so the
      // per-doc total needs no second join or corpus-side aggregation
      sh.filter($"doc_id" % 97 =!= 0)
        .select($"doc_id".as("train_id"),
          size($"sh").cast("long").as("n_shingles"), explode($"sh").as("h"))
        .join(broadcast(testSet), "h")
        .groupBy($"train_id", $"n_shingles")
        .agg(count(lit(1)).as("n_shared"))
        .select($"train_id", $"n_shared", $"n_shingles",
          round($"n_shared".cast("double") / $"n_shingles", 6).as("overlap_frac"))
        .orderBy($"train_id")
    },
    Some("""
      WITH toks AS (
        SELECT doc_id, string_split(text, ' ') AS w,
               list_transform(string_split(text, ' '),
                 x -> CAST(('0x' || substr(md5('0:' || x), 1, 15)) AS BIGINT)) AS wh
        FROM documents),
      shx AS (
        SELECT doc_id,
               list_distinct(list_transform(
                 list_transform(range(0, len(w) - 2), i ->
                   ((wh[i+1] % 1073741824) * 37 + (wh[i+2] % 1073741824)) % 1073741789
                     * 41 + (wh[i+3] % 1073741824)),
                 v -> v % 1073741789)) AS sh
        FROM toks WHERE len(w) >= 3),
      ts AS (
        SELECT DISTINCT unnest(sh) AS h FROM shx WHERE doc_id % 97 = 0),
      tr AS (
        SELECT doc_id AS train_id, len(sh) AS n_shingles, unnest(sh) AS h
        FROM shx WHERE doc_id % 97 != 0)
      SELECT train_id, CAST(count(*) AS BIGINT) AS n_shared,
             CAST(n_shingles AS BIGINT) AS n_shingles,
             round(CAST(count(*) AS DOUBLE) / n_shingles, 6) AS overlap_frac
      FROM tr JOIN ts USING (h)
      GROUP BY train_id, n_shingles
      ORDER BY train_id"""))

  // ------------------------------------------------------ q48_shard_assignment
  /** Deterministic corpus shuffle + sharding for training order: shard
    * by one key hash, order within the shard by a second — the
    * reproducible replacement for ORDER BY rand() that any re-run (or
    * any engine) can replay bit-for-bit. One shuffle on the shard id;
    * shards are SIZED so one shard ≈ one task's worth of output (at
    * 100 TB: tens of thousands of shards, each a file), so the
    * within-shard window never sees more than a shard.
    */
  val q48ShardAssignment = QueryDef(
    "q48_shard_assignment",
    (s, dir) => {
      import s.implicits._
      val n = 8
      val key = $"doc_id".cast("string")
      t(s, dir, "documents")
        .select($"doc_id",
          (hash64(key, 5) % n).cast("long").as("shard"),
          hash64(key, 6).as("_ord"))
        .withColumn("pos", row_number().over(
          Window.partitionBy($"shard").orderBy($"_ord", $"doc_id")).cast("long"))
        .select($"doc_id", $"shard", $"pos")
        .orderBy($"shard", $"pos")
    },
    Some("""
      WITH h AS (
        SELECT doc_id,
               CAST(('0x' || substr(md5('5:' || CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) % 8 AS shard,
               CAST(('0x' || substr(md5('6:' || CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) AS ord
        FROM documents)
      SELECT doc_id, shard,
             CAST(ROW_NUMBER() OVER (PARTITION BY shard ORDER BY ord, doc_id) AS BIGINT) AS pos
      FROM h ORDER BY shard, pos"""))

  // ----------------------------------------------------------- q49_kmeans_ivf
  /** Trained IVF codebook: spherical k-means
    * ([[graft.operators.Similarity.kmeans]] — deterministic hash init,
    * cosine argmax assignment, exact-decimal mean update, 2 Lloyd
    * iterations) over the embedding corpus, then one inverted-list
    * assignment against the trained centroids. Output: per-cell member
    * count and mean within-cell cosine (the codebook-quality summary).
    * The oracle replays BOTH training iterations in SQL — every step of
    * the operator is engine-portable by construction, so the codebooks
    * agree bit-for-bit.
    */
  val q49KmeansIvf = {
    import KmeansSql.trainAssignCtes
    QueryDef(
      "q49_kmeans_ivf",
      (s, dir) => {
        import s.implicits._
        import graft.operators.Similarity
        val e = t(s, dir, "embeddings").select($"vec_id", $"embedding")
        // persisted across the training passes + final assignment; the
        // returned frame still reads it lazily, so it cannot unpersist
        // here — callers owning the session lifecycle clear the cache
        // between queries (Bench/Verify do), the q11 convention
        val ePinned =
          if (e.storageLevel == org.apache.spark.storage.StorageLevel.NONE)
            e.persist() else e
        val cent = Similarity.kmeans(ePinned, "embedding", "vec_id",
          k = 8, iters = 2, seed = 31)
        Similarity.ivfAssign(ePinned, "embedding", "vec_id", cent)
          .join(cent, col("cell") === cent("centroid_id"))
          .withColumn("_cos", round(cosine($"embedding", $"centroid_vec"), 6))
          .groupBy($"cell")
          .agg(count(lit(1)).as("n_members"),
            round(sum($"_cos".cast("decimal(18,6)")).cast("double")
              / count(lit(1)), 6).as("mean_cos"))
          .orderBy($"cell")
      },
      Some(s"""
        WITH $trainAssignCtes
        SELECT cid AS cell, COUNT(*) AS n_members,
               round(CAST(SUM(CAST(cos AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*), 6) AS mean_cos
        FROM fin GROUP BY 1 ORDER BY cell"""))
  }

  // ------------------------------------------------------------ q50_ann_recall
  /** ANN recall measurement: recall@3 of the four approximate kNN
    * paths (hyperplane-LSH, IVF, product quantization — the q68
    * codebook — and the q71 IVF-PQ composite) against the exact
    * baseline over the same probe set —
    * "measure, don't guess" applied to the ANN family itself: the
    * recall/cost dials (planes, nprobe, m/k) should be turned against
    * a number, not a hunch. The exact side is the broadcast-probe
    * brute force; hits = |approx ∩ exact| per method; `possible`
    * comes from a broadcast 1-row aggregate, never a driver count.
    */
  val q50AnnRecall = {
    import KmeansSql.{sqlCos, sqlDot}
    val sqlPlanes =
      """(SELECT CAST(coalesce(min(p), 16) AS INT) FROM range(1, 17) t(p)
          WHERE 64 * (1 << p) >= (SELECT count(*) FROM embeddings))"""
    def sqlBucket(vec: String) =
      s"""list_sum(list_transform(range(0, $sqlPlanes), p ->
         CASE WHEN round(list_reduce(list_transform(range(0, 64),
           d -> $vec[d+1]::DOUBLE * (CAST(('0x' || substr(md5('0:' || p || ':' || d), 1, 15)) AS BIGINT) % 1000 / 1000.0 - 0.5)),
           (x, y) -> x + y), 6) > 0 THEN (1 << p) ELSE 0 END))"""
    QueryDef(
      "q50_ann_recall",
      (s, dir) => {
        import s.implicits._
        import graft.operators.Similarity
        val e0 = t(s, dir, "embeddings")
        val e =
          if (e0.storageLevel == org.apache.spark.storage.StorageLevel.NONE)
            e0.persist() else e0
        val probes = e.filter($"vec_id" < 10)
          .select($"vec_id".as("probe_id"), $"embedding".as("pv"))
        val corpus = e.select($"vec_id".as("cand_id"), $"embedding".as("cv"))
        val exact = Similarity.knnExact(probes, corpus, 3)
          .select($"probe_id", $"cand_id")
        val planes = Similarity.autoPlanes(e.count(), targetBucket = 64)
        val lsh = Similarity.knnLsh(probes, corpus, dims = 64, planes = planes, k = 3)
          .select(lit("lsh").as("method"), $"probe_id", $"cand_id")
        val centroids = e.filter($"vec_id" % 37 === 0 && $"vec_id" >= 100)
          .orderBy($"vec_id").limit(8)
          .select($"vec_id".as("centroid_id"), $"embedding".as("centroid_vec"))
        val ivf = Similarity.knnIvf(probes, corpus, centroids, k = 3)
          .select(lit("ivf").as("method"), $"probe_id", $"cand_id")
        // the q68 codebook (same m/k/seed/sample) resolved from the
        // shared train-once on-disk artifact, so the recall row
        // measures exactly the index q68 answers from
        import KmeansSql.PqConfig
        val cents = PqConfig.cents(s, dir)
        val pq = Similarity.knnPq(probes, corpus, cents,
            subDim = PqConfig.SubDim, k = 3)
          .select(lit("pq").as("method"), $"probe_id", $"cand_id")
        // q71's composite, same definition: coarse-cell cut + PQ ranking
        val ivfpq = Similarity
          .knnIvfPq(probes, corpus, centroids, cents,
            subDim = PqConfig.SubDim, k = 3)
          .select(lit("ivfpq").as("method"), $"probe_id", $"cand_id")
        val possible = broadcast(exact.agg(count(lit(1)).as("possible")))
        // a method with ZERO hits must still report recall 0 — the
        // inner join + groupBy would silently drop its row otherwise
        val methods = Seq("ivf", "ivfpq", "lsh", "pq").toDF("method")
        val hits = lsh.unionByName(ivf).unionByName(pq).unionByName(ivfpq)
          .join(exact, Seq("probe_id", "cand_id"))
          .groupBy($"method")
          .agg(count(lit(1)).as("hits"))
        methods.join(hits, Seq("method"), "left")
          .crossJoin(possible)
          .select($"method", coalesce($"hits", lit(0L)).as("hits"), $"possible",
            round(coalesce($"hits", lit(0L)).cast("double") / $"possible", 6)
              .as("recall"))
          .orderBy($"method")
      },
      Some(s"""
        WITH e AS (SELECT vec_id, embedding FROM embeddings),
        ${KmeansSql.pqCtes(KmeansSql.PqConfig.M, KmeansSql.PqConfig.SubDim,
             KmeansSql.PqConfig.K, KmeansSql.PqConfig.Seed,
             KmeansSql.PqConfig.sampleWhere)},
        xp AS (SELECT vec_id AS probe_id, embedding AS pv FROM embeddings WHERE vec_id < 10),
        xc AS (SELECT vec_id AS cand_id, embedding AS cv FROM embeddings),
        xs AS (
          SELECT probe_id, cand_id, ${sqlCos("pv", "cv")} AS cos
          FROM xp, xc WHERE probe_id != cand_id),
        x AS (
          SELECT probe_id, cand_id FROM (
            SELECT probe_id, cand_id,
                   ROW_NUMBER() OVER (PARTITION BY probe_id ORDER BY cos DESC, cand_id) AS rn
            FROM xs) WHERE rn <= 3),
        lp AS (
          SELECT vec_id AS probe_id, embedding AS pv,
                 CAST(${sqlBucket("embedding")} AS BIGINT) AS bucket
          FROM embeddings WHERE vec_id < 10),
        lc AS (
          SELECT vec_id AS cand_id, embedding AS cv,
                 CAST(${sqlBucket("embedding")} AS BIGINT) AS bucket
          FROM embeddings),
        ls AS (
          SELECT probe_id, cand_id, ${sqlCos("pv", "cv")} AS cos
          FROM lp JOIN lc USING (bucket) WHERE probe_id != cand_id),
        l AS (
          SELECT 'lsh' AS method, probe_id, cand_id FROM (
            SELECT probe_id, cand_id,
                   ROW_NUMBER() OVER (PARTITION BY probe_id ORDER BY cos DESC, cand_id) AS rn
            FROM ls) WHERE rn <= 3),
        cent AS (
          SELECT vec_id AS centroid_id, embedding AS centroid_vec
          FROM embeddings WHERE vec_id % 37 = 0 AND vec_id >= 100
          ORDER BY vec_id LIMIT 8),
        pa AS (
          SELECT probe_id, pv, centroid_id AS cell,
                 ROW_NUMBER() OVER (PARTITION BY probe_id
                   ORDER BY ${sqlCos("pv", "centroid_vec")} DESC, centroid_id) AS crn
          FROM xp, cent),
        pc AS (SELECT probe_id, pv, cell FROM pa WHERE crn = 1),
        ca AS (
          SELECT cand_id, cv, centroid_id AS cell,
                 ROW_NUMBER() OVER (PARTITION BY cand_id
                   ORDER BY ${sqlCos("cv", "centroid_vec")} DESC, centroid_id) AS crn
          FROM xc, cent),
        cc AS (SELECT cand_id, cv, cell FROM ca WHERE crn = 1),
        ivs AS (
          SELECT probe_id, cand_id, ${sqlCos("pv", "cv")} AS cos
          FROM pc JOIN cc USING (cell) WHERE probe_id != cand_id),
        i AS (
          SELECT 'ivf' AS method, probe_id, cand_id FROM (
            SELECT probe_id, cand_id,
                   ROW_NUMBER() OVER (PARTITION BY probe_id ORDER BY cos DESC, cand_id) AS rn
            FROM ivs) WHERE rn <= 3),
        qs AS (
          SELECT probe_id, r.vec_id AS cand_id,
                 round(${sqlDot("pv", "rv")} /
                       (sqrt(${sqlDot("pv", "pv")}) * sqrt(${sqlDot("rv", "rv")})), 6) AS cos
          FROM xp, recon r WHERE probe_id != r.vec_id),
        q AS (
          SELECT 'pq' AS method, probe_id, cand_id FROM (
            SELECT probe_id, cand_id,
                   ROW_NUMBER() OVER (PARTITION BY probe_id ORDER BY cos DESC, cand_id) AS rn
            FROM qs) WHERE rn <= 3),
        cps AS (
          SELECT pc.probe_id, cc.cand_id,
                 round(${sqlDot("pc.pv", "r.rv")} /
                       (sqrt(${sqlDot("pc.pv", "pc.pv")}) * sqrt(${sqlDot("r.rv", "r.rv")})), 6) AS cos
          FROM pc JOIN cc USING (cell) JOIN recon r ON r.vec_id = cc.cand_id
          WHERE pc.probe_id != cc.cand_id),
        cp AS (
          SELECT 'ivfpq' AS method, probe_id, cand_id FROM (
            SELECT probe_id, cand_id,
                   ROW_NUMBER() OVER (PARTITION BY probe_id ORDER BY cos DESC, cand_id) AS rn
            FROM cps) WHERE rn <= 3),
        m AS (SELECT * FROM l UNION ALL SELECT * FROM i
              UNION ALL SELECT * FROM q UNION ALL SELECT * FROM cp),
        hits AS (
          SELECT method, count(*) AS hits
          FROM m JOIN x USING (probe_id, cand_id) GROUP BY 1),
        poss AS (SELECT count(*) AS possible FROM x)
        SELECT t.method, coalesce(hits, 0) AS hits, possible,
               round(CAST(coalesce(hits, 0) AS DOUBLE) / possible, 6) AS recall
        FROM (VALUES ('ivf'), ('ivfpq'), ('lsh'), ('pq')) t(method)
        LEFT JOIN hits ON hits.method = t.method
        CROSS JOIN poss ORDER BY t.method"""))
  }

  // ----------------------------------------------------- q51_knn_lsh_multiprobe
  /** Multi-probe LSH ANN: q15's bucketed search, but each probe also
    * searches across its least-confident hyperplane boundary
    * ([[graft.operators.Similarity.multiProbeBuckets]], nprobe=2) — the
    * LSH recall dial, symmetric with q44's IVF nprobe. Probe-side
    * fan-out only; the corpus stays one bucket per vector.
    */
  val q51KnnLshMultiprobe = {
    import KmeansSql.sqlDot
    val sqlPlanes =
      """(SELECT CAST(coalesce(min(p), 16) AS INT) FROM range(1, 17) t(p)
          WHERE 64 * (1 << p) >= (SELECT count(*) FROM embeddings))"""
    def sqlProj(vec: String) =
      s"""round(list_reduce(list_transform(range(0, 64),
         d -> $vec[d+1]::DOUBLE * (CAST(('0x' || substr(md5('0:' || p || ':' || d), 1, 15)) AS BIGINT) % 1000 / 1000.0 - 0.5)),
         (x, y) -> x + y), 6)"""
    def sqlBucket(vec: String) =
      s"""list_sum(list_transform(range(0, $sqlPlanes), p ->
         CASE WHEN ${sqlProj(vec)} > 0 THEN (1 << p) ELSE 0 END))"""
    def sqlAbsList(vec: String) =
      s"list_transform(range(0, $sqlPlanes), p -> abs(${sqlProj(vec)}))"
    QueryDef(
      "q51_knn_lsh_multiprobe",
      (s, dir) => {
        import s.implicits._
        import graft.operators.Similarity
        val e = t(s, dir, "embeddings")
        val planes = Similarity.autoPlanes(e.count(), targetBucket = 64)
        val probes = e.filter($"vec_id" < 10)
          .select($"vec_id".as("probe_id"), $"embedding".as("pv"))
        val corpus = e.select($"vec_id".as("cand_id"), $"embedding".as("cv"))
        Similarity.knnLshMultiprobe(probes, corpus,
          dims = 64, planes = planes, k = 3, nprobe = 2)
          .select($"probe_id", $"bucket".cast("long").as("bucket"),
            $"rn".cast("long").as("rn"), $"cand_id", $"cos")
          .orderBy($"probe_id", $"rn")
      },
      Some(s"""
        WITH lpp AS (
          SELECT vec_id AS probe_id, embedding AS pv,
                 CAST(${sqlBucket("embedding")} AS BIGINT) AS b0,
                 ${sqlAbsList("embedding")} AS al
          FROM embeddings WHERE vec_id < 10),
        lp AS (
          SELECT probe_id, pv,
                 unnest([b0,
                   xor(b0, CAST(1 << (list_position(al, list_min(al)) - 1) AS BIGINT))]) AS bucket
          FROM lpp),
        lc AS (
          SELECT vec_id AS cand_id, embedding AS cv,
                 CAST(${sqlBucket("embedding")} AS BIGINT) AS bucket
          FROM embeddings),
        s AS (
          SELECT probe_id, bucket, cand_id,
                 round(${sqlDot("pv", "cv")} /
                       (sqrt(${sqlDot("pv", "pv")}) * sqrt(${sqlDot("cv", "cv")})), 6) AS cos
          FROM lp JOIN lc USING (bucket) WHERE probe_id != cand_id),
        r AS (
          SELECT probe_id, bucket, cand_id, cos,
                 CAST(ROW_NUMBER() OVER (PARTITION BY probe_id ORDER BY cos DESC, cand_id) AS BIGINT) AS rn
          FROM s)
        SELECT probe_id, bucket, rn, cand_id, cos FROM r
        WHERE rn <= 3 ORDER BY probe_id, rn"""))
  }

  /** Registry. */
  def all: Seq[QueryDef] = Seq(
    q28AsofJoin, q29IntervalJoin, q30Cube, q31Pivot, q32SaltedJoin,
    q33Multimodal, q34LagLead, q35Percentiles, q36DedupClusters,
    q37Tfidf, q38HashSample, q39Histogram, q40DedupPipeline, q41RangeFrame,
    q42TokenBudget, q43PercentilesApprox, q44KnnIvfMultiprobe,
    q45StratifiedSample, q46Repetition, q47Contamination, q48ShardAssignment,
    q49KmeansIvf, q50AnnRecall, q51KnnLshMultiprobe)
}

/** DuckDB replay of the q49 spherical-k-means training (k=8, 2 Lloyd
  * iterations, seed 31 — [[graft.operators.Similarity.kmeans]]'s exact
  * arithmetic), shared by every oracle that builds on the trained
  * codebook (q49 codebook quality, q66 cluster-balanced sampling), plus
  * the dimension/seed/prefix-parametrized generators the q68 product-
  * quantization oracle uses to train one codebook per subspace.
  */
/** Shared oracle generator for the minhash-LSH → jaccard-verify →
  * connected-components chain (the q36 pipeline: 3-shingles, 8-seed
  * minhash, 4 bands × 2 rows, jaccard ≥ 0.4, min-label components).
  * Splice as `WITH RECURSIVE $ctes …`; the final CTE is
  * `comp (id, component)` covering every doc that has at least one
  * near-dup edge (singletons are absent — callers needing total
  * coverage coalesce to the doc's own id, as q78 does).
  */
private[graft] object MinhashCcSql {
  /** Just the 3-shingle-hash prefix (`toks → shf → shx (doc_id, sh)`)
    * — reusable by queries that need shingle sets without the minhash/
    * component chain (q80 containment).
    */
  val shingleCtes: String = """toks AS (
        SELECT doc_id, string_split(text, ' ') AS w,
               list_transform(string_split(text, ' '),
                 x -> CAST(('0x' || substr(md5('0:' || x), 1, 15)) AS BIGINT)) AS wh
        FROM documents),
      shf AS (
        SELECT doc_id,
               list_transform(range(0, len(w) - 2), i ->
                 ((wh[i+1] % 1073741824) * 37 + (wh[i+2] % 1073741824)) % 1073741789
                   * 41 + (wh[i+3] % 1073741824)) AS sh0
        FROM toks WHERE len(w) >= 3),
      shx AS (SELECT doc_id, list_transform(sh0, v -> v % 1073741789) AS sh FROM shf)"""

  val ctes: String = s"""$shingleCtes,
      mh AS (
        SELECT doc_id,
               list_transform([31, 37, 41, 43, 47, 53, 59, 61], a ->
                 list_min(list_transform(sh,
                   h -> (a * (h % 1073741824) + a*7 + 3) % 1073741789))) AS sig
        FROM shx),
      bands AS (
        SELECT doc_id, b,
               md5(b || ':' || sig[2*b+1] || ',' || sig[2*b+2]) AS band_key
        FROM mh, unnest(range(0, 4)) AS tt(b)),
      pairs AS (
        SELECT DISTINCT a.doc_id AS id_a, c.doc_id AS id_b
        FROM bands a JOIN bands c USING (b, band_key)
        WHERE a.doc_id < c.doc_id),
      near AS (
        SELECT id_a, id_b FROM pairs
        JOIN shx sa ON sa.doc_id = id_a
        JOIN shx sb ON sb.doc_id = id_b
        WHERE CAST(len(list_distinct(list_intersect(sa.sh, sb.sh))) AS DOUBLE)
              / len(list_distinct(list_concat(sa.sh, sb.sh))) >= 0.4),
      e AS (
        SELECT id_a AS s, id_b AS d FROM near
        UNION
        SELECT id_b, id_a FROM near),
      reach(id, lab) AS (
        SELECT DISTINCT s, s FROM e
        UNION
        SELECT e.d, r.lab FROM reach r JOIN e ON e.s = r.id),
      comp AS (SELECT id, min(lab) AS component FROM reach GROUP BY id)"""
}

private[graft] object KmeansSql {
  def sqlDotD(a: String, b: String, dims: Int): String =
    s"list_reduce(list_transform(range(1, ${dims + 1}), i -> $a[i]::DOUBLE * $b[i]::DOUBLE), (x, y) -> x + y)"
  def sqlCosD(a: String, b: String, dims: Int): String =
    s"round(${sqlDotD(a, b, dims)} / (sqrt(${sqlDotD(a, a, dims)}) * sqrt(${sqlDotD(b, b, dims)})), 6)"
  def sqlDot(a: String, b: String): String = sqlDotD(a, b, 64)
  def sqlCos(a: String, b: String): String = sqlCosD(a, b, 64)

  /** One Lloyd iteration over `dims`-dim vectors in CTE `src`, all
    * internal CTE names `$p`-prefixed — the [[sqlIter]] shape with the
    * names and widths parametrized so several independent trainings can
    * share one WITH clause.
    *
    * The multiply-referenced CTEs are `MATERIALIZED`: DuckDB INLINES
    * plain CTEs, so each of `${p}c$i`'s two references (the carry-over
    * union + its NOT-IN probe) — and, compounding per iteration, each
    * reference to the previous round's `${p}cc` — re-expanded the
    * ENTIRE upstream training chain; on the round-17 measurement that
    * made the q86 oracle 27.5 s where the materialized form is 0.6 s,
    * results bit-identical. Evaluation strategy only; every value is
    * unchanged.
    */
  def sqlIterD(p: String, i: Int, cin: String, src: String, dims: Int): String = s"""
      ${p}a$i AS (
        SELECT vec_id, embedding, cid FROM (
          SELECT vec_id, embedding, cid,
                 ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY cos DESC, cid) AS rn
          FROM (SELECT $src.vec_id, $src.embedding, $cin.cid,
                       ${sqlCosD(s"$src.embedding", s"$cin.c", dims)} AS cos
                FROM $src, $cin))
        WHERE rn = 1),
      ${p}u$i AS (
        SELECT cid, d,
               round(CAST(SUM(CAST(embedding[d] AS DECIMAL(27,12))) AS DOUBLE)
                     / COUNT(*), 9) AS m
        FROM ${p}a$i, unnest(range(1, ${dims + 1})) AS ${p}t$i(d) GROUP BY cid, d),
      ${p}c$i AS MATERIALIZED (SELECT cid, list(m ORDER BY d) AS c FROM ${p}u$i GROUP BY cid),
      ${p}cc$i AS MATERIALIZED (
        SELECT cid, c FROM ${p}c$i
        UNION ALL
        SELECT cid, c FROM $cin WHERE cid NOT IN (SELECT cid FROM ${p}c$i))"""

  /** CTE chain training a `k`-cell codebook over CTE `src` (columns
    * `vec_id, embedding` of `dims` dims) with 2 Lloyd iterations under
    * `seed` — final centroids land in `${p}cc2 (cid, c)`. `kSql` is
    * spliced into the init `LIMIT`, so it may be a literal or a scalar
    * subquery deriving the cell count from the data (the
    * [[graft.operators.Similarity.autoCells]] oracle shape).
    */
  def trainCtesK(p: String, src: String, dims: Int, kSql: String, seed: Int): String = s"""
        ${p}init AS MATERIALIZED (
          SELECT CAST(ROW_NUMBER() OVER (ORDER BY h, vec_id) - 1 AS BIGINT) AS cid,
                 list_transform(embedding, x -> x::DOUBLE) AS c
          FROM (SELECT vec_id, embedding,
                       CAST(('0x' || substr(md5('$seed:' || CAST(vec_id AS VARCHAR)), 1, 15)) AS BIGINT) AS h
                FROM $src ORDER BY h, vec_id LIMIT $kSql)),
        ${sqlIterD(p, 1, s"${p}init", src, dims)},
        ${sqlIterD(p, 2, s"${p}cc1", src, dims)}"""

  /** [[trainCtesK]] with a literal cell count. */
  def trainCtesD(p: String, src: String, dims: Int, k: Int, seed: Int): String =
    trainCtesK(p, src, dims, k.toString, seed)
  /** Unprefixed 64-dim iteration over the `e` CTE — the q49/q66 shape,
    * delegated to the parametrized generator so the two can never
    * drift.
    */
  def sqlIter(i: Int, cin: String): String = sqlIterD("", i, cin, "e", 64)

  /** Product-quantization CTE chain over an existing `e (vec_id,
    * embedding)` CTE: per-subspace slices `pq{j}e`, one 2-iteration
    * training per subspace (seeds `seedBase + j`, centroids in
    * `pq{j}cc2`), argmax codes `pq{j}code`, and the decoded corpus
    * `recon (vec_id, rv)` — [[graft.operators.Similarity.pqTrain]] /
    * `pqCodeCol` / `pqReconCol` replayed end to end. A non-empty
    * `sampleWhere` restricts the TRAINING side (init + Lloyd
    * iterations) to the rows it selects — the coding/reconstruction
    * side always covers the full corpus, mirroring the Spark split
    * between `pqTrain(trainSet)` and the narrow full-corpus encode.
    */
  def pqCtes(m: Int, subDim: Int, k: Int, seedBase: Int,
             sampleWhere: String = ""): String = {
    val slices = (0 until m).map(j =>
      s"pq${j}e AS (SELECT vec_id, list_slice(embedding, ${j * subDim + 1}, ${(j + 1) * subDim}) AS embedding FROM e)")
      .mkString(",\n        ")
    val trainSrc = (j: Int) =>
      if (sampleWhere.isEmpty) s"pq${j}e" else s"pq${j}s"
    val sampled =
      if (sampleWhere.isEmpty) ""
      else (0 until m).map(j =>
        s"pq${j}s AS (SELECT * FROM pq${j}e WHERE $sampleWhere)")
        .mkString("", ",\n        ", ",")
    val trains = (0 until m).map(j =>
      trainCtesD(s"pq$j", trainSrc(j), subDim, k, seedBase + j))
      .mkString(",\n        ")
    val codes = (0 until m).map(j => s"""
        pq${j}code AS (
          SELECT vec_id, cid AS code FROM (
            SELECT s.vec_id, cc.cid,
                   ROW_NUMBER() OVER (PARTITION BY s.vec_id
                     ORDER BY ${sqlCosD("s.embedding", "cc.c", subDim)} DESC, cc.cid) AS rn
            FROM pq${j}e s, pq${j}cc2 cc)
          WHERE rn = 1)""").mkString(",")
    val codeJoins = (1 until m).map(j =>
      s"JOIN pq${j}code c$j USING (vec_id)").mkString("\n          ")
    val centJoins = (0 until m).map(j =>
      s"JOIN pq${j}cc2 v$j ON v$j.cid = c$j.code").mkString("\n          ")
    val concat = (1 until m).foldLeft("v0.c") { (acc, j) =>
      s"list_concat($acc, v$j.c)" }
    s"""$slices,
        $sampled
        $trains,
        $codes,
        recon AS (
          SELECT c0.vec_id, $concat AS rv
          FROM pq0code c0
          $codeJoins
          $centJoins)"""
  }

  /** Shared PQ configuration: q68, q50's `pq`/`ivfpq` rows, and q71
    * must all answer from the SAME codebook (the recall harness
    * measures exactly the index the ANN queries serve from), so the
    * m/k/seed constants and the training-sample rule live here once.
    * Training runs on a deterministic 1/[[SampleMod]] hash sample of
    * the corpus — the production shape: at 100 TB a PQ codebook is
    * trained on a bounded sample (k-means quality saturates long
    * before corpus size), never the full corpus, and a hash cut is the
    * reproducible, oracle-replayable way to pick it.
    */
  private[graft] object PqConfig {
    val M = 4; val SubDim = 16; val K = 8; val Seed = 41
    val SampleSeed = 43; val SampleMod = 4
    def trainFilter: org.apache.spark.sql.Column =
      graft.functions.GraftFunctions.hash64(
        col("vec_id").cast("string"), SampleSeed) % SampleMod === 0
    def sampleWhere: String =
      s"CAST(('0x' || substr(md5('$SampleSeed:' || CAST(vec_id AS VARCHAR)), 1, 15)) AS BIGINT) % $SampleMod = 0"

    /** The shared train-once codebook artifact for this config over
      * `dir`'s embeddings table
      * ([[graft.operators.Similarity.pqCodebookOnce]]): q50, q68 and
      * q71 all probe the SAME on-disk codebook, trained by whichever
      * of them runs first instead of once each — within a run the
      * other two (and every re-measure pass) read the tiny parquet.
      * The artifact path is keyed by the config constants AND a
      * (name, size, mtime) fingerprint of the embeddings parquet, so a
      * regenerated dataset trains a fresh codebook rather than serving
      * a stale one.
      */
    def cents(s: org.apache.spark.sql.SparkSession,
              dir: String): Seq[Seq[Seq[Double]]] = {
      def fp(f: java.io.File): String =
        if (f.isDirectory)
          f.listFiles.sortBy(_.getName).map(fp).mkString("[", ",", "]")
        else s"${f.getName}:${f.length}:${f.lastModified}"
      val src = new java.io.File(s"$dir/embeddings.parquet")
      val raw = s"m$M:sd$SubDim:k$K:seed$Seed:ss$SampleSeed:sm$SampleMod:" +
        s"${src.getAbsolutePath}:${fp(src)}"
      val key = java.security.MessageDigest.getInstance("MD5")
        .digest(raw.getBytes("UTF-8")).map("%02x".format(_)).mkString
      val path = java.nio.file.Paths.get(sys.props("java.io.tmpdir"),
        "graft_artifacts", s"pq_codebook_$key").toString
      graft.operators.Similarity.pqCodebookOnce(s, path, M) {
        graft.operators.Similarity.pqTrain(
          s.read.parquet(s"$dir/embeddings.parquet")
            .select(col("vec_id"), col("embedding")).filter(trainFilter),
          "embedding", "vec_id", m = M, subDim = SubDim, k = K,
          iters = 2, seed = Seed)
      }
    }
  }

  /** One GROUPED Lloyd iteration: [[sqlIterD]] with a `gid` column
    * threading through — vectors in CTE `src (gid, vec_id, embedding)`
    * assign only against their own group's centroids in
    * `cin (gid, cid, c)`, per-(gid, cid, d) exact-decimal mean update,
    * empty (gid, cid) cells carried over. The SQL replay of one
    * [[graft.operators.Similarity.kmeansGrouped]] iteration.
    */
  def sqlIterG(p: String, i: Int, cin: String, src: String, dims: Int): String = s"""
      ${p}a$i AS (
        SELECT gid, vec_id, embedding, cid FROM (
          SELECT s.gid, s.vec_id, s.embedding, c.cid,
                 ROW_NUMBER() OVER (PARTITION BY s.vec_id
                   ORDER BY ${sqlCosD("s.embedding", "c.c", dims)} DESC, c.cid) AS rn
          FROM $src s JOIN $cin c ON s.gid = c.gid)
        WHERE rn = 1),
      ${p}u$i AS (
        SELECT gid, cid, d,
               round(CAST(SUM(CAST(embedding[d] AS DECIMAL(27,12))) AS DOUBLE)
                     / COUNT(*), 9) AS m
        FROM ${p}a$i, unnest(range(1, ${dims + 1})) AS ${p}t$i(d)
        GROUP BY gid, cid, d),
      ${p}c$i AS MATERIALIZED (
        SELECT gid, cid, list(m ORDER BY d) AS c FROM ${p}u$i GROUP BY gid, cid),
      ${p}cc$i AS MATERIALIZED (
        SELECT gid, cid, c FROM ${p}c$i
        UNION ALL
        SELECT o.gid, o.cid, o.c FROM $cin o
        WHERE NOT EXISTS (SELECT 1 FROM ${p}c$i x
                          WHERE x.gid = o.gid AND x.cid = o.cid))"""

  /** CTE chain replaying the HIERARCHICAL quantizer + assignment
    * ([[graft.operators.Similarity.semDedupHier]]'s cell derivation):
    * coarse cell count from the integer-exact `min(g): g²·t ≥ n` scan
    * ([[graft.operators.Similarity.coarseCells]]), coarse 2-iteration
    * training + argmax assign (`gv (gid, vec_id, embedding)`), per-gid
    * fine cell counts `⌈|gid|/t⌉`, per-gid lowest-hash fine init, two
    * grouped Lloyd iterations, and the final fine argmax — `hfin`
    * carries `(gid, cid, vec_id)`. Splice as
    * `WITH ${trainAssignCtesHier(t)} …`.
    */
  def trainAssignCtesHier(targetCell: Long, seedCoarse: Int = 31,
                          seedFine: Int = 37): String =
    s"""e AS (SELECT vec_id, embedding FROM embeddings),
        ${trainAssignCtesHierP("", "e", targetCell, seedCoarse, seedFine)}"""

  /** [[trainAssignCtesHier]] with the CTE names `$p`-prefixed and the
    * source CTE parametrized (the [[trainCtesK]] generalization one
    * level up): several independent hierarchical trainings — e.g. the
    * q174 quantizer FAMILIES, each with its own seed pair — share one
    * WITH clause without name collisions. `p = ""` over src `e`
    * reproduces the unprefixed names ([[trainAssignCtesHier]] is
    * exactly that delegation, so the two can never drift). Final
    * assignment lands in `${p}hfin (gid, cid, vec_id)`.
    */
  def trainAssignCtesHierP(p: String, src: String, targetCell: Long,
                           seedCoarse: Int, seedFine: Int): String = s"""
        ${trainCtesK(s"${p}h", src, 64,
          s"""(SELECT min(g) FROM range(1, 100001) AS ${p}gr(g)
               WHERE g * g * $targetCell >= (SELECT count(*) FROM $src))""",
          seedCoarse)},
        ${p}gv AS MATERIALIZED (
          SELECT gid, vec_id, embedding FROM (
            SELECT $src.vec_id, $src.embedding, cc.cid AS gid,
                   ROW_NUMBER() OVER (PARTITION BY $src.vec_id
                     ORDER BY ${sqlCos(s"$src.embedding", "cc.c")} DESC, cc.cid) AS rn
            FROM $src, ${p}hcc2 cc)
          WHERE rn = 1),
        ${p}gs AS MATERIALIZED (
          SELECT gid, (count(*) + ${targetCell - 1}) // $targetCell AS mc
          FROM ${p}gv GROUP BY gid),
        ${p}fi AS MATERIALIZED (
          SELECT gid, cid, c FROM (
            SELECT g.gid,
                   ROW_NUMBER() OVER (PARTITION BY g.gid ORDER BY g.h, g.vec_id) - 1 AS cid,
                   list_transform(g.embedding, x -> x::DOUBLE) AS c, gs.mc
            FROM (SELECT ${p}gv.*,
                         CAST(('0x' || substr(md5('$seedFine:' || CAST(vec_id AS VARCHAR)), 1, 15)) AS BIGINT) AS h
                  FROM ${p}gv) g
            JOIN ${p}gs gs ON g.gid = gs.gid)
          WHERE cid < mc),
        ${sqlIterG(s"${p}f", 1, s"${p}fi", s"${p}gv", 64)},
        ${sqlIterG(s"${p}f", 2, s"${p}fcc1", s"${p}gv", 64)},
        ${p}hfin AS MATERIALIZED (
          SELECT gid, cid, vec_id FROM (
            SELECT s.gid, c.cid, s.vec_id,
                   ROW_NUMBER() OVER (PARTITION BY s.vec_id
                     ORDER BY ${sqlCos("s.embedding", "c.c")} DESC, c.cid) AS rn
            FROM ${p}gv s JOIN ${p}fcc2 c ON s.gid = c.gid)
          WHERE rn = 1)"""

  /** CTE chain `e → init → (iter 1) → (iter 2) → fin`: trains the
    * codebook and argmax-assigns every vector to it — `fin` carries
    * `(vec_id, cid, cos)`. Splice as `WITH $trainAssignCtes …`.
    */
  def trainAssignCtes: String = trainAssignCtesK("8")

  /** [[trainAssignCtes]] with the cell count spliced as SQL — q73
    * passes the [[graft.operators.Similarity.autoCells]] scalar
    * subquery so the oracle derives the same data-dependent k the
    * Spark side computes.
    */
  def trainAssignCtesK(kSql: String): String = s"""e AS (SELECT vec_id, embedding FROM embeddings),
        ${trainCtesK("", "e", 64, kSql, 31)},
        fin AS MATERIALIZED (
          SELECT vec_id, cid, cos FROM (
            SELECT vec_id, cid, cos,
                   ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY cos DESC, cid) AS rn
            FROM (SELECT e.vec_id, cc2.cid, ${sqlCos("e.embedding", "cc2.c")} AS cos
                  FROM e, cc2))
          WHERE rn = 1)"""
}
