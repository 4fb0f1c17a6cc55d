package graft

import scala.util.chaining._

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.operators.Checkpoints

/** Round-13/14 query surface: the GK-sketch threshold form the
  * q94/q140 scaladocs promised as the 100 TB swap for `exactCont`
  * consumers (q161), the union-of-blockings entity-resolution
  * selectivity dial q112 documented (q162), and fuzzy benchmark
  * decontamination — cross-relation MinHash-LSH near-dup cut (q163).
  * Oracle-parity rules as in [[Queries]]/[[Queries2]].
  */
object Queries21 {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    Tables(s, dir, name)

  // ----------------------------------------------------- q161_curriculum_sketch
  /** q94's curriculum bucketing with SKETCH thresholds — the shape that
    * actually ships at 100 TB. q94 derives its quartile cut-points from
    * [[graft.operators.Percentiles.exactCont]], which pays one range
    * exchange of the whole (group, value) corpus; thresholds need not
    * be exact, so here they come from `percentile_approx` (the q43 GK
    * sketch, accuracy 10000): O(accuracy) state per partition, merges
    * associatively map-side, NO range exchange anywhere but the final
    * 4-row ORDER BY. The bucketing itself is the same broadcast-CASE:
    * the one-row threshold frame broadcasts onto a single conditional-
    * aggregation pass (the four bucket counts and the six boundary
    * ranks fold together — one corpus pass, one 1-row exchange).
    *
    * Oracle (the q43 rank-window CONTRACT, since sketch answers are
    * engine-specific and can never hash-match): each engine buckets by
    * ITS OWN sketch thresholds, then verifies in the same pass that
    * every bucket's count is consistent with the sketch's rank
    * guarantee — count_b must land within
    * `0.25·n ± (2·window + ties at the straddled boundaries + slack)`,
    * where window = n/accuracy for Spark's GK bound and the documented
    * conservative 1%·n for DuckDB's t-digest (the q43 asymmetry). The
    * emitted relation (bucket, n, within_window) is engine-independent
    * and hash-green iff both sketches honor their bounds. Ties matter:
    * token counts repeat heavily, and a threshold value's whole tie
    * mass sits on one side of its bucket boundary — the exact-rank
    * interval [rlo+1, rhi] absorbs it, a naive `±window` check would
    * be false under ties.
    */
  val q161CurriculumSketch = QueryDef(
    "q161_curriculum_sketch",
    (s, dir) => {
      import s.implicits._
      import graft.operators.TextAnalysis
      val docs = t(s, dir, "documents").select(
        TextAnalysis.tokenCount($"text").cast("double").as("toks"))
      // the SHARED threshold seam (Percentiles.thresholds) — q94 calls
      // the same code path with ExactThresholds; this query IS the
      // documented one-argument swap, not a parallel implementation
      val th = graft.operators.Percentiles.thresholds(
          docs.withColumn("_g", lit(0)), Seq("_g"), "toks",
          Seq(0.25, 0.5, 0.75),
          graft.operators.Percentiles.SketchThresholds(10000))
        .groupBy($"_g")
        .agg(min(when($"p" === 0.25, $"value")).as("t25"),
          min(when($"p" === 0.5, $"value")).as("t50"),
          min(when($"p" === 0.75, $"value")).as("t75"))
        .drop("_g")
      val stats = docs.crossJoin(broadcast(th)).agg(
        count(lit(1)).as("n"),
        sum(when($"toks" <= $"t25", 1L).otherwise(0L)).as("rhi25"),
        sum(when($"toks" < $"t25", 1L).otherwise(0L)).as("rlo25"),
        sum(when($"toks" <= $"t50", 1L).otherwise(0L)).as("rhi50"),
        sum(when($"toks" < $"t50", 1L).otherwise(0L)).as("rlo50"),
        sum(when($"toks" <= $"t75", 1L).otherwise(0L)).as("rhi75"),
        sum(when($"toks" < $"t75", 1L).otherwise(0L)).as("rlo75"),
        sum(when($"toks" > $"t25" && $"toks" <= $"t50", 1L).otherwise(0L))
          .as("c1"),
        sum(when($"toks" > $"t50" && $"toks" <= $"t75", 1L).otherwise(0L))
          .as("c2"),
        sum(when($"toks" > $"t75", 1L).otherwise(0L)).as("c3"))
      val w = $"n" / 10000.0 // Spark GK: rank error <= n/accuracy
      def tie(hi: Column, lo: Column): Column = hi - lo
      val ok0 = ($"rhi25" >= $"n" * 0.25 - w - 1) &&
        ($"rhi25" <= $"n" * 0.25 + w + tie($"rhi25", $"rlo25") + 1)
      val ok1 = ($"c1" >= $"n" * 0.25 - w * 2 - tie($"rhi25", $"rlo25") - 2) &&
        ($"c1" <= $"n" * 0.25 + w * 2 + tie($"rhi50", $"rlo50") + 2)
      val ok2 = ($"c2" >= $"n" * 0.25 - w * 2 - tie($"rhi50", $"rlo50") - 2) &&
        ($"c2" <= $"n" * 0.25 + w * 2 + tie($"rhi75", $"rlo75") + 2)
      val ok3 = ($"c3" >= $"n" * 0.25 - w - tie($"rhi75", $"rlo75") - 1) &&
        ($"c3" <= $"n" * 0.25 + w + 1)
      stats
        .select($"n", explode(array(
          struct(lit(0L).as("bucket"), ok0.as("within_window")),
          struct(lit(1L).as("bucket"), ok1.as("within_window")),
          struct(lit(2L).as("bucket"), ok2.as("within_window")),
          struct(lit(3L).as("bucket"), ok3.as("within_window")))).as("_r"))
        .select($"_r.bucket".as("bucket"), $"n".cast("long").as("n"),
          $"_r.within_window".as("within_window"))
        .orderBy($"bucket")
    },
    Some("""
      WITH d AS (
        SELECT CAST(len(string_split(text, ' ')) AS DOUBLE) AS toks
        FROM documents),
      a AS (
        SELECT COUNT(*) AS n, approx_quantile(toks, [0.25, 0.5, 0.75]) AS t
        FROM d),
      th AS (SELECT n, t[1] AS t25, t[2] AS t50, t[3] AS t75 FROM a),
      s AS (
        SELECT max(th.n) AS n,
               SUM(CASE WHEN toks <= t25 THEN 1 ELSE 0 END) AS rhi25,
               SUM(CASE WHEN toks <  t25 THEN 1 ELSE 0 END) AS rlo25,
               SUM(CASE WHEN toks <= t50 THEN 1 ELSE 0 END) AS rhi50,
               SUM(CASE WHEN toks <  t50 THEN 1 ELSE 0 END) AS rlo50,
               SUM(CASE WHEN toks <= t75 THEN 1 ELSE 0 END) AS rhi75,
               SUM(CASE WHEN toks <  t75 THEN 1 ELSE 0 END) AS rlo75,
               SUM(CASE WHEN toks > t25 AND toks <= t50 THEN 1 ELSE 0 END) AS c1,
               SUM(CASE WHEN toks > t50 AND toks <= t75 THEN 1 ELSE 0 END) AS c2,
               SUM(CASE WHEN toks > t75 THEN 1 ELSE 0 END) AS c3
        FROM d CROSS JOIN th),
      v AS (
        SELECT n, n / 100.0 AS w, rhi25, rlo25, rhi50, rlo50, rhi75, rlo75,
               c1, c2, c3
        FROM s),
      ok AS (
        SELECT n,
          (rhi25 >= 0.25*n - w - 1 AND
           rhi25 <= 0.25*n + w + (rhi25 - rlo25) + 1) AS ok0,
          (c1 >= 0.25*n - 2*w - (rhi25 - rlo25) - 2 AND
           c1 <= 0.25*n + 2*w + (rhi50 - rlo50) + 2) AS ok1,
          (c2 >= 0.25*n - 2*w - (rhi50 - rlo50) - 2 AND
           c2 <= 0.25*n + 2*w + (rhi75 - rlo75) + 2) AS ok2,
          (c3 >= 0.25*n - w - (rhi75 - rlo75) - 1 AND
           c3 <= 0.25*n + w + 1) AS ok3
        FROM v)
      SELECT CAST(t.b AS BIGINT) AS bucket, CAST(n AS BIGINT) AS n,
             CASE t.b WHEN 0 THEN ok0 WHEN 1 THEN ok1
                      WHEN 2 THEN ok2 ELSE ok3 END AS within_window
      FROM ok CROSS JOIN (VALUES (0), (1), (2), (3)) t(b)
      ORDER BY bucket"""),
    notes = "oracle checks the rank-window contract per engine (q43 " +
      "precedent); raw sketch thresholds are engine-specific")

  // --------------------------------------------------- q162_entity_union_blocking
  /** Union-of-blockings entity resolution — the selectivity dial q112's
    * scaladoc names for 100 TB. q112 blocks on ONE coarse complete key
    * (nation): recall is free but every probe pays a verify fan-in of
    * the whole nation block — at corpus scale the quadratic verify
    * inside fat blocks IS the cost. The production alternative: a UNION
    * of cheap selective blockings, none complete alone, whose coverage
    * composes. The only high-entropy region of these catalog names is
    * the number tail (everything before it is constant + padding zeros
    * — any prefix/mid-digit key degenerates into one corpus-sized
    * block), so the union is the deletion-neighborhood family
    * (SymSpell's symmetric-delete idea recast as blocking): blocking i
    * keys the probe's last-3 against the canonical last-4 WITH ITS i-th
    * CHARACTER DELETED. A single deletion anywhere in the name lands
    * the true pair in blocking 0 (deletion at or before the 4th-last
    * char shifts the tail whole) or exactly one of 1..3 (deletion
    * inside the last 3) — complete by construction, while every block
    * stays a 3-digit bucket (~|corpus|/1000, vs the nation block's
    * |corpus|/25). Candidates come from four equi-joins + a pair-level
    * dedup (a pair found by several blockings counts once); the
    * edit-distance verify runs only inside the union. Reported per
    * probe: the best match by (distance, key), the union fan-in (the
    * measured value of the dial vs q112's n_cand), and the per-blocking
    * fan-ins. At 100 TB you extend the variant set (longer tails,
    * transposition keys) and the plan stays equi-join-only.
    */
  val q162EntityUnionBlocking = QueryDef(
    "q162_entity_union_blocking",
    (s, dir) => {
      import s.implicits._
      val cust = t(s, dir, "customer")
      val probes = cust.filter($"c_custkey" % 150 === 7)
        .select($"c_custkey".as("probe_key"),
          expr("concat(substring(c_name, 1, CAST(10 + c_custkey % 8 AS INT) - 1), " +
            "substring(c_name, CAST(10 + c_custkey % 8 AS INT) + 1))")
            .as("_pname"))
      // the four delete-one variants of the canonical last-4: variant 0
      // drops its first char (the "deletion fell before the tail, the
      // whole tail shifted" key), variants 1..3 drop an inner/last char
      // (the "deletion fell inside the last 3" keys)
      val variants = cust
        .select($"c_custkey".as("cand_key"), $"c_name".as("_cname"),
          expr("right(c_name, 4)").as("_r4"))
        .select($"cand_key", $"_cname", posexplode(array(
          expr("substring(_r4, 2, 3)"),
          expr("concat(substring(_r4, 1, 1), substring(_r4, 3, 2))"),
          expr("concat(substring(_r4, 1, 2), substring(_r4, 4, 1))"),
          expr("substring(_r4, 1, 3)"))).as(Seq("blk", "_bk")))
        .distinct() // zeros make some variants coincide — key once
      val pairs = probes.withColumn("_bk", expr("right(_pname, 3)"))
        .join(variants, "_bk")
      val union = pairs
        .groupBy($"probe_key", $"cand_key", $"_pname", $"_cname")
        .agg(max(when($"blk" === 0, 1L).otherwise(0L)).as("b0"),
          max(when($"blk" === 1, 1L).otherwise(0L)).as("b1"),
          max(when($"blk" === 2, 1L).otherwise(0L)).as("b2"),
          max(when($"blk" === 3, 1L).otherwise(0L)).as("b3"))
      val wp = Window.partitionBy($"probe_key")
      union
        .withColumn("n_cand", count(lit(1)).over(wp))
        .withColumn("n_b0", sum($"b0").over(wp))
        .withColumn("n_b1", sum($"b1").over(wp))
        .withColumn("n_b2", sum($"b2").over(wp))
        .withColumn("n_b3", sum($"b3").over(wp))
        .withColumn("dist", levenshtein($"_pname", $"_cname"))
        .filter($"dist" <= 2)
        .withColumn("_rn", row_number().over(
          Window.partitionBy($"probe_key").orderBy($"dist", $"cand_key")))
        .filter($"_rn" === 1)
        .select($"probe_key", $"cand_key".as("matched_key"),
          $"dist".cast("long").as("dist"), $"n_cand",
          $"n_b0", $"n_b1", $"n_b2", $"n_b3")
        .orderBy($"probe_key")
    },
    Some("""
      WITH pr AS (
        SELECT c_custkey AS probe_key,
               substr(c_name, 1, CAST(10 + c_custkey % 8 AS INT) - 1)
                 || substr(c_name, CAST(10 + c_custkey % 8 AS INT) + 1) AS pname
        FROM customer WHERE c_custkey % 150 = 7),
      vr AS (
        SELECT DISTINCT cand_key, cname, blk, bk FROM (
          SELECT c_custkey AS cand_key, c_name AS cname, 0 AS blk,
                 substr(right(c_name, 4), 2, 3) AS bk FROM customer
          UNION ALL
          SELECT c_custkey, c_name, 1,
                 substr(right(c_name, 4), 1, 1) || substr(right(c_name, 4), 3, 2)
          FROM customer
          UNION ALL
          SELECT c_custkey, c_name, 2,
                 substr(right(c_name, 4), 1, 2) || substr(right(c_name, 4), 4, 1)
          FROM customer
          UNION ALL
          SELECT c_custkey, c_name, 3,
                 substr(right(c_name, 4), 1, 3) FROM customer)),
      u AS (
        SELECT probe_key, cand_key, pname, cname,
               MAX(CASE WHEN blk = 0 THEN 1 ELSE 0 END) AS b0,
               MAX(CASE WHEN blk = 1 THEN 1 ELSE 0 END) AS b1,
               MAX(CASE WHEN blk = 2 THEN 1 ELSE 0 END) AS b2,
               MAX(CASE WHEN blk = 3 THEN 1 ELSE 0 END) AS b3
        FROM pr JOIN vr ON right(pr.pname, 3) = vr.bk
        GROUP BY 1, 2, 3, 4),
      w AS (
        SELECT *, COUNT(*) OVER (PARTITION BY probe_key) AS n_cand,
               SUM(b0) OVER (PARTITION BY probe_key) AS n_b0,
               SUM(b1) OVER (PARTITION BY probe_key) AS n_b1,
               SUM(b2) OVER (PARTITION BY probe_key) AS n_b2,
               SUM(b3) OVER (PARTITION BY probe_key) AS n_b3
        FROM u),
      hit AS (
        SELECT *, levenshtein(pname, cname) AS d FROM w
        WHERE levenshtein(pname, cname) <= 2),
      rk AS (
        SELECT *, ROW_NUMBER() OVER (
          PARTITION BY probe_key ORDER BY d, cand_key) AS rn
        FROM hit)
      SELECT probe_key, cand_key AS matched_key, CAST(d AS BIGINT) AS dist,
             CAST(n_cand AS BIGINT) AS n_cand,
             CAST(n_b0 AS BIGINT) AS n_b0, CAST(n_b1 AS BIGINT) AS n_b1,
             CAST(n_b2 AS BIGINT) AS n_b2, CAST(n_b3 AS BIGINT) AS n_b3
      FROM rk WHERE rn = 1 ORDER BY probe_key"""))

  // --------------------------------------------------- q163_fuzzy_decontaminate
  /** FUZZY benchmark decontamination — the near-duplicate leakage the
    * exact-shingle probe (q47/q64) undercounts. A held-out document
    * that reached the training corpus lightly edited (re-crawl,
    * re-punctuation, template paraphrase) no longer overlaps the test
    * set's shingle pool verbatim, but its MinHash signature still
    * collides: this query runs the banded-LSH near-dup test ACROSS the
    * two relations ([[graft.operators.Contamination.fuzzyScores]], the
    * [[graft.operators.Dedup.lshCrossPairs]] shape pointed at a
    * benchmark) and emits every verified (train doc, test doc) pair at
    * Jaccard ≥ 0.5. The held-out set is the `doc_id % 7 = 0` slice —
    * disjoint ids, so every emitted pair is real cross-relation
    * leakage, and the near-dup clusters the corpus already carries
    * stand in for the paraphrased-benchmark case.
    *
    * Scale shape: the test set is benchmark-sized, so BOTH of its probe
    * structures broadcast (bands into the candidate join, shingles into
    * the verify join); the corpus never shuffles — two narrow map
    * passes, candidates only past the band agreement, never corpus ×
    * corpus (plan-pinned in PlanAuditSpec). Same (8 seeds, 4×2 bands)
    * arithmetic as q11, replayed hash-for-hash by the oracle.
    *
    * Fixture (the q165 discipline, replacing the round-13 corpus-
    * proportional `% 7` stand-in whose 100× bench rows measured the
    * fixture, not the operator): the test set is the 64 md5-smallest
    * ≥12-token documents — a TakeOrdered, FIXED-size at any corpus
    * scale, like real benchmarks — and the corpus is the table minus
    * the test rows plus planted leaks at both covered intensities
    * (verbatim copies at ids +1e9, every-k-th-token edits at ids +2e9
    * with k ∈ {3..18}, q165's spread), so the output always carries
    * known-leak pairs alongside any organic near-dups of the test
    * slice.
    */
  val q163FuzzyDecontaminate = QueryDef(
    "q163_fuzzy_decontaminate",
    (s, dir) => {
      import s.implicits._
      import graft.operators.Contamination
      import graft.functions.GraftFunctions.hash64
      val docs = t(s, dir, "documents").select($"doc_id", $"text")
      // pinned: 64 rows, consumed by the bound guard + both probe
      // structures — without the pin each consumer re-runs the corpus
      // TakeOrdered
      val tsel = docs.filter(size(split($"text", " ")) >= 12)
        .withColumn("_h", hash64($"doc_id".cast("string"), 163))
        .orderBy($"_h", $"doc_id").limit(64).drop("_h")
        .pipe(Checkpoints.pin)
      val verb = tsel.select(($"doc_id" + 1000000000L).as("doc_id"), $"text")
      // derive the edit FIRST, shift the id after (the q165 lateral-
      // alias note: DuckDB would not capture the shifted alias)
      val edited = tsel
        .select($"doc_id",
          array_join(transform(split($"text", " "), (x, i) =>
            when(i.cast("long") % (lit(3L) + ($"doc_id" % 6) * 3L) === 0L,
              concat(lit("zq"), i.cast("string"))).otherwise(x)), " ")
            .as("text"))
        .select(($"doc_id" + 2000000000L).as("doc_id"), $"text")
      val corp = docs
        .join(broadcast(tsel.select($"doc_id")), Seq("doc_id"), "left_anti")
        .unionByName(verb).unionByName(edited)
      Contamination.fuzzyScores(corp, tsel, "doc_id", "text",
          minJaccard = 0.5)
        .orderBy($"doc_id", $"test_id")
    },
    Some("""
      WITH tsel AS (
        SELECT doc_id, text FROM (
          SELECT doc_id, text, row_number() OVER (ORDER BY
            CAST(('0x' || substr(md5('163:' || CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT),
            doc_id) AS rn
          FROM documents WHERE len(string_split(text, ' ')) >= 12)
        WHERE rn <= 64),
      tedit AS (
        SELECT doc_id + 2000000000 AS doc_id,
               array_to_string(list_transform(range(1, len(w) + 1), i ->
                 CASE WHEN (i - 1) % (3 + (doc_id % 6) * 3) = 0
                      THEN 'zq' || (i - 1) ELSE w[i] END), ' ') AS text
        FROM (SELECT doc_id, string_split(text, ' ') AS w FROM tsel)),
      corp AS (
        SELECT d.doc_id, d.text FROM documents d
        LEFT JOIN tsel USING (doc_id) WHERE tsel.doc_id IS NULL
        UNION ALL
        SELECT doc_id + 1000000000, text FROM tsel
        UNION ALL
        SELECT doc_id, text FROM tedit),
      alltexts AS (
        SELECT doc_id, text, true AS is_corpus FROM corp
        UNION ALL
        SELECT doc_id, text, false FROM tsel),
      toks AS (
        SELECT doc_id, is_corpus, string_split(text, ' ') AS w,
               list_transform(string_split(text, ' '),
                 x -> CAST(('0x' || substr(md5('0:' || x), 1, 15)) AS BIGINT)) AS wh
        FROM alltexts),
      shx AS (
        SELECT doc_id, is_corpus,
               list_transform(
                 list_transform(range(0, len(w) - 2), i ->
                   ((wh[i+1] % 1073741824) * 37 + (wh[i+2] % 1073741824)) % 1073741789
                     * 41 + (wh[i+3] % 1073741824)),
                 v -> v % 1073741789) AS sh
        FROM toks WHERE len(w) >= 3),
      mh AS (
        SELECT doc_id, is_corpus,
               list_transform([31, 37, 41, 43, 47, 53, 59, 61], a ->
                 list_min(list_transform(sh,
                   h -> (a * (h % 1073741824) + a*7 + 3) % 1073741789))) AS sig
        FROM shx),
      bands AS (
        SELECT doc_id, is_corpus,
               md5(b || ':' || sig[2*b+1] || ',' || sig[2*b+2]) AS band_key
        FROM mh, unnest(range(0, 4)) AS tt(b)),
      cand AS (
        SELECT DISTINCT c.doc_id AS doc_id, t.doc_id AS test_id
        FROM (SELECT doc_id, band_key FROM bands WHERE is_corpus) c
        JOIN (SELECT doc_id, band_key FROM bands WHERE NOT is_corpus) t
          USING (band_key)),
      scored AS (
        SELECT cand.doc_id, cand.test_id,
               round(CAST(len(list_distinct(list_intersect(sa.sh, sb.sh))) AS DOUBLE)
                     / len(list_distinct(list_concat(sa.sh, sb.sh))), 6) AS jaccard
        FROM cand
        JOIN (SELECT doc_id, sh FROM shx WHERE is_corpus) sa
          ON sa.doc_id = cand.doc_id
        JOIN (SELECT doc_id, sh FROM shx WHERE NOT is_corpus) sb
          ON sb.doc_id = cand.test_id)
      SELECT doc_id, test_id, jaccard FROM scored
      WHERE jaccard >= 0.5 ORDER BY doc_id, test_id"""),
    notes = "fuzzy (MinHash-LSH) train-vs-test decontamination on the " +
      "fixed-size planted fixture (q165 discipline); exact leakage is " +
      "q47/q64's probe")

  // ------------------------------------------------- q164_semantic_decontaminate
  /** SEMANTIC benchmark decontamination — the third rung of the leakage
    * ladder (q47/q64 verbatim, q163 lightly-edited, here fully
    * rephrased): a test item rewritten heavily enough shares no shingle
    * with its leaked copy, but their embeddings still sit next to each
    * other. Since round 16 this runs the MULTI-TABLE form
    * ([[graft.operators.Contamination.semanticScoresMulti]]): 8
    * independent 6-plane hyperplane codes, agreement in ANY table is a
    * candidate, cosine ≥ 0.35 verifies. The single-code form this
    * replaces ([[graft.operators.Contamination.semanticScores]], still
    * the q165 harness's measured baseline) ties its plane count to the
    * corpus ([[graft.operators.Similarity.autoPlanes]]) and its recall
    * ERODES with scale — 0.77 at sf0.1 down to 0.36 at the 100× soak
    * even with full Hamming-1 probing (round-15 measurement); the
    * OR-of-tables recall 1−(1−p⁶)⁸ is corpus-size-INDEPENDENT, and the
    * verify cost per corpus row (8·64/2⁶ = 8 expected candidate
    * cosines against a 64-item benchmark) is a constant at any scale.
    *
    * Output: `(vec_id, test_id, n_tables, cos)` — n_tables is the
    * agreement count, Σ n_tables the raw candidate cost.
    *
    * Scale shape: the corpus side is one narrow map pass fanned out to
    * 8 (table, bucket) rows per vector; the benchmark side broadcasts;
    * the only hash exchange is the match-sized pair-dedup aggregate
    * (plan-pinned). Fixture (the q165 discipline, replacing the
    * corpus-proportional `% 7` slice): the 64 md5-smallest embedding
    * rows are the benchmark; the corpus is the table minus those plus
    * perturbed plants (ids +1e9, md5-derived noise at q165's amplitude
    * spread 0.05–0.55), so rephrased-leak pairs are planted truth.
    */
  val q164SemanticDecontaminate = {
    import KmeansSql.sqlCos
    QueryDef(
      "q164_semantic_decontaminate",
      (s, dir) => {
        import s.implicits._
        import graft.operators.Contamination
        import graft.functions.GraftFunctions.hash64
        val emb = t(s, dir, "embeddings").select($"vec_id", $"embedding")
        val vsel = emb
          .withColumn("_h", hash64($"vec_id".cast("string"), 164))
          .orderBy($"_h", $"vec_id").limit(64).drop("_h")
          .pipe(Checkpoints.pin)
        // amplitude via integer-then-one-divide (q165's engine-exact
        // double); perturb against the ORIGINAL vec_id, shift after
        val amp = (lit(5L) + ($"vec_id" % 6) * 10L).cast("double") / 100.0
        val vplant = vsel
          .select($"vec_id",
            transform($"embedding", (x, i) => x.cast("double") + amp *
              ((hash64(concat($"vec_id".cast("string"), lit(":"),
                i.cast("string")), 7) % 1000L).cast("double") / 1000.0 - 0.5))
              .as("embedding"))
          .select(($"vec_id" + 1000000000L).as("vec_id"), $"embedding")
        val vcorp = emb
          .join(broadcast(vsel.select($"vec_id")), Seq("vec_id"), "left_anti")
          .select($"vec_id",
            transform($"embedding", _.cast("double")).as("embedding"))
          .unionByName(vplant)
        Contamination.semanticScoresMulti(vcorp, vsel, "vec_id",
            "embedding", dims = 64, planesPerTable = 6, tables = 8,
            minCos = 0.35)
          .orderBy($"vec_id", $"test_id")
      },
      Some(s"""
        WITH vsel AS (
          SELECT vec_id, embedding FROM (
            SELECT vec_id, embedding, row_number() OVER (ORDER BY
              CAST(('0x' || substr(md5('164:' || CAST(vec_id AS VARCHAR)), 1, 15)) AS BIGINT),
              vec_id) AS rn
            FROM embeddings) WHERE rn <= 64),
        vplant AS (
          SELECT vec_id + 1000000000 AS vec_id,
                 list_transform(range(0, 64), d ->
                   embedding[d+1]::DOUBLE + ((5 + (vec_id % 6) * 10) / 100.0) *
                     (CAST(('0x' || substr(md5('7:' || vec_id || ':' || d), 1, 15)) AS BIGINT)
                        % 1000 / 1000.0 - 0.5)) AS v
          FROM vsel),
        vcorp AS (
          SELECT e.vec_id, list_transform(e.embedding, x -> x::DOUBLE) AS v
          FROM embeddings e LEFT JOIN vsel USING (vec_id) WHERE vsel.vec_id IS NULL
          UNION ALL
          SELECT vec_id, v FROM vplant),
        hp AS (
          SELECT g, list_transform(range(0, 64), d ->
            CAST(('0x' || substr(md5('0:' || g || ':' || d), 1, 15)) AS BIGINT)
              % 1000 / 1000.0 - 0.5) AS pv
          FROM range(0, 48) tg(g)),
        cb AS (
          SELECT c.vec_id, CAST(hp.g // 6 AS INT) AS tbl,
                 SUM(CASE WHEN round(list_reduce(list_transform(range(0, 64),
                       d -> c.v[d+1] * hp.pv[d+1]), (x, y) -> x + y), 6) > 0
                     THEN (1 << CAST(hp.g % 6 AS INT)) ELSE 0 END) AS bucket
          FROM vcorp c CROSS JOIN hp GROUP BY 1, 2),
        tb AS (
          SELECT t.vec_id AS test_id, CAST(hp.g // 6 AS INT) AS tbl,
                 SUM(CASE WHEN round(list_reduce(list_transform(range(0, 64),
                       d -> t.embedding[d+1]::DOUBLE * hp.pv[d+1]), (x, y) -> x + y), 6) > 0
                     THEN (1 << CAST(hp.g % 6 AS INT)) ELSE 0 END) AS bucket
          FROM vsel t CROSS JOIN hp GROUP BY 1, 2),
        pairs AS (
          SELECT c.vec_id, t.test_id, count(*) AS n_tables
          FROM cb c JOIN tb t ON c.tbl = t.tbl AND c.bucket = t.bucket
          GROUP BY 1, 2),
        cosj AS (
          SELECT p.vec_id, p.test_id, CAST(p.n_tables AS BIGINT) AS n_tables,
                 ${sqlCos("cv.v", "tv.tv")} AS cos
          FROM pairs p
          JOIN vcorp cv ON cv.vec_id = p.vec_id
          JOIN (SELECT vec_id AS test_id,
                  list_transform(embedding, x -> x::DOUBLE) AS tv FROM vsel) tv
            ON tv.test_id = p.test_id)
        SELECT vec_id, test_id, n_tables, cos FROM cosj
        WHERE cos >= 0.35 ORDER BY vec_id, test_id"""),
      notes = "multi-table (8 x 6-plane OR-composed) semantic " +
        "decontamination on the fixed-size planted fixture; q163 is " +
        "the shingle-level fuzzy form, q47/q64 the exact form, q165 " +
        "measures this rung's recall against the single-code baseline")
  }

  def all: Seq[QueryDef] = Seq(q161CurriculumSketch, q162EntityUnionBlocking,
    q163FuzzyDecontaminate, q164SemanticDecontaminate)
}
