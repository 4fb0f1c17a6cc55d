package graft

import scala.util.chaining._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{Checkpoints, Overlap}

/** Round-16 query surface: the sharded-SemDeDup co-location
  * measurement — the q165 "measure, don't guess" discipline applied to
  * the shard-key choice. Oracle-parity rules as in [[Queries]].
  */
object Queries23 {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    Tables(s, dir, name)

  // ---------------------------------------------------- q169_shard_colocation
  /** Shard-key co-location recall for sharded SemDeDup
    * ([[graft.operators.Similarity.Slicing.IdHash]] vs
    * [[graft.operators.Similarity.Slicing.Content]] slicing of
    * [[graft.operators.Similarity.semDedupSliced]]).
    * Sharded dedup only catches pairs that land in the SAME shard, so
    * the shard key's co-location probability on true near-dup pairs IS
    * the structural recall ceiling of the whole operator — measured
    * here directly, the way q165 measures the contamination rungs.
    *
    * Fixture (both engines replay it bit-for-bit): the 64 md5-smallest
    * embedding rows, each paired with a planted near-dup — the vector
    * plus md5-derived noise at amplitude (5 + 10·(vec_id mod 6))/100 ∈
    * {0.05..0.55}, the q165 semantic-plant spread, so light plants sit
    * deep inside the source's hyperplane cell and heavy ones cross
    * planes. Three shard keys on the identical pairs:
    *
    *  - `id_shards4`: the q48 id-hash arithmetic at shards = 4
    *    (hash64(id, 5) mod 4, plant id = vec_id + 1e9) — content-blind,
    *    expected co-location 1/4 at ANY amplitude. This is the
    *    documented [[graft.operators.Similarity.Slicing.IdHash]]
    *    miss, measured.
    *  - `c_planes2_t1`: one 2-plane hyperplane family (content shard
    *    key of [[graft.operators.Similarity.Slicing.Content]]
    *    at shardPlanes = 2, tables = 1) — co-location (1 − θ/π)² per
    *    pair, ≈ 1 for light plants, degrading as the amplitude dial
    *    crosses planes.
    *  - `c_planes2_t2`: two OR-composed families (tables = 2) — a pair
    *    co-locates if EITHER family agrees, the rung-3/table dial
    *    applied to the shard key.
    *
    * None of the three keys references corpus size, so every row is
    * scale-FLAT — the 100 TB reading is direct. The end-to-end
    * within-shard catch (co-located ⇒ dropped by the per-shard
    * [[graft.operators.Similarity.semDedupHier]] at its τ) is pinned in
    * SemDedupSpec; this query measures the shard key itself, which is
    * the only term that differs between the two sharded forms.
    *
    * Scale shape: the fixture is a TakeOrdered (bounded at any corpus
    * size); buckets are one narrow map pass over 2·64 rows; the id
    * arithmetic is per-row hashing. No corpus-sized work at all —
    * the audit costs O(|test|·tables·planes·dims).
    */
  val q169ShardColocation = {
    val TestN = 64
    QueryDef(
      "q169_shard_colocation",
      (s, dir) => {
        import s.implicits._
        import graft.functions.GraftFunctions.hash64
        import graft.operators.Similarity

        val emb = t(s, dir, "embeddings").select($"vec_id", $"embedding")
        val vsel = emb
          .withColumn("_h", hash64($"vec_id".cast("string"), 169))
          .orderBy($"_h", $"vec_id").limit(TestN).drop("_h")
          .select($"vec_id",
            transform($"embedding", _.cast("double")).as("embedding"))
          .pipe(Checkpoints.pin)
        // the q165 semantic-plant arithmetic (noise seed 8, amplitude
        // via integer-then-one-divide so both engines produce the
        // identical double); the pair keeps the ORIGINAL vec_id as its
        // join key — only the id_shards4 mode needs the +1e9 plant id,
        // and it derives it in place
        val amp = (lit(5L) + ($"vec_id" % 6) * 10L).cast("double") / 100.0
        val vplant = vsel.select($"vec_id",
          transform($"embedding", (x, i) => x + amp *
            ((hash64(concat($"vec_id".cast("string"), lit(":"),
              i.cast("string")), 8) % 1000L).cast("double") / 1000.0 - 0.5))
            .as("embedding"))

        def buckets(df: DataFrame, out: String): DataFrame =
          Similarity.multiTableBuckets(df, "embedding", dims = 64,
              planes = 2, tables = 2, "tbl", "bkt")
            .select($"vec_id", $"tbl", $"bkt".as(out))
        val pairTables = buckets(vsel, "ob")
          .join(buckets(vplant, "pb"), Seq("vec_id", "tbl"))
        val pairs = pairTables
          .groupBy($"vec_id")
          .agg(
            max(when($"tbl" === 0 && $"ob" === $"pb", 1).otherwise(0))
              .as("m0"),
            max(when($"tbl" === 1 && $"ob" === $"pb", 1).otherwise(0))
              .as("m1"))
        val content = pairs.agg(
          sum($"m0").cast("long").as("t1"),
          sum(when($"m0" === 1 || $"m1" === 1, 1L).otherwise(0L))
            .cast("long").as("t2"))
        val idsh = vsel.select(
            when(hash64($"vec_id".cast("string"), 5) % 4 ===
              hash64(($"vec_id" + 1000000000L).cast("string"), 5) % 4,
              1L).otherwise(0L).as("co"))
          .agg(sum($"co").cast("long").as("id4"))

        content.crossJoin(idsh)
          .select(
            explode(array(
              struct(lit("c_planes2_t1").as("mode"),
                $"t1".as("colocated")),
              struct(lit("c_planes2_t2").as("mode"),
                $"t2".as("colocated")),
              struct(lit("id_shards4").as("mode"),
                $"id4".as("colocated")))).as("r"))
          .select($"r.mode".as("mode"), $"r.colocated".as("colocated"),
            lit(TestN.toLong).as("possible"),
            round($"r.colocated".cast("double") / TestN, 6).as("recall"))
          .orderBy($"mode")
      },
      Some(s"""
        WITH vsel AS (
          SELECT vec_id, embedding FROM (
            SELECT vec_id, embedding, row_number() OVER (ORDER BY
              CAST(('0x' || substr(md5('169:' || CAST(vec_id AS VARCHAR)), 1, 15)) AS BIGINT),
              vec_id) AS rn
            FROM embeddings) WHERE rn <= $TestN),
        vplant AS (
          SELECT vec_id, list_transform(range(0, 64), d ->
            embedding[d+1]::DOUBLE + ((5 + (vec_id % 6) * 10) / 100.0) *
              (CAST(('0x' || substr(md5('8:' || vec_id || ':' || d), 1, 15)) AS BIGINT)
                 % 1000 / 1000.0 - 0.5)) AS pv
          FROM vsel),
        hp AS (
          SELECT g, list_transform(range(0, 64), d ->
            CAST(('0x' || substr(md5('0:' || g || ':' || d), 1, 15)) AS BIGINT)
              % 1000 / 1000.0 - 0.5) AS pv
          FROM range(0, 4) tg(g)),
        obkt AS (
          SELECT v.vec_id, CAST(hp.g // 2 AS INT) AS tbl,
                 SUM(CASE WHEN round(list_reduce(list_transform(range(0, 64),
                       d -> v.embedding[d+1]::DOUBLE * hp.pv[d+1]), (x, y) -> x + y), 6) > 0
                     THEN (1 << CAST(hp.g % 2 AS INT)) ELSE 0 END) AS bkt
          FROM vsel v CROSS JOIN hp GROUP BY 1, 2),
        pbkt AS (
          SELECT p.vec_id, CAST(hp.g // 2 AS INT) AS tbl,
                 SUM(CASE WHEN round(list_reduce(list_transform(range(0, 64),
                       d -> p.pv[d+1] * hp.pv[d+1]), (x, y) -> x + y), 6) > 0
                     THEN (1 << CAST(hp.g % 2 AS INT)) ELSE 0 END) AS bkt
          FROM vplant p CROSS JOIN hp GROUP BY 1, 2),
        pairs AS (
          SELECT o.vec_id,
                 max(CASE WHEN o.tbl = 0 AND o.bkt = p.bkt THEN 1 ELSE 0 END) AS m0,
                 max(CASE WHEN o.tbl = 1 AND o.bkt = p.bkt THEN 1 ELSE 0 END) AS m1
          FROM obkt o JOIN pbkt p ON p.vec_id = o.vec_id AND p.tbl = o.tbl
          GROUP BY 1),
        idsh AS (
          SELECT CASE WHEN
              CAST(('0x' || substr(md5('5:' || CAST(vec_id AS VARCHAR)), 1, 15)) AS BIGINT) % 4
            = CAST(('0x' || substr(md5('5:' || CAST(vec_id + 1000000000 AS VARCHAR)), 1, 15)) AS BIGINT) % 4
            THEN 1 ELSE 0 END AS co
          FROM vsel),
        unioned AS (
          SELECT 'c_planes2_t1' AS mode,
                 CAST(coalesce(sum(m0), 0) AS BIGINT) AS colocated FROM pairs
          UNION ALL
          SELECT 'c_planes2_t2',
                 CAST(coalesce(sum(CASE WHEN m0 = 1 OR m1 = 1 THEN 1 ELSE 0 END), 0) AS BIGINT)
          FROM pairs
          UNION ALL
          SELECT 'id_shards4', CAST(coalesce(sum(co), 0) AS BIGINT) FROM idsh)
        SELECT mode, colocated, CAST($TestN AS BIGINT) AS possible,
               round(CAST(colocated AS DOUBLE) / $TestN, 6) AS recall
        FROM unioned ORDER BY mode"""),
      notes = "shard-key co-location recall on planted near-dup pairs " +
        "at the q165 amplitude spread: id-hash sharding (~1/4, " +
        "content-blind) vs 2-plane content sharding at 1 and 2 " +
        "OR-composed tables — the structural recall ceiling of each " +
        "sharded SemDeDup form, scale-flat by construction")
  }

  // -------------------------------------------------------- q170_line_dedup
  /** Within-document repeated-line removal
    * ([[graft.operators.TextAnalysis.dedupLines]]) — the RefinedWeb
    * rewrite q46 only scores. The synthetic corpus has no line
    * structure, so the fixture plants it (the q165 discipline): each
    * document is re-lined into 6-token lines, then its FIRST line is
    * appended 1 + (doc_id mod 3) more times — known duplicates at
    * every intensity, on every row. The operator must remove exactly
    * the planted copies plus any ORGANIC 6-token-chunk repeats (both
    * engines replay the same arithmetic, so organic repeats are part
    * of the pinned answer, not noise). Output pins the cleaned text
    * byte-exactly via md5 — rows stay narrow at any scale.
    *
    * Scale shape: pure per-row maps end to end (re-line, plant, dedup,
    * hash) — no shuffle anywhere, linear in document length via the
    * hash-set `array_distinct`.
    */
  val q170LineDedup = {
    QueryDef(
      "q170_line_dedup",
      (s, dir) => {
        import s.implicits._
        import graft.operators.TextAnalysis

        val w = split($"text", " ")
        val nLines = ((size(w) + lit(5)) / lit(6)).cast("int")
        val lines = transform(sequence(lit(0), nLines - 1),
          b => array_join(slice(w, b * 6 + 1, lit(6)), " "))
        val planted = concat(lines,
          transform(sequence(lit(1), (lit(1) + $"doc_id" % 3).cast("int")),
            _ => element_at(lines, 1)))
        val txt = array_join(planted, "\n")
        // persisted BEFORE the total-order sort (round 20; guide §1.2):
        // a global orderBy's range sampling executes its child once to
        // sample keys and again to sort, and this query's child is the
        // whole per-row lambda chain (no exchange anywhere to act as a
        // reusable stage boundary) — measured as two ≈1 s map passes.
        // The pin holds only the narrow 4-column output; the scan is
        // spread first ([[Tables.spread]]) so the one map stage uses
        // the cores.
        Tables.spread(t(s, dir, "documents"), "doc_id")
          .select($"doc_id",
            size(planted).cast("long").as("n_lines"),
            TextAnalysis.dupLineCount(txt).as("n_removed"),
            md5(TextAnalysis.dedupLines(txt)).as("clean_md5"))
          .persist()
          .orderBy($"doc_id")
      },
      Some("""
        WITH lf AS (
          SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        ln AS (
          SELECT doc_id, list_transform(range(0, (len(w) + 5) // 6), b ->
            array_to_string(list_slice(w, b * 6 + 1, b * 6 + 6), ' ')) AS ls
          FROM lf),
        pl AS (
          SELECT doc_id, list_concat(ls,
            list_transform(range(0, 1 + doc_id % 3), x -> ls[1])) AS pl
          FROM ln),
        ded AS (
          SELECT doc_id, pl,
                 list_filter(pl, (x, i) -> list_position(pl, x) = i) AS dl
          FROM pl)
        SELECT doc_id,
               CAST(len(pl) AS BIGINT) AS n_lines,
               CAST(len(pl) - len(dl) AS BIGINT) AS n_removed,
               md5(array_to_string(dl, chr(10))) AS clean_md5
        FROM ded ORDER BY doc_id"""),
      notes = "within-doc repeated-line rewrite on a planted line " +
        "fixture (first line duplicated 1-3x per doc); cleaned text " +
        "pinned byte-exact via md5; pure per-row map, no shuffle")
  }

  // ------------------------------------------------- q171_boilerplate_scrub
  /** Cross-document boilerplate-line scrub
    * ([[graft.operators.TextAnalysis.scrubBoilerplateLines]], maxDf=10).
    * Fixture: the re-lined corpus with a BANNER line prepended to every
    * even doc_id (df = n/2 ≫ 10 at every sf — must scrub) and a
    * per-document SIGNATURE line appended (df = 1 — must survive).
    * Organic 6-token lines crossing the df cap scrub too; both engines
    * replay the same counts. Cleaned text pinned via md5.
    *
    * Scale shape: the operator's one line-frequency aggregate (hash-
    * keyed, map-side combine) + broadcast of the boilerplate-sized bad
    * set + one id-keyed exchange of the touched docs for the rewrite —
    * the corpus is never broadcast (a banner touches HALF the corpus
    * here, the exact case that forbids the excise operator's broadcast
    * shortcut).
    */
  val q171BoilerplateScrub = {
    QueryDef(
      "q171_boilerplate_scrub",
      (s, dir) => {
        import s.implicits._
        import graft.operators.TextAnalysis

        val w = split($"text", " ")
        val nLines = ((size(w) + lit(5)) / lit(6)).cast("int")
        val lines = transform(sequence(lit(0), nLines - 1),
          b => array_join(slice(w, b * 6 + 1, lit(6)), " "))
        val withPlants = concat(
          when($"doc_id" % 2 === 0,
            array(lit("cookie banner accept all terms now")))
            .otherwise(array().cast("array<string>")),
          lines,
          array(concat(lit("sig "), $"doc_id".cast("string"))))
        val fixture = t(s, dir, "documents")
          .select($"doc_id", array_join(withPlants, "\n").as("text"))
        TextAnalysis.scrubBoilerplateLines(fixture, "doc_id", "text",
            maxDf = 10L)
          .select($"doc_id", $"n_scrubbed", md5($"text").as("clean_md5"))
          .orderBy($"doc_id")
      },
      Some("""
        WITH lf AS (
          SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        ln AS (
          SELECT doc_id, list_transform(range(0, (len(w) + 5) // 6), b ->
            array_to_string(list_slice(w, b * 6 + 1, b * 6 + 6), ' ')) AS ls
          FROM lf),
        pl AS (
          SELECT doc_id, list_concat(list_concat(
            CASE WHEN doc_id % 2 = 0
                 THEN ['cookie banner accept all terms now']
                 ELSE [] END, ls), ['sig ' || CAST(doc_id AS VARCHAR)]) AS pl
          FROM ln),
        df AS (
          SELECT CAST(('0x' || substr(md5('17:' || l), 1, 15)) AS BIGINT) AS lh,
                 count(*) AS c
          FROM (SELECT doc_id, unnest(list_distinct(pl)) AS l FROM pl)
          GROUP BY 1 HAVING count(*) > 10),
        bad AS (SELECT coalesce(list(lh), []) AS bl FROM df),
        scrub AS (
          SELECT p.doc_id,
                 list_filter(p.pl, x -> NOT list_contains(b.bl,
                   CAST(('0x' || substr(md5('17:' || x), 1, 15)) AS BIGINT))) AS kept,
                 len(p.pl) AS n0
          FROM pl p CROSS JOIN bad b)
        SELECT doc_id,
               CAST(n0 - len(kept) AS BIGINT) AS n_scrubbed,
               md5(array_to_string(kept, chr(10))) AS clean_md5
        FROM scrub ORDER BY doc_id"""),
      notes = "cross-doc boilerplate-line scrub at maxDf=10 on a " +
        "planted fixture (banner on every even doc scrubs, per-doc " +
        "signature survives); cleaned text pinned byte-exact via md5")
  }

  // ------------------------------------------------- q172_shard_depth_dial
  /** The DEPTH curve q169 needs for the real 1000-shard regime: q169
    * measures the shard-key choice at 4 shards, but a 100 TB
    * deployment shards into hundreds per table (shards = 2^planes), and
    * per-table co-location decays as (1 − θ/π)^planes — the dial
    * question is how many OR-composed tables buy it back. Same planted
    * pairs as q169 (identical fixture arithmetic, so the p2_t1 row is
    * spec-pinned equal to q169's c_planes2_t1), swept over
    * (planes, tables) ∈ {(2,1), (4,1), (6,1), (6,2), (6,4)}: the
    * single-table rows show the depth decay, the 6-plane rows show the
    * tables dial recovering it at 64 shards per table. Like q168 for
    * the contamination rung, the output is the table a deployment
    * reads its configuration from — none of the keys references corpus
    * size, so the rows are scale-flat.
    */
  val q172ShardDepthDial = {
    val TestN = 64
    val Modes = Seq(("p2_t1", 2, 1), ("p4_t1", 4, 1), ("p6_t1", 6, 1),
      ("p6_t2", 6, 2), ("p6_t4", 6, 4))
    QueryDef(
      "q172_shard_depth_dial",
      (s, dir) => {
        import s.implicits._
        import graft.functions.GraftFunctions.hash64
        import graft.operators.Similarity

        val emb = t(s, dir, "embeddings").select($"vec_id", $"embedding")
        val vsel = emb
          .withColumn("_h", hash64($"vec_id".cast("string"), 169))
          .orderBy($"_h", $"vec_id").limit(TestN).drop("_h")
          .select($"vec_id",
            transform($"embedding", _.cast("double")).as("embedding"))
          .pipe(Checkpoints.pin)
        val amp = (lit(5L) + ($"vec_id" % 6) * 10L).cast("double") / 100.0
        val vplant = vsel.select($"vec_id",
          transform($"embedding", (x, i) => x + amp *
            ((hash64(concat($"vec_id".cast("string"), lit(":"),
              i.cast("string")), 8) % 1000L).cast("double") / 1000.0 - 0.5))
            .as("embedding"))

        Modes.map { case (m, p, tb) =>
          def bk(df: DataFrame, out: String) =
            Similarity.multiTableBuckets(df, "embedding", dims = 64,
                planes = p, tables = tb, "tbl", "bkt")
              .select($"vec_id", $"tbl", $"bkt".as(out))
          bk(vsel, "ob").join(bk(vplant, "pb"), Seq("vec_id", "tbl"))
            .groupBy($"vec_id")
            .agg(max(when($"ob" === $"pb", 1).otherwise(0)).as("co"))
            .agg(coalesce(sum($"co"), lit(0)).cast("long").as("colocated"))
            .select(lit(m).as("mode"), $"colocated")
        }.reduce(_ unionByName _)
          .select($"mode", $"colocated",
            lit(TestN.toLong).as("possible"),
            round($"colocated".cast("double") / TestN, 6).as("recall"))
          .orderBy($"mode")
      },
      Some(s"""
        WITH vsel AS (
          SELECT vec_id, embedding FROM (
            SELECT vec_id, embedding, row_number() OVER (ORDER BY
              CAST(('0x' || substr(md5('169:' || CAST(vec_id AS VARCHAR)), 1, 15)) AS BIGINT),
              vec_id) AS rn
            FROM embeddings) WHERE rn <= $TestN),
        vplant AS (
          SELECT vec_id, list_transform(range(0, 64), d ->
            embedding[d+1]::DOUBLE + ((5 + (vec_id % 6) * 10) / 100.0) *
              (CAST(('0x' || substr(md5('8:' || vec_id || ':' || d), 1, 15)) AS BIGINT)
                 % 1000 / 1000.0 - 0.5)) AS pv
          FROM vsel),
        modes(m, p, t) AS (
          VALUES ('p2_t1', 2, 1), ('p4_t1', 4, 1), ('p6_t1', 6, 1),
                 ('p6_t2', 6, 2), ('p6_t4', 6, 4)),
        hp AS (
          SELECT g, list_transform(range(0, 64), d ->
            CAST(('0x' || substr(md5('0:' || g || ':' || d), 1, 15)) AS BIGINT)
              % 1000 / 1000.0 - 0.5) AS pv
          FROM range(0, 24) tg(g)),
        obkt AS (
          SELECT mo.m, v.vec_id, CAST(hp.g // mo.p AS INT) AS tbl,
                 SUM(CASE WHEN round(list_reduce(list_transform(range(0, 64),
                       d -> v.embedding[d+1]::DOUBLE * hp.pv[d+1]), (x, y) -> x + y), 6) > 0
                     THEN (1 << CAST(hp.g % mo.p AS INT)) ELSE 0 END) AS bkt
          FROM vsel v CROSS JOIN modes mo
          JOIN hp ON hp.g < mo.p * mo.t
          GROUP BY 1, 2, 3),
        pbkt AS (
          SELECT mo.m, pl.vec_id, CAST(hp.g // mo.p AS INT) AS tbl,
                 SUM(CASE WHEN round(list_reduce(list_transform(range(0, 64),
                       d -> pl.pv[d+1] * hp.pv[d+1]), (x, y) -> x + y), 6) > 0
                     THEN (1 << CAST(hp.g % mo.p AS INT)) ELSE 0 END) AS bkt
          FROM vplant pl CROSS JOIN modes mo
          JOIN hp ON hp.g < mo.p * mo.t
          GROUP BY 1, 2, 3),
        pairs AS (
          SELECT o.m, o.vec_id,
                 max(CASE WHEN o.bkt = p.bkt THEN 1 ELSE 0 END) AS co
          FROM obkt o
          JOIN pbkt p ON p.m = o.m AND p.vec_id = o.vec_id AND p.tbl = o.tbl
          GROUP BY 1, 2)
        SELECT m AS mode, CAST(coalesce(sum(co), 0) AS BIGINT) AS colocated,
               CAST($TestN AS BIGINT) AS possible,
               round(CAST(coalesce(sum(co), 0) AS DOUBLE) / $TestN, 6) AS recall
        FROM pairs GROUP BY 1 ORDER BY 1"""),
      notes = "shard-key depth curve on the q169 planted pairs: " +
        "per-table co-location decays with planes (2/4/6 = 4/16/64 " +
        "shards per table), the OR-composed tables dial (1/2/4) buys " +
        "it back; p2_t1 spec-pinned equal to q169's c_planes2_t1")
  }

  /** Deduped line count of a rewritten text, with the EMPTY-REWRITE
    * edge guarded: `split("")` yields `[""]` (1 line) while the
    * oracle's kept-line list is `[]` (0 lines), so a document that is
    * ALL boilerplate must count 0 lines after curation, not 1. The
    * q173 fixture's per-doc signature line never exercises the edge —
    * this guard (spec-pinned) keeps the ledger honest if the fixture
    * ever changes.
    */
  private[graft] def linesAfter(text: org.apache.spark.sql.Column)
      : org.apache.spark.sql.Column =
    when(length(text) === 0, 0)
      .otherwise(size(split(text, "\n")) -
        graft.operators.TextAnalysis.dupLineCount(text))

  // ------------------------------------------------- q173_curation_savings
  /** Per-source savings report for the line-curation pass — the
    * observability view a token-budget owner reads before turning the
    * maxDf dial: scrub boilerplate
    * ([[graft.operators.TextAnalysis.scrubBoilerplateLines]], maxDf=10)
    * then collapse within-doc repeats
    * ([[graft.operators.TextAnalysis.dedupLines]]) on the q171 planted
    * fixture, and aggregate per `source`: documents, lines and chars
    * before, boilerplate lines removed, duplicate lines removed, lines
    * and chars after. All exact integer aggregates (chars via
    * `length`, lines via the separator count) — scale shape is the
    * q171 operator plus one ordinary grouped aggregate.
    */
  val q173CurationSavings = {
    QueryDef(
      "q173_curation_savings",
      (s, dir) => {
        import s.implicits._
        import graft.operators.TextAnalysis

        val w = split($"text", " ")
        val nLines = ((size(w) + lit(5)) / lit(6)).cast("int")
        val lines = transform(sequence(lit(0), nLines - 1),
          b => array_join(slice(w, b * 6 + 1, lit(6)), " "))
        val withPlants = concat(
          when($"doc_id" % 2 === 0,
            array(lit("cookie banner accept all terms now")))
            .otherwise(array().cast("array<string>")),
          lines,
          array(concat(lit("sig "), $"doc_id".cast("string"))))
        // before-metrics ride THROUGH the scrub as ordinary columns
        // (the operator rewrites textCol and preserves the rest).
        // Built in TWO selects: deriving them next to the "text" alias
        // would capture the NEW text laterally (the q165 divergence)
        val fixture = t(s, dir, "documents")
          .select($"doc_id", array_join(withPlants, "\n").as("text"),
            $"source")
          .select($"doc_id", $"text", $"source",
            size(split($"text", "\n")).as("_lb"),
            length($"text").as("_cb"))
        val scrubbed = TextAnalysis.scrubBoilerplateLines(
          fixture, "doc_id", "text", maxDf = 10L)
        scrubbed
          .select($"source", $"_lb", $"_cb",
            $"n_scrubbed",
            TextAnalysis.dupLineCount($"text").as("_dups"),
            linesAfter($"text").as("_la"),
            length(TextAnalysis.dedupLines($"text")).as("_ca"))
          .groupBy($"source")
          .agg(count(lit(1)).as("docs"),
            sum($"_lb").cast("long").as("lines_before"),
            sum($"_cb").cast("long").as("chars_before"),
            sum($"n_scrubbed").cast("long").as("boiler_removed"),
            sum($"_dups").cast("long").as("dups_removed"),
            sum($"_la").cast("long").as("lines_after"),
            sum($"_ca").cast("long").as("chars_after"))
          .orderBy($"source")
      },
      Some("""
        WITH lf AS (
          SELECT doc_id, source, string_split(text, ' ') AS w
          FROM documents),
        ln AS (
          SELECT doc_id, source, list_transform(range(0, (len(w) + 5) // 6), b ->
            array_to_string(list_slice(w, b * 6 + 1, b * 6 + 6), ' ')) AS ls
          FROM lf),
        pl AS (
          SELECT doc_id, source, list_concat(list_concat(
            CASE WHEN doc_id % 2 = 0
                 THEN ['cookie banner accept all terms now']
                 ELSE [] END, ls), ['sig ' || CAST(doc_id AS VARCHAR)]) AS pl
          FROM ln),
        df AS (
          SELECT CAST(('0x' || substr(md5('17:' || l), 1, 15)) AS BIGINT) AS lh,
                 count(*) AS c
          FROM (SELECT doc_id, unnest(list_distinct(pl)) AS l FROM pl)
          GROUP BY 1 HAVING count(*) > 10),
        bad AS (SELECT coalesce(list(lh), []) AS bl FROM df),
        scrub AS (
          SELECT p.doc_id, p.source, len(p.pl) AS lb,
                 len(array_to_string(p.pl, chr(10))) AS cb,
                 list_filter(p.pl, x -> NOT list_contains(b.bl,
                   CAST(('0x' || substr(md5('17:' || x), 1, 15)) AS BIGINT))) AS kept
          FROM pl p CROSS JOIN bad b),
        ded AS (
          SELECT doc_id, source, lb, cb,
                 lb - len(kept) AS nsc,
                 len(kept) -
                   len(list_filter(kept, (x, i) -> list_position(kept, x) = i)) AS dups,
                 len(list_filter(kept, (x, i) -> list_position(kept, x) = i)) AS la,
                 len(array_to_string(
                   list_filter(kept, (x, i) -> list_position(kept, x) = i),
                   chr(10))) AS ca
          FROM scrub)
        SELECT source, CAST(count(*) AS BIGINT) AS docs,
               CAST(sum(lb) AS BIGINT) AS lines_before,
               CAST(sum(cb) AS BIGINT) AS chars_before,
               CAST(sum(nsc) AS BIGINT) AS boiler_removed,
               CAST(sum(dups) AS BIGINT) AS dups_removed,
               CAST(sum(la) AS BIGINT) AS lines_after,
               CAST(sum(ca) AS BIGINT) AS chars_after
        FROM ded GROUP BY 1 ORDER BY 1"""),
      notes = "per-source line-curation savings report (scrub at " +
        "maxDf=10 then within-doc dedup on the q171 fixture): docs, " +
        "lines/chars before and after, boilerplate and duplicate " +
        "lines removed — exact integer aggregates")
  }

  // ---------------------------------------------------- q174_family_dial
  /** The quantizer-FAMILY dial for flat SemDeDup
    * ([[graft.operators.Similarity.semDedupSliced]] `families`),
    * measured the q168/q172 way: the single quantizer's cell-straddle
    * miss has no dial but its geometry, and the round-16 100× receipt
    * showed two independent quantizer draws OR-composed catching MORE
    * planted pairs than either alone — this query puts the number on
    * the public operator at every scale.
    *
    * Fixture: a deterministic 1/4 hash sample of the embeddings table
    * (the PqConfig calibration-sample discipline — the dial is
    * measured on a sample, the deployment reads the curve; sampling
    * also keeps the two full train+pair passes from dominating the
    * integrated session at 100×) plus the q169 planted pairs drawn
    * from the sample's 64 md5-smallest rows at the {0.05..0.55}
    * amplitude spread. One `families = 3` run; the `families = 1/2`
    * rows are seed prefixes (the seed-prefix structure, so the curve
    * is provably monotone in the one run) — three rungs price the
    * KNEE of the OR-composition, not just its first step. Reported
    * per prefix: distinct dropped ids, plants caught, recall — the
    * oracle replays ALL THREE hierarchical trainings (seed pairs
    * (31, 37), (1031, 1037), (2031, 2037)) through the prefixed CTE
    * family and all three pair passes.
    */
  val q174FamilyDial = {
    import KmeansSql.{sqlCos, trainAssignCtesHierP}
    val TestN = 64
    QueryDef(
      "q174_family_dial",
      (s, dir) => {
        import s.implicits._
        import graft.functions.GraftFunctions.hash64
        import graft.operators.Similarity

        val sub = t(s, dir, "embeddings")
          .filter(hash64($"vec_id".cast("string"), 174) % 4 === 0)
          .select($"vec_id",
            transform($"embedding", _.cast("double")).as("embedding"))
        val amp = (lit(5L) + ($"vec_id" % 6) * 10L).cast("double") / 100.0
        // two selects: perturb under the ORIGINAL id (the noise seed),
        // then shift the id — never both in one projection (the q173
        // lateral-capture note)
        val vplant = sub
          .withColumn("_h", hash64($"vec_id".cast("string"), 169))
          .orderBy($"_h", $"vec_id").limit(TestN).drop("_h")
          .select($"vec_id",
            transform($"embedding", (x, i) => x + amp *
              ((hash64(concat($"vec_id".cast("string"), lit(":"),
                i.cast("string")), 8) % 1000L).cast("double") / 1000.0 - 0.5))
              .as("embedding"))
          .select(($"vec_id" + 1000000000L).as("vec_id"), $"embedding")
        val corpus = Checkpoints.pin(sub.unionByName(vplant))
        // parallelism = families: the three chains are independent by
        // design (guide §2.6 — overlap independent jobs); row-identical
        // to sequential, spec-pinned
        val multi = Similarity.semDedupSliced(corpus, "embedding",
            "vec_id", targetCell = 64L, tau = 0.8, families = 3,
            parallelism = 3)
          .select($"family", $"vec_id").pipe(Checkpoints.pin)
        def statsFor(k: Int): DataFrame = multi
          .filter($"family" < k)
          .select($"vec_id").distinct()
          .agg(count(lit(1)).cast("long").as("drops"),
            coalesce(sum(when($"vec_id" >= 1000000000L, 1L)), lit(0L))
              .cast("long").as("plants_caught"))
          .select(lit(k.toLong).as("families"), $"drops", $"plants_caught",
            round($"plants_caught".cast("double") / TestN, 6).as("recall"))
        statsFor(1).unionByName(statsFor(2)).unionByName(statsFor(3))
          .orderBy($"families")
      },
      Some(s"""
        WITH sub AS (
          SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS embedding
          FROM embeddings
          WHERE CAST(('0x' || substr(md5('174:' || CAST(vec_id AS VARCHAR)), 1, 15)) AS BIGINT) % 4 = 0),
        vsel AS (
          SELECT vec_id, embedding FROM (
            SELECT vec_id, embedding, row_number() OVER (ORDER BY
              CAST(('0x' || substr(md5('169:' || CAST(vec_id AS VARCHAR)), 1, 15)) AS BIGINT),
              vec_id) AS rn
            FROM sub) WHERE rn <= $TestN),
        vperturb AS (
          SELECT vec_id, list_transform(range(0, 64), d ->
            embedding[d+1]::DOUBLE + ((5 + (vec_id % 6) * 10) / 100.0) *
              (CAST(('0x' || substr(md5('8:' || vec_id || ':' || d), 1, 15)) AS BIGINT)
                 % 1000 / 1000.0 - 0.5)) AS embedding
          FROM vsel),
        ec AS MATERIALIZED (
          SELECT vec_id, embedding FROM sub
          UNION ALL
          SELECT vec_id + 1000000000 AS vec_id, embedding FROM vperturb),
        ${trainAssignCtesHierP("m0", "ec", 64L, 31, 37)},
        ${trainAssignCtesHierP("m1", "ec", 64L, 1031, 1037)},
        ${trainAssignCtesHierP("m2", "ec", 64L, 2031, 2037)},
        m0d AS (
          SELECT DISTINCT b.vec_id
          FROM m0hfin a JOIN m0hfin b
            ON a.gid = b.gid AND a.cid = b.cid AND a.vec_id < b.vec_id
          JOIN ec ea ON ea.vec_id = a.vec_id
          JOIN ec eb ON eb.vec_id = b.vec_id
          WHERE ${sqlCos("ea.embedding", "eb.embedding")} >= 0.8),
        m1d AS (
          SELECT DISTINCT b.vec_id
          FROM m1hfin a JOIN m1hfin b
            ON a.gid = b.gid AND a.cid = b.cid AND a.vec_id < b.vec_id
          JOIN ec ea ON ea.vec_id = a.vec_id
          JOIN ec eb ON eb.vec_id = b.vec_id
          WHERE ${sqlCos("ea.embedding", "eb.embedding")} >= 0.8),
        m2d AS (
          SELECT DISTINCT b.vec_id
          FROM m2hfin a JOIN m2hfin b
            ON a.gid = b.gid AND a.cid = b.cid AND a.vec_id < b.vec_id
          JOIN ec ea ON ea.vec_id = a.vec_id
          JOIN ec eb ON eb.vec_id = b.vec_id
          WHERE ${sqlCos("ea.embedding", "eb.embedding")} >= 0.8),
        u AS (
          SELECT 1 AS families, vec_id FROM m0d
          UNION ALL
          SELECT 2 AS families, vec_id FROM
            (SELECT vec_id FROM m0d UNION SELECT vec_id FROM m1d)
          UNION ALL
          SELECT 3 AS families, vec_id FROM
            (SELECT vec_id FROM m0d UNION SELECT vec_id FROM m1d
             UNION SELECT vec_id FROM m2d)),
        scaffold AS (SELECT * FROM (VALUES (1), (2), (3)) s(families))
        SELECT CAST(s.families AS BIGINT) AS families,
               CAST(count(u.vec_id) AS BIGINT) AS drops,
               CAST(coalesce(sum(CASE WHEN u.vec_id >= 1000000000
                 THEN 1 ELSE 0 END), 0) AS BIGINT) AS plants_caught,
               round(coalesce(sum(CASE WHEN u.vec_id >= 1000000000
                 THEN 1 ELSE 0 END), 0) / $TestN.0, 6) AS recall
        FROM scaffold s LEFT JOIN u ON u.families = s.families
        GROUP BY s.families ORDER BY families"""),
      notes = "quantizer-family dial for flat SemDeDup on a 1/4 " +
        "calibration sample + q169 planted pairs: distinct drops, " +
        "plants caught and recall at families = 1/2/3 from one " +
        "3-family run — the OR-of-quantizers recall curve with its " +
        "knee, oracle replays all three trainings end to end")
  }

  // ---------------------------------------------- q175_sharded_family_dial
  /** The COMPOSED deployment point, oracle-checked: content-sharded
    * SemDeDup × the quantizer-families dial
    * ([[graft.operators.Similarity.semDedupSliced]] with
    * [[graft.operators.Similarity.Slicing.Content]] and `families`).
    * q169/q172 price the shard key, q174 prices the families dial on
    * the flat form; a recall-sensitive sharded deployment runs BOTH —
    * content sharding closes the cross-shard miss, per-shard families
    * close the within-shard cell straddle — and this query replays the
    * composition end to end in both engines: the 1-plane hyperplane
    * shard split (2 shards, the q169 bucket arithmetic at plane 0),
    * then per (shard, family) a FULL independent hierarchical
    * training + pair pass (4 trainings total at families = 2, seed
    * pairs (31, 37) and (1031, 1037) — the `semDedupSliced` family seed
    * convention applied per shard).
    *
    * Fixture: the q174 shape on an independent 1/4 hash sample (key
    * 175) + the q169 planted pairs from the sample's 64 md5-smallest
    * rows. One `families = 2` run; the `families = 1` row is the
    * family-0 prefix (provably monotone from the one run). The oracle
    * replays the shard assignment and all four trainings through
    * shard-suffixed `trainAssignCtesHierP` CTE families.
    *
    * Scale shape: one shard-code map pass + per-shard chains whose
    * every cost term is evaluated at n/shards — the
    * [[graft.operators.Similarity.Slicing.Content]]
    * linear-regime rail, times the families constant; the 100×
    * composed receipt (BASELINE round-18 contentfam table) carries
    * the measured wall.
    */
  val q175ShardedFamilyDial = {
    import KmeansSql.{sqlCos, trainAssignCtesHierP}
    val TestN = 64
    QueryDef(
      "q175_sharded_family_dial",
      (s, dir) => {
        import s.implicits._
        import graft.functions.GraftFunctions.hash64
        import graft.operators.Similarity

        val sub = t(s, dir, "embeddings")
          .filter(hash64($"vec_id".cast("string"), 175) % 4 === 0)
          .select($"vec_id",
            transform($"embedding", _.cast("double")).as("embedding"))
        val amp = (lit(5L) + ($"vec_id" % 6) * 10L).cast("double") / 100.0
        // two selects: perturb under the ORIGINAL id, then shift the
        // id (the q173 lateral-capture note)
        val vplant = sub
          .withColumn("_h", hash64($"vec_id".cast("string"), 169))
          .orderBy($"_h", $"vec_id").limit(TestN).drop("_h")
          .select($"vec_id",
            transform($"embedding", (x, i) => x + amp *
              ((hash64(concat($"vec_id".cast("string"), lit(":"),
                i.cast("string")), 8) % 1000L).cast("double") / 1000.0 - 0.5))
              .as("embedding"))
          .select(($"vec_id" + 1000000000L).as("vec_id"), $"embedding")
        val corpus = Checkpoints.pin(sub.unionByName(vplant))
        // parallelism = the 4 (shard, family) chains — independent by
        // design (guide §2.6); row-identical to sequential, spec-pinned
        val multi = Similarity.semDedupSliced(corpus,
            "embedding", "vec_id", targetCell = 64L, tau = 0.8,
            Similarity.Slicing.Content(dims = 64, shardPlanes = 1),
            families = 2, parallelism = 4)
          .select($"family", $"vec_id").pipe(Checkpoints.pin)
        def statsFor(k: Int): DataFrame = multi
          .filter($"family" < k)
          .select($"vec_id").distinct()
          .agg(count(lit(1)).cast("long").as("drops"),
            coalesce(sum(when($"vec_id" >= 1000000000L, 1L)), lit(0L))
              .cast("long").as("plants_caught"))
          .select(lit(k.toLong).as("families"), $"drops", $"plants_caught",
            round($"plants_caught".cast("double") / TestN, 6).as("recall"))
        statsFor(1).unionByName(statsFor(2)).orderBy($"families")
      },
      Some(s"""
        WITH sub AS (
          SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS embedding
          FROM embeddings
          WHERE CAST(('0x' || substr(md5('175:' || CAST(vec_id AS VARCHAR)), 1, 15)) AS BIGINT) % 4 = 0),
        vsel AS (
          SELECT vec_id, embedding FROM (
            SELECT vec_id, embedding, row_number() OVER (ORDER BY
              CAST(('0x' || substr(md5('169:' || CAST(vec_id AS VARCHAR)), 1, 15)) AS BIGINT),
              vec_id) AS rn
            FROM sub) WHERE rn <= $TestN),
        vperturb AS (
          SELECT vec_id, list_transform(range(0, 64), d ->
            embedding[d+1]::DOUBLE + ((5 + (vec_id % 6) * 10) / 100.0) *
              (CAST(('0x' || substr(md5('8:' || vec_id || ':' || d), 1, 15)) AS BIGINT)
                 % 1000 / 1000.0 - 0.5)) AS embedding
          FROM vsel),
        ec AS MATERIALIZED (
          SELECT vec_id, embedding FROM sub
          UNION ALL
          SELECT vec_id + 1000000000 AS vec_id, embedding FROM vperturb),
        hp0 AS (
          SELECT list_transform(range(0, 64), d ->
            CAST(('0x' || substr(md5('0:0:' || d), 1, 15)) AS BIGINT)
              % 1000 / 1000.0 - 0.5) AS pv),
        eb AS MATERIALIZED (
          SELECT e.vec_id, e.embedding,
                 CASE WHEN round(list_reduce(list_transform(range(0, 64),
                   d -> e.embedding[d+1] * h.pv[d+1]), (x, y) -> x + y), 6) > 0
                 THEN 1 ELSE 0 END AS shard
          FROM ec e CROSS JOIN hp0 h),
        s0 AS MATERIALIZED (SELECT vec_id, embedding FROM eb WHERE shard = 0),
        s1 AS MATERIALIZED (SELECT vec_id, embedding FROM eb WHERE shard = 1),
        ${trainAssignCtesHierP("a0", "s0", 64L, 31, 37)},
        ${trainAssignCtesHierP("a1", "s1", 64L, 31, 37)},
        ${trainAssignCtesHierP("b0", "s0", 64L, 1031, 1037)},
        ${trainAssignCtesHierP("b1", "s1", 64L, 1031, 1037)},
        a0d AS (
          SELECT DISTINCT b.vec_id
          FROM a0hfin a JOIN a0hfin b
            ON a.gid = b.gid AND a.cid = b.cid AND a.vec_id < b.vec_id
          JOIN ec ea ON ea.vec_id = a.vec_id
          JOIN ec e2 ON e2.vec_id = b.vec_id
          WHERE ${sqlCos("ea.embedding", "e2.embedding")} >= 0.8),
        a1d AS (
          SELECT DISTINCT b.vec_id
          FROM a1hfin a JOIN a1hfin b
            ON a.gid = b.gid AND a.cid = b.cid AND a.vec_id < b.vec_id
          JOIN ec ea ON ea.vec_id = a.vec_id
          JOIN ec e2 ON e2.vec_id = b.vec_id
          WHERE ${sqlCos("ea.embedding", "e2.embedding")} >= 0.8),
        b0d AS (
          SELECT DISTINCT b.vec_id
          FROM b0hfin a JOIN b0hfin b
            ON a.gid = b.gid AND a.cid = b.cid AND a.vec_id < b.vec_id
          JOIN ec ea ON ea.vec_id = a.vec_id
          JOIN ec e2 ON e2.vec_id = b.vec_id
          WHERE ${sqlCos("ea.embedding", "e2.embedding")} >= 0.8),
        b1d AS (
          SELECT DISTINCT b.vec_id
          FROM b1hfin a JOIN b1hfin b
            ON a.gid = b.gid AND a.cid = b.cid AND a.vec_id < b.vec_id
          JOIN ec ea ON ea.vec_id = a.vec_id
          JOIN ec e2 ON e2.vec_id = b.vec_id
          WHERE ${sqlCos("ea.embedding", "e2.embedding")} >= 0.8),
        u AS (
          SELECT 1 AS families, vec_id FROM
            (SELECT vec_id FROM a0d UNION SELECT vec_id FROM a1d)
          UNION ALL
          SELECT 2 AS families, vec_id FROM
            (SELECT vec_id FROM a0d UNION SELECT vec_id FROM a1d
             UNION SELECT vec_id FROM b0d UNION SELECT vec_id FROM b1d)),
        scaffold AS (SELECT * FROM (VALUES (1), (2)) s(families))
        SELECT CAST(s.families AS BIGINT) AS families,
               CAST(count(u.vec_id) AS BIGINT) AS drops,
               CAST(coalesce(sum(CASE WHEN u.vec_id >= 1000000000
                 THEN 1 ELSE 0 END), 0) AS BIGINT) AS plants_caught,
               round(coalesce(sum(CASE WHEN u.vec_id >= 1000000000
                 THEN 1 ELSE 0 END), 0) / $TestN.0, 6) AS recall
        FROM scaffold s LEFT JOIN u ON u.families = s.families
        GROUP BY s.families ORDER BY families"""),
      notes = "content-sharded SemDeDup x per-shard quantizer families, " +
        "oracle-checked end to end: 1-plane shard split (q169 bucket " +
        "arithmetic) then an independent hierarchical training + pair " +
        "pass per (shard, family) — drops, plants caught and recall at " +
        "families = 1/2 from one run; the oracle replays the split and " +
        "all four trainings")
  }

  // ---------------------------------------------- q176_sharded_range_split
  /** The CROSS-JVM fan-out rail, oracle-checked PER SHARD RANGE: the
    * q175 composition re-run through
    * [[graft.operators.Similarity.Slicing.Materialized]] shard ranges
    * — the shard materialization is written ONCE
    * ([[graft.operators.Similarity.materializeContentShards]]) and two
    * INDEPENDENT ranged runs (shard 0 alone, shard 1 alone — the two
    * "JVMs" of the orchestrator recipe, here in one session so the
    * driver gate can check them) each produce their own verdict; the
    * query reports each ranged run's drop stats AND their union's.
    * The oracle replays the shard split and all four (shard, family)
    * trainings like q175, but checks the DECOMPOSITION: run 0 must
    * equal the shard-0 CTE family's drops exactly (both families),
    * run 1 shard 1's, and the union row their distinct union — i.e.
    * the per-shard-range independence the cross-JVM fan-out rests on
    * is itself the oracle-checked semantics, not just the composed
    * total.
    *
    * Scale shape: the materialization is one input pass + one
    * tables-sized write; each ranged run reads only its own pruned
    * partitions (planning-time `PartitionFilters`), which is what
    * makes the JVM split read-efficient — total read across any JVM
    * count stays one write + one read of the corpus (the BASELINE
    * round-19 two-JVM receipt carries the measured wall and the
    * verdict_md5 identity at the 64-shard deployment point).
    */
  val q176ShardedRangeSplit = {
    import KmeansSql.{sqlCos, trainAssignCtesHierP}
    val TestN = 64
    QueryDef(
      "q176_sharded_range_split",
      (s, dir) => {
        import s.implicits._
        import graft.functions.GraftFunctions.hash64
        import graft.operators.Similarity

        val sub = t(s, dir, "embeddings")
          .filter(hash64($"vec_id".cast("string"), 175) % 4 === 0)
          .select($"vec_id",
            transform($"embedding", _.cast("double")).as("embedding"))
        val amp = (lit(5L) + ($"vec_id" % 6) * 10L).cast("double") / 100.0
        val vplant = sub
          .withColumn("_h", hash64($"vec_id".cast("string"), 169))
          .orderBy($"_h", $"vec_id").limit(TestN).drop("_h")
          .select($"vec_id",
            transform($"embedding", (x, i) => x + amp *
              ((hash64(concat($"vec_id".cast("string"), lit(":"),
                i.cast("string")), 8) % 1000L).cast("double") / 1000.0 - 0.5))
              .as("embedding"))
          .select(($"vec_id" + 1000000000L).as("vec_id"), $"embedding")
        val corpus = Checkpoints.pin(sub.unionByName(vplant))
        val mat = java.nio.file.Files
          .createTempDirectory("graft-q176-mat").toString + "/shards"
        Similarity.materializeContentShards(corpus, "embedding", 64,
          shardPlanes = 1, tables = 1, mat)
        // the two "JVMs": one ranged run per shard, fully independent
        def ranged(shard: Int): DataFrame =
          Similarity.semDedupSliced(s.read.parquet(mat),
              "embedding", "vec_id", targetCell = 64L, tau = 0.8,
              Similarity.Slicing.Materialized(shardPlanes = 1, tables = 1,
                shardLo = shard, shardHi = shard),
              families = 2, parallelism = 2)
            .select($"vec_id").distinct().pipe(Checkpoints.pin)
        // run the two ranged chains CONCURRENTLY (round 19; guide §2.6)
        // — they are the two independent "JVMs" of the orchestrator
        // recipe, so overlapping them in-session models the deployment
        // even more faithfully than back-to-back runs; each chain is
        // deterministic in its shard slice alone, so the verdicts are
        // identical to the sequential composition
        val Seq(r0, r1) = Overlap.fanOut(
          Seq(0, 1).map(sh => () => ranged(sh)), parallelism = 2,
          Checkpoints.release)
        def statsFor(run: Int, d: DataFrame): DataFrame = d
          .agg(count(lit(1)).cast("long").as("drops"),
            coalesce(sum(when($"vec_id" >= 1000000000L, 1L)), lit(0L))
              .cast("long").as("plants_caught"))
          .select(lit(run.toLong).as("run"), $"drops", $"plants_caught")
        statsFor(0, r0).unionByName(statsFor(1, r1))
          .unionByName(statsFor(2, r0.unionByName(r1).distinct()))
          .orderBy($"run")
      },
      Some(s"""
        WITH sub AS (
          SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS embedding
          FROM embeddings
          WHERE CAST(('0x' || substr(md5('175:' || CAST(vec_id AS VARCHAR)), 1, 15)) AS BIGINT) % 4 = 0),
        vsel AS (
          SELECT vec_id, embedding FROM (
            SELECT vec_id, embedding, row_number() OVER (ORDER BY
              CAST(('0x' || substr(md5('169:' || CAST(vec_id AS VARCHAR)), 1, 15)) AS BIGINT),
              vec_id) AS rn
            FROM sub) WHERE rn <= $TestN),
        vperturb AS (
          SELECT vec_id, list_transform(range(0, 64), d ->
            embedding[d+1]::DOUBLE + ((5 + (vec_id % 6) * 10) / 100.0) *
              (CAST(('0x' || substr(md5('8:' || vec_id || ':' || d), 1, 15)) AS BIGINT)
                 % 1000 / 1000.0 - 0.5)) AS embedding
          FROM vsel),
        ec AS MATERIALIZED (
          SELECT vec_id, embedding FROM sub
          UNION ALL
          SELECT vec_id + 1000000000 AS vec_id, embedding FROM vperturb),
        hp0 AS (
          SELECT list_transform(range(0, 64), d ->
            CAST(('0x' || substr(md5('0:0:' || d), 1, 15)) AS BIGINT)
              % 1000 / 1000.0 - 0.5) AS pv),
        eb AS MATERIALIZED (
          SELECT e.vec_id, e.embedding,
                 CASE WHEN round(list_reduce(list_transform(range(0, 64),
                   d -> e.embedding[d+1] * h.pv[d+1]), (x, y) -> x + y), 6) > 0
                 THEN 1 ELSE 0 END AS shard
          FROM ec e CROSS JOIN hp0 h),
        s0 AS MATERIALIZED (SELECT vec_id, embedding FROM eb WHERE shard = 0),
        s1 AS MATERIALIZED (SELECT vec_id, embedding FROM eb WHERE shard = 1),
        ${trainAssignCtesHierP("a0", "s0", 64L, 31, 37)},
        ${trainAssignCtesHierP("a1", "s1", 64L, 31, 37)},
        ${trainAssignCtesHierP("b0", "s0", 64L, 1031, 1037)},
        ${trainAssignCtesHierP("b1", "s1", 64L, 1031, 1037)},
        a0d AS (
          SELECT DISTINCT b.vec_id
          FROM a0hfin a JOIN a0hfin b
            ON a.gid = b.gid AND a.cid = b.cid AND a.vec_id < b.vec_id
          JOIN ec ea ON ea.vec_id = a.vec_id
          JOIN ec e2 ON e2.vec_id = b.vec_id
          WHERE ${sqlCos("ea.embedding", "e2.embedding")} >= 0.8),
        a1d AS (
          SELECT DISTINCT b.vec_id
          FROM a1hfin a JOIN a1hfin b
            ON a.gid = b.gid AND a.cid = b.cid AND a.vec_id < b.vec_id
          JOIN ec ea ON ea.vec_id = a.vec_id
          JOIN ec e2 ON e2.vec_id = b.vec_id
          WHERE ${sqlCos("ea.embedding", "e2.embedding")} >= 0.8),
        b0d AS (
          SELECT DISTINCT b.vec_id
          FROM b0hfin a JOIN b0hfin b
            ON a.gid = b.gid AND a.cid = b.cid AND a.vec_id < b.vec_id
          JOIN ec ea ON ea.vec_id = a.vec_id
          JOIN ec e2 ON e2.vec_id = b.vec_id
          WHERE ${sqlCos("ea.embedding", "e2.embedding")} >= 0.8),
        b1d AS (
          SELECT DISTINCT b.vec_id
          FROM b1hfin a JOIN b1hfin b
            ON a.gid = b.gid AND a.cid = b.cid AND a.vec_id < b.vec_id
          JOIN ec ea ON ea.vec_id = a.vec_id
          JOIN ec e2 ON e2.vec_id = b.vec_id
          WHERE ${sqlCos("ea.embedding", "e2.embedding")} >= 0.8),
        u AS (
          SELECT 0 AS run, vec_id FROM
            (SELECT vec_id FROM a0d UNION SELECT vec_id FROM b0d)
          UNION ALL
          SELECT 1 AS run, vec_id FROM
            (SELECT vec_id FROM a1d UNION SELECT vec_id FROM b1d)
          UNION ALL
          SELECT 2 AS run, vec_id FROM
            (SELECT vec_id FROM a0d UNION SELECT vec_id FROM b0d
             UNION SELECT vec_id FROM a1d UNION SELECT vec_id FROM b1d)),
        scaffold AS (SELECT * FROM (VALUES (0), (1), (2)) s(run))
        SELECT CAST(s.run AS BIGINT) AS run,
               CAST(count(u.vec_id) AS BIGINT) AS drops,
               CAST(coalesce(sum(CASE WHEN u.vec_id >= 1000000000
                 THEN 1 ELSE 0 END), 0) AS BIGINT) AS plants_caught
        FROM scaffold s LEFT JOIN u ON u.run = s.run
        GROUP BY s.run ORDER BY run"""),
      notes = "the cross-JVM fan-out rail oracle-checked per shard " +
        "range: one shared materialization, two independent ranged " +
        "runs (shard 0 / shard 1, families = 2 each) + their union — " +
        "the oracle replays the split and all four trainings and " +
        "checks each range's verdict separately, pinning the " +
        "per-shard-range independence the orchestrator recipe rests on")
  }

  def all: Seq[QueryDef] =
    Seq(q169ShardColocation, q170LineDedup, q171BoilerplateScrub,
      q172ShardDepthDial, q173CurationSavings, q174FamilyDial,
      q175ShardedFamilyDial, q176ShardedRangeSplit)
}
