package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.GraftFunctions.words

/** Round-11 query surface, part 2: graph centrality, dictionary
  * tagging, and curation observability. Oracle-parity rules as in
  * [[Queries]]/[[Queries2]].
  */
object Queries8 {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    Tables(s, dir, name)

  // ------------------------------------------------------------ q98_pagerank
  /** Weighted PageRank ([[graft.operators.Graphs.pageRank]]) over the
    * nation-level trade graph: an edge per (customer nation → supplier
    * nation) weighted by lineitem count, five damped iterations with
    * exact dangling redistribution, ranks joined back to nation names.
    * The graph build is the heavy half at scale (two fact-fact joins +
    * a map-side-combined fold to ≤625 edges); the iterations
    * themselves are the distributed part of the operator — equi-join
    * on `src`, hash-agg on `dst`, per-round pins — sized here at 25
    * nodes but shaped for the 10⁸-node host graphs of web curation.
    * The oracle unrolls all five iterations as CTE triples (dangling
    * mass, contributions, rank update), replaying the operator's
    * integer-nanos arithmetic step-for-step — exact BIGINT half-up
    * divisions, no per-iteration float rounding to drift cross-engine.
    */
  /** One unrolled PageRank iteration as CTEs `d$i/c$i/r$i` (the
    * [[graft.operators.Graphs.pageRank]] integer-nanos arithmetic,
    * damping 17/20), over fixed CTE names `ew (src, dst, ratio_n)`,
    * `nodes (node)`, `nn (nl)`, ranks in `r${i-1}`. Shared by q98
    * (nation trade graph) and q102 (near-dup doc graph).
    */
  private def prIterCtes(i: Int): String = {
    val p = if (i == 1) "r0" else s"r${i - 1}"
    s"""d$i AS (
          SELECT coalesce(CAST((2 * SUM(rank_n) + any_value(nl))
                   // (2 * any_value(nl)) AS BIGINT), 0) AS dc
          FROM $p, nn WHERE node NOT IN (SELECT DISTINCT src FROM ew)),
        c$i AS (
          SELECT dst, CAST(SUM((rank_n * ratio_n + 500000000)
                   // 1000000000) AS BIGINT) AS s
          FROM ew JOIN $p ON ew.src = $p.node GROUP BY 1),
        r$i AS (
          SELECT node,
                 CAST((CAST(6000000000 AS BIGINT) + 20 * nl) // (2 * 20 * nl)
                   + (2 * 17 * (coalesce(s, 0) + dc) + 20) // (2 * 20)
                   AS BIGINT) AS rank_n
          FROM nodes LEFT JOIN c$i ON nodes.node = c$i.dst, nn, d$i)"""
  }

  /** The r0/nodes/nn/ew prefix [[prIterCtes]] iterates over, from an
    * edge CTE `$eName (src, dst, w)` (parallel edges pre-folded, `w`
    * DOUBLE). `nodes` dedups via explicit DISTINCT-over-UNION-ALL:
    * inside a `WITH RECURSIVE` block DuckDB does NOT deduplicate a
    * plain UNION in non-recursive CTEs (found via q102: the node set
    * silently doubled and every downstream rank was wrong), and the
    * explicit form is correct in both recursive and plain contexts.
    */
  private def prBaseCtes(eName: String): String = s"""
        outw AS (
          SELECT src, CAST(SUM(CAST(w AS DECIMAL(27,12))) AS DOUBLE) AS tw
          FROM $eName GROUP BY 1),
        ew AS (
          SELECT src, dst,
                 CAST(round(1000000000.0 * w / tw) AS BIGINT) AS ratio_n
          FROM $eName JOIN outw USING (src)),
        nodes AS (
          SELECT DISTINCT node FROM (
            SELECT src AS node FROM ew UNION ALL SELECT dst FROM ew)),
        nn AS (SELECT count(*) AS nl FROM nodes),
        r0 AS (
          SELECT node, CAST((2 * 1000000000 + nl) // (2 * nl) AS BIGINT)
                   AS rank_n
          FROM nodes, nn)"""

  val q98Pagerank = {
    val Iters = 5
    QueryDef(
      "q98_pagerank",
      (s, dir) => {
        import s.implicits._
        import graft.operators.Graphs
        val li = t(s, dir, "lineitem"); val o = t(s, dir, "orders")
        val c = t(s, dir, "customer"); val su = t(s, dir, "supplier")
        val edges = li.join(o, li("l_orderkey") === o("o_orderkey"))
          .join(c, o("o_custkey") === c("c_custkey"))
          .join(su, li("l_suppkey") === su("s_suppkey"))
          .select(c("c_nationkey").as("src"), su("s_nationkey").as("dst"),
            lit(1.0).as("w"))
        val pr = Graphs.pageRank(edges, "src", "dst", "w", iters = Iters)
        pr.join(t(s, dir, "nation"), pr("node") === col("n_nationkey"))
          .select($"n_name".as("nation"), $"rank")
          .orderBy($"rank".desc, $"nation")
      },
      Some(s"""
        WITH e0 AS (
          SELECT c.c_nationkey AS src, s.s_nationkey AS dst,
                 CAST(count(*) AS DOUBLE) AS w
          FROM lineitem l
          JOIN orders o ON l.l_orderkey = o.o_orderkey
          JOIN customer c ON o.o_custkey = c.c_custkey
          JOIN supplier s ON l.l_suppkey = s.s_suppkey
          GROUP BY 1, 2),
        ${prBaseCtes("e0")},
        ${(1 to Iters).map(prIterCtes).mkString(",\n        ")}
        SELECT n.n_name AS nation,
               CAST(r.rank_n AS DOUBLE) / 1000000000.0 AS rank
        FROM r$Iters r JOIN nation n ON n.n_nationkey = r.node
        ORDER BY rank DESC, nation"""))
  }

  // ---------------------------------------------------------- q99_dict_tagger
  /** Dictionary tagging over the corpus
    * ([[graft.functions.MultiPatternCounts]]): per-pattern OVERLAPPING
    * occurrence totals and affected-document counts for a fixed phrase
    * dictionary, matched by one Aho–Corasick pass per document instead
    * of K per-pattern scans — the blocklist/taxonomy-tagger shape
    * where the dictionary is 10⁴ phrases at production scale and
    * re-scanning the corpus per pattern is the non-starter. The
    * dictionary deliberately contains a sub-phrase of another entry
    * ("join" ⊂ "merge join") and a self-overlapping phrase ("batch
    * batch"), so the oracle must count POSITIONALLY (`substr(text, i,
    * len(p)) = p` over every start) — `replace`-division undercounts
    * both. Scale shape: one narrow codegen'd pass fused into the scan,
    * a K-wide posexplode collapsed by map-side partial agg to K rows,
    * pattern names attached by broadcast.
    */
  val q99DictTagger = {
    val Pats = Seq("batch batch", "merge join", "join", "scan", "the", "window")
    QueryDef(
      "q99_dict_tagger",
      (s, dir) => {
        import s.implicits._
        import graft.functions.MultiPatternCounts
        import org.apache.spark.sql.graftcolumn
        val counted = t(s, dir, "documents")
          .select($"doc_id", graftcolumn(
            MultiPatternCounts(graftcolumn.expr($"text"), Pats)).as("c"))
          .select($"doc_id", posexplode($"c"))
          .toDF("doc_id", "pi", "n")
        val names = Pats.zipWithIndex.map { case (p, i) => (i, p) }
          .toDF("pi", "pattern")
        counted.groupBy($"pi")
          .agg(sum($"n").as("n_occ"),
            sum(when($"n" > 0, 1L).otherwise(0L)).as("n_docs"))
          .join(broadcast(names), "pi")
          .select($"pattern", $"n_occ", $"n_docs")
          .orderBy($"pattern")
      },
      Some(s"""
        WITH pats AS (
          SELECT * FROM (VALUES ${Pats.map(p => s"('$p')").mkString(", ")})
            AS t(pattern)),
        hits AS (
          SELECT d.doc_id, p.pattern
          FROM documents d
          CROSS JOIN pats p,
          unnest(range(1, length(d.text) - length(p.pattern) + 2)) AS u(i)
          WHERE substr(d.text, CAST(i AS INTEGER), length(p.pattern))
                  = p.pattern),
        agg AS (
          SELECT pattern, CAST(count(*) AS BIGINT) AS n_occ,
                 CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs
          FROM hits GROUP BY 1)
        SELECT p.pattern, coalesce(a.n_occ, 0) AS n_occ,
               coalesce(a.n_docs, 0) AS n_docs
        FROM pats p LEFT JOIN agg a USING (pattern)
        ORDER BY p.pattern"""))
  }

  // --------------------------------------------------- q100_filter_attribution
  /** Curation-funnel observability: the per-rule attribution matrix for
    * a five-rule quality battery (the Dolma tagger/mixer audit shape —
    * before changing a threshold you need to know which rules kill
    * which docs and how much they OVERLAP, because the union, not the
    * sum, is what leaves the corpus). Output: one row per failed-rule
    * pair `(rule_a ≤ rule_b, n_docs failing both)` — the diagonal is
    * each rule's kill count — plus a `_any` row with the union. Rules
    * reuse the shipped signal battery (q13/q46/q56 arithmetic), so the
    * matrix audits exactly the gates the engine applies elsewhere.
    * Scale shape: one narrow scoring pass; the pair matrix comes from a
    * double explode of the ≤5-entry failed-rule set (≤25 rows per doc
    * before the map-side partial agg collapses to ≤25 groups + 1) —
    * no self-join shuffle; the union row is a distinct-count over the
    * failed docs. At 100 TB the flags frame would be cached/written
    * once and both aggregates read it; here the projection recomputes
    * (two scans of a codegen'd narrow pass).
    */
  val q100FilterAttribution = {
    import Queries2.Vocab._
    val sqlPunct = graft.operators.TextAnalysis.PunctClass.replace("'", "''")
    def sqlList(ws: Seq[String]) = ws.map(w => s"'$w'").mkString("[", ", ", "]")
    QueryDef(
      "q100_filter_attribution",
      (s, dir) => {
        import s.implicits._
        import graft.operators.{Dedup, TextAnalysis}
        val flags = t(s, dir, "documents")
          .select($"doc_id",
            Dedup.shingleHashes3(Dedup.wordHashes(words($"text"))).as("sh"),
            TextAnalysis.tokenCount($"text").as("toks"),
            TextAnalysis.stopwordRatio($"text", stopwords).as("stopr"),
            TextAnalysis.qualityScore($"text", stopwords).as("quality"))
          .withColumn("dup_frac", when(size($"sh") === 0, lit(0.0)).otherwise(
            round(lit(1.0) - size(array_distinct($"sh")).cast("double")
              / size($"sh"), 6)))
          .select($"doc_id", array(
            struct(lit("low_quality").as("r"), ($"quality" < 0.5).as("f")),
            struct(lit("low_stopword").as("r"), ($"stopr" < 0.03).as("f")),
            struct(lit("repetition").as("r"), ($"dup_frac" > 0.3).as("f")),
            struct(lit("short").as("r"),
              ($"toks" < TextAnalysis.ShortDocTokens).as("f")),
            struct(lit("stuffing").as("r"), ($"stopr" > 0.35).as("f"))).as("rs"))
        val pairs = flags
          .select(explode(expr("filter(rs, x -> x.f)")).as("a"), $"rs")
          .select($"a.r".as("rule_a"),
            explode(expr("filter(rs, x -> x.f)")).as("b"))
          .filter($"rule_a" <= $"b.r")
          .select($"rule_a", $"b.r".as("rule_b"))
          .groupBy($"rule_a", $"rule_b").agg(count(lit(1)).as("n_docs"))
        val anyRow = flags.filter(expr("exists(rs, x -> x.f)"))
          .agg(count(lit(1)).as("n_docs"))
          .select(lit("_any").as("rule_a"), lit("_any").as("rule_b"),
            $"n_docs")
        pairs.unionByName(anyRow).orderBy($"rule_a", $"rule_b")
      },
      Some(s"""
        WITH base AS (
          SELECT doc_id, text,
                 string_split(text, ' ') AS w,
                 string_split(lower(text), ' ') AS lw,
                 list_transform(string_split(text, ' '),
                   x -> CAST(('0x' || substr(md5('0:' || x), 1, 15)) AS BIGINT)) AS wh
          FROM documents),
        shd AS (
          SELECT doc_id, text, w, lw,
                 CASE WHEN len(w) >= 3 THEN
                   list_transform(
                     list_transform(range(0, len(w) - 2), i ->
                       ((wh[i+1] % 1073741824) * 37 + (wh[i+2] % 1073741824)) % 1073741789
                         * 41 + (wh[i+3] % 1073741824)),
                     v -> v % 1073741789)
                 ELSE CAST([] AS BIGINT[]) END AS sh
          FROM base),
        m AS (
          SELECT doc_id, len(w) AS toks,
                 CASE WHEN len(sh) = 0 THEN 0.0
                      ELSE round(1.0 - CAST(len(list_distinct(sh)) AS DOUBLE) / len(sh), 6)
                 END AS dup_frac,
                 round(CAST(len(list_filter(lw, x ->
                     list_contains(${sqlList(stopwords)}, x))) AS DOUBLE) / len(lw), 6)
                   AS stopr,
                 round(greatest(0.0,
                   least(CAST(len(w) AS DOUBLE) / 100.0, 1.0) * 0.5
                   + least(round(CAST(len(list_filter(lw, x ->
                       list_contains(${sqlList(stopwords)}, x))) AS DOUBLE) / len(lw), 6)
                     * 4.0, 1.0) * 0.3
                   - least(round(CAST(length(text) - length(regexp_replace(text, '$sqlPunct', '', 'g'))
                       AS DOUBLE) / length(text), 6) * 5.0, 1.0) * 0.2
                   + 0.2), 6) AS quality
          FROM shd),
        failed AS (
          SELECT doc_id, 'low_quality' AS rule FROM m WHERE quality < 0.5
          UNION ALL SELECT doc_id, 'low_stopword' FROM m WHERE stopr < 0.03
          UNION ALL SELECT doc_id, 'repetition' FROM m WHERE dup_frac > 0.3
          UNION ALL SELECT doc_id, 'short' FROM m WHERE toks < 20
          UNION ALL SELECT doc_id, 'stuffing' FROM m WHERE stopr > 0.35),
        pairs AS (
          SELECT a.rule AS rule_a, b.rule AS rule_b,
                 CAST(count(*) AS BIGINT) AS n_docs
          FROM failed a JOIN failed b USING (doc_id)
          WHERE a.rule <= b.rule GROUP BY 1, 2),
        anyr AS (
          SELECT '_any' AS rule_a, '_any' AS rule_b,
                 CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs
          FROM failed)
        SELECT * FROM pairs UNION ALL SELECT * FROM anyr
        ORDER BY rule_a, rule_b"""))
  }

  // ------------------------------------------------------- q101_hard_negatives
  /** Hard-negative mining for retrieval training data (the DPR recipe,
    * Karpukhin et al. 2020: the best negatives are LEXICALLY similar
    * but semantically wrong): for each query-by-example document, the
    * semantic positive is its dense top-1 neighbor, and the hard
    * negatives are the BM25 top-`Depth` candidates that do NOT appear
    * in the dense top-`Depth` — lexical look-alikes the embedding
    * space rejects — re-ranked by lexical rank, top-`NegK` kept.
    * Output: `(query_id, role pos|neg, rnk, doc_id)` triplet rows.
    *
    * Scale shape: the two candidate generators are the shipped q88/q14
    * shapes (one tf exchange + broadcast query terms; broadcast probes
    * over a streamed corpus); everything after — the anti-join that
    * subtracts the dense set from the lexical set, the re-rank, the
    * cut — runs on candidate-sized frames (queries × Depth rows),
    * never the corpus. The oracle reuses the q88 BM25 CTE chain and
    * the q14 cosine arithmetic, subtracting via NOT EXISTS.
    */
  val q101HardNegatives = {
    val Depth = 20; val NegK = 5
    QueryDef(
      "q101_hard_negatives",
      (s, dir) => {
        import s.implicits._
        import org.apache.spark.sql.expressions.Window
        import graft.operators.{Retrieval, Similarity}
        val docs = t(s, dir, "documents")
        val emb = t(s, dir, "embeddings")
        val queries = docs.filter($"doc_id" < 3)
          .select($"doc_id".as("query_id"),
            explode(split($"text", " ")).as("term"))
          .distinct()
        val wLex = Window.partitionBy($"query_id")
          .orderBy($"score".desc, $"doc_id".asc)
        val lex = Retrieval.bm25TopK(docs, "doc_id", "text", queries, Depth)
          .filter($"doc_id" =!= $"query_id")
          .withColumn("rn", row_number().over(wLex).cast("long"))
          .select($"query_id", $"doc_id", $"rn")
        val probes = emb.filter($"vec_id" < 3)
          .select($"vec_id".as("probe_id"), $"embedding".as("pv"))
        val corpus = emb.select($"vec_id".as("cand_id"), $"embedding".as("cv"))
        val dense = Similarity.knnExact(probes, corpus, Depth)
          .select($"probe_id".as("query_id"), $"cand_id".as("doc_id"),
            $"rn".cast("long").as("rn"))
        val pos = dense.filter($"rn" === 1)
          .select($"query_id", lit("pos").as("role"), lit(1L).as("rnk"),
            $"doc_id")
        val wNeg = Window.partitionBy($"query_id").orderBy($"rn".asc)
        val neg = lex
          .join(dense.select($"query_id", $"doc_id"), Seq("query_id", "doc_id"),
            "left_anti")
          .withColumn("rnk", row_number().over(wNeg).cast("long"))
          .filter($"rnk" <= NegK)
          .select($"query_id", lit("neg").as("role"), $"rnk", $"doc_id")
        pos.unionByName(neg).orderBy($"query_id", $"role", $"rnk")
      },
      Some({
        import KmeansSql.sqlDot
        s"""
        WITH ${Queries7.bm25SqlCtes("""
          SELECT DISTINCT query_id, term FROM (
            SELECT doc_id AS query_id,
                   unnest(string_split(text, ' ')) AS term
            FROM documents WHERE doc_id < 3)""")},
        lr AS (
          SELECT query_id, doc_id,
                 CAST(row_number() OVER (PARTITION BY query_id
                   ORDER BY score DESC, doc_id) AS BIGINT) AS rn
          FROM r WHERE rn <= $Depth AND doc_id != query_id),
        p AS (SELECT vec_id AS probe_id, embedding AS pv
              FROM embeddings WHERE vec_id < 3),
        cand AS (SELECT vec_id AS cand_id, embedding AS cv FROM embeddings),
        ds AS (
          SELECT probe_id, cand_id,
                 round(${sqlDot("pv", "cv")} /
                       (sqrt(${sqlDot("pv", "pv")}) * sqrt(${sqlDot("cv", "cv")})), 6) AS cos
          FROM p, cand WHERE probe_id != cand_id),
        dr AS (
          SELECT probe_id AS query_id, cand_id AS doc_id, rn FROM (
            SELECT probe_id, cand_id,
                   CAST(row_number() OVER (PARTITION BY probe_id
                     ORDER BY cos DESC, cand_id) AS BIGINT) AS rn
            FROM ds)
          WHERE rn <= $Depth),
        pos AS (
          SELECT query_id, 'pos' AS role, CAST(1 AS BIGINT) AS rnk, doc_id
          FROM dr WHERE rn = 1),
        neg AS (
          SELECT query_id, 'neg' AS role, rnk, doc_id FROM (
            SELECT query_id, doc_id,
                   CAST(row_number() OVER (PARTITION BY query_id
                     ORDER BY rn) AS BIGINT) AS rnk
            FROM lr
            WHERE NOT EXISTS (
              SELECT 1 FROM dr
              WHERE dr.query_id = lr.query_id AND dr.doc_id = lr.doc_id))
          WHERE rnk <= $NegK)
        SELECT * FROM pos UNION ALL SELECT * FROM neg
        ORDER BY query_id, role, rnk"""
      }))
  }

  // ---------------------------------------------------- q102_canonical_by_rank
  /** Centrality-based canonical selection in near-dup clusters: q36's
    * verified near-dup graph with edges WEIGHTED by the verified
    * jaccard, each cluster's KEPT document chosen by PageRank
    * centrality (3 iterations, both directions) — the medoid-like
    * member most similar to the rest of its cluster, where q81 needs
    * an external quality score and min-id is arbitrary. The weights
    * matter: near-dup clusters are cliques (near-dup is mutual), and
    * on an unweighted clique PageRank provably stays uniform — rank
    * differentiation comes entirely from similarity asymmetry. Output
    * per cluster: component, kept doc, size, and the winner's rank.
    * This runs [[graft.operators.Graphs.pageRank]] on a DOCUMENT-level
    * graph — the operator's production shape (q98's 25-node trade
    * graph exercises the contracted-graph path).
    *
    * Scale shape: the LSH chain runs ONCE into a pinned edge frame
    * ([[graft.operators.Dedup.nearDupEdges]]) consumed by BOTH the
    * component clustering and the rank iterations; everything
    * downstream is edge-sized. The oracle splices the shared minhash
    * CTE chain, the integer-nanos PR iterations, and a per-component
    * rank argmax.
    */
  val q102CanonicalByRank = {
    val Iters = 3
    QueryDef(
      "q102_canonical_by_rank",
      (s, dir) => {
        import s.implicits._
        import org.apache.spark.sql.expressions.Window
        import graft.operators.{Dedup, Graphs}
        val near = Dedup.nearDupEdges(t(s, dir, "documents"), "doc_id",
          "text", seeds = 8, bands = 4, rowsPerBand = 2, minJaccard = 0.4)
        // round 20 (guide §2.6): the component clustering and the rank
        // iterations are INDEPENDENT chains over the same pinned edge
        // frame — each is a sequence of small pin/broadcast jobs
        // (measured: 81 sequential jobs, ~40–180 ms each, at sf0.1), so
        // overlapping them hides the shorter chain entirely. Results
        // are byte-identical to the sequential form (no shared state).
        val Seq(comp, pr) = graft.operators.Overlap.fanOut(Seq(
          () => Dedup.connectedComponents(near, "id_a", "id_b"),
          () => {
            val edges = near
              .select($"id_a".as("src"), $"id_b".as("dst"), $"jac".as("w"))
              .union(near
                .select($"id_b".as("src"), $"id_a".as("dst"), $"jac".as("w")))
            Graphs.pageRank(edges, "src", "dst", "w", iters = Iters)
          }), parallelism = 2)
        val w = Window.partitionBy($"component")
          .orderBy($"rank".desc, $"id".asc)
        comp.join(pr, comp("id") === pr("node"))
          .select($"component", $"id", $"rank")
          .withColumn("rn", row_number().over(w))
          .withColumn("n_docs",
            count(lit(1)).over(Window.partitionBy($"component")).cast("long"))
          .filter($"rn" === 1)
          .select($"component", $"id".as("kept_id"), $"n_docs", $"rank")
          .orderBy($"component")
      },
      Some(s"""
        WITH RECURSIVE ${MinhashCcSql.ctes},
        nearj AS (
          SELECT id_a, id_b,
                 round(CAST(len(list_distinct(list_intersect(sa.sh, sb.sh))) AS DOUBLE)
                       / len(list_distinct(list_concat(sa.sh, sb.sh))), 6) AS jac
          FROM pairs
          JOIN shx sa ON sa.doc_id = id_a
          JOIN shx sb ON sb.doc_id = id_b
          WHERE CAST(len(list_distinct(list_intersect(sa.sh, sb.sh))) AS DOUBLE)
                / len(list_distinct(list_concat(sa.sh, sb.sh))) >= 0.4),
        e2 AS (
          SELECT id_a AS src, id_b AS dst, jac AS w FROM nearj
          UNION ALL
          SELECT id_b, id_a, jac FROM nearj),
        ${prBaseCtes("e2")},
        ${(1 to Iters).map(prIterCtes).mkString(",\n        ")},
        prj AS (
          SELECT comp.component, comp.id,
                 CAST(rank_n AS DOUBLE) / 1000000000.0 AS rank
          FROM comp JOIN r$Iters ON r$Iters.node = comp.id),
        sel AS (
          SELECT component, id, rank,
                 CAST(row_number() OVER (PARTITION BY component
                   ORDER BY rank DESC, id) AS BIGINT) AS rn,
                 CAST(count(*) OVER (PARTITION BY component) AS BIGINT)
                   AS n_docs
          FROM prj)
        SELECT component, id AS kept_id, n_docs, rank
        FROM sel WHERE rn = 1 ORDER BY component"""))
  }

  // --------------------------------------------------------- q103_pca_power
  /** Distributed PCA by power iteration: the top principal direction
    * of the (mean-centered) embedding matrix and its explained-
    * variance share — the spectrum check run before trusting an
    * embedding space (anisotropy/"rogue dimension" audits) and the
    * whitening prerequisite. Three iterations of `w = Cᵀ(C v)`: each
    * is ONE narrow pass (per-row sequential dot against the broadcast
    * literal `v`, per-dim contribution) collapsed by a 64-group
    * partial agg; the driver holds only O(dims) state per round (the
    * q87 gradient-descent contract) — normalization and the Rayleigh
    * estimate are O(dims) driver arithmetic replayed exactly by the
    * oracle (sequential fold + `sqrt`, both IEEE-identical
    * cross-engine; every per-row product rounds to 9 before the exact
    * decimal sum). The centered frame is persisted across the 3+2
    * passes and released before return. Output: one row per dimension
    * with the loading, plus the eigenvalue and variance share.
    */
  val q103PcaPower = {
    val Iters = 3; val Dims = 64
    QueryDef(
      "q103_pca_power",
      (s, dir) => {
        import s.implicits._
        import graft.functions.GraftFunctions.dot
        val (cent, v, eig) = pcaPower(s, dir, Iters, Dims)
        val tr = cent
          .select(round(dot($"cv", $"cv"), 9).as("_t"))
          .agg(round(sum($"_t".cast("decimal(27,12)")).cast("double"), 9))
          .head.getDouble(0)
        cent.unpersist()
        val share = r9(eig / tr)
        v.zipWithIndex
          .map { case (l, i) => (i + 1L, l, eig, share) }.toSeq
          .toDF("d", "loading", "eigval", "var_share")
          .orderBy($"d")
      },
      Some(s"""
        WITH ${pcaCtes(Iters, Dims)},
        tr AS (
          SELECT round(CAST(SUM(CAST(
                   round(${seqSum(s"list_transform(range(1, ${Dims + 1}), k -> cv[k] * cv[k])")}, 9)
                   AS DECIMAL(27,12))) AS DOUBLE), 9) AS tr
          FROM cent)
        SELECT CAST(d AS BIGINT) AS d, va[d] AS loading, nm AS eigval,
               round(nm / tr, 9) AS var_share
        FROM v$Iters, tr, unnest(range(1, ${Dims + 1})) AS tf(d)
        ORDER BY d"""))
  }

  /** Sequential (left-fold) sum over a SQL list — the [[KmeansSql.sqlDot]]
    * reduction order, IEEE-identical to the codegen'd array folds.
    */
  private[graft] def seqSum(items: String) = s"list_reduce($items, (a, b) -> a + b)"

  /** Spark-side round-9 matching both engines' `round(x, 9)` on the
    * doubles the driver arithmetic sees (shortest-repr HALF_UP).
    */
  private[graft] def r9(x: Double): Double =
    java.math.BigDecimal.valueOf(x)
      .setScale(9, java.math.RoundingMode.HALF_UP).doubleValue

  /** Driver-side power iteration over the mean-centered embedding
    * matrix ([[pcaCtes]]'s Spark half): returns the PERSISTED centered
    * frame `(vec_id, cv)` (caller unpersists), the round-9 unit top
    * direction, and the Rayleigh eigenvalue estimate. O(dims) driver
    * state per round — each round is one narrow pass + dims-group
    * partial agg.
    */
  private[graft] def pcaPower(s: SparkSession, dir: String, iters: Int,
                       dims: Int): (DataFrame, Array[Double], Double) = {
    import s.implicits._
    import graft.functions.GraftFunctions.dot
    // guarded scan-spread (round 20; [[Tables.spread]]): the mean pass,
    // every power-iteration pass, and each caller's finishing aggregate
    // re-scan this frame (via the cent cache, which inherits its
    // partitioning) — at bench sf the scan is one split, so all of them
    // ran one-threaded. Downstream is exact-decimal sums + per-row maps
    // only (order-free).
    val emb = Tables.spread(t(s, dir, "embeddings"), "vec_id")
      .select($"vec_id", $"embedding")
    val mean = emb
      .select(posexplode($"embedding").as(Seq("_d0", "_x")))
      .groupBy($"_d0")
      .agg(round(sum($"_x".cast("decimal(27,12)")).cast("double")
        / count(lit(1)), 9).as("_m"))
      .collect().map(r => r.getInt(0) -> r.getDouble(1))
      .sortBy(_._1).map(_._2)
    val cent = emb.select($"vec_id",
      zip_with($"embedding", typedLit(mean.toSeq),
        (x, m) => x.cast("double") - m).as("cv"))
      .persist()
    var v = Array.fill(dims)(0.125) // 1/sqrt(64), exact
    var eig = 0.0
    for (_ <- 0 until iters) {
      val w = cent
        .select(round(dot($"cv", typedLit(v.toSeq)), 9).as("_dt"),
          posexplode($"cv").as(Seq("_d0", "_c")))
        .select($"_d0", round($"_c" * $"_dt", 9).as("_p"))
        .groupBy($"_d0")
        .agg(round(sum($"_p".cast("decimal(27,12)")).cast("double"), 9)
          .as("_w"))
        .collect().map(r => r.getInt(0) -> r.getDouble(1))
        .sortBy(_._1).map(_._2)
      eig = r9(math.sqrt(w.map(x => x * x).reduceLeft(_ + _)))
      v = w.map(x => r9(x / eig))
    }
    (cent, v, eig)
  }

  /** The q103 power-iteration CTE chain: mean `m`/`ma`, centered rows
    * `cent (vec_id, cv)`, start vector `v0`, and `iters` rounds ending
    * at `v$iters (va, nm)`. Shared by q103 (loadings) and q104 (ABTT
    * anisotropy audit).
    */
  private[graft] def pcaCtes(iters: Int, dims: Int): String = {
    def iterCtes(i: Int): String = {
      val p = if (i == 1) "v0" else s"v${i - 1}"
      s"""dt$i AS (
            SELECT vec_id,
                   round(${seqSum(s"list_transform(range(1, ${dims + 1}), k -> cv[k] * va[k])")}, 9) AS dt
            FROM cent, $p),
          w$i AS (
            SELECT d,
                   round(CAST(SUM(CAST(round(cv[d] * dt, 9) AS DECIMAL(27,12))) AS DOUBLE), 9) AS w
            FROM cent JOIN dt$i USING (vec_id),
                 unnest(range(1, ${dims + 1})) AS t$i(d)
            GROUP BY d),
          wa$i AS (SELECT list(w ORDER BY d) AS wa FROM w$i),
          nm$i AS (
            SELECT round(sqrt(${seqSum("list_transform(wa, x -> x * x)")}), 9) AS nm, wa
            FROM wa$i),
          v$i AS (SELECT list_transform(wa, x -> round(x / nm, 9)) AS va, nm
                  FROM nm$i)"""
    }
    s"""m AS (
          SELECT d,
                 round(CAST(SUM(CAST(embedding[d]::DOUBLE AS DECIMAL(27,12))) AS DOUBLE)
                   / COUNT(*), 9) AS m
          FROM embeddings, unnest(range(1, ${dims + 1})) AS tm(d)
          GROUP BY d),
        ma AS (SELECT list(m ORDER BY d) AS ma FROM m),
        cent AS (
          SELECT vec_id,
                 list_transform(range(1, ${dims + 1}),
                   k -> embedding[k]::DOUBLE - ma[k]) AS cv
          FROM embeddings, ma),
        v0 AS (SELECT list_transform(range(1, ${dims + 1}), x -> 0.125) AS va),
        ${(1 to iters).map(iterCtes).mkString(",\n        ")}"""
  }

  // ------------------------------------------------------ q104_anisotropy
  /** ABTT anisotropy audit (Mu & Viswanath, "All-but-the-Top", ICLR
    * 2018): the mean pairwise cosine of the embedding space before and
    * after removing the top principal direction — the standard check
    * for the "narrow cone" pathology, and the measurement that decides
    * whether a space needs the ABTT post-processing before cosine
    * retrieval. The all-pairs mean is computed WITHOUT all pairs via
    * the identity `Σ_{i≠j} uᵢ·uⱼ = ‖Σu‖² − Σ‖uᵢ‖²`: one pass summing
    * unit vectors per dimension + one scalar aggregate, per stage —
    * corpus-linear where the naive formulation is n². Reuses the q103
    * power direction ([[pcaPower]]); per-element quantization at
    * round-9, exact decimal sums, O(dims) driver finish.
    */
  val q104Anisotropy = {
    val Iters = 3; val Dims = 64
    QueryDef(
      "q104_anisotropy",
      (s, dir) => {
        import s.implicits._
        import graft.functions.GraftFunctions.dot
        val (cent, v, _) = pcaPower(s, dir, Iters, Dims)
        val vLit = typedLit(v.toSeq)
        val vv = v.map(x => x * x).reduceLeft(_ + _)
        // explode FIRST, then scalar arithmetic: per-element lambdas
        // (transform/zip_with) are interpreted and were the measured
        // hotspot (14.8 s -> see BASELINE row); unit elements stay
        // UNROUNDED doubles — they are generic reals, so the decimal
        // cast in the sums is the only (safe) quantization
        val cc = dot($"cv", $"cv")
        val un = cent
          .select($"vec_id", $"cv", round(sqrt(cc), 9).as("_rn"))
          .filter($"_rn" > 0)
          .select(posexplode($"cv").as(Seq("_d0", "_c")), $"_rn")
          .select($"_d0", ($"_c" / $"_rn").as("u"))
        // ||y||^2 expands algebraically from scalars already in hand:
        // cc - 2*dtr*(c.v) + dtr^2*||v||^2 — no per-element y array
        val rawdot = dot($"cv", vLit)
        val ab = cent
          .select($"vec_id", $"cv", cc.as("_cc"), rawdot.as("_raw"),
            round(rawdot, 9).as("_dtr"))
          .select($"vec_id", $"cv", $"_dtr",
            round(sqrt(($"_cc" - (lit(2.0) * $"_dtr" * $"_raw"))
              + (($"_dtr" * $"_dtr") * lit(vv))), 9).as("_yn"))
          .filter($"_yn" > 0)
          .select(posexplode($"cv").as(Seq("_d0", "_c")), $"_dtr", $"_yn")
          .select($"_d0",
            (($"_c" - $"_dtr" * element_at(vLit, $"_d0" + 1)) / $"_yn")
              .as("u"))
        def aniso(stage: DataFrame): Double = {
          val rows = stage.groupBy($"_d0")
            .agg(
              round(sum($"u".cast("decimal(27,12)")).cast("double"), 9)
                .as("_sd"),
              round(sum(($"u" * $"u").cast("decimal(27,12)")).cast("double"), 9)
                .as("_qd"),
              count(lit(1)).as("_c"))
            .collect().map(r => (r.getInt(0), r.getDouble(1),
              r.getDouble(2), r.getLong(3)))
            .sortBy(_._1)
          val n = rows.map(_._4).min.toDouble
          val tr2 = r9(rows.map(_._3).reduceLeft(_ + _))
          val ss = r9(rows.map(r => r._2 * r._2).reduceLeft(_ + _))
          r9((ss - tr2) / (n * (n - 1.0)))
        }
        // the two stage aggregates are independent collect chains over
        // the same pinned cent — overlap them (round 20; guide §2.6,
        // the q102 fan-out recipe); results are deterministic collects,
        // so the pair is byte-identical to the sequential composition
        val Seq(aAb, aUn) = graft.operators.Overlap.fanOut(
          Seq(() => aniso(ab), () => aniso(un)), parallelism = 2)
        val result = Seq(("abtt", aAb), ("centered", aUn))
        cent.unpersist()
        result.toDF("stage", "mean_pairwise_cos").orderBy($"stage")
      },
      Some(s"""
        WITH ${pcaCtes(Iters, Dims)},
        unx AS (
          SELECT d, cv[d] / rn AS u FROM (
            SELECT vec_id, cv,
                   round(sqrt(${seqSum(s"list_transform(range(1, ${Dims + 1}), k -> cv[k] * cv[k])")}), 9) AS rn
            FROM cent),
            unnest(range(1, ${Dims + 1})) AS tu(d)
          WHERE rn > 0),
        abx AS (
          SELECT d, (cv[d] - dtr * va[d]) / yn AS u FROM (
            SELECT vec_id, cv, va, dtr,
                   round(sqrt((cc - (2.0 * dtr * rawdot))
                     + ((dtr * dtr) * vv)), 9) AS yn
            FROM (
              SELECT vec_id, cv, va,
                     ${seqSum(s"list_transform(range(1, ${Dims + 1}), k -> cv[k] * cv[k])")} AS cc,
                     ${seqSum(s"list_transform(range(1, ${Dims + 1}), k -> cv[k] * va[k])")} AS rawdot,
                     round(${seqSum(s"list_transform(range(1, ${Dims + 1}), k -> cv[k] * va[k])")}, 9) AS dtr,
                     ${seqSum(s"list_transform(range(1, ${Dims + 1}), k -> va[k] * va[k])")} AS vv
              FROM cent, v$Iters)),
            unnest(range(1, ${Dims + 1})) AS tb(d)
          WHERE yn > 0),
        st AS (
          SELECT 'centered' AS stage, d, u FROM unx
          UNION ALL SELECT 'abtt', d, u FROM abx),
        sums AS (
          SELECT stage, d,
                 round(CAST(SUM(CAST(u AS DECIMAL(27,12))) AS DOUBLE), 9) AS sd,
                 round(CAST(SUM(CAST(u * u AS DECIMAL(27,12))) AS DOUBLE), 9) AS qd,
                 count(*) AS c
          FROM st GROUP BY 1, 2),
        fin AS (
          SELECT stage,
                 CAST(MIN(c) AS DOUBLE) AS nx,
                 round(${seqSum("list(qd ORDER BY d)")}, 9) AS tr2,
                 round(${seqSum("list_transform(list(sd ORDER BY d), x -> x * x)")}, 9) AS ss
          FROM sums GROUP BY 1)
        SELECT stage, round((ss - tr2) / (nx * (nx - 1.0)), 9)
                 AS mean_pairwise_cos
        FROM fin ORDER BY stage"""))
  }

  // ------------------------------------------------------ q105_skew_profile
  /** Join-key skew profiler: for each shuffle key a pipeline joins or
    * aggregates on, the statistics that decide the strategy BEFORE the
    * job runs — total rows, distinct keys, the heaviest key and its
    * share, the max/mean skew factor, and a recommended salt fan-out
    * `ceil(max_count · parts / total)` capped at `Parts` (a key is a
    * straggler exactly when it exceeds one partition's fair share;
    * q32 demonstrates the salted join this number parameterizes, AQE
    * skew-join is the runtime fallback). One partial-agged exchange
    * per profiled key, then a one-row reduction — the profile is
    * O(keys), never O(rows), so it runs casually at any scale.
    * Tie-break: the smallest key id among equal-count heaviest keys,
    * via max-of-(count, −key) struct ordering in both engines.
    */
  val q105SkewProfile = {
    val Parts = 32
    QueryDef(
      "q105_skew_profile",
      (s, dir) => {
        import s.implicits._
        def profile(table: String, keyCol: String): DataFrame =
          t(s, dir, table)
            .groupBy(col(keyCol).as("k")).agg(count(lit(1)).as("c"))
            .agg(sum($"c").as("total"), count(lit(1)).as("nk"),
              max($"c").as("mx"),
              max(struct($"c", (-$"k").cast("long").as("negk"))).as("am"))
            .select(lit(s"$table.$keyCol").as("key_name"),
              $"total".cast("long").as("total_rows"),
              $"nk".as("n_keys"),
              $"mx".as("max_count"),
              (-$"am.negk").as("top_key"),
              round($"mx".cast("double") / $"total", 6).as("top_share"),
              round($"mx".cast("double") * $"nk" / $"total", 6)
                .as("skew_factor"),
              expr(s"least(CAST($Parts AS BIGINT), " +
                s"(mx * $Parts + total - 1) DIV total)").as("salt_rec"))
        profile("orders", "o_custkey")
          .unionByName(profile("lineitem", "l_suppkey"))
          .unionByName(profile("events", "user_id"))
          .orderBy($"key_name")
      },
      Some({
        def one(table: String, keyCol: String): String = s"""
          SELECT '$table.$keyCol' AS key_name,
                 CAST(SUM(c) AS BIGINT) AS total_rows,
                 CAST(COUNT(*) AS BIGINT) AS n_keys,
                 CAST(MAX(c) AS BIGINT) AS max_count,
                 CAST(MIN(CASE WHEN c = mc THEN k END) AS BIGINT) AS top_key,
                 round(CAST(MAX(c) AS DOUBLE) / SUM(c), 6) AS top_share,
                 round(CAST(MAX(c) AS DOUBLE) * COUNT(*) / SUM(c), 6)
                   AS skew_factor,
                 CAST(least($Parts, (MAX(c) * $Parts + SUM(c) - 1) // SUM(c))
                   AS BIGINT) AS salt_rec
          FROM (SELECT k, c, MAX(c) OVER () AS mc FROM (
                  SELECT $keyCol AS k, count(*) AS c
                  FROM $table GROUP BY 1))"""
        s"""
        ${one("orders", "o_custkey")}
        UNION ALL ${one("lineitem", "l_suppkey")}
        UNION ALL ${one("events", "user_id")}
        ORDER BY key_name"""
      }))
  }

  def all: Seq[QueryDef] = Seq(q98Pagerank, q99DictTagger,
    q100FilterAttribution, q101HardNegatives, q102CanonicalByRank,
    q103PcaPower, q104Anisotropy, q105SkewProfile)
}
