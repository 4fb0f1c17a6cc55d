package graft

import scala.util.chaining._

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.Checkpoints

/** Round-15 query surface: the contamination recall harness — the
  * q50/q95 "measure, don't guess" discipline applied to the leakage
  * ladder (q47/q64 verbatim, q163 lightly-edited, q164 rephrased).
  * Oracle-parity rules as in [[Queries]]/[[Queries2]].
  */
object Queries22 {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    Tables(s, dir, name)

  // --------------------------------------------------- q165_decontam_recall
  /** Contamination-recall harness: plant KNOWN leaks at every rung of
    * the leakage ladder, run each rung's public operator against the
    * planted corpus, and report per-rung candidates / hits / possible /
    * recall — the numbers the bands/planes/nprobe dials are actually
    * turned against at 100 TB (q50 measures the ANN dials this way,
    * q95 the dedup banding dials; decontamination had correctness
    * oracles but no catch-rate measurement until this query).
    *
    * The fixture generator is the harness's own (both engines replay it
    * bit-for-bit — planted truth, not sampled truth):
    *
    *  - TEST SET: the 64 md5-smallest documents with ≥ 12 tokens (a
    *    TakeOrdered, so the audit cost is bounded at ANY corpus size —
    *    the q95 discipline; benchmarks are fixed-size, a fraction is
    *    not), and the 64 md5-smallest embedding rows for the semantic
    *    rung.
    *  - VERBATIM plants (ids +1e9): exact copies of the test docs.
    *  - EDITED plants (ids +2e9): every k-th token replaced by a junk
    *    token, k = 3 + 3·(doc_id mod 6) ∈ {3..18} — a SPREAD of edit
    *    intensities (k=3 destroys every shingle, k=18 keeps ~5/6), so
    *    rung-2 recall is a real S-curve measurement, not 0 or 1.
    *  - SEMANTIC plants (ids +1e9): the test vector plus md5-derived
    *    noise at amplitude (5 + 10·(vec_id mod 6))/100 ∈ {0.05..0.55}
    *    — light perturbations stay in the source's hyperplane bucket,
    *    heavy ones cross one or more planes, so the nprobe dial has
    *    misses to recover.
    *  - SPAN plants (ids +3e9): the test doc embedded verbatim inside
    *    junk filler of 1–4× its own length on each side — rung 1's
    *    corpus-side fraction dilutes to 1/3..1/9 (guaranteed misses),
    *    while rung 4's test-side coverage reads 1.0 at every filler
    *    ratio.
    *  - CORPUS: the original table minus the test rows, plus the
    *    plants — test ids and corpus ids stay disjoint, so every
    *    planted pair is real cross-relation leakage.
    *
    * Each rung runs its SHIPPED operator end-to-end against the planted
    * corpus ([[graft.operators.Contamination.scores]] /
    * [[graft.operators.Contamination.fuzzyScores]] at the q163 dial /
    * [[graft.operators.Contamination.semanticScores]] at nprobe = 1, 2
    * and planes+1 — `minCos = -1` turns the verify filter off, so
    * `candidates` is the raw probe-structure agreement count, the COST
    * side of each dial). `hits` counts planted pairs recovered at the
    * rung's operational threshold (overlap ≥ 0.8 / Jaccard ≥ 0.5 /
    * cosine ≥ 0.5), `possible` is the planted count, recall the ratio.
    * The three single-code semantic rows exercise the multi-probe path:
    * recall rises monotonically with nprobe (np1 → np2 →
    * Hamming-1-complete) at measured candidate cost — and the round-15
    * run of exactly these rows is what proved the single code erodes
    * with corpus growth (0.36 at 100× even Hamming-1-complete). The
    * `r3_semantic_multi` row measures the round-16 fix on the same
    * plants ([[graft.operators.Contamination.semanticScoresMulti]],
    * 8 OR-composed 6-plane tables; candidates charge Σ n_tables): its
    * geometry never derives from n, so its recall holds at any scale.
    *
    * Scale shape: every rung is the operator's own corpus-shuffle-free
    * broadcast shape (the test side is 64 rows by construction); the
    * fixture adds two narrow map passes and broadcast anti joins. The
    * harness reruns the corpus scan once per rung by design — it
    * audits the PUBLIC operators end-to-end rather than hand-sharing
    * their internals; at 100 TB this audit runs on a sampled corpus
    * slice, not the full table.
    */
  val q165DecontamRecall = {
    import KmeansSql.sqlCos
    val TestN = 64
    val sqlPlanes =
      """(SELECT CAST(coalesce(min(p), 16) AS INT) FROM range(1, 17) tp(p)
          WHERE 64 * (1 << p) >= (SELECT count(*) FROM embeddings))"""
    QueryDef(
      "q165_decontam_recall",
      (s, dir) => {
        import s.implicits._
        import graft.operators.{Contamination, Similarity}
        import graft.functions.GraftFunctions.hash64

        // ---- text fixture: test set, verbatim + edited plants --------
        val docs = t(s, dir, "documents").select($"doc_id", $"text")
        // pinned: the 64-row slice is consumed by every rung's bound
        // guard and probe builders — without the pin each of the six
        // rung calls re-runs the corpus TakeOrdered
        val tsel = docs.filter(size(split($"text", " ")) >= 12)
          .withColumn("_h", hash64($"doc_id".cast("string"), 165))
          .orderBy($"_h", $"doc_id").limit(TestN).drop("_h")
          .pipe(Checkpoints.pin)
        val verb = tsel.select(($"doc_id" + 1000000000L).as("doc_id"), $"text")
        // derive the edit FIRST, shift the id after: aliasing the new id
        // to "doc_id" in the same select would capture the lambda's
        // $"doc_id" (Spark resolves the reuse laterally, like DuckDB
        // would NOT — verified divergence)
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

        // ---- rung 1: verbatim (exact shingle-pool overlap, q47/q64) --
        val r1 = Contamination.scores(corp, tsel, "doc_id", "text")
          .agg(count(lit(1)).as("candidates"),
            coalesce(sum(when($"overlap_frac" >= 0.8 &&
              $"doc_id" >= 1000000000L && $"doc_id" < 2000000000L, 1L)
              .otherwise(0L)), lit(0L)).as("hits"))
          .select(lit("r1_verbatim").as("rung"), $"candidates", $"hits")

        // ---- rung 2: lightly edited (MinHash-LSH cross near-dup, q163)
        // minJaccard = 1e-6 keeps every band-agreement pair (any band
        // agreement implies >= 1 shared shingle, so Jaccard >= ~5e-4):
        // candidates = the banding's cost, hits at the q163 dial (0.5)
        val r2 = Contamination.fuzzyScores(corp, tsel, "doc_id", "text",
            minJaccard = 0.000001)
          .agg(count(lit(1)).as("candidates"),
            coalesce(sum(when($"jaccard" >= 0.5 &&
              $"doc_id" === $"test_id" + 2000000000L, 1L).otherwise(0L)),
              lit(0L)).as("hits"))
          .select(lit("r2_edited").as("rung"), $"candidates", $"hits")

        // ---- rung 4: embedded (span coverage, q166) ------------------
        // hosts: unique junk filler on both sides, length 1–4× the test
        // doc — never pairs with anything except via its embedded test
        // text, and guarantees rung-1 dilution at every ratio
        val hostLen = (size(split($"text", " ")) *
          (lit(1) + ($"doc_id" % 4))).cast("int")
        val hosts = tsel
          .select($"doc_id",
            array_join(flatten(array(
              transform(sequence(lit(0), hostLen - 1), i =>
                concat(lit("fa"), $"doc_id".cast("string"), lit("x"),
                  i.cast("string"))),
              split($"text", " "),
              transform(sequence(lit(0), hostLen - 1), i =>
                concat(lit("fb"), $"doc_id".cast("string"), lit("x"),
                  i.cast("string"))))), " ").as("text"))
          .select(($"doc_id" + 3000000000L).as("doc_id"), $"text")
        val r4 = Contamination.spanScores(corp.unionByName(hosts), tsel,
            "doc_id", "text")
          .agg(count(lit(1)).as("candidates"),
            coalesce(sum(when($"coverage" >= 0.9 &&
              $"doc_id" === $"test_id" + 3000000000L, 1L).otherwise(0L)),
              lit(0L)).as("hits"))
          .select(lit("r4_span_embedded").as("rung"), $"candidates", $"hits")

        // ---- vector fixture: test vectors + perturbed plants ---------
        val emb = t(s, dir, "embeddings").select($"vec_id", $"embedding")
        val vsel = emb
          .withColumn("_h", hash64($"vec_id".cast("string"), 166))
          .orderBy($"_h", $"vec_id").limit(TestN).drop("_h")
          .pipe(Checkpoints.pin)
        // amplitude via integer-then-one-divide so both engines produce
        // the identical double (a decimal 0.1 multiply would not)
        val amp = (lit(5L) + ($"vec_id" % 6) * 10L).cast("double") / 100.0
        // same two-step shape as `edited`: perturb against the ORIGINAL
        // vec_id, then shift the id
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
        val planes = Similarity.autoPlanes(emb.count(), targetBucket = 64)

        // ---- rung 3: rephrased (hyperplane-bucket cosine, q164) at
        // three points of the nprobe recall dial ----------------------
        def r3(np: Int, label: String): DataFrame =
          Contamination.semanticScores(vcorp, vsel, "vec_id", "embedding",
              dims = 64, planes = planes, minCos = -1.0, nprobe = np)
            .agg(count(lit(1)).as("candidates"),
              coalesce(sum(when($"cos" >= 0.5 &&
                $"vec_id" === $"test_id" + 1000000000L, 1L).otherwise(0L)),
                lit(0L)).as("hits"))
            .select(lit(label).as("rung"), $"candidates", $"hits")

        // ---- rung 3, MULTI-TABLE (the round-16 at-scale form): 8
        // OR-composed 6-plane codes — candidates charge Σ n_tables (the
        // raw per-table agreement rows, the cost the dial pays), hits
        // at the same cos >= 0.5 bar as the single-code rows, so the
        // single-code erosion and the multi-table fix are measured side
        // by side on the identical plants
        val r3m = Contamination.semanticScoresMulti(vcorp, vsel, "vec_id",
            "embedding", dims = 64, planesPerTable = 6, tables = 8,
            minCos = -1.0)
          .agg(coalesce(sum($"n_tables"), lit(0L)).as("candidates"),
            coalesce(sum(when($"cos" >= 0.5 &&
              $"vec_id" === $"test_id" + 1000000000L, 1L).otherwise(0L)),
              lit(0L)).as("hits"))
          .select(lit("r3_semantic_multi").as("rung"), $"candidates",
            $"hits")

        r1.unionByName(r2)
          .unionByName(r3(1, "r3_semantic_np1"))
          .unionByName(r3(2, "r3_semantic_np2"))
          .unionByName(r3(planes + 1, "r3_semantic_npfull"))
          .unionByName(r3m)
          .unionByName(r4)
          .select($"rung", $"candidates", $"hits",
            lit(TestN.toLong).as("possible"),
            round($"hits".cast("double") / TestN, 6).as("recall"))
          .orderBy($"rung")
      },
      Some(s"""
        WITH
        tsel AS (
          SELECT doc_id, text FROM (
            SELECT doc_id, text, row_number() OVER (ORDER BY
              CAST(('0x' || substr(md5('165:' || CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT),
              doc_id) AS rn
            FROM documents WHERE len(string_split(text, ' ')) >= 12)
          WHERE rn <= $TestN),
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
        tpool AS (
          SELECT DISTINCT unnest(list_distinct(sh)) AS h FROM shx WHERE NOT is_corpus),
        r1score AS (
          SELECT c.doc_id,
                 CAST(count(*) AS DOUBLE) / max(len(list_distinct(c.sh))) AS frac
          FROM (SELECT doc_id, sh FROM shx WHERE is_corpus) c,
               unnest(list_distinct(c.sh)) AS u(h)
          JOIN tpool USING (h)
          GROUP BY c.doc_id),
        r1 AS (
          SELECT 'r1_verbatim' AS rung,
                 CAST(count(*) AS BIGINT) AS candidates,
                 CAST(coalesce(sum(CASE WHEN round(frac, 6) >= 0.8
                       AND doc_id >= 1000000000 AND doc_id < 2000000000
                       THEN 1 ELSE 0 END), 0) AS BIGINT) AS hits
          FROM r1score),
        mh AS (
          SELECT doc_id, is_corpus,
                 list_transform([31, 37, 41, 43, 47, 53, 59, 61], a ->
                   list_min(list_transform(sh,
                     h -> (a * (h % 1073741824) + a*7 + 3) % 1073741789))) AS sig
          FROM shx),
        bands AS (
          SELECT doc_id, is_corpus,
                 md5(b || ':' || sig[2*b+1] || ',' || sig[2*b+2]) AS band_key
          FROM mh, unnest(range(0, 4)) AS tb(b)),
        cand2 AS (
          SELECT DISTINCT c.doc_id AS doc_id, t.doc_id AS test_id
          FROM (SELECT doc_id, band_key FROM bands WHERE is_corpus) c
          JOIN (SELECT doc_id, band_key FROM bands WHERE NOT is_corpus) t
            USING (band_key)),
        r2pairs AS (
          SELECT cand2.doc_id, cand2.test_id,
                 round(CAST(len(list_distinct(list_intersect(sa.sh, sb.sh))) AS DOUBLE)
                       / len(list_distinct(list_concat(sa.sh, sb.sh))), 6) AS jac
          FROM cand2
          JOIN (SELECT doc_id, sh FROM shx WHERE is_corpus) sa
            ON sa.doc_id = cand2.doc_id
          JOIN (SELECT doc_id, sh FROM shx WHERE NOT is_corpus) sb
            ON sb.doc_id = cand2.test_id),
        r2 AS (
          SELECT 'r2_edited' AS rung,
                 CAST(coalesce(sum(CASE WHEN jac >= 0.000001 THEN 1 ELSE 0 END), 0)
                      AS BIGINT) AS candidates,
                 CAST(coalesce(sum(CASE WHEN jac >= 0.5
                       AND doc_id = test_id + 2000000000
                       THEN 1 ELSE 0 END), 0) AS BIGINT) AS hits
          FROM r2pairs),
        hosts AS (
          SELECT doc_id + 3000000000 AS doc_id,
                 array_to_string(list_concat(list_concat(
                   list_transform(range(0, len(w) * (1 + doc_id % 4)),
                     i -> 'fa' || doc_id || 'x' || i),
                   w),
                   list_transform(range(0, len(w) * (1 + doc_id % 4)),
                     i -> 'fb' || doc_id || 'x' || i)), ' ') AS text
          FROM (SELECT doc_id, string_split(text, ' ') AS w FROM tsel)),
        htoks AS (
          SELECT doc_id, string_split(text, ' ') AS w,
                 list_transform(string_split(text, ' '),
                   x -> CAST(('0x' || substr(md5('0:' || x), 1, 15)) AS BIGINT)) AS wh
          FROM hosts),
        hshx AS (
          SELECT doc_id,
                 list_transform(
                   list_transform(range(0, len(w) - 2), i ->
                     ((wh[i+1] % 1073741824) * 37 + (wh[i+2] % 1073741824)) % 1073741789
                       * 41 + (wh[i+3] % 1073741824)),
                   v -> v % 1073741789) AS sh
          FROM htoks WHERE len(w) >= 3),
        spanx AS (
          SELECT doc_id, list_distinct(sh) AS dsh FROM shx WHERE is_corpus
          UNION ALL
          SELECT doc_id, list_distinct(sh) FROM hshx),
        texu AS (
          SELECT doc_id AS test_id, len(list_distinct(sh)) AS t_n,
                 unnest(list_distinct(sh)) AS h
          FROM shx WHERE NOT is_corpus),
        spanpairs AS (
          SELECT c.doc_id, test_id, max(t_n) AS t_n, count(*) AS n_shared
          FROM (SELECT doc_id, unnest(dsh) AS h FROM spanx) c
          JOIN texu USING (h)
          GROUP BY 1, 2),
        r4 AS (
          SELECT 'r4_span_embedded' AS rung,
                 CAST(count(*) AS BIGINT) AS candidates,
                 CAST(coalesce(sum(CASE WHEN
                       round(CAST(n_shared AS DOUBLE) / t_n, 6) >= 0.9
                       AND doc_id = test_id + 3000000000
                       THEN 1 ELSE 0 END), 0) AS BIGINT) AS hits
          FROM spanpairs),
        vsel AS (
          SELECT vec_id, embedding FROM (
            SELECT vec_id, embedding, row_number() OVER (ORDER BY
              CAST(('0x' || substr(md5('166:' || CAST(vec_id AS VARCHAR)), 1, 15)) AS BIGINT),
              vec_id) AS rn
            FROM embeddings) WHERE rn <= $TestN),
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
        cproj AS (
          SELECT vec_id, v,
                 list_transform(range(0, $sqlPlanes), p ->
                   round(list_reduce(list_transform(range(0, 64),
                     d -> v[d+1] * (CAST(('0x' || substr(md5('0:' || p || ':' || d), 1, 15)) AS BIGINT)
                            % 1000 / 1000.0 - 0.5)),
                     (x, y) -> x + y), 6)) AS pr
          FROM vcorp),
        cbkt AS (
          SELECT vec_id, v,
                 list_sum(list_transform(range(1, len(pr) + 1),
                   i -> CASE WHEN pr[i] > 0 THEN (1 << (i - 1)) ELSE 0 END)) AS bucket
          FROM cproj),
        tproj AS (
          SELECT vec_id AS test_id, list_transform(embedding, x -> x::DOUBLE) AS tv,
                 list_transform(range(0, $sqlPlanes), p ->
                   round(list_reduce(list_transform(range(0, 64),
                     d -> embedding[d+1]::DOUBLE *
                       (CAST(('0x' || substr(md5('0:' || p || ':' || d), 1, 15)) AS BIGINT)
                          % 1000 / 1000.0 - 0.5)),
                     (x, y) -> x + y), 6)) AS pr
          FROM vsel),
        tbkt AS (
          SELECT test_id, tv,
                 list_sum(list_transform(range(1, len(pr) + 1),
                   i -> CASE WHEN pr[i] > 0 THEN (1 << (i - 1)) ELSE 0 END)) AS b0,
                 CAST(list_sort(list_transform(range(1, len(pr) + 1),
                   i -> [abs(pr[i]), CAST(i - 1 AS DOUBLE)]))[1][2] AS INT) AS pmin
          FROM tproj),
        vpairs AS (
          SELECT c.vec_id, t.test_id, c.bucket, t.b0, t.pmin,
                 ${sqlCos("c.v", "t.tv")} AS cos
          FROM cbkt c, tbkt t
          WHERE xor(c.bucket::BIGINT, t.b0::BIGINT) = 0
             OR (xor(c.bucket::BIGINT, t.b0::BIGINT)
                 & (xor(c.bucket::BIGINT, t.b0::BIGINT) - 1)) = 0),
        r3 AS (
          SELECT 'r3_semantic_np1' AS rung,
                 CAST(coalesce(sum(CASE WHEN bucket = b0 THEN 1 ELSE 0 END), 0)
                      AS BIGINT) AS candidates,
                 CAST(coalesce(sum(CASE WHEN bucket = b0 AND cos >= 0.5
                       AND vec_id = test_id + 1000000000
                       THEN 1 ELSE 0 END), 0) AS BIGINT) AS hits
          FROM vpairs
          UNION ALL
          SELECT 'r3_semantic_np2',
                 CAST(coalesce(sum(CASE WHEN bucket = b0
                       OR bucket = xor(b0::BIGINT, (1 << pmin)::BIGINT)
                       THEN 1 ELSE 0 END), 0) AS BIGINT),
                 CAST(coalesce(sum(CASE WHEN (bucket = b0
                       OR bucket = xor(b0::BIGINT, (1 << pmin)::BIGINT))
                       AND cos >= 0.5 AND vec_id = test_id + 1000000000
                       THEN 1 ELSE 0 END), 0) AS BIGINT)
          FROM vpairs
          UNION ALL
          SELECT 'r3_semantic_npfull',
                 CAST(count(*) AS BIGINT),
                 CAST(coalesce(sum(CASE WHEN cos >= 0.5
                       AND vec_id = test_id + 1000000000
                       THEN 1 ELSE 0 END), 0) AS BIGINT)
          FROM vpairs),
        hp AS (
          SELECT g, list_transform(range(0, 64), d ->
            CAST(('0x' || substr(md5('0:' || g || ':' || d), 1, 15)) AS BIGINT)
              % 1000 / 1000.0 - 0.5) AS pv
          FROM range(0, 48) tg(g)),
        cmt AS (
          SELECT c.vec_id, CAST(hp.g // 6 AS INT) AS tbl,
                 SUM(CASE WHEN round(list_reduce(list_transform(range(0, 64),
                       d -> c.v[d+1] * hp.pv[d+1]), (x, y) -> x + y), 6) > 0
                     THEN (1 << CAST(hp.g % 6 AS INT)) ELSE 0 END) AS bucket
          FROM vcorp c CROSS JOIN hp GROUP BY 1, 2),
        tmt AS (
          SELECT t.vec_id AS test_id, CAST(hp.g // 6 AS INT) AS tbl,
                 SUM(CASE WHEN round(list_reduce(list_transform(range(0, 64),
                       d -> t.embedding[d+1]::DOUBLE * hp.pv[d+1]), (x, y) -> x + y), 6) > 0
                     THEN (1 << CAST(hp.g % 6 AS INT)) ELSE 0 END) AS bucket
          FROM vsel t CROSS JOIN hp GROUP BY 1, 2),
        mpairs AS (
          SELECT c.vec_id, t.test_id, count(*) AS n_tables
          FROM cmt c JOIN tmt t ON c.tbl = t.tbl AND c.bucket = t.bucket
          GROUP BY 1, 2),
        mcos AS (
          SELECT p.vec_id, p.test_id, p.n_tables,
                 ${sqlCos("cv.v", "tp.tv")} AS cos
          FROM mpairs p
          JOIN vcorp cv ON cv.vec_id = p.vec_id
          JOIN tproj tp ON tp.test_id = p.test_id),
        r3m AS (
          SELECT 'r3_semantic_multi' AS rung,
                 CAST(coalesce(sum(n_tables), 0) AS BIGINT) AS candidates,
                 CAST(coalesce(sum(CASE WHEN cos >= 0.5
                       AND vec_id = test_id + 1000000000
                       THEN 1 ELSE 0 END), 0) AS BIGINT) AS hits
          FROM mcos),
        unioned AS (
          SELECT * FROM r1 UNION ALL SELECT * FROM r2
          UNION ALL SELECT * FROM r3 UNION ALL SELECT * FROM r3m
          UNION ALL SELECT * FROM r4)
        SELECT rung, candidates, hits, CAST($TestN AS BIGINT) AS possible,
               round(CAST(hits AS DOUBLE) / $TestN, 6) AS recall
        FROM unioned ORDER BY rung"""),
      notes = "planted-leak recall harness over the full leakage " +
        "ladder; candidates = raw probe-agreement cost, hits at each " +
        "rung's operational threshold, semantic rung at nprobe 1/2/full " +
        "plus the 8x6 multi-table form side by side, span rung on " +
        "junk-filler hosts at 1-4x dilution")
  }

  // ------------------------------------------------- q166_span_contamination
  /** SPAN contamination — the fourth practical leakage mode, and the
    * one rung 1 structurally CANNOT see: a benchmark item quoted
    * verbatim inside a longer host document shares every one of its
    * shingles, but the host's per-corpus-doc overlap fraction (q47's
    * metric) is t/|host| — diluted below any sane threshold as the
    * host grows. [[graft.operators.Contamination.spanScores]] measures
    * from the TEST side instead: coverage = shared / test-item
    * shingles, 1.0 for an embedded copy regardless of host length.
    *
    * The query plants the leakage mode it detects (the q165 fixture
    * discipline — the test set is the 64 md5-smallest ≥12-token
    * documents, a TakeOrdered that stays benchmark-sized at ANY corpus
    * scale, replacing the round-15 corpus-proportional `% 97` stand-in
    * whose 100× bench rows measured the fixture): each test item is
    * embedded into junk filler of 1–4× its own length on each side
    * (id +3e9), and the output carries BOTH fractions — planted hosts
    * read coverage = 1.0 with dilution 1/3..1/9, the gap that defeats
    * rung 1, in the relation itself. Organic ≥ 0.9-coverage pairs
    * (near-verbatim corpus copies of test items) surface alongside.
    *
    * Scale shape: the host build is a narrow pass over the pinned
    * 64-row slice; spanScores explodes the broadcast test pool and
    * probes the corpus in one narrow pass — only shingle matches reach
    * the pair-grouped count, and the corpus never shuffles.
    */
  val q166SpanContamination = QueryDef(
    "q166_span_contamination",
    (s, dir) => {
      import s.implicits._
      import graft.operators.Contamination
      import graft.functions.GraftFunctions.hash64
      val docs = t(s, dir, "documents").select($"doc_id", $"text")
      val tsel = docs.filter(size(split($"text", " ")) >= 12)
        .withColumn("_h", hash64($"doc_id".cast("string"), 167))
        .orderBy($"_h", $"doc_id").limit(64).drop("_h")
        .pipe(Checkpoints.pin)
      val corp = docs
        .join(broadcast(tsel.select($"doc_id")), Seq("doc_id"), "left_anti")
      val hostLen = (size(split($"text", " ")) *
        (lit(1) + ($"doc_id" % 4))).cast("int")
      val hosts = tsel
        .select($"doc_id",
          array_join(flatten(array(
            transform(sequence(lit(0), hostLen - 1), i =>
              concat(lit("fa"), $"doc_id".cast("string"), lit("x"),
                i.cast("string"))),
            split($"text", " "),
            transform(sequence(lit(0), hostLen - 1), i =>
              concat(lit("fb"), $"doc_id".cast("string"), lit("x"),
                i.cast("string"))))), " ").as("text"))
        .select(($"doc_id" + 3000000000L).as("doc_id"), $"text")
      Contamination.spanScores(corp.unionByName(hosts), tsel,
          "doc_id", "text")
        .filter($"coverage" >= 0.9)
        .orderBy($"doc_id", $"test_id")
    },
    Some("""
      WITH tsel AS (
        SELECT doc_id, text FROM (
          SELECT doc_id, text, row_number() OVER (ORDER BY
            CAST(('0x' || substr(md5('167:' || CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT),
            doc_id) AS rn
          FROM documents WHERE len(string_split(text, ' ')) >= 12)
        WHERE rn <= 64),
      hosts AS (
        SELECT doc_id + 3000000000 AS doc_id,
               array_to_string(list_concat(list_concat(
                 list_transform(range(0, len(w) * (1 + doc_id % 4)),
                   i -> 'fa' || doc_id || 'x' || i),
                 w),
                 list_transform(range(0, len(w) * (1 + doc_id % 4)),
                   i -> 'fb' || doc_id || 'x' || i)), ' ') AS text
        FROM (SELECT doc_id, string_split(text, ' ') AS w FROM tsel)),
      corp AS (
        SELECT d.doc_id, d.text FROM documents d
        LEFT JOIN tsel USING (doc_id) WHERE tsel.doc_id IS NULL
        UNION ALL
        SELECT doc_id, text FROM hosts),
      allt AS (
        SELECT doc_id, text, true AS is_corpus FROM corp
        UNION ALL
        SELECT doc_id, text, false FROM tsel),
      toks AS (
        SELECT doc_id, is_corpus, string_split(text, ' ') AS w,
               list_transform(string_split(text, ' '),
                 x -> CAST(('0x' || substr(md5('0:' || x), 1, 15)) AS BIGINT)) AS wh
        FROM allt),
      shx AS (
        SELECT doc_id, is_corpus,
               list_distinct(list_transform(
                 list_transform(range(0, len(w) - 2), i ->
                   ((wh[i+1] % 1073741824) * 37 + (wh[i+2] % 1073741824)) % 1073741789
                     * 41 + (wh[i+3] % 1073741824)),
                 v -> v % 1073741789)) AS sh
        FROM toks WHERE len(w) >= 3),
      tex AS (
        SELECT doc_id AS test_id, len(sh) AS t_n, unnest(sh) AS h
        FROM shx WHERE NOT is_corpus),
      p AS (
        SELECT c.doc_id, test_id, max(c.c_n) AS c_n, max(t_n) AS t_n,
               count(*) AS n_shared
        FROM (SELECT doc_id, len(sh) AS c_n, unnest(sh) AS h
              FROM shx WHERE is_corpus) c
        JOIN tex USING (h)
        GROUP BY 1, 2),
      scored AS (
        SELECT doc_id, test_id, CAST(n_shared AS BIGINT) AS n_shared,
               CAST(t_n AS BIGINT) AS t_shingles,
               round(CAST(n_shared AS DOUBLE) / t_n, 6) AS coverage,
               round(CAST(n_shared AS DOUBLE) / c_n, 6) AS dilution
        FROM p)
      SELECT * FROM scored WHERE coverage >= 0.9
      ORDER BY doc_id, test_id"""),
    notes = "test-side coverage catches benchmark-in-long-doc embedding " +
      "that the rung-1 corpus-side fraction dilutes away; dilution " +
      "column shows the gap")

  // ---------------------------------------------------- q167_span_excision
  /** Surgical decontamination — EXCISE the quoted benchmark span,
    * keep the host ([[graft.operators.Contamination.spanExcise]]): the
    * alternative to q166's whole-doc cut when the host document is
    * otherwise good training data (the usual real-world case — a long
    * web page quoting one test item). A token goes when any 3-shingle
    * covering it appears in the test pool; hosts keep their filler,
    * organic partial overlaps get nibbled by exactly their shared
    * span, and fully-covered documents (verbatim copies) drop to an
    * empty residue and are removed outright.
    *
    * Fixture: the q166 planted hosts (the 64 md5-smallest test items
    * inside 1–4× junk filler — the q165 discipline; the round-15
    * corpus-proportional `% 97` stand-in made this query's 100× bench
    * row measure a 62k-doc fake benchmark instead of the operator).
    * The oracle hash-compares the ENTIRE cleaned text of every touched
    * document, so the rewrite arithmetic — positional shingles,
    * coverage window, token re-join — is pinned byte-exact
    * cross-engine.
    *
    * Scale shape: pool broadcast; one narrow posexplode probe pass
    * whose output is contamination-sized; the rewrite is a broadcast
    * left join back onto the corpus. Same test-side bound as the other
    * rungs.
    */
  val q167SpanExcision = QueryDef(
    "q167_span_excision",
    (s, dir) => {
      import s.implicits._
      import graft.operators.Contamination
      import graft.functions.GraftFunctions.hash64
      val docs = t(s, dir, "documents").select($"doc_id", $"text")
      val tsel = docs.filter(size(split($"text", " ")) >= 12)
        .withColumn("_h", hash64($"doc_id".cast("string"), 167))
        .orderBy($"_h", $"doc_id").limit(64).drop("_h")
        .pipe(Checkpoints.pin)
      val corp = docs
        .join(broadcast(tsel.select($"doc_id")), Seq("doc_id"), "left_anti")
      val hostLen = (size(split($"text", " ")) *
        (lit(1) + ($"doc_id" % 4))).cast("int")
      val hosts = tsel
        .select($"doc_id",
          array_join(flatten(array(
            transform(sequence(lit(0), hostLen - 1), i =>
              concat(lit("fa"), $"doc_id".cast("string"), lit("x"),
                i.cast("string"))),
            split($"text", " "),
            transform(sequence(lit(0), hostLen - 1), i =>
              concat(lit("fb"), $"doc_id".cast("string"), lit("x"),
                i.cast("string"))))), " ").as("text"))
        .select(($"doc_id" + 3000000000L).as("doc_id"), $"text")
      Contamination.spanExcise(corp.unionByName(hosts), tsel,
          "doc_id", "text")
        .filter($"n_excised" > 0)
        .select($"doc_id", $"n_excised",
          length($"text").cast("long").as("clean_chars"),
          $"text".as("clean_text"))
        .orderBy($"doc_id")
    },
    Some("""
      WITH tsel AS (
        SELECT doc_id, text FROM (
          SELECT doc_id, text, row_number() OVER (ORDER BY
            CAST(('0x' || substr(md5('167:' || CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT),
            doc_id) AS rn
          FROM documents WHERE len(string_split(text, ' ')) >= 12)
        WHERE rn <= 64),
      hosts AS (
        SELECT doc_id + 3000000000 AS doc_id,
               array_to_string(list_concat(list_concat(
                 list_transform(range(0, len(w) * (1 + doc_id % 4)),
                   i -> 'fa' || doc_id || 'x' || i),
                 w),
                 list_transform(range(0, len(w) * (1 + doc_id % 4)),
                   i -> 'fb' || doc_id || 'x' || i)), ' ') AS text
        FROM (SELECT doc_id, string_split(text, ' ') AS w FROM tsel)),
      corp AS (
        SELECT d.doc_id, d.text FROM documents d
        LEFT JOIN tsel USING (doc_id) WHERE tsel.doc_id IS NULL
        UNION ALL
        SELECT doc_id, text FROM hosts),
      ctoks AS (
        SELECT doc_id, string_split(text, ' ') AS w,
               list_transform(string_split(text, ' '),
                 x -> CAST(('0x' || substr(md5('0:' || x), 1, 15)) AS BIGINT)) AS wh
        FROM corp),
      cshx AS (
        SELECT doc_id, w,
               list_transform(
                 list_transform(range(0, len(w) - 2), i ->
                   ((wh[i+1] % 1073741824) * 37 + (wh[i+2] % 1073741824)) % 1073741789
                     * 41 + (wh[i+3] % 1073741824)),
                 v -> v % 1073741789) AS sh
        FROM ctoks WHERE len(w) >= 3),
      ttoks AS (
        SELECT doc_id, string_split(text, ' ') AS w,
               list_transform(string_split(text, ' '),
                 x -> CAST(('0x' || substr(md5('0:' || x), 1, 15)) AS BIGINT)) AS wh
        FROM tsel),
      tpool AS (
        SELECT DISTINCT unnest(list_transform(
                 list_transform(range(0, len(w) - 2), i ->
                   ((wh[i+1] % 1073741824) * 37 + (wh[i+2] % 1073741824)) % 1073741789
                     * 41 + (wh[i+3] % 1073741824)),
                 v -> v % 1073741789)) AS h
        FROM ttoks WHERE len(w) >= 3),
      posx AS (
        SELECT doc_id, j, sh[j+1] AS h
        FROM cshx, unnest(range(0, len(sh))) AS tj(j)),
      mj AS (
        SELECT doc_id, list(DISTINCT j) AS mj
        FROM posx JOIN tpool USING (h) GROUP BY doc_id),
      rew AS (
        SELECT c.doc_id,
               list_transform(
                 list_filter(range(0, len(w)), p ->
                   NOT (list_contains(mj, p) OR list_contains(mj, p - 1)
                        OR list_contains(mj, p - 2))),
                 p -> w[p+1]) AS keptw,
               len(w) AS n
        FROM cshx c JOIN mj USING (doc_id))
      SELECT doc_id,
             CAST(n - len(keptw) AS BIGINT) AS n_excised,
             CAST(len(array_to_string(keptw, ' ')) AS BIGINT) AS clean_chars,
             array_to_string(keptw, ' ') AS clean_text
      FROM rew
      WHERE n - len(keptw) > 0 AND len(keptw) >= 1
      ORDER BY doc_id"""),
    notes = "PaLM-style dirty-span removal: excise the quoted benchmark " +
      "tokens, keep the host; cleaned text hash-compared byte-exact")

  // ------------------------------------------------- q168_semantic_table_dial
  /** The multi-table semantic rung's COST/RECALL CURVE — the dial
    * q165's single `r3_semantic_multi` row fixes at (6 planes, 8
    * tables), swept: the same planted fixture (q165's 64 md5-smallest
    * vectors + amplitude-spread perturbed copies) is probed at
    * tables ∈ {2, 4, 8}, each the PREFIX of the same deterministic
    * plane family, and the output reports per-setting candidates
    * (Σ per-table agreements — the raw verify cost), hits (planted
    * pairs recovered at cosine ≥ 0.5) and recall. Both columns are
    * provably monotone in the table count (a prefix of tables can only
    * lose candidates), so the relation IS the dial: a deployment picks
    * the smallest T whose recall clears its bar and pays exactly the
    * candidate column. This is the q50/q95 discipline (measure the
    * dial, don't guess it) applied to the structure that round 16
    * introduced because the previous dial — nprobe on a single
    * corpus-derived code — measurably stopped working at 100×.
    *
    * Scale shape: three [[graft.operators.Contamination.semanticScoresMulti]]
    * calls over the planted corpus — each the corpus-shuffle-free
    * broadcast shape with its match-sized pair-dedup exchange; the
    * corpus scan re-runs per setting by design (the harness audits the
    * public operator end-to-end, q165's note).
    */
  val q168SemanticTableDial = {
    import KmeansSql.sqlCos
    val TestN = 64
    QueryDef(
      "q168_semantic_table_dial",
      (s, dir) => {
        import s.implicits._
        import graft.operators.Contamination
        import graft.functions.GraftFunctions.hash64

        val emb = t(s, dir, "embeddings").select($"vec_id", $"embedding")
        val vsel = emb
          .withColumn("_h", hash64($"vec_id".cast("string"), 166))
          .orderBy($"_h", $"vec_id").limit(TestN).drop("_h")
          .pipe(Checkpoints.pin)
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

        def at(tables: Int): DataFrame =
          Contamination.semanticScoresMulti(vcorp, vsel, "vec_id",
              "embedding", dims = 64, planesPerTable = 6, tables = tables,
              minCos = -1.0)
            .agg(coalesce(sum($"n_tables"), lit(0L)).as("candidates"),
              coalesce(sum(when($"cos" >= 0.5 &&
                $"vec_id" === $"test_id" + 1000000000L, 1L).otherwise(0L)),
                lit(0L)).as("hits"))
            .select(lit(tables.toLong).as("tables"), $"candidates", $"hits")

        at(2).unionByName(at(4)).unionByName(at(8))
          .select($"tables", $"candidates", $"hits",
            lit(TestN.toLong).as("possible"),
            round($"hits".cast("double") / TestN, 6).as("recall"))
          .orderBy($"tables")
      },
      Some(s"""
        WITH vsel AS (
          SELECT vec_id, embedding FROM (
            SELECT vec_id, embedding, row_number() OVER (ORDER BY
              CAST(('0x' || substr(md5('166:' || CAST(vec_id AS VARCHAR)), 1, 15)) AS BIGINT),
              vec_id) AS rn
            FROM embeddings) WHERE rn <= $TestN),
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
        cmt AS (
          SELECT c.vec_id, CAST(hp.g // 6 AS INT) AS tbl,
                 SUM(CASE WHEN round(list_reduce(list_transform(range(0, 64),
                       d -> c.v[d+1] * hp.pv[d+1]), (x, y) -> x + y), 6) > 0
                     THEN (1 << CAST(hp.g % 6 AS INT)) ELSE 0 END) AS bucket
          FROM vcorp c CROSS JOIN hp GROUP BY 1, 2),
        tmt AS (
          SELECT t.vec_id AS test_id, CAST(hp.g // 6 AS INT) AS tbl,
                 SUM(CASE WHEN round(list_reduce(list_transform(range(0, 64),
                       d -> t.embedding[d+1]::DOUBLE * hp.pv[d+1]), (x, y) -> x + y), 6) > 0
                     THEN (1 << CAST(hp.g % 6 AS INT)) ELSE 0 END) AS bucket
          FROM vsel t CROSS JOIN hp GROUP BY 1, 2),
        agree AS (
          SELECT c.vec_id, t.test_id, c.tbl
          FROM cmt c JOIN tmt t ON c.tbl = t.tbl AND c.bucket = t.bucket),
        paircos AS (
          SELECT a.vec_id, a.test_id, ${sqlCos("cv.v", "tv.tv")} AS cos
          FROM (SELECT DISTINCT vec_id, test_id FROM agree) a
          JOIN vcorp cv ON cv.vec_id = a.vec_id
          JOIN (SELECT vec_id AS test_id,
                  list_transform(embedding, x -> x::DOUBLE) AS tv FROM vsel) tv
            ON tv.test_id = a.test_id),
        sweep AS (
          SELECT ts.t AS tables, a.vec_id, a.test_id, count(*) AS n_tables
          FROM (VALUES (2), (4), (8)) ts(t)
          JOIN agree a ON a.tbl < ts.t
          GROUP BY 1, 2, 3),
        outr AS (
          SELECT tables,
                 CAST(coalesce(sum(n_tables), 0) AS BIGINT) AS candidates,
                 CAST(coalesce(sum(CASE WHEN cos >= 0.5
                       AND vec_id = test_id + 1000000000
                       THEN 1 ELSE 0 END), 0) AS BIGINT) AS hits
          FROM sweep JOIN paircos USING (vec_id, test_id)
          GROUP BY 1)
        SELECT CAST(tables AS BIGINT) AS tables, candidates, hits,
               CAST($TestN AS BIGINT) AS possible,
               round(CAST(hits AS DOUBLE) / $TestN, 6) AS recall
        FROM outr ORDER BY tables"""),
      notes = "cost/recall sweep of the multi-table semantic rung at " +
        "tables = 2/4/8 on the q165 planted fixture; both columns " +
        "monotone in the table count by construction")
  }

  def all: Seq[QueryDef] =
    Seq(q165DecontamRecall, q166SpanContamination, q167SpanExcision,
      q168SemanticTableDial)
}
