package graft.operators

import scala.util.chaining._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Sparse lexical retrieval — BM25 ranking over the corpus, the
  * inverted-index workhorse behind search/RAG candidate generation and
  * the "retrieve near-duplicates of the eval set" decontamination
  * variant. Reference scope: the reference pipeline queries external
  * search providers (`app/search/provider_search.py`) and never ranks
  * locally; a corpus-local ranked retrieval is north-star surface.
  *
  * Scoring is the Robertson/Lucene BM25 variant:
  * `idf(t) = ln((N - df + 0.5)/(df + 0.5) + 1)`,
  * `score(q,d) = Σ_t idf(t) · tf·(k1+1) / (tf + k1·(1 − b + b·len/avgdl))`.
  *
  * Determinism contract (oracle replays the arithmetic): `idf` rounds
  * to 9 right after the `ln` (libm last-ulp divergence — the q37
  * discipline), each per-term contribution rounds to 9 (pure IEEE
  * +/×/÷ after that, identical cross-engine), contributions sum as
  * exact decimals (order-free), and the final score rounds to 6 BEFORE
  * ranking so both engines rank identical values; ties break on the
  * document id.
  *
  * Scale shape: ONE tokenize pass — `tf` carries the doc length in its
  * grouping key (functionally dependent on the id, so cardinality is
  * unchanged and the doc-length join disappears), and `df` re-uses
  * `tf`'s (id, term) exchange (the q37 ReuseExchange trick). The query
  * set is small by contract and broadcast against `tf` FIRST, so
  * everything after the postings cut is query-term-sized: the corpus
  * shuffles once for tf, once for the (query, doc) score sum, and the
  * top-k is a per-query window over candidate docs only. `N`/`avgdl`
  * attach as a broadcast 1-row aggregate, never a driver collect.
  */
object Retrieval {

  /** BM25 top-`k` documents per query. `queries` is a small
    * `(query_id, term)` frame — one row per query term, terms distinct
    * per query by contract. Returns
    * `(query_id, rn, <idCol>, score)` with `rn` 1-based per query,
    * ordered by `(query_id, rn)`.
    */
  def bm25TopK(docs: DataFrame, idCol: String, textCol: String,
               queries: DataFrame, k: Int,
               k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    require(k >= 1, "k >= 1")
    val id = col(idCol)
    // Round 20 (guide §2.3 "aggregate/filter before you shuffle"): cut
    // the exploded postings to QUERY TERMS with a broadcast semi-join
    // BEFORE the (id, term) tf aggregation. A term's df and tf depend
    // only on that term's own postings, so the cut frame carries the
    // exact df/tf the full pass would have produced for every query
    // term — but the tf exchange now moves query-term postings instead
    // of the whole corpus vocabulary, the df aggregation is query-term-
    // sized instead of vocab-sized, and the idf broadcast below ships
    // |query terms| rows instead of the FULL VOCABULARY (which at
    // 100 TB does not fit in a broadcast at all). `len` rides along
    // from the tokenize projection as before (functionally dependent
    // on the id — no join, no window). The cut postings frame is
    // pinned: it feeds both the df aggregation and the scoring join,
    // and without the pin each consumer would re-run the corpus
    // tokenize pass (measured 2× ~1.3 s single-task at sf0.1).
    val qTerms = queries.select(col("term")).distinct()
    val tf = docs
      .select(id, size(split(col(textCol), " ")).cast("double").as("_len"),
        explode(split(col(textCol), " ")).as("term"))
      .join(broadcast(qTerms), Seq("term"), "left_semi")
      .groupBy(id, col("_len"), col("term"))
      .agg(count(lit(1)).cast("double").as("_tf"))
      .persist()
    val dfreq = tf.groupBy(col("term"))
      .agg(count(lit(1)).cast("double").as("_df"))
    val stats = docs.agg(
      count(lit(1)).cast("double").as("_n"),
      (sum(size(split(col(textCol), " "))).cast("double") /
        count(lit(1))).as("_avgdl"))
    val idf = round(
      log((col("_n") - col("_df") + 0.5) / (col("_df") + 0.5) + 1.0), 9)
    // evaluation ORDER mirrors the oracle SQL exactly (left-to-right
    // +/×/÷) so the doubles agree bit-for-bit before their round(…, 9)
    val norm = lit(1.0 - b) + lit(b) * col("_len") / col("_avgdl")
    val contrib = round(
      col("_idf") * (col("_tf") * lit(k1 + 1.0)) /
        (col("_tf") + lit(k1) * norm), 9)
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("score").desc, id.asc)
    tf.join(broadcast(queries), "term") // postings cut: query terms only
      .join(broadcast(dfreq.crossJoin(stats).select(col("term"), idf.as("_idf"))),
        "term")
      .crossJoin(broadcast(stats.select(col("_avgdl"))))
      .select(col("query_id"), id, contrib.as("_c"))
      .groupBy(col("query_id"), id)
      .agg(round(sum(col("_c").cast("decimal(27,12)")).cast("double"), 6)
        .as("score"))
      .withColumn("rn", row_number().over(w).cast("long"))
      .filter(col("rn") <= k)
      .select(col("query_id"), col("rn"), id, col("score"))
      .orderBy(col("query_id"), col("rn"))
  }

  /** Build-once on-disk BM25 inverted index — the production shape for
    * a corpus that is probed by MANY query batches: [[bm25TopK]] pays
    * the tokenize + tf + df passes on every call, the index pays them
    * ONCE at build time and every probe reads term-keyed parquet. The
    * [[graft.operators.Similarity.writeIvfIndex]] /
    * [[graft.operators.Dedup.writeWinnowIndex]] precedent applied to
    * lexical retrieval.
    *
    * Two catalog tables ([[graft.operators.ScaleJoins.writeBucketed]]):
    * `<prefix>_postings (idCol, len, term, tf)` bucketed by term — the
    * corpus-sized side, laid out so term-keyed maintenance merges read
    * co-partitioned — and `<prefix>_terms (term, idf, avgdl)` — vocab-
    * sized, idf PRE-ROUNDED to 9 exactly as [[bm25TopK]] computes it
    * (the index stores the statistic the scorer consumes, like Lucene
    * stores norms), with the corpus-constant avgdl denormalized onto
    * each row so the probe attaches it without a second artifact.
    * k1/b are NOT baked in: they are probe-time scoring parameters.
    */
  def writeBm25Index(docs: DataFrame, idCol: String, textCol: String,
                     prefix: String, buckets: Int): (String, String) =
    writeBm25IndexFromPostings(tfPostings(docs, idCol, textCol), idCol,
      prefix, buckets)

  /** The one-pass postings projection `(idCol, len, term, tf)` —
    * [[bm25TopK]]'s tf frame as a reusable shape, shared by the batch
    * index build and the streaming per-batch append
    * ([[graft.streaming.StreamingPostingsIndex.writeBatch]]). Every
    * document yields ≥ 1 row (an empty text still splits to one empty
    * token), so the doc count and lengths are recoverable from the
    * postings alone — the property [[writeBm25IndexFromPostings]]
    * leans on. Ids must be unique per document.
    */
  def tfPostings(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val id = col(idCol)
    docs.select(id,
        size(split(col(textCol), " ")).cast("double").as("len"),
        explode(split(col(textCol), " ")).as("term"))
      .groupBy(id, col("len"), col("term"))
      .agg(count(lit(1)).cast("double").as("tf"))
  }

  /** [[writeBm25Index]] over an EXISTING postings frame — the
    * retrain-time rebuild path: corpus stats re-derive exactly from
    * the postings (doc count and lengths from the distinct `(id, len)`
    * pairs; `len` holds integral token counts, so summing it as a long
    * is the same exact-integer arithmetic the from-text build does),
    * which lets [[graft.streaming.StreamingPostingsIndex.rebuildIndex]]
    * fold base + streamed segments into a fresh index WITHOUT
    * re-tokenizing any text — bit-identical to building from the
    * concatenated raw corpus.
    */
  def writeBm25IndexFromPostings(postings: DataFrame, idCol: String,
                                 prefix: String, buckets: Int): (String, String) = {
    require(buckets >= 1, "buckets >= 1")
    // The postings table is written FIRST and the terms statistics
    // derive from reading it back (round 20; guide §1.2 "don't compute
    // things twice"): before, the stats subtree and the df aggregation
    // each re-ran the corpus-scale postings plan (tokenize + explode +
    // (id, len, term) aggregation — measured as two extra single-split
    // ~2 s map stages at sf0.1, and two extra full corpus passes at
    // real scale). The written table holds exactly the postings rows
    // (long/double/string round-trip parquet losslessly), so every
    // derived statistic is bit-identical; the df aggregation even reads
    // the term-bucketed layout co-partitioned (no exchange). The
    // earlier round-12 negative result (persisting the postings frame:
    // noise at sf0.1, slower at 100× — materializing the wide frame
    // costs more than re-running the tokenize) is superseded by this
    // shape: the write is already the materialization the build must
    // pay; this just points the stats at it.
    val id = col(idCol)
    val postingsTable = ScaleJoins.writeBucketed(
      postings.select(id, col("len"), col("term"), col("tf")),
      s"${prefix}_postings", "term", buckets)
    val stored = postings.sparkSession.table(postingsTable)
    val stats = stored.select(id, col("len")).distinct().agg(
      count(lit(1)).cast("double").as("_n"),
      (sum(col("len").cast("long")).cast("double") /
        count(lit(1))).as("_avgdl"))
    val terms = stored.groupBy(col("term"))
      .agg(count(lit(1)).cast("double").as("_df"))
      .crossJoin(broadcast(stats))
      .select(col("term"),
        round(log((col("_n") - col("_df") + 0.5) / (col("_df") + 0.5)
          + 1.0), 9).as("idf"),
        col("_avgdl").as("avgdl"))
    (postingsTable,
      ScaleJoins.writeBucketed(terms, s"${prefix}_terms", "term",
        math.max(1, buckets / 4)))
  }

  /** BM25 top-`k` against a PERSISTED index ([[writeBm25Index]]):
    * value-identical to [[bm25TopK]] over the same corpus — stored idf
    * is the same pre-rounded double, stored len/avgdl are the same
    * unrounded doubles, and the contribution evaluates in the same
    * left-to-right order — but the corpus work is one bucketed scan:
    * query terms and their idf rows broadcast into the postings cut,
    * and the only exchange is the (query, doc) score sum over
    * candidate rows.
    */
  def probeBm25Index(spark: org.apache.spark.sql.SparkSession,
                     prefix: String, idCol: String, queries: DataFrame,
                     k: Int, k1: Double = 1.2, b: Double = 0.75): DataFrame =
    // deletes ([[Tombstones]]) filter the postings by broadcast
    // anti-join (bucketed partitioning survives); the terms stats stay
    // as built — the same frozen-stats contract streaming maintenance
    // probes under — until [[compactBm25Index]] re-derives them exactly
    probePostings(
      Tombstones.filter(spark, prefix,
        spark.table(s"${prefix}_postings"), idCol),
      spark.table(s"${prefix}_terms"), idCol, queries, k, k1, b)

  /** Physically remove tombstoned documents from a [[writeBm25Index]]
    * artifact: rebuild both tables from the tombstone-filtered
    * postings — [[writeBm25IndexFromPostings]] re-derives doc count,
    * avgdl and every idf exactly from what remains, so the compacted
    * index is bit-identical to one built fresh from the surviving
    * corpus — then drop the tombstone table.
    */
  def compactBm25Index(spark: org.apache.spark.sql.SparkSession,
                       prefix: String, idCol: String, buckets: Int): Unit = {
    // snapshot + retire, not clear: a delete arriving during the
    // rewrite must survive the epilogue (Dedup.compactBandIndex note)
    val snap = Tombstones.snapshot(spark, prefix)
    val kept = Tombstones.filterWith(
        spark.table(s"${prefix}_postings"), snap, idCol)
      .pipe(Checkpoints.pin) // staged: the rewrite reads the table it replaces
    writeBm25IndexFromPostings(kept, idCol, prefix, buckets)
    Tombstones.retire(spark, prefix, snap)
    snap.foreach(Checkpoints.release)
  }

  /** [[probeBm25Index]] against explicit postings/terms frames — the
    * core the catalog probe and the streaming live view
    * ([[graft.streaming.StreamingPostingsIndex.probeLive]]) both call.
    * `terms` supplies the idf/avgdl statistics; handing the probe a
    * STALE terms frame alongside fresh postings is exactly the
    * frozen-stats contract streaming maintenance runs under.
    */
  def probePostings(postings: DataFrame, terms: DataFrame, idCol: String,
                    queries: DataFrame, k: Int, k1: Double = 1.2,
                    b: Double = 0.75): DataFrame = {
    require(k >= 1, "k >= 1")
    val id = col(idCol)
    val q = broadcast(queries).join(broadcast(terms), "term")
    val norm = lit(1.0 - b) + lit(b) * col("len") / col("avgdl")
    val contrib = round(
      col("idf") * (col("tf") * lit(k1 + 1.0)) /
        (col("tf") + lit(k1) * norm), 9)
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("score").desc, id.asc)
    postings.join(broadcast(q), "term")
      .select(col("query_id"), id, contrib.as("_c"))
      .groupBy(col("query_id"), id)
      .agg(round(sum(col("_c").cast("decimal(27,12)")).cast("double"), 6)
        .as("score"))
      .withColumn("rn", row_number().over(w).cast("long"))
      .filter(col("rn") <= k)
      .select(col("query_id"), col("rn"), id, col("score"))
      .orderBy(col("query_id"), col("rn"))
  }

  /** Reciprocal-rank fusion of per-query rankings (Cormack et al.
    * 2009) — the standard way hybrid search merges a lexical and a
    * dense candidate list without comparable scores:
    * `rrf(d) = Σ_lists 1/(c + rank_list(d))`. Each input frame carries
    * `(query_id, doc_id, rn)` with `rn` 1-based per query; a document
    * absent from a list simply contributes nothing for it. Returns
    * `(query_id, rn, doc_id, rrf)` — the fused top-`k` per query.
    *
    * Determinism contract: each reciprocal rounds to 9 (pure IEEE
    * division of exact integers, identical cross-engine — the round is
    * belt-and-braces for the decimal sum), contributions sum as exact
    * decimals (order-free), the fused score rounds to 6 BEFORE
    * ranking, ties break on the document id.
    *
    * Scale shape: inputs are top-k lists, so everything here is
    * (queries × k × lists)-sized — the union and the sum shuffle touch
    * candidate rows only, never the corpus. The per-query rank window
    * partitions on query_id over ≤ k·lists rows.
    */
  def rrfFuse(rankings: Seq[DataFrame], c: Int = 60, k: Int = 10): DataFrame = {
    require(rankings.nonEmpty, "at least one ranking")
    require(c >= 0 && k >= 1, "c >= 0 and k >= 1")
    val contribs = rankings.map(_.select(col("query_id"), col("doc_id"),
      round(lit(1.0) / (lit(c.toDouble) + col("rn")), 9).as("_c")))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("rrf").desc, col("doc_id"))
    contribs.reduce(_ unionByName _)
      .groupBy(col("query_id"), col("doc_id"))
      .agg(round(sum(col("_c").cast("decimal(27,12)")).cast("double"), 6)
        .as("rrf"))
      .withColumn("rn", row_number().over(w).cast("long"))
      .filter(col("rn") <= k)
      .select(col("query_id"), col("rn"), col("doc_id"), col("rrf"))
      .orderBy(col("query_id"), col("rn"))
  }

  /** Maximal Marginal Relevance rerank (Carbonell & Goldstein 1998):
    * greedily pick `k` items from a BOUNDED candidate pool, each step
    * taking the item maximizing
    * `λ·rel − (1−λ)·max_{s∈picked} cos(item, s)` — the diversity-aware
    * head of a retrieval stack (relevance alone returns k near-copies;
    * MMR spends the budget on coverage). Returns
    * `(pick_rank, <idCol>, rel, max_sim, score)` ordered by pick rank.
    *
    * Scale shape: MMR is inherently sequential in `k` and quadratic in
    * the pool, so the contract is the one every production reranker
    * uses — candidate generation is the distributed stage (exact/IVF/PQ
    * top-N, q14/q61/q71), and this operator reranks the RESULT, a pool
    * of O(10–1000) rows. The collect here is O(pool) by that contract
    * (the codebook-collect precedent, [[Similarity]]), not a corpus
    * collect; pairwise work is pool², never corpus².
    *
    * Determinism contract: pairwise cosines fold in index order
    * (mirroring [[graft.functions.GraftFunctions.dot]]) and round to 6;
    * `rel` arrives round-6 from the caller; the step score is pure IEEE
    * `λ·rel − (1−λ)·max_sim` of round-6 doubles, rounded to 6 with
    * HALF_UP (matching both engines' `round`); ties break on the id.
    */
  def mmrRerank(pool: DataFrame, idCol: String, vecCol: String,
                relCol: String, k: Int, lambda: Double): DataFrame = {
    require(k >= 1, "k >= 1")
    require(lambda >= 0.0 && lambda <= 1.0, "lambda in [0, 1]")
    val spark = pool.sparkSession
    def r6(x: Double): Double =
      java.math.BigDecimal.valueOf(x)
        .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()
    // O(pool) collect by contract (bounded rerank head, see scaladoc)
    val rows = pool.select(col(idCol).cast("long"), col(vecCol),
      col(relCol).cast("double")).collect()
    val ids = rows.map(_.getLong(0))
    val vecs = rows.map(_.getSeq[Any](1).map {
      case f: Float => f.toDouble
      case d: Double => d
      case x => throw new IllegalArgumentException(s"non-numeric element $x")
    }.toArray)
    val rels = rows.map(_.getDouble(2))
    def dotv(a: Array[Double], b: Array[Double]): Double = {
      var acc = 0.0; var i = 0
      while (i < a.length) { acc += a(i) * b(i); i += 1 }
      acc
    }
    val norms = vecs.map(v => math.sqrt(dotv(v, v)))
    // a zero-norm vector yields 0/0 = NaN; clamp to 0 so maxSim never
    // stays -Infinity past the first pick (which would overflow the
    // step score to +Infinity and crash BigDecimal.valueOf)
    def sim(i: Int, j: Int): Double = {
      val c = dotv(vecs(i), vecs(j)) / (norms(i) * norms(j))
      if (c.isNaN) 0.0 else r6(c)
    }
    val n = rows.length
    // the diversity weight is computed as the IEEE difference 1.0 − λ
    // (NOT a shortened decimal literal like 0.3, which is a DIFFERENT
    // double) — oracles must spell the same subtraction
    val mu = 1.0 - lambda
    // incremental max-sim: each candidate's similarity to the picked
    // set updates once per pick — O(pool·k) dot products, not the
    // recompute-per-step O(pool·k²)
    val isPicked = new Array[Boolean](n)
    // -inf, NOT 0: the max similarity to the picked set can be negative
    val maxSim = Array.fill(n)(Double.NegativeInfinity)
    var nPicked = 0
    val out = scala.collection.mutable.ArrayBuffer
      .empty[(Long, Long, Double, Double, Double)]
    while (nPicked < math.min(k, n)) {
      var bestIdx = -1; var bestScore = 0.0; var bestMs = 0.0
      var i = 0
      while (i < n) {
        if (!isPicked(i)) {
          val ms = if (nPicked == 0) 0.0 else maxSim(i)
          val sc = r6(lambda * rels(i) - mu * ms)
          if (bestIdx < 0 || sc > bestScore ||
            (sc == bestScore && ids(i) < ids(bestIdx))) {
            bestIdx = i; bestScore = sc; bestMs = ms
          }
        }
        i += 1
      }
      isPicked(bestIdx) = true
      nPicked += 1
      var j = 0
      while (j < n) {
        if (!isPicked(j)) {
          val s = sim(j, bestIdx)
          if (s > maxSim(j)) maxSim(j) = s
        }
        j += 1
      }
      out += ((nPicked.toLong, ids(bestIdx), rels(bestIdx), bestMs,
        bestScore))
    }
    import spark.implicits._
    out.toSeq.toDF("pick_rank", idCol, "rel", "max_sim", "score")
  }
}
