package graft.operators

import scala.util.chaining._

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.GraftFunctions._

/** Deduplication operators for large-scale text corpora (SURVEY.md §0 north
  * star; the reference's only dedup is the URL anti-join, main.py:49-58 —
  * these generalize it to content dedup for training-data pipelines).
  *
  * Scale design: every operator here is either a hash-groupBy (one shuffle
  * on the dedup key) or a banded-LSH bucket join (shuffle on band key).
  * Nothing is ever all-pairs: candidate generation is O(docs × bands) and
  * the verify step runs only on within-bucket candidates.
  */
object Dedup {

  /** Exact dedup: one row per distinct `key(text)`, keeping the smallest id.
    * One shuffle, map-side partial agg. At 100 TB: the groupBy key is a
    * 128-bit content hash, so the shuffle carries (hash, id) pairs only,
    * never the document bodies.
    */
  def exact(df: DataFrame, id: Column, key: Column): DataFrame =
    df.groupBy(key.as("content_key"))
      .agg(min(id).as("keep_id"), count(lit(1)).as("n_copies"))

  /** One md5-based hash per WORD — the only expensive hashing pass in
    * the near-dup path, done by the native [[graft.functions.Hash64Array]]
    * expression (hashing inside a transform lambda runs the interpreted
    * md5→substr→conv chain per element — ~30× slower). Shingle hashes
    * derive from these arithmetically ([[shingleHashes3]]).
    */
  def wordHashes(tokens: Column): Column = hash64_array(tokens, 0)

  /** Rolling 3-gram shingle hashes over the word-hash array:
    * `((u₁·37 + u₂) mod p · 41 + u₃) mod p` with `uₖ = wh[k] mod 2³⁰` —
    * overflow-exact in BIGINT on both engines, order-sensitive (a
    * permuted shingle hashes differently), and empty for <3 tokens.
    * One native codegen'd pass ([[graft.functions.ShingleHash3]]); the
    * equivalent slice/zip_with composition allocates three array
    * copies and interprets two lambdas per row.
    */
  def shingleHashes3(wh: Column): Column = shingle_hash3(wh)

  /** Minhash modulus constants (shared with the native
    * [[graft.functions.MinHashSig]] expression): the affine mix
    * `(a · (h mod 2³⁰) + 7a+3) mod p` stays below 2⁴⁰, so it is exact
    * in BIGINT on both engines (DuckDB errors on 64-bit overflow; Java
    * wraps — neither is hit).
    */
  val MinhashM = graft.functions.MinHashSig.M // 2^30
  val MinhashP = graft.functions.MinHashSig.P // largest prime < 2^30

  /** MinHash signature: per-seed minima of affine mixes of the pre-
    * computed shingle hashes, in ONE native codegen'd pass over the
    * shingle array ([[graft.functions.MinHashSig]]) — the composed
    * per-seed `array_min(transform(...))` form walks the array once
    * per seed with an interpreted lambda (measured 34 s vs ~1.5 s for
    * the 8-seed signature at the 10× soak).
    */
  def minhashSig(hashes: Column, seeds: Int): Column = minhash_sig(hashes, seeds)

  /** Banded LSH: one row per (doc, band) with the band's bucket key.
    * `rowsPerBand` consecutive signature entries hash into one key; docs
    * agreeing on any band become candidates. Shuffle key = band_key.
    *
    * Implemented as ONE posexplode over the per-band key array — a
    * union of per-band selects would re-evaluate the whole signature
    * subtree (shingling + hashing) once per band.
    *
    * NULL signature entries (empty/short docs: array_min of an empty
    * shingle array) propagate to a NULL band_key via `concat` (NOT
    * concat_ws, which silently skips nulls and would collide every empty
    * doc into one giant bucket). NULL keys then fall out of the
    * equi-join in [[lshCandidatePairs]] — same as the SQL oracle's `||`.
    */
  def lshBands(sig: DataFrame, idCol: String, sigCol: String,
               bands: Int, rowsPerBand: Int): DataFrame = {
    val bandKey = (b: Int) => {
      val entries = (0 until rowsPerBand).flatMap { r =>
        val e = col(sigCol).getItem(b * rowsPerBand + r).cast("string")
        if (r == 0) Seq(e) else Seq(lit(","), e)
      }
      md5(concat(lit(s"$b:") +: entries: _*))
    }
    sig.select(col(idCol),
      posexplode(array((0 until bands).map(bandKey): _*)).as(Seq("band", "band_key")))
  }

  /** Candidate pairs from banded LSH: a self-join on `band_key` — the
    * band index is hashed into the key (see [[lshBands]]), so the key
    * alone determines the band and carries the whole join; the shuffle
    * co-locates each bucket, so pair generation is local to a bucket
    * and never quadratic in the corpus.
    */
  def lshCandidatePairs(bands: DataFrame, idCol: String): DataFrame = {
    val a = bands.select(col("band_key"), col(idCol).as("id_a"))
    val b = bands.select(col("band_key"), col(idCol).as("id_b"))
    a.join(b, Seq("band_key"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b")
      .distinct()
  }

  /** Candidate pairs ACROSS two corpora (incremental dedup: a new batch
    * probed against the existing corpus). Same banded-LSH shape as
    * [[lshCandidatePairs]], but the join is batch-bands × corpus-bands —
    * cost scales with the BATCH (small) times bucket hit rate, never
    * with corpus × corpus. The equi-join key is `band_key` ALONE: the
    * band index is hashed into the key (`md5("$b:" + entries)` in
    * [[lshBands]]), so band_key determines the band and a composite
    * (band, band_key) key would only obstruct the bucketed-scan
    * partitioning that [[writeBandIndex]] provides. With the corpus
    * side read from that index, the probe is shuffle-free on the
    * corpus side (see the DedupSpec plan assertion).
    */
  def lshCrossPairs(batchBands: DataFrame, corpusBands: DataFrame,
                    idCol: String): DataFrame = {
    val a = batchBands.select(col("band_key"), col(idCol).as("id_new"))
    val b = corpusBands.select(col("band_key"), col(idCol).as("id_old"))
    a.join(b, Seq("band_key"))
      .select("id_new", "id_old")
      .distinct()
  }

  /** Write the corpus half of the incremental-dedup index ONCE, as two
    * bucketed catalog tables: the band table bucketed+sorted by
    * `band_key` (the [[lshCrossPairs]] probe key) and the shingle table
    * bucketed+sorted by the id column (the Jaccard-verify key). This is
    * the production shape for daily ingest at 100 TB: the corpus is
    * shingled, signed, and banded exactly once at index-build time;
    * every subsequent batch probe equi-joins INTO the bucketed tables,
    * so the corpus side is never re-shuffled — only the (small) batch
    * side hashes into the buckets — and never recomputed. Returns the
    * two table names ([[readBandIndex]] reopens them).
    */
  def writeBandIndex(corpusBands: DataFrame, corpusShingles: DataFrame,
                     idCol: String, prefix: String, buckets: Int): (String, String) = {
    (ScaleJoins.writeBucketed(corpusBands, s"${prefix}_bands", "band_key", buckets),
      ScaleJoins.writeBucketed(corpusShingles, s"${prefix}_shingles", idCol, buckets))
  }

  /** Reopen the two tables [[writeBandIndex]] wrote, with any recorded
    * deletes ([[Tombstones.write]] against the same prefix) filtered
    * out by a broadcast anti-join — a deleted document stops matching
    * probes immediately, without an index rebuild. The scans carry the
    * bucket spec and the tombstone side broadcasts, so joins keyed on
    * `band_key` / the id column still read the corpus co-partitioned
    * from disk (no corpus-side Exchange).
    */
  def readBandIndex(spark: org.apache.spark.sql.SparkSession,
                    prefix: String,
                    idCol: String = "doc_id"): (DataFrame, DataFrame) =
    (Tombstones.filter(spark, prefix, spark.table(s"${prefix}_bands"), idCol),
      Tombstones.filter(spark, prefix,
        spark.table(s"${prefix}_shingles"), idCol))

  /** Rewrite the band index dropping duplicate rows AND tombstoned
    * documents — the periodic maintenance pass for at-least-once
    * streaming appends ([[graft.streaming.StreamingContentDedup]]) and
    * for deletes: a replayed batch re-appends its bands/shingles
    * (storage + duplicate candidates, not correctness — pairs are
    * DISTINCT), and [[Tombstones]] marks deletes that until now were
    * filtered at probe time. One distinct per table over the
    * tombstone-filtered read, then the normal bucketed rewrite, then
    * the tombstone table drops (its rows are now physically gone);
    * probes running DURING the rewrite see the old tables until the
    * catalog swap (saveAsTable overwrite).
    */
  def compactBandIndex(spark: org.apache.spark.sql.SparkSession,
                       prefix: String, buckets: Int): Unit = {
    // tombstone SNAPSHOT, not the live filter: a delete arriving during
    // the rewrite must survive the epilogue (Tombstones.retire removes
    // only the ids this rewrite actually applied)
    val snap = Tombstones.snapshot(spark, prefix)
    compactBandIndexWith(spark, prefix, buckets, snap)
    Tombstones.retire(spark, prefix, snap)
    snap.foreach(Checkpoints.release)
  }

  /** The rewrite half of [[compactBandIndex]] against an EXTERNAL
    * tombstone snapshot, with NO retire — the deferred-retire seam for
    * the streaming chain's stage-5 maintenance
    * ([[graft.streaming.StreamingCurationChain.maintain]]): the caller
    * purges every artifact under ONE snapshot, stages it
    * ([[Tombstones.stageRetire]]) and retires only from a strictly
    * later batch, so a replayed batch still sees the markers. Callers
    * owning `snap`'s pin release it themselves.
    */
  def compactBandIndexWith(spark: org.apache.spark.sql.SparkSession,
                           prefix: String, buckets: Int,
                           snap: Option[org.apache.spark.sql.DataFrame]): Unit = {
    val bands = Tombstones.filterWith(
      spark.table(s"${prefix}_bands"), snap, "doc_id")
    val sh = Tombstones.filterWith(
      spark.table(s"${prefix}_shingles"), snap, "doc_id")
    // materialize BEFORE the overwrite: the rewrite plan reads the very
    // tables it replaces, so stage the distinct rows first
    val bandsD = Checkpoints.pin(bands.distinct())
    val shD = Checkpoints.pin(sh.distinct())
    writeBandIndex(bandsD, shD, "doc_id", prefix, buckets)
  }

  /** Substring-level exact dedup: find spans of `n` consecutive tokens
    * repeated ACROSS documents (boilerplate headers, licence blocks,
    * syndicated paragraphs — duplication the doc-level operators can't
    * see because the containing documents differ). Returns one row per
    * document that shares at least one n-token span with another
    * document: `(id, n_rep_windows, n_spans, covered_tokens)` — the raw
    * repeated-window count, the count of MAXIMAL repeated spans after
    * merging overlapping windows, and the number of tokens those spans
    * cover (the "cut this many tokens" number a curation pipeline acts
    * on).
    *
    * Scale shape (hashed n-gram offsets — never all-pairs): one narrow
    * codegen'd pass emits `(ngram_hash, id, offset)` per window
    * ([[graft.functions.NgramHashes]]); a hash-groupBy keeps hashes
    * seen in ≥2 DISTINCT documents (shuffle carries (hash, id) pairs,
    * map-side-combined, never text); window offsets attach back by an
    * equi-join on the hash; overlapping windows merge per document with
    * one bounded window pass (partition = one document's hits, ordered
    * by offset — gap > n starts a new span, and covered tokens add
    * `min(gap, n)` per hit). Internal-only repetition (same n-gram
    * twice in ONE doc) does not qualify a hash — that is q46's
    * repetition scorer, not cross-doc dedup.
    */
  def repeatedSpans(df: DataFrame, idCol: String, textCol: String,
                    n: Int): DataFrame = {
    val spans = df
      .select(col(idCol),
        posexplode(ngram_hashes(wordHashes(words(col(textCol))), n))
          .as(Seq("off", "gh")))
      .filter(col("gh").isNotNull)
    val rep = spans.groupBy(col("gh"))
      .agg(count_distinct(col(idCol)).as("_nd"))
      .filter(col("_nd") >= 2)
      .select(col("gh"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(idCol)).orderBy(col("off"))
    // (id, off) is unique by construction (one posexplode entry per
    // offset, one hash per window) — no distinct needed, so the only
    // post-join exchange is the per-document window partitioning
    spans.join(rep, Seq("gh"))
      .select(col(idCol), col("off"))
      .withColumn("_prev", lag(col("off"), 1).over(w))
      .groupBy(col(idCol))
      .agg(
        count(lit(1)).as("n_rep_windows"),
        sum(when(col("_prev").isNull || col("off") - col("_prev") > n, 1L)
          .otherwise(0L)).as("n_spans"),
        sum(when(col("_prev").isNull, n.toLong)
          .otherwise(least(col("off") - col("_prev"), lit(n.toLong))))
          .as("covered_tokens"))
  }

  /** The removal half of [[repeatedSpans]]: rewrite the corpus with
    * cross-document repeated n-token spans CUT, keeping one canonical
    * copy corpus-wide — the document with the smallest id containing
    * the span keeps every one of its occurrences; all other documents
    * drop the covered tokens. Returns the full corpus as
    * `(id, n_tokens_before, n_tokens_after, text_clean)`; unaffected
    * documents pass through with `text_clean` = the original text.
    *
    * Scale shape: the repeated-hash aggregation is [[repeatedSpans]]'s
    * ((hash, id) pairs, map-side-combined, never text) plus a `min(id)`
    * to elect the canonical owner; per-doc cut offsets collect into ONE
    * small array row per AFFECTED doc; the rebuild is a join on the id
    * followed by a narrow per-row array pass (expand offsets → covered
    * position set → filter tokens by position). The join is unhinted:
    * when boilerplate is rare the cut-offsets side broadcasts (AQE);
    * when it is pervasive, store the corpus bucketed by id (the
    * [[ScaleJoins]] layout) so the join is bucket-local and the text
    * column still never crosses the wire.
    */
  def cutRepeatedSpans(df: DataFrame, idCol: String, textCol: String,
                       n: Int): DataFrame = {
    val id = col(idCol)
    val spans = df
      .select(id,
        posexplode(ngram_hashes(wordHashes(words(col(textCol))), n))
          .as(Seq("off", "gh")))
      .filter(col("gh").isNotNull)
    val rep = spans.groupBy(col("gh"))
      .agg(count_distinct(id).as("_nd"), min(id).as("_canon"))
      .filter(col("_nd") >= 2)
      .select(col("gh"), col("_canon"))
    val cutOffsets = spans.join(rep, Seq("gh"))
      .filter(id =!= col("_canon"))
      .groupBy(id)
      .agg(collect_set(col("off")).as("_cutoffs"))
    val toks = words(col(textCol))
    val covered = when(col("_cutoffs").isNull, array().cast("array<int>"))
      .otherwise(array_distinct(flatten(
        transform(col("_cutoffs"), o => sequence(o, o + n - 1)))))
    val kept = filter(col("_toks"), (t, i) => !array_contains(col("_cov"), i))
    df.join(cutOffsets, Seq(idCol), "left")
      .withColumn("_toks", toks)
      .withColumn("_cov", covered)
      .select(id,
        size(col("_toks")).cast("long").as("n_tokens_before"),
        (size(col("_toks")) - size(col("_cov"))).cast("long")
          .as("n_tokens_after"),
        concat_ws(" ", kept).as("text_clean"))
  }

  /** Jaccard similarity of two shingle-set columns (distinct semantics). */
  def jaccard(a: Column, b: Column): Column = {
    val inter = size(array_intersect(a, b)).cast("double")
    val union = size(array_union(a, b)).cast("double")
    when(union === 0, 0.0).otherwise(inter / union)
  }

  /** SimHash fingerprint over a token array: for each of `bits` bit
    * positions, sum +1/-1 votes from each token's hash; set the bit iff
    * the vote is positive. Tokens keep multiplicity (standard SimHash).
    * ONE native md5 pass over the tokens ([[graft.functions.Hash64Array]])
    * and ONE native vote pass ([[graft.functions.SimHashBits]] —
    * value-identical to the aggregate/zip_with composition it replaced,
    * whose interpreted `bits`-wide accumulator fold dominated the
    * 48-bit q59 fingerprint stage).
    */
  def simhash(tokens: Column, bits: Int, seed: Int): Column =
    simhash_bits(hash64_array(tokens, seed), bits)

  /** SimHash Hamming-distance near-dup retrieval — the pigeonhole
    * companion to [[simhash]]: MinHash-LSH ([[lshCandidatePairs]])
    * buckets by Jaccard similarity of shingle SETS; this buckets by
    * Hamming distance of simhash fingerprints, which weights tokens by
    * multiplicity and is the standard web-scale near-dup retrieval
    * shape for "almost identical except a few tokens" documents.
    *
    * Pigeonhole guarantee: the `bits`-wide fingerprint splits into
    * `maxHamming + 1` equal chunks, so any pair within `maxHamming`
    * differing bits agrees EXACTLY on at least one chunk — candidate
    * generation by chunk-equality equi-join has recall 1.0 (not
    * probabilistic, unlike minhash banding). Verification is one
    * codegen'd `bit_count(a XOR b)` per candidate.
    *
    * Scale shape: one narrow chunk-explode pass (rows × chunks), a
    * bucket equi-join on (band, chunk) — shuffle co-locates buckets,
    * never all-pairs — and the popcount filter BEFORE the pair
    * distinct. Returns `(id_a, id_b, hamming)` with `id_a < id_b`.
    * `bits` must be ≤ 63 (sign-safe in both engines' BIGINT) and
    * divisible by `maxHamming + 1`.
    */
  def simhashNearDup(df: DataFrame, idCol: String, simhashCol: String,
                     maxHamming: Int, bits: Int = 48): DataFrame = {
    val nBands = maxHamming + 1
    require(bits > 0 && bits < 64 && bits % nBands == 0,
      s"bits ($bits) must be in (0, 64) and divisible by maxHamming+1 ($nBands)")
    val w = bits / nBands
    val mask = (1L << w) - 1
    val chunks = df.select(col(idCol), col(simhashCol),
      posexplode(array((0 until nBands).map(b =>
        shiftright(col(simhashCol), b * w).bitwiseAND(lit(mask))): _*))
        .as(Seq("band", "chunk")))
    val a = chunks.select(col("band"), col("chunk"),
      col(idCol).as("id_a"), col(simhashCol).as("_sha"))
    val b = chunks.select(col("band"), col("chunk"),
      col(idCol).as("id_b"), col(simhashCol).as("_shb"))
    a.join(b, Seq("band", "chunk"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        bit_count(col("_sha").bitwiseXOR(col("_shb"))).cast("long").as("hamming"))
      .filter(col("hamming") <= maxHamming)
      .distinct()
  }

  /** Prefix fingerprint: hash of the first `n` tokens — a cheap rolling-
    * hash-style document fingerprint for clustering boilerplate openings.
    */
  def prefixFingerprint(tokens: Column, n: Int, seed: Int): Column =
    hash64(concat_ws(" ", slice(tokens, 1, n)), seed)

  /** Winnowing fingerprint set (Schleimer, Wilkerson & Aiken,
    * "Winnowing: Local Algorithms for Document Fingerprinting",
    * SIGMOD'03 — the MOSS algorithm): hash every `k`-token shingle,
    * slide a window of `w` consecutive shingle hashes, record each
    * window's MINIMUM hash, and keep the distinct recorded values.
    * The guarantee that makes it the standard plagiarism/overlap
    * detector: any run of `w + k − 1` tokens shared verbatim by two
    * documents contributes at least one shared fingerprint (the shared
    * region contains a full window, whose minimum is position-free),
    * while storage is ~2/(w+1) of the shingle count — position-robust
    * where [[prefixFingerprint]] only sees openings.
    *
    * Pure column expression over a token array: narrow, scan-fused, no
    * shuffle. Documents with fewer than `w + k − 1` tokens (no complete
    * window) yield the empty set.
    */
  def winnowFingerprints(tokens: Column, k: Int, w: Int, seed: Int): Column = {
    require(k >= 1, "shingle size k must be >= 1")
    require(w >= 1, "window size w must be >= 1")
    // The shingle-hash array is BOUND ONCE as a lambda variable. Inlining
    // it would paste the whole md5 pass into every reference — including
    // the slice inside the per-window lambda, where it re-evaluates per
    // window (no CSE runs across higher-order lambdas): measured 31× on
    // 500 docs and quadratic in document length.
    element_at(
      transform(
        array(transform(shingles(tokens, k), s => hash64(s, seed))),
        gh => when(size(gh) >= w,
          array_distinct(transform(
            sequence(lit(0), size(gh) - w),
            i => array_min(slice(gh, i + 1, lit(w))))))
          .otherwise(array().cast("array<bigint>"))),
      1)
  }

  /** Cross-document matches over [[winnowFingerprints]]: pairs of
    * documents sharing at least `minShared` fingerprints — i.e. at
    * least `minShared` (approximately) distinct runs of `w + k − 1`
    * common tokens. Fingerprints held by more than `maxDf` documents
    * are dropped first: they are corpus boilerplate (q63's territory),
    * and the cap is what bounds the bucket join — candidates come from
    * equi-joining per-fingerprint postings of ≤ `maxDf` docs, so the
    * pair fan-out is ≤ df² per fingerprint, never corpus all-pairs.
    */
  def winnowPairs(df: DataFrame, idCol: String, textCol: String,
                  k: Int, w: Int, seed: Int,
                  minShared: Long, maxDf: Long): DataFrame = {
    require(minShared >= 1, "minShared must be >= 1")
    require(maxDf >= 2, "maxDf must be >= 2 (a shared fingerprint has df 2)")
    // The postings feed three consumers (the df histogram + both join
    // sides); pinned so the winnow pass runs once — the q36 shingle
    // convention. Postings are ~2/(w+1) of the shingle mass; at index
    // scale they are what you write ONCE as a bucketed table (the q54
    // band-index pattern) rather than cache.
    // Cache lifetime: the RETURNED plan consumes this pin lazily, so it
    // cannot be released here (unlike nearDupComponents, which
    // materializes its edges eagerly). The pin is unreferenced once the
    // caller's action completes; a long-lived session running many
    // queries should clearCache() between them (graft.Bench does) or
    // let the ContextCleaner collect it — the prod shape writes the
    // postings to disk once instead of caching at all.
    val fps = df.select(col(idCol),
        explode(winnowFingerprints(words(col(textCol)), k, w, seed)).as("fp"))
      .persist()
    val kept = fps.join(
      fps.groupBy(col("fp")).agg(count(lit(1)).as("_df"))
        .filter(col("_df") <= maxDf)
        .select(col("fp")),
      Seq("fp"))
    kept.select(col("fp"), col(idCol).as("id_a"))
      .join(kept.select(col("fp"), col(idCol).as("id_b")), Seq("fp"))
      .filter(col("id_a") < col("id_b"))
      .groupBy(col("id_a"), col("id_b"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
  }

  /** Write the winnow fingerprint postings as a bucketed on-disk index —
    * the production shape [[winnowPairs]]' scaladoc promises: at index
    * scale the df-capped postings are written ONCE, bucketed by the
    * probe key, instead of being re-fingerprinted and cached per run.
    * The df cap is applied at BUILD time (a fingerprint held by more
    * than `maxDf` corpus documents is boilerplate — q63's territory —
    * and indexing it would un-bound every future probe), so the stored
    * table is exactly the postings a probe may match. Same catalog
    * contract as [[writeBandIndex]]: returns the table name,
    * [[probeWinnowIndex]] reopens it, and probes equi-join INTO the
    * bucketed scan — the corpus side is never re-shuffled and never
    * recomputed.
    */
  def writeWinnowIndex(df: DataFrame, idCol: String, textCol: String,
                       k: Int, w: Int, seed: Int, maxDf: Long,
                       prefix: String, buckets: Int): String = {
    require(maxDf >= 1, "maxDf must be >= 1")
    // ONE corpus fingerprint pass and ONE exchange (round 20; guide
    // §2.4): the df cap is a count-over-window on the SAME
    // bucket-keyed exchange the write needs anyway — repartition to
    // the bucket layout first (pmod(murmur3) — writeBucketed's
    // arithmetic), then every row learns its fingerprint's corpus df
    // from a whole-partition window and boilerplate rows drop in
    // place. The previous shape persisted the exploded fingerprints
    // and fed a histogram aggregation + semi-join — TWO concurrent
    // map stages raced to materialize the unpinned cache (the
    // fingerprint pass ran twice) and the join paid a second
    // exchange. Kept rows are identical: fp kept ⇔ count over all
    // corpus rows of that fp ≤ maxDf.
    val wholeFp = org.apache.spark.sql.expressions.Window
      .partitionBy(col("fp")).rowsBetween(Long.MinValue, Long.MaxValue)
    val kept = df.select(col(idCol),
        explode(winnowFingerprints(words(col(textCol)), k, w, seed)).as("fp"))
      .repartition(buckets, col("fp"))
      .withColumn("_df", count(lit(1)).over(wholeFp))
      .filter(col("_df") <= maxDf)
    ScaleJoins.writeBucketed(
      kept.select(col("fp"), col(idCol)), s"${prefix}_winnow", "fp", buckets,
      preClustered = true)
  }

  /** Probe a batch's exploded fingerprints `(idCol, fp)` against a
    * [[writeWinnowIndex]] table: corpus documents sharing at least
    * `minShared` fingerprints with a batch document, as
    * `(id_new, id_old, n_shared)`. Cost scales with the BATCH times the
    * per-fingerprint df (≤ the build-time cap) — the corpus side reads
    * co-partitioned from the bucketed scan, only the small batch side
    * hashes into the buckets. Both sides are fingerprint SETS
    * ([[winnowFingerprints]] dedups), so `n_shared` counts distinct
    * shared fingerprints.
    */
  def probeWinnowIndex(spark: org.apache.spark.sql.SparkSession,
                       prefix: String, batchFps: DataFrame, idCol: String,
                       minShared: Long): DataFrame = {
    require(minShared >= 1, "minShared must be >= 1")
    // deletes ([[Tombstones]]) filter by broadcast anti-join — the
    // bucketed postings partitioning survives, so the probe stays
    // corpus-exchange-free
    val postings = Tombstones.filter(spark, prefix,
        spark.table(s"${prefix}_winnow"), idCol)
      .select(col("fp"), col(idCol).as("id_old"))
    batchFps.select(col("fp"), col(idCol).as("id_new"))
      .join(postings, Seq("fp"))
      .groupBy(col("id_new"), col("id_old"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
  }

  /** Physically remove tombstoned documents from a [[writeWinnowIndex]]
    * table (the [[compactBandIndex]] pattern): rewrite the bucketed
    * postings from the tombstone-filtered read, then drop the tombstone
    * table. Probes between a delete and this compaction already exclude
    * the documents via [[probeWinnowIndex]]'s anti-join.
    */
  def compactWinnowIndex(spark: org.apache.spark.sql.SparkSession,
                         prefix: String, idCol: String, buckets: Int): Unit = {
    val snap = Tombstones.snapshot(spark, prefix) // see compactBandIndex
    val kept = Tombstones.filterWith(
        spark.table(s"${prefix}_winnow"), snap, idCol)
      .pipe(Checkpoints.pin) // staged: the rewrite reads the table it replaces
    ScaleJoins.writeBucketed(kept, s"${prefix}_winnow", "fp", buckets)
    Tombstones.retire(spark, prefix, snap)
    snap.foreach(Checkpoints.release)
  }

  /** Content-defined chunking (the storage-dedup CDC idea applied to
    * text): a chunk boundary falls AFTER every token whose hash is
    * ≡ 0 (mod `avgLen`), so boundaries are decided by CONTENT, not
    * position — inserting a sentence at the front of a document shifts
    * every fixed-stride window ([[Packing.chunkTokens]]) but leaves
    * all CDC chunks beyond the edit identical, which is what makes
    * chunk-hash dedup robust to partial edits. Expected chunk length
    * is `avgLen` tokens.
    *
    * Returns one row per chunk: `(id, chunk_id, n_tokens, chunk_hash)`
    * with `chunk_hash` = [[hash64]] of the chunk text under `seed` —
    * the content identity downstream dedup groups on. `keepText = true`
    * additionally carries `chunk_text`, for consumers that rebuild
    * documents from surviving chunks ([[cutDuplicateChunks]]).
    *
    * Scale shape: one shuffle on the doc id for the running boundary
    * count (per-doc sort, the sessionize shape), then a (doc, chunk)
    * agg; chunk rows are ~1/avgLen of the token mass. The boundary
    * rule reuses the seed-0 word hashes every dedup operator already
    * computes, so the scan work is shared under CSE.
    */
  def cdcChunks(df: DataFrame, idCol: String, textCol: String,
                avgLen: Int, seed: Int, keepText: Boolean = false): DataFrame = {
    require(avgLen >= 2, "avgLen must be >= 2")
    val toks = df
      .select(col(idCol), posexplode(words(col(textCol))).as(Seq("_pos", "_word")))
      // per-word hash64(word, 0) — elementwise identical to wordHashes
      .withColumn("_flag",
        when(hash64(col("_word"), 0) % avgLen === 0, 1L).otherwise(0L))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(idCol)).orderBy(col("_pos"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    val chunks = toks
      .withColumn("chunk_id", coalesce(sum(col("_flag")).over(w), lit(0L)))
      .groupBy(col(idCol), col("chunk_id"))
      .agg(count(lit(1)).as("n_tokens"),
        concat_ws(" ", transform(
          array_sort(collect_list(struct(col("_pos"), col("_word")))),
          s => s.getField("_word"))).as("chunk_text"))
      .withColumn("chunk_hash", hash64(col("chunk_text"), seed))
    if (keepText) chunks else chunks.drop("chunk_text")
  }

  /** The CDC cut — [[cdcChunks]] detection turned into the rewrite
    * (the q58→q67 pattern): every chunk CONTENT keeps its first
    * occurrence corpus-wide (smallest (id, chunk_id)) and every other
    * occurrence is removed; documents rebuild from their surviving
    * chunks in order. Because boundaries are content-defined, the same
    * boilerplate block is cut wherever it appears in a document — the
    * shift-robustness fixed-window cutting lacks. Returns the AFFECTED
    * documents: `(id, n_tok_before, n_tok_after, text_clean)`.
    *
    * One rank window on `chunk_hash` (the canonical election) over
    * chunk rows — ~1/avgLen of the token mass — then a per-doc
    * rebuild agg. Never all-pairs.
    */
  def cutDuplicateChunks(df: DataFrame, idCol: String, textCol: String,
                         avgLen: Int, seed: Int): DataFrame = {
    val ch = cdcChunks(df, idCol, textCol, avgLen, seed, keepText = true)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("chunk_hash")).orderBy(col(idCol), col("chunk_id"))
    ch.withColumn("_rn", row_number().over(w))
      .groupBy(col(idCol))
      .agg(sum(col("n_tokens")).as("n_tok_before"),
        sum(when(col("_rn") === 1, col("n_tokens")).otherwise(0L))
          .as("n_tok_after"),
        // collect_list skips the nulls the when() leaves for cut chunks
        concat_ws(" ", transform(
          array_sort(collect_list(
            when(col("_rn") === 1, struct(col("chunk_id"), col("chunk_text"))))),
          s => s.getField("chunk_text"))).as("text_clean"))
      .filter(col("n_tok_after") < col("n_tok_before"))
  }

  /** Directional containment pairs: jaccard misses the
    * doc-inside-doc case (a press release quoted whole inside a long
    * article has |A∩B|/|A∪B| ≈ |A|/|B| — tiny — while |A∩B|/|A| = 1),
    * and minhash-LSH recall is proportional to JACCARD, so the right
    * candidate index here is shingle POSTINGS: pairs sharing at least
    * `minShared` distinct shingle hashes (fingerprints held by more
    * than `maxDf` docs dropped as boilerplate — the same cap that
    * bounds [[winnowPairs]]' buckets), verified EXACTLY on the full
    * shingle sets. Returns `(id_a, id_b, cont_a, cont_b)` — each
    * side's share of its own shingles that the other contains,
    * rounded to 6 — for pairs whose larger direction reaches
    * `minContainment`.
    *
    * Scale shape: postings equi-join (df-capped, never all-pairs) for
    * candidates; the exact verify joins the two shingle arrays by id.
    * The df cap is the recall dial: a snippet duplicated into more
    * than `maxDf` hosts is boilerplate by definition and belongs to
    * q63/q67's machinery, not pairwise containment.
    */
  def containmentPairs(df: DataFrame, idCol: String, textCol: String,
                       minShared: Long, maxDf: Long,
                       minContainment: Double): DataFrame = {
    require(minShared >= 1, "minShared must be >= 1")
    require(maxDf >= 2, "maxDf must be >= 2")
    val sh = df.select(col(idCol),
        array_distinct(shingleHashes3(wordHashes(words(col(textCol)))))
          .as("sh"))
      .filter(size(col("sh")) > 0)
      // feeds the postings AND both exact-verify joins; consumed lazily
      // by the returned plan, so not releasable here — see the cache-
      // lifetime note in winnowPairs (same contract)
      .persist()
    // materialize the cache EAGERLY (round 20; guide §1.2): the final
    // plan holds up to six concurrent leaf stages over `sh` (postings
    // histogram + both candidate sides + both verify sides), and a
    // lazily-populated cache let them RACE — the md5 shingle pass ran
    // up to 6× (measured: six ~1.4 s single-split map stages in one
    // q80 job). One count materializes it once; every stage then reads
    // memory.
    sh.count()
    val post = sh.select(col(idCol), explode(col("sh")).as("h"))
    val kept = post.join(
      post.groupBy(col("h")).agg(count(lit(1)).as("_df"))
        .filter(col("_df") <= maxDf).select(col("h")),
      Seq("h"))
    val cand = kept.select(col("h"), col(idCol).as("id_a"))
      .join(kept.select(col("h"), col(idCol).as("id_b")), Seq("h"))
      .filter(col("id_a") < col("id_b"))
      .groupBy(col("id_a"), col("id_b"))
      .agg(count(lit(1)).as("_shared"))
      .filter(col("_shared") >= minShared)
    cand
      .join(sh.select(col(idCol).as("id_a"), col("sh").as("_sa")), "id_a")
      .join(sh.select(col(idCol).as("id_b"), col("sh").as("_sb")), "id_b")
      .withColumn("_ix", size(array_intersect(col("_sa"), col("_sb"))))
      .select(col("id_a"), col("id_b"),
        round(col("_ix").cast("double") / size(col("_sa")), 6).as("cont_a"),
        round(col("_ix").cast("double") / size(col("_sb")), 6).as("cont_b"))
      .filter(greatest(col("cont_a"), col("cont_b")) >= minContainment)
  }

  /** The verified near-dup PAIR chain as one call: 3-shingle hashes,
    * `seeds`-seed minhash, banded LSH candidates, jaccard verification
    * at `minJaccard`. Returns `(id_a, id_b, jac)` with `id_a < id_b`
    * and the verified jaccard rounded to 6 (the similarity is free at
    * verification time and is exactly the edge weight rank-propagation
    * canonical selection needs — an UNWEIGHTED near-dup graph is a
    * union of cliques, on which PageRank provably stays uniform and
    * picks nothing). PINNED ([[Checkpoints.pin]]) so multiple
    * consumers (component clustering AND rank propagation in q102)
    * read the materialized edge set instead of re-running the LSH
    * chain per action; the shingle cache is released once the pin
    * lands.
    */
  def nearDupEdges(df: DataFrame, idCol: String, textCol: String,
                   seeds: Int, bands: Int, rowsPerBand: Int,
                   minJaccard: Double): DataFrame = {
    val sh = df.select(col(idCol),
        shingleHashes3(wordHashes(words(col(textCol)))).as("sh"))
      .filter(size(col("sh")) > 0)
      .persist()
    val sig = sh.select(col(idCol), minhashSig(col("sh"), seeds).as("sig"))
    val banded = lshBands(sig, idCol, "sig", bands, rowsPerBand)
    val near = Checkpoints.pin(lshCandidatePairs(banded, idCol)
      .join(sh.select(col(idCol).as("id_a"), col("sh").as("sh_a")), "id_a")
      .join(sh.select(col(idCol).as("id_b"), col("sh").as("sh_b")), "id_b")
      .filter(jaccard(col("sh_a"), col("sh_b")) >= minJaccard)
      .select(col("id_a"), col("id_b"),
        round(jaccard(col("sh_a"), col("sh_b")), 6).as("jac")))
    sh.unpersist()
    near
  }

  /** The q36 near-dup clustering chain as one call: 3-shingle hashes,
    * `seeds`-seed minhash, banded LSH candidates, jaccard verification
    * at `minJaccard`, then [[connectedComponents]]. Returns
    * `(id, component)` for every document with at least one verified
    * near-dup edge (singletons are absent; callers needing total
    * coverage coalesce to the doc's own id). The shingle table is
    * persisted for the signature + verify passes and released once the
    * components are materialized (connectedComponents consumes its
    * edges eagerly).
    */
  def nearDupComponents(df: DataFrame, idCol: String, textCol: String,
                        seeds: Int, bands: Int, rowsPerBand: Int,
                        minJaccard: Double): DataFrame = {
    val sh = df.select(col(idCol),
        shingleHashes3(wordHashes(words(col(textCol)))).as("sh"))
      .filter(size(col("sh")) > 0)
      .persist()
    val sig = sh.select(col(idCol), minhashSig(col("sh"), seeds).as("sig"))
    val banded = lshBands(sig, idCol, "sig", bands, rowsPerBand)
    val near = lshCandidatePairs(banded, idCol)
      .join(sh.select(col(idCol).as("id_a"), col("sh").as("sh_a")), "id_a")
      .join(sh.select(col(idCol).as("id_b"), col("sh").as("sh_b")), "id_b")
      .filter(jaccard(col("sh_a"), col("sh_b")) >= minJaccard)
      .select(col("id_a"), col("id_b"))
    val comp = connectedComponents(near, "id_a", "id_b")
    sh.unpersist()
    comp
  }

  /** Connected components over an undirected edge list — the clustering
    * step that turns near-dup PAIRS into dedup GROUPS (one canonical doc
    * per component). Returns `(id, component)` where `component` is the
    * minimum vertex id reachable from `id`.
    *
    * Alternating large-star/small-star (Kiveris et al., "Connected
    * Components in MapReduce and Beyond", SoCC'14): each round contracts
    * the graph toward a star forest rooted at component minima, so the
    * number of rounds is O(log n) in the WORST case — an adversarial
    * million-node chain converges in ~20 rounds where plain min-label
    * propagation needs a million (O(diameter)). Each round is two
    * window-min star passes over the current edge set, whose size
    * never grows above the input edge count; the only per-round driver
    * work is one (count, hash-sum) aggregate over the just-checkpointed
    * edges for the fixpoint test — O(1) result rows, no `collect` of
    * data. [[Checkpoints.pin]] truncates lineage each round — a
    * reliable checkpoint when the session has a checkpoint dir (the
    * cluster deployment), localCheckpoint otherwise.
    *
    *  - large-star: every node connects its LARGER neighbors to the min
    *    of its closed neighborhood — long tails fold in half;
    *  - small-star: every node re-points itself and its smaller
    *    neighbors at its minimum neighbor — stars flatten to depth 1.
    *
    * Edges are kept canonically oriented (u > v) so each pass is one
    * shuffle on the center node. Fixpoint = the canonical edge set is
    * unchanged (count + XOR of xxhash64 over the distinct set — XOR is
    * overflow-free under ANSI mode, order-independent, and exact on a
    * set; a collision needs two DIFFERENT sets agreeing on both, ~2⁻⁶⁴).
    * The signature rides the pin's OWN action as `observe` metrics, so
    * a round is exactly one job — no second pass re-reading the
    * just-written checkpoint for the fixpoint test.
    */
  def connectedComponents(
      edges: DataFrame, srcCol: String, dstCol: String,
      maxIter: Int = 30): DataFrame = {
    // ONE eager materialization of the (possibly expensive) edge
    // subtree: canonical orientation, self-loops still included so the
    // vertex set can be recovered from the checkpointed frame — a
    // separate verts pass would recompute the whole upstream (LSH pair
    // generation in the dedup pipelines) a second time.
    val canon = edges
      .select(col(srcCol).as("_a"), col(dstCol).as("_b"))
      .select(greatest(col("_a"), col("_b")).as("u"),
              least(col("_a"), col("_b")).as("v"))
      .distinct()
      .pipe(Checkpoints.pin)
    // every vertex ever seen — re-attached at the end so self-loop-only
    // and isolated-after-contraction vertices keep their own label
    val verts = canon.select(col("u").as("id"))
      .unionByName(canon.select(col("v").as("id")))
      .distinct()
    // pin + fixpoint signature in ONE action: the (count, xor) metrics
    // are observed while the checkpoint itself materializes, so the
    // edge set is written and fingerprinted in a single pass
    def pinWithSig(df: DataFrame): (DataFrame, (Long, Long)) = {
      val obs = org.apache.spark.sql.Observation()
      val pinned = Checkpoints.pin(df.observe(obs,
        count(lit(1)).as("cnt"),
        coalesce(expr("bit_xor(xxhash64(u, v))"), lit(0L)).as("sig")))
      (pinned, (obs.get("cnt").asInstanceOf[Long],
        obs.get("sig").asInstanceOf[Long]))
    }

    var (e, sig) = pinWithSig(canon.filter(col("u") =!= col("v")))

    // per-center min via an unbounded window: ONE shuffle per star pass
    // (a groupBy-min + equi-join formulation costs two, plus a distinct
    // — measured 6 shuffles/round vs 3 for this shape on the 10× soak)
    val wholePart = org.apache.spark.sql.expressions.Window.partitionBy("u")
      .rowsBetween(Long.MinValue, Long.MaxValue)

    var converged = sig._1 == 0L
    var i = 0
    while (!converged && i < maxIter) {
      // large-star: center each node u over its FULL neighborhood; every
      // strictly larger neighbor w re-points at m = min(N(u) ∪ {u}).
      // Output stays (larger, smaller): w > u ≥ m.
      val sym = e.unionByName(e.select(col("v").as("u"), col("u").as("v")))
      val large = sym
        .withColumn("_mn", least(min(col("v")).over(wholePart), col("u")))
        .filter(col("v") > col("u"))
        .select(col("v").as("u"), col("_mn").as("v"))
      // small-star: edges now oriented u > v, so the window min IS the
      // min of the closed smaller-neighborhood; u and every smaller
      // neighbor re-point at it (the (mn, mn) self-edge filters out).
      val (next, nextSig) = pinWithSig(large
        .withColumn("_mn", min(col("v")).over(wholePart))
        .select(explode(array(
          struct(col("u"), col("_mn").as("v")),
          struct(col("v").as("u"), col("_mn").as("v")))).as("_e"))
        .select(col("_e.u").as("u"), col("_e.v").as("v"))
        .filter(col("u") =!= col("v"))
        .distinct())
      converged = nextSig == sig
      sig = nextSig
      // `next` is fully materialized (eager pin), so the previous
      // round's checkpoint data is dead weight — delete it now instead
      // of leaking one checkpoint dir per round for the session's
      // lifetime. `canon` is NOT released: `verts` reads it lazily in
      // the final join. The last `e` is likewise kept alive for the
      // returned frame (cleaned by the ContextCleaner when
      // spark.cleaner.referenceTracking.cleanCheckpoints is set).
      Checkpoints.release(e)
      e = next
      i += 1
    }
    // A silent cap would SPLIT real clusters (the oracle iterates to
    // fixpoint) — fail loudly instead. With O(log n) rounds, 30 covers
    // any graph that fits in a cluster; non-convergence means a bug.
    if (!converged)
      throw new IllegalStateException(
        s"connectedComponents did not converge within $maxIter rounds " +
          "(unexpected for large-star/small-star: O(log n) rounds)")
    // At fixpoint the edge set is a star forest: every non-root has
    // exactly one edge (id, root). groupBy-min is belt-and-braces.
    val rooted = e.groupBy(col("u").as("id")).agg(min(col("v")).as("_comp"))
    verts.join(rooted, Seq("id"), "left")
      .select(col("id"), coalesce(col("_comp"), col("id")).as("component"))
  }
}
