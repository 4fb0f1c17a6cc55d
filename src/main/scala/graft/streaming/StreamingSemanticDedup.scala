package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.Similarity

/** The SEMANTIC twin of [[StreamingContentDedup]]: gate each micro-batch
  * against the embeddings the stream has already admitted — the
  * [[StreamingVectorIndex]] lists ARE the dedup structure, so the chain
  * dedups at the lexical AND the semantic level incrementally, with no
  * second index to maintain.
  *
  * Verdict semantics (mirrors the band gate):
  *  - INTRA-batch: any verified pair (cos ≥ `tau`) drops its LARGER id
  *    — matched through the same cell/nprobe probe geometry as the
  *    index probe, against ALL batch docs (not just survivors — the
  *    [[Similarity.semDedup]] transitive-chain caveat applies);
  *  - CROSS-corpus: a batch doc whose nearest indexed neighbor
  *    ([[Similarity.knnIvfIndexed]], k = 1) clears `tau` is dropped.
  *
  * Replay safety, the property the geometry sharing buys: only KEPT
  * documents are ever appended (chain stage 3), and `knnIvfIndexed`
  * excludes same-id matches, so a replayed batch probing the crashed
  * attempt's own partition sees (a) itself — excluded by id; (b) an
  * admitted batch-mate C — but any (probe, C) pair reachable through
  * the index probe's cells is reachable through the SAME cells in the
  * intra-batch pass, which already dropped the larger id on the first
  * attempt; (c) docs from older batches — present on both attempts.
  * Every verdict therefore replays identically (the spec crashes a
  * batch after the index append and pins this).
  *
  * Recall is cell-local like batch SemDeDup: a near-dup pair split
  * across coarse cells is missed at nprobe = 1 — `nprobe` fans the
  * probe (both passes) into the next-nearest cells, the
  * [[Similarity.knnIvf]] dial. Cost per batch: |batch| · k centroid
  * dots + the probed cells' occupancy — the per-batch cost contract,
  * nothing corpus-wide.
  *
  * `tombstones`: an optional [[graft.operators.Tombstones.snapshot]]
  * frame; indexed entries under a delete marker are invisible to the
  * probe, so a takedown un-blocks future semantically-equivalent
  * documents immediately (the band-index takedown semantics).
  */
object StreamingSemanticDedup {

  /** One frozen quantizer family for the multi-family gate: its
    * centroids and the batch-tree path its inverted lists live under
    * (a [[StreamingVectorIndex]] tree — each family maintains its OWN
    * tree, written per batch under `indexPath/batch=<id>`).
    */
  final case class QuantizerFamily(centroids: DataFrame, indexPath: String)

  /** The admitted subset of `batch` (all its columns, order preserved
    * modulo the anti-joins). `batch` must carry `idCol` and `vecCol`.
    */
  def gateBatch(spark: SparkSession, batch: DataFrame, idCol: String,
                vecCol: String, centroids: DataFrame, indexPath: String,
                tau: Double, nprobe: Int = 1,
                tombstones: Option[DataFrame] = None): DataFrame =
    gateBatchMulti(spark, batch, idCol, vecCol,
      Seq(QuantizerFamily(centroids, indexPath)), tau, nprobe, tombstones)

  /** The FAMILIES dial on the gate — the `families`
    * OR-composition of [[graft.operators.Similarity.semDedupSliced]]
    * applied in-stream, closing the recall floor the
    * single quantizer leaves: `nprobe` saturates once every probed
    * cell is exhausted (the BASELINE round-17 streamsem receipt:
    * recall flat at 0.922 past nprobe = 4 because the residual misses
    * STRADDLE the one quantizer's cells), whereas a second independent
    * quantizer draws DIFFERENT cell boundaries, so a pair the first
    * family splits is co-celled by the second with fresh probability —
    * a document is dropped when ANY family's probe verifies a match
    * (cos ≥ tau, cross-corpus or smaller-id batch-mate).
    *
    * Each family is a full [[gateBatch]] probe geometry against its
    * OWN centroids and its OWN index tree; cost per batch is
    * `families ×` the single-family cost (nothing is shared, by
    * design — shared structure is what correlates the misses). Extra
    * families only ADD drops (spec-pinned: admitted(families = k+1) ⊆
    * admitted(families = k)), and `families = Seq(one)` IS
    * [[gateBatch]]. Replay safety is inherited PER FAMILY from the
    * single-family argument (every family's own-batch appends are
    * covered by that family's intra-batch pass through the same
    * cells), so a crash that appended to only SOME family trees still
    * replays to the identical verdict — the spec crashes between
    * family appends and pins this.
    */
  def gateBatchMulti(spark: SparkSession, batch: DataFrame, idCol: String,
                     vecCol: String, families: Seq[QuantizerFamily],
                     tau: Double, nprobe: Int = 1,
                     tombstones: Option[DataFrame] = None): DataFrame = {
    require(tau >= -1.0 && tau <= 1.0, "tau must be in [-1, 1]")
    require(nprobe >= 1, "nprobe must be >= 1")
    require(families.nonEmpty, "at least one quantizer family")
    families.map(f =>
        dropIds(batch, idCol, vecCol, f.centroids, f.indexPath, tau,
          nprobe, tombstones))
      .reduceLeft[(DataFrame, DataFrame)] { case ((i1, c1), (i2, c2)) =>
        (i1.unionByName(i2), c1.unionByName(c2)) } match {
      case (intra, cross) =>
        batch
          .join(intra.distinct(), Seq(idCol), "left_anti")
          .join(cross.distinct(), Seq(idCol), "left_anti")
    }
  }

  /** One family's verified drop ids over `batch`: (intra-batch,
    * cross-corpus) — the [[gateBatch]] verdict arithmetic, factored so
    * the multi-family gate can OR the sets.
    */
  private def dropIds(batch: DataFrame, idCol: String, vecCol: String,
                      centroids: DataFrame, indexPath: String, tau: Double,
                      nprobe: Int,
                      tombstones: Option[DataFrame]): (DataFrame, DataFrame) = {
    val spark = batch.sparkSession
    val probes = batch.select(col(idCol).as("probe_id"),
      col(vecCol).as("pv"))
    // the on-disk lists, empty-schema-safe before the first commit,
    // with tombstoned entries removed from sight
    val onDisk = StreamingVectorIndex.lists(spark, indexPath,
      probes.select(col("probe_id").as("cand_id"), col("pv").as("cv")),
      centroids)
    val idx = tombstones.fold(onDisk)(t =>
      graft.operators.Tombstones.filterWith(onDisk, Some(t), "cand_id"))
    val crossDrop = Similarity.knnIvfIndexed(probes, centroids, idx,
        k = 1, nprobe)
      .filter(col("cos") >= tau)
      .select(col("probe_id").as(idCol)).distinct()
    // intra-batch: the batch AS the lists, same probe geometry; drop
    // the larger id of every verified pair in either probe orientation.
    // Deliberately NOT knnIvfIndexed: the full pair set is needed (no
    // top-k), so a ranking window would sort every within-cell
    // candidate list for ranks nobody reads — O(|cell|²·log) per
    // skewed batch cell. The direct cell-equi-join (the semDedup
    // shape) computes the same cosines with no window at all.
    val selfLists = Similarity.ivfAssign(
        probes.select(col("probe_id").as("cand_id"), col("pv").as("cv")),
        "cv", "cand_id", centroids)
      .withColumn("_cn", graft.functions.GraftFunctions.l2norm(col("cv")))
    val pc = Similarity.ivfAssign(probes, "pv", "probe_id", centroids,
        nprobe)
      .withColumn("_pn", graft.functions.GraftFunctions.l2norm(col("pv")))
    val intraDrop = pc.join(selfLists, Seq("cell"))
      .filter(col("probe_id") =!= col("cand_id"))
      .filter(round(graft.functions.GraftFunctions.dot(col("pv"), col("cv"))
        / (col("_pn") * col("_cn")), 6) >= tau)
      .select(greatest(col("probe_id"), col("cand_id")).as(idCol))
      .distinct()
    (intraDrop, crossDrop)
  }
}
