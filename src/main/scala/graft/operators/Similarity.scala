package graft.operators

import scala.util.chaining._

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.GraftFunctions._

/** Similarity search over an embedding column (SURVEY.md §0 north star).
  *
  * Two tiers, per the standard ANN playbook:
  *  - [[knnExact]]: brute-force cosine top-k against a SMALL probe set.
  *    The probe side is broadcast; the corpus streams through once. This
  *    is the correctness baseline and the right plan whenever
  *    |probes| × |corpus| work fits the cluster (probes ≪ corpus).
  *  - [[hyperplaneBucket]] + [[knnLsh]]: random-hyperplane LSH. Each
  *    vector gets a small bucket code from the signs of `planes`
  *    deterministic pseudo-random projections; the join runs within
  *    buckets only (shuffle on bucket code), trading recall for a
  *    corpus-linear plan — the 100 TB path.
  *
  * Hyperplane components are derived from [[hash64]] so the DuckDB oracle
  * reproduces the exact same buckets.
  */
object Similarity {

  /** Deterministic pseudo-random hyperplane component for (plane, dim),
    * uniform-ish in [-0.5, 0.5). The oracle computes the same value as
    * `CAST(('0x'||substr(md5('0:'||p||':'||d),1,15)) AS BIGINT) % 1000 / 1000.0 - 0.5`;
    * here it is PRECOMPUTED on the driver (data-independent constant —
    * evaluating the md5 chain per (row × plane × dim) cost more than the
    * dot products it fed).
    */
  private def hpComponent(plane: Int, dim: Int): Double =
    graft.functions.Hash64Array.hashString(s"$plane:$dim", 0) % 1000 / 1000.0 - 0.5

  /** Number of hyperplanes sized so the expected bucket occupancy is
    * ~`targetBucket`: the smallest p ≥ 1 with `targetBucket · 2^p ≥ n`.
    * Within-bucket pair generation is then O(n · targetBucket) —
    * corpus-LINEAR in expectation, which is the guard against the
    * quadratic blowup the 10× soak measured for a FIXED plane count
    * (BASELINE.md round-4 notes: planes=4 goes quadratic by 50k
    * vectors). Integer-exact on purpose: a float `ceil(log2(n/target))`
    * could disagree with the SQL oracle's libm by one ulp at exact
    * powers of two and flip every bucket; a shift-compare cannot.
    * More planes trade recall for speed — callers wanting higher recall
    * at the same cost should band multiple independent tables
    * ([[multiTableBuckets]], the MinHash banding discipline) rather
    * than lower the plane count: a corpus-derived plane count GROWS
    * with n, so a fixed perturbation crosses ever more planes and
    * single-code recall erodes with scale (the round-15 q165 measurement).
    */
  def autoPlanes(n: Long, targetBucket: Long = 64L, maxPlanes: Int = 16): Int = {
    require(targetBucket > 0 && maxPlanes >= 1)
    var p = 1
    while (p < maxPlanes && (targetBucket << p) < n) p += 1
    p
  }

  /** Number of k-means cells sized so the expected cell occupancy is
    * ~`targetCell`: `max(1, ceil(n / targetCell))` — [[autoPlanes]]'s
    * trick applied to the [[semDedup]] quantizer. Within-cell pair
    * generation is Σ|cell|², so a FIXED cell count goes quadratic as
    * the corpus grows (100× data at fixed k is 10,000× pair work);
    * deriving k from n keeps it O(n · targetCell) — corpus-linear in
    * expectation, which is how the published SemDeDup runs (~50k
    * clusters for billions of points, i.e. k ∝ n). Integer-exact on
    * purpose, like [[autoPlanes]]: the SQL oracle derives the identical
    * k via `GREATEST(1, (count(*) + targetCell - 1) // targetCell)`,
    * and integer arithmetic cannot disagree across engines the way a
    * float `ceil` could.
    */
  def autoCells(n: Long, targetCell: Long = 64L): Int = {
    require(targetCell > 0, "targetCell must be > 0")
    math.max(1L, (n + targetCell - 1) / targetCell).toInt
  }

  /** Coarse-level cell count for the HIERARCHICAL quantizer: the
    * smallest `g` with `g² · targetCell ≥ n`, i.e. ⌈√(n/targetCell)⌉ —
    * so coarse cells hold ~√(n·targetCell) vectors and the per-coarse-
    * cell fine codebooks hold ~√(n/targetCell) centroids each, putting
    * BOTH assignment levels at n·√(n/targetCell) dot products instead
    * of the flat quantizer's n²/targetCell ([[autoCells]] keeps the
    * PAIR pass linear, but flat assignment against k = n/targetCell
    * centroids is the residual quadratic the 100× soak measured —
    * BASELINE.md round-11). Integer-exact search loop, O(√n) driver
    * iterations: no float `sqrt`, so the SQL oracle's
    * `min(g) WHERE g·g·targetCell ≥ n` scan cannot disagree by an ulp.
    */
  def coarseCells(n: Long, targetCell: Long = 64L): Int = {
    require(targetCell > 0, "targetCell must be > 0")
    var g = 1L
    while (g * g * targetCell < n) g += 1
    g.toInt
  }

  /** A codebook collapsed to ONE array-of-structs column `_cents` —
    * entry `(c = centroid id, v = centroid vec, n = its l2 norm,
    * precomputed once per centroid)` — per `keys` group (no keys: one
    * global row). The [[bestCell]] fold consumes it: together they
    * re-express the single-cell assignment argmax as a NARROW map pass
    * (guide §2.4, remove the shuffle outright) instead of the old
    * [candidate crossJoin fan-out → Exchange → Sort → row_number
    * window] chain. `collect_list` order is irrelevant — see
    * [[bestCell]]'s strict-improvement argument.
    */
  private def centArray(centroids: DataFrame, keys: Seq[String]): DataFrame = {
    val entry = struct(col("centroid_id").as("c"),
      col("centroid_vec").as("v"), l2norm(col("centroid_vec")).as("n"))
    if (keys.isEmpty) centroids.agg(collect_list(entry).as("_cents"))
    else centroids.groupBy(keys.map(col): _*)
      .agg(collect_list(entry).as("_cents"))
  }

  /** The single-cell argmax over a [[centArray]] `_cents` column as a
    * per-row fold — no candidate fan-out, no shuffle, no sort, at any
    * corpus size. Each candidate is scored with the IDENTICAL round-6
    * cosine arithmetic the crossJoin form evaluated (the same
    * `dot / (nv · nc)` expression tree, with the norms hoisted: `nv`
    * once per row via the caller's column, `nc` once per centroid
    * inside the array), then a strict-improvement fold keeps the
    * winner: take the candidate iff `s > best.s` OR (`s = best.s` AND
    * `c < best.c`). That predicate selects the unique (max score,
    * smallest id) element, so the fold is order-independent and the
    * `collect_list` order never matters; NaN scores rank largest
    * (Spark's NaN ordering), the same pick the old
    * `orderBy(_ccos.desc, centroid_id)` window made. Why the fold
    * beats both the window AND a max(struct) aggregate (measured,
    * round 19): the window materializes n·k joined rows (each copying
    * both 64-double arrays) and sorts them; the aggregate avoids the
    * sortless-ness but copies the array payload into its buffer per
    * improving row — the fold materializes nothing but a 2-field
    * scalar struct per candidate.
    */
  private def bestCell(vec: Column, nv: Column): Column = {
    val scored = transform(col("_cents"), x =>
      struct(round(dot(vec, x.getField("v")) / (nv * x.getField("n")), 6)
        .as("s"), x.getField("c").as("c")))
    aggregate(scored,
      struct(lit(-2.0).as("s"), lit(Long.MaxValue).as("c")),
      (acc, x) => when(x.getField("s") > acc.getField("s") ||
        (x.getField("s") === acc.getField("s") &&
          x.getField("c") < acc.getField("c")), x).otherwise(acc))
      .getField("c")
  }

  /** One Lloyd mean update with the empty-cell carry folded into the
    * SAME aggregation (round 20, guide §2.4/§1.2): members ride with
    * weight 1, the previous codebook rides with weight 0 through the
    * one (group, cell, dim) exchange, so the per-dimension mean and
    * the "empty cells keep their previous centroid" rule come out of a
    * single grouped pass — the previous shape joined the old codebook
    * back with a LEFT ANTI (one extra broadcast sub-job and a second
    * codebook read per iteration, at every scale). Value-identical:
    * non-empty cells aggregate exactly the member rows the old update
    * aggregated (the carry row is weight-0 and excluded from both the
    * decimal sum and the count); empty cells surface the carried
    * component (`max` over the single weight-0 row per dim) exactly as
    * the anti-join union did, double-cast and all. KMeansSpec pins the
    * equivalence against the literal old implementation.
    */
  private def lloydNext(assigned: DataFrame, cent: DataFrame,
                        groupCols: Seq[String], vecCol: String): DataFrame = {
    val g = groupCols.map(col)
    val members = assigned.select(
      g ++ Seq(col("cell"), col(vecCol).as("_v"), lit(1L).as("_w")): _*)
    val carries = cent.select(
      g ++ Seq(col("centroid_id").as("cell"),
        transform(col("centroid_vec"), x => x.cast("double")).as("_v"),
        lit(0L).as("_w")): _*)
    members.unionByName(carries)
      .select(g ++ Seq(col("cell"), col("_w"),
        posexplode(col("_v")).as(Seq("_d", "_x"))): _*)
      .groupBy(g ++ Seq(col("cell"), col("_d")): _*)
      .agg(
        sum(when(col("_w") === 1L, col("_x")).cast("decimal(27,12)"))
          .as("_s"),
        sum(col("_w")).as("_c"),
        max(when(col("_w") === 0L, col("_x"))).as("_prev"))
      .select(g ++ Seq(col("cell"),  col("_d"),
        when(col("_c") > 0L,
          round(col("_s").cast("double") / col("_c"), 9))
          .otherwise(col("_prev")).as("_m")): _*)
      .groupBy(g :+ col("cell"): _*)
      .agg(transform(array_sort(collect_list(struct(col("_d"), col("_m")))),
        s => s.getField("_m")).as("centroid_vec"))
      .select(g ++ Seq(col("cell").as("centroid_id"),
        col("centroid_vec")): _*)
  }

  /** Per-group spherical k-means, all groups BATCHED in one frame —
    * [[pqTrain]]'s batching applied to data-dependent groups instead of
    * fixed subspaces: every `groupCol` value trains an INDEPENDENT
    * codebook of `max(1, ⌈|group| / targetCell⌉)` cells (the
    * [[autoCells]] arithmetic applied per group), with the same
    * deterministic contract as [[kmeans]] — per-group lowest-hash init
    * (ties by id), round-6 cosine argmax assignment (ties by smallest
    * cid), exact-decimal mean update rounded to 9, empty cells keeping
    * their previous centroid. Returns `(groupCol, centroid_id,
    * centroid_vec)` — Σ ⌈|group|/targetCell⌉ ≈ n/targetCell rows.
    *
    * `maxCells` caps the per-group codebook (default: uncapped): past
    * the cap, a group's cell count stops growing with the group, so
    * assignment cost is bounded at |group| · maxCells dot products —
    * and expected cell occupancy grows as |group| / maxCells instead
    * of holding at targetCell (the documented trade; see
    * [[semDedupHier]]'s kmax for who pays it and why).
    *
    * Scale shape: each Lloyd iteration joins vectors to ONLY their own
    * group's centroids (equi-join on the group key — AQE broadcasts
    * while the codebook is small and shuffle-joins past that), so the
    * per-iteration cost is n · (cells per group), not n · (total
    * cells). Callers should persist `vectors` across the passes.
    */
  def kmeansGrouped(vectors: DataFrame, vecCol: String, idCol: String,
                    groupCol: String, targetCell: Long, iters: Int,
                    seed: Int, maxCells: Int = Int.MaxValue): DataFrame = {
    require(targetCell >= 1, "targetCell must be >= 1")
    require(iters >= 0, "iters must be >= 0")
    require(maxCells >= 1, "maxCells must be >= 1")
    val id = col(idCol); val g = col(groupCol)
    val h = hash64(id.cast("string"), seed)
    val mc = vectors.groupBy(g)
      .agg(count(lit(1)).as("_cnt"))
      .select(g, least(
        expr(s"(_cnt + ${targetCell - 1}) DIV $targetCell"),
        lit(maxCells.toLong)).as("_mc"))
    val wInit = Window.partitionBy(g).orderBy(h, id)
    val init = vectors.join(mc, Seq(groupCol))
      .withColumn("_rn", row_number().over(wInit))
      .filter(col("_rn") <= col("_mc"))
      .select(g, (col("_rn") - 1).cast("long").as("centroid_id"),
        col(vecCol).as("centroid_vec"))
    var cent = Checkpoints.pin(init)
    for (_ <- 0 until iters) {
      // [[bestCell]] narrow-fold assignment: each vector joins its own
      // group's COLLECTED codebook row and folds to its argmax in
      // place — the per-group candidate fan-out, its exchange, its
      // sort and its window are all gone (same round-6 cosine argmax,
      // ties to the smallest centroid id). The per-group arrays keep
      // the equi-join-on-the-group-key scale shape: AQE broadcasts
      // them while small, shuffle-joins past that.
      val assigned = vectors.select(g, id, col(vecCol))
        .join(centArray(cent, Seq(groupCol)), Seq(groupCol))
        .withColumn("_nv", l2norm(col(vecCol)))
        .withColumn("cell", bestCell(col(vecCol), col("_nv")))
        .select(g, col("cell"), col(vecCol))
      val next = Checkpoints.pin(
        lloydNext(assigned, cent, Seq(groupCol), vecCol))
      Checkpoints.release(cent)
      cent = next
    }
    cent
  }

  /** Hierarchical (two-level) SemDeDup — [[semDedup]]'s semantics with
    * the quadratic assignment removed, the at-scale instantiation: a
    * coarse codebook of [[coarseCells]] cells partitions the corpus
    * ([[kmeans]] + [[ivfAssign]], n·√(n/t) work), each coarse cell
    * trains its own fine codebook of ⌈|cell|/targetCell⌉ centroids
    * ([[kmeansGrouped]], again n·√(n/t)), and within-(coarse, fine)-cell
    * pairs at rounded cosine ≥ `tau` are dropped keep-smallest-id —
    * expected fine-cell occupancy is ~targetCell at ANY n, so the pair
    * pass stays corpus-linear AND no step ever evaluates n · (n/t)
    * distances. This is the shape the published SemDeDup actually runs
    * at scale (a bounded-k clustering per shard); the flat [[semDedup]]
    * remains the reference semantics for broadcast-small codebooks.
    *
    * Returns one row per DROPPED vector:
    * `(coarse, cell, id, dup_of, cos)` — `dup_of` is the smallest
    * duplicate partner within the SAME (coarse, cell), with the
    * transitive-chain caveat documented on [[semDedup]].
    *
    * `kmax` (default: uncapped) bounds BOTH codebooks at `kmax`
    * centroids — the at-scale escape from the n^1.5 growth law. The
    * derived shape (⌈√(n/t)⌉ coarse cells, ~√(n/t) fine cells each)
    * keeps fine-cell occupancy at ~targetCell for ANY n, but its
    * assignment cost grows as n·√(n/t): sub-quadratic, receipted
    * sub-linear in wall up to the 100× soak, yet still super-linear —
    * at 10⁴× beyond it the √(n/t) factor is what breaks. With the cap,
    * assignment is at most n · 2·kmax dot products (corpus-LINEAR,
    * k_fixed), and the documented consequence lands on OCCUPANCY: past
    * n = kmax²·targetCell, expected fine-cell size grows as
    * n / kmax², so the within-cell pair pass — not assignment —
    * inherits the super-linear growth (Σ|cell|² ≈ n²/kmax²). Pick
    * kmax so kmax²·targetCell sits above the per-shard corpus size
    * (e.g. kmax = 4096, t = 64 covers ~10⁹ vectors per shard at
    * ~8k dots/vector) and the cap is the safety rail, not the
    * operating point; at gate/bench scale it defaults off and the
    * derived shape (and its oracle replay) is byte-identical.
    */
  def semDedupHier(vectors: DataFrame, vecCol: String, idCol: String,
                   targetCell: Long, tau: Double, iters: Int = 2,
                   seedCoarse: Int = 31, seedFine: Int = 37,
                   kmax: Int = Int.MaxValue): DataFrame = {
    require(kmax >= 1, "kmax must be >= 1")
    val n = vectors.count()
    val coarseCent = kmeans(vectors, vecCol, idCol,
      k = math.min(coarseCells(n, targetCell), kmax), iters = iters,
      seed = seedCoarse)
    val asg = ivfAssign(vectors, vecCol, idCol, coarseCent)
      .withColumnRenamed("cell", "_coarse")
    val fine = kmeansGrouped(asg, vecCol, idCol, "_coarse", targetCell,
      iters = iters, seed = seedFine, maxCells = kmax)
    // NOT pinned, on measurement: the pair join consumes the assignment
    // twice (a/b sides), and caching it here was tried and is ~20%
    // SLOWER at sf0.1 AND at the 100× soak scale — materializing
    // n corpus-scale rows costs more than re-running the narrow argmax
    // passes against the (checkpointed) codebooks, whose recompute
    // overlaps the pair join's own shuffle. Recorded in BASELINE.md
    // round-11 (the literal-centroid precedent: measure, keep the
    // faster shape, write the negative result down).
    // Fine assignment via the [[bestCell]] narrow fold: each vector
    // joins its coarse cell's collected fine codebook and folds to its
    // argmax in place (same round-6 cosine argmax, ties to the
    // smallest cid) — no fine-candidate fan-out, no assignment
    // exchange/sort/window; `_n` is the same per-row l2norm the fold
    // hoists, reused as the pair pass's norm.
    val cells = asg.join(centArray(fine, Seq("_coarse")), Seq("_coarse"))
      .withColumn("_n", l2norm(col(vecCol)))
      .withColumn("_cell", bestCell(col(vecCol), col("_n")))
      .select(col("_coarse"), col("_cell"), col(idCol),
        col(vecCol), col("_n"))
    val a = cells.select(col("_coarse"), col("_cell"), col(idCol).as("id_a"),
      col(vecCol).as("_va"), col("_n").as("_na"))
    val b = cells.select(col("_coarse"), col("_cell"), col(idCol).as("id_b"),
      col(vecCol).as("_vb"), col("_n").as("_nb"))
    val dup = a.join(b, Seq("_coarse", "_cell"))
      .filter(col("id_a") < col("id_b"))
      .withColumn("cos",
        round(dot(col("_va"), col("_vb")) / (col("_na") * col("_nb")), 6))
      .filter(col("cos") >= tau)
    // keep-smallest-partner as a partial-aggregable min(struct): id_a
    // is unique per id_b (each id holds one (coarse, cell) slot), so
    // the later fields are payload, never compared — same row the old
    // id_a-ordered row_number window kept, with the duplicate-pair
    // shuffle combined map-side instead of sorted
    dup
      .groupBy(col("id_b"))
      .agg(min(struct(col("id_a"), col("cos"),
        col("_coarse"), col("_cell"))).as("_b"))
      .select(col("_b._coarse").as("coarse"), col("_b._cell").as("cell"),
        col("id_b").as(idCol), col("_b.id_a").as("dup_of"),
        col("_b.cos").as("cos"))
  }

  /** How [[semDedupSliced]] cuts the corpus into independent slices —
    * the partitioner is the only thing the sliced plan varies (the
    * REPOSE partition-then-local-search shape). Every case is a set of
    * `tables` × `shards` slices; a case without tables or shards reads
    * 0 in that output column.
    */
  sealed trait Slicing {
    def tables: Int = 1
    def shards: Range
  }

  object Slicing {

    /** The whole corpus as one slice — the flat [[semDedupHier]]. */
    case object Whole extends Slicing { def shards: Range = 0 to 0 }

    /** `n` DETERMINISTIC id-hash shards, `hash64(id, 5) % n` (the q48
      * shard-assignment arithmetic, so any engine or re-run replays the
      * split bit-for-bit) — the fully corpus-LINEAR regime: with a
      * binding `kmax` the within-cell pair pass still inherits
      * Σ|cell|² ≈ n²/kmax² (the [[semDedupHier]] trade), and here every
      * per-shard cost term is evaluated at n/shards instead. Pick `n`
      * so n/shards sits inside the regime kmax²·targetCell covers: the
      * 100 TB shape is shards ≈ n / (per-shard budget).
      *
      * SEMANTICS TRADE, accepted and explicit: pairs are only detected
      * WITHIN a shard — a near-dup pair split across two shards is
      * missed (probability (n−1)/n for a random pair; the published
      * SemDeDup deployment dedups each training shard independently).
      * [[Content]] co-locates near-dups BY CONSTRUCTION; id hashing
      * deliberately does not. `n = 1` is byte-identical to
      * [[semDedupHier]].
      */
    final case class IdHash(n: Int) extends Slicing {
      require(n >= 1, "shards must be >= 1")
      def shards: Range = 0 until n
    }

    /** CONTENT-keyed shards — closes the cross-shard miss [[IdHash]]
      * accepts: the shard key is a `shardPlanes`-bit hyperplane code of
      * the VECTOR ([[hyperplaneBucketAt]], the [[multiTableBuckets]]
      * family), so a pair at angle θ co-locates with probability
      * (1 − θ/π)^shardPlanes per table, ≈ 1 for the cos ≥ τ pairs
      * SemDeDup exists to catch. `tables` independent shard families
      * (table t draws planes [t·shardPlanes, (t+1)·shardPlanes), the
      * rung-3 OR-composition) raise co-location recall at `tables`× the
      * pass cost; a vector dropped under ANY (table, shard) is a drop.
      *
      * Hyperplane buckets over real embeddings are occupancy-SKEWED, so
      * `shardPlanes` is a partition-count dial, not a balance guarantee;
      * within-shard geometry derives from the shard's own n, so results
      * are NOT byte-comparable to the flat form.
      *
      * DRIVER-LOOP COST: `tables · 2^shardPlanes` independent chains per
      * family, all served by one driver — so `shardPlanes` is capped at
      * 10 (≤ 1024 shards per table; tightened from 16 in round 17,
      * deliberately). Past that, run shard ranges as separate JVMs over
      * one [[materializeContentShards]] write ([[Materialized]]).
      */
    final case class Content(dims: Int, shardPlanes: Int,
                             override val tables: Int = 1) extends Slicing {
      require(shardPlanes >= 1 && shardPlanes <= 10,
        "shardPlanes must be in [1, 10] — tables*2^shardPlanes " +
          "independent job chains run from one driver loop")
      require(tables >= 1, "tables must be >= 1")
      def shards: Range = 0 until (1 << shardPlanes)
    }

    /** The CROSS-JVM half of the content-sharded fan-out: `vectors` is
      * a read of an EXISTING [[materializeContentShards]] directory
      * (its `_tbl`/`_shard` partition columns are the slice key) and
      * only shards `shardLo to shardHi` run, all tables × all families
      * of that range. Read-only, so independent JVMs can split one
      * materialization by shard range and their unioned verdicts equal
      * the single-JVM [[Content]] run over the same input (row-identical
      * per (family, tbl, shard) — every chain is deterministic in its
      * slice alone; spec-pinned, and the 100× receipt pins the unioned
      * verdict_md5 across 1-vs-2 JVMs). The runnable recipe:
      *
      * {{{
      * # once: Receipts contentmat /tmp/soak100 6 2 /tmp/mat
      * # then, one JVM per shard range, concurrently:
      * #   Receipts contentrun /tmp/soak100 6 2 /tmp/mat 0-31  /tmp/v0 1 8
      * #   Receipts contentrun /tmp/soak100 6 2 /tmp/mat 32-63 /tmp/v1 1 8
      * # finally: Receipts contentmd5 /tmp/v0 /tmp/v1
      * }}}
      *
      * `parallelism` fans the JVM's own range out in-process — the two
      * dials compose: JVMs × threads-per-JVM chains are in flight.
      */
    final case class Materialized(shardPlanes: Int, override val tables: Int,
                                  shardLo: Int, shardHi: Int) extends Slicing {
      require(shardPlanes >= 1 && shardPlanes <= 10,
        "shardPlanes must be in [1, 10]")
      require(tables >= 1, "tables must be >= 1")
      require(shardLo >= 0 && shardHi < (1 << shardPlanes) &&
        shardLo <= shardHi, s"shard range [$shardLo, $shardHi] must sit " +
        s"inside [0, ${(1 << shardPlanes) - 1}]")
      def shards: Range = shardLo to shardHi
    }
  }

  /** SLICED, multi-family [[semDedupHier]]: for every family × table ×
    * shard of `slicing`, one INDEPENDENT [[semDedupHier]] chain (its own
    * count + two k-means trainings + pair pass) over that slice, the
    * verdicts unioned. Returns one row per (family, slice, dropped id):
    * `(family, tbl, shard, coarse, cell, <idCol>, dup_of, cos)` — the
    * same id can recur across families and tables with different
    * partners, so take `distinct` on `idCol` for the drop set.
    *
    * FAMILIES — the OR-of-quantizers recall dial: [[semDedupHier]] is
    * cell-local, so a near-dup pair straddling a fine-cell boundary is
    * never a candidate. Family f trains every slice's quantizers with
    * seeds `(31 + 1000·f, 37 + 1000·f)`, drawing DIFFERENT cell
    * boundaries from the same deterministic hash-rank init, and a pair
    * is caught when ANY family co-cells it (the round-16 100× receipt:
    * two families caught 48/64 planted pairs where one caught 38).
    * Recall for per-family co-cell probability p is 1 − (1−p)^families
    * at `families ×` the cost — nothing is shared across families, by
    * design, since shared structure is what correlates the misses.
    * Family 0 of any slicing is byte-identical to the one-family run,
    * and extra families only ADD drops (spec-pinned). Callers PERSIST
    * `vectors` (the [[kmeans]] contract): every chain re-reads it.
    *
    * `matPath` — the READ-AMPLIFICATION rail of the hash slicings
    * ([[Slicing.IdHash]], [[Slicing.Content]]): the default slice is a
    * `filter` that re-scans the FULL input (and recomputes the shard
    * code) once per (table, shard) — O(tables · shards) full passes.
    * `matPath` assigns every row its per-table shard in ONE input pass,
    * written as `_tbl=/_shard=` partitioned parquet (the
    * [[materializeContentShards]] layout, shared across families), and
    * every chain reads exactly its own partition via planning-time
    * partition pruning: total read = one write + one read of the corpus
    * at any shard depth. Row-identical to the filter form (spec-pinned;
    * every per-slice step is row-order-insensitive). `matPath` is a
    * SCRATCH path owned by this call — pre-existing data is destroyed
    * and the write runs eagerly at composition time. Never point it at
    * data you keep.
    *
    * `parallelism` > 1 runs that many chains CONCURRENTLY through
    * [[Overlap.fanOut]], each verdict PINNED inside its thread (the
    * eager materialization is what makes the concurrency real; a lazy
    * union would serialize everything again at the first action), and
    * an aborted fan-out releases the completed pins. The chains share
    * nothing, so overlapping them back-fills the executor idle each
    * chain's many small stages leave; row-identical to the sequential
    * form (spec-pinned). Pair it with `matPath` so concurrent chains
    * read pruned partitions instead of racing full input scans. The
    * pins are final pins read lazily by the returned union —
    * verdict-sized and reclaimed by reference-tracking cleanup.
    */
  def semDedupSliced(vectors: DataFrame, vecCol: String, idCol: String,
      targetCell: Long, tau: Double, slicing: Slicing = Slicing.Whole,
      families: Int = 1, kmax: Int = Int.MaxValue,
      matPath: Option[String] = None, parallelism: Int = 1): DataFrame = {
    require(families >= 1, "families must be >= 1")
    val slice = sliceOf(vectors, vecCol, idCol, slicing, matPath)
    val chains = for { f <- 0 until families; tbl <- 0 until slicing.tables;
                       s <- slicing.shards } yield { () =>
      semDedupHier(slice(tbl, s), vecCol, idCol, targetCell, tau,
        seedCoarse = 31 + 1000 * f, seedFine = 37 + 1000 * f, kmax = kmax)
        .select(lit(f).as("family"), lit(tbl).as("tbl"),
          lit(s.toLong).as("shard"), col("coarse"), col("cell"),
          col(idCol), col("dup_of"), col("cos"))
    }
    val run =
      if (parallelism == 1) chains
      else chains.map(c => () => Checkpoints.pin(c()))
    Overlap.fanOut(run, parallelism, Checkpoints.release)
      .reduce(_ unionByName _)
  }

  /** The (table, shard) → input slice of a [[Slicing]]: the hash
    * slicings filter on their shard code, or with `matPath` write the
    * keyed materialization once and read back pruned partitions (the
    * [[semDedupSliced]] read-amplification note); [[Slicing.Materialized]]
    * reads the pruned partitions of the materialization it is given.
    */
  private def sliceOf(vectors: DataFrame, vecCol: String, idCol: String,
      slicing: Slicing, matPath: Option[String]): (Int, Int) => DataFrame = {
    def partition(keyed: DataFrame, cols: Seq[String]) = (tbl: Int, s: Int) =>
      keyed.filter(col("_tbl") === tbl && col("_shard") === s)
        .select(cols.map(col): _*)
    def hashed(codes: Seq[Column]) = matPath match {
      case None => (tbl: Int, s: Int) => vectors.filter(codes(tbl) === s)
      case Some(p) =>
        // explicit schema: inference-free (the partition columns' types
        // are declared, not re-derived from directory names) and an
        // EMPTY corpus reads back as an empty frame instead of failing
        // schema inference on a data-less directory
        val schema = materializeShards(vectors, codes, p)
        partition(vectors.sparkSession.read.schema(schema).parquet(p),
          vectors.columns.toSeq)
    }
    val noMat = s"matPath materializes a hash slicing, not $slicing"
    slicing match {
      case Slicing.Whole =>
        require(matPath.isEmpty, noMat)
        (_, _) => vectors
      case Slicing.IdHash(n) =>
        hashed(Seq(graft.functions.GraftFunctions.hash64(
          col(idCol).cast("string"), 5) % n))
      case Slicing.Content(dims, planes, tables) =>
        hashed(contentCodes(vecCol, dims, planes, tables))
      case _: Slicing.Materialized =>
        require(matPath.isEmpty, noMat)
        partition(vectors,
          vectors.columns.filterNot(Set("_tbl", "_shard")).toSeq)
    }
  }

  /** The per-table content shard codes: table t is the `shardPlanes`-bit
    * [[hyperplaneBucketAt]] code over planes [t·shardPlanes, …). */
  private def contentCodes(vecCol: String, dims: Int, shardPlanes: Int,
                           tables: Int): Seq[Column] =
    (0 until tables).map(t =>
      hyperplaneBucketAt(col(vecCol), dims, shardPlanes, t * shardPlanes))

  /** ONE input pass: every row fans into its per-table `(_tbl, _shard)`
    * rows (the [[multiTableBuckets]] shape), written `_tbl=/_shard=`
    * partitioned at the scratch `path`; returns the written schema. */
  private def materializeShards(vectors: DataFrame, codes: Seq[Column],
      path: String): org.apache.spark.sql.types.StructType = {
    val keyed = vectors.select(col("*"),
      posexplode(array(codes: _*)).as(Seq("_tbl", "_shard")))
    keyed.write.mode("overwrite").partitionBy("_tbl", "_shard").parquet(path)
    keyed.schema
  }

  /** Write the content-shard materialization [[Slicing.Content]] reads
    * with a `matPath` — `tables` rows per input row, `_tbl=/_shard=`
    * partitioned parquet at `path` (a SCRATCH path owned by this call —
    * pre-existing data is destroyed). Public so an ORCHESTRATOR can
    * write it once and fan the per-shard chains out as separate JVMs,
    * each reading it through [[Slicing.Materialized]] shard ranges;
    * returns the written schema.
    */
  def materializeContentShards(vectors: DataFrame, vecCol: String,
      dims: Int, shardPlanes: Int, tables: Int,
      path: String): org.apache.spark.sql.types.StructType =
    materializeShards(vectors, contentCodes(vecCol, dims, shardPlanes, tables),
      path)

  /** Sign-of-projection bucket code (0 .. 2^planes-1) for a vector
    * column: one zip_with dot product per plane against a literal
    * hyperplane array.
    */
  def hyperplaneBucket(vec: Column, dims: Int, planes: Int): Column =
    hyperplaneBucketAt(vec, dims, planes, 0)

  /** [[hyperplaneBucket]] against the plane family starting at GLOBAL
    * plane index `planeOffset` — table t of a multi-table code uses
    * offset t·planes, so every table draws its hyperplanes from a
    * disjoint slice of the same deterministic [[hpComponent]] family
    * (offset 0 IS the single-table code, bit-identical). The bucket
    * bits stay table-LOCAL (bit p, not bit offset+p): codes from
    * different tables are only ever compared at equal table ids.
    */
  private[operators] def hyperplaneBucketAt(vec: Column, dims: Int,
      planes: Int, planeOffset: Int): Column = {
    val bitVal = (0 until planes).map { p =>
      val plane = array((0 until dims).map(d =>
        lit(hpComponent(planeOffset + p, d))): _*)
      // native sequential dot — same order-sensitive double arithmetic as
      // the aggregate/zip_with composition the oracle mirrors
      val proj = dot(vec, plane)
      // Round before the sign test: the oracle recomputes this sum with
      // its own float pipeline, and an unrounded `> 0` at the boundary
      // could flip a bucket between engines.
      when(round(proj, 6) > 0, lit(1 << p)).otherwise(lit(0))
    }
    bitVal.reduce(_ + _)
  }

  /** One row per (input row, table): `tables` INDEPENDENT hyperplane
    * codes of `planes` bits each, table t drawn from the disjoint
    * [[hpComponent]] slice [t·planes, (t+1)·planes) — the OR-of-tables
    * recall structure (the MinHash banding discipline applied to bit
    * codes: a pair is a candidate when its codes agree in ANY table).
    * Why this beats one wide code at scale: a single code must GROW
    * with the corpus ([[autoPlanes]]) to keep buckets bounded, so a
    * fixed perturbation crosses ever more planes and recall erodes
    * with n; here `planes` is fixed by the CANDIDATE BUDGET instead
    * (expected verify work per corpus row against a b-bit, T-table
    * code over m probes ≈ T·m/2^planes at uniform occupancy — a
    * constant per row at any corpus size), and recall is
    * 1−(1−p^planes)^tables for per-plane agreement p — raised by
    * adding tables, never by coarsening buckets. One narrow map pass;
    * the corpus-side fan-out is `tables` rows per vector, never a
    * shuffle.
    */
  def multiTableBuckets(df: DataFrame, vecCol: String, dims: Int,
      planes: Int, tables: Int, tblOut: String, bktOut: String): DataFrame = {
    require(tables >= 1, "tables must be >= 1")
    df.select(col("*"), posexplode(array(
      contentCodes(vecCol, dims, planes, tables): _*)).as(Seq(tblOut, bktOut)))
  }

  /** Brute-force cosine top-k: for each probe vector, the `k` nearest
    * corpus vectors by cosine (ties broken by candidate id). Probe side is
    * explicitly broadcast — it is small by contract.
    */
  def knnExact(probes: DataFrame, corpus: DataFrame, k: Int): DataFrame = {
    // Norms are hoisted to per-side columns below the join: cosine
    // per pair would recompute both norms (3 dot products per pair
    // instead of 1). Same arithmetic, so oracle parity is unchanged.
    val pn = probes.withColumn("_pn", l2norm(col("pv")))
    val cn = corpus.withColumn("_cn", l2norm(col("cv")))
    val joined = broadcast(pn).join(cn, col("probe_id") =!= col("cand_id"))
      .withColumn("cos",
        round(dot(col("pv"), col("cv")) / (col("_pn") * col("_cn")), 6))
    val w = Window.partitionBy(col("probe_id"))
      .orderBy(col("cos").desc, col("cand_id"))
    joined
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
      .select("probe_id", "rn", "cand_id", "cos")
  }

  /** LSH-bucketed cosine top-k: probes and corpus are bucketed by
    * [[hyperplaneBucket]]; candidates are only the corpus vectors in the
    * probe's bucket. Approximate (a true neighbor in another bucket is
    * missed) but corpus-linear: the join shuffles on the bucket code.
    */
  def knnLsh(probes: DataFrame, corpus: DataFrame, dims: Int, planes: Int, k: Int): DataFrame = {
    val pb = probes.withColumn("bucket", hyperplaneBucket(col("pv"), dims, planes))
      .withColumn("_pn", l2norm(col("pv")))
    val cb = corpus.withColumn("bucket", hyperplaneBucket(col("cv"), dims, planes))
      .withColumn("_cn", l2norm(col("cv")))
    val joined = pb.join(cb, Seq("bucket"))
      .filter(col("probe_id") =!= col("cand_id"))
      .withColumn("cos",
        round(dot(col("pv"), col("cv")) / (col("_pn") * col("_cn")), 6))
    val w = Window.partitionBy(col("probe_id"))
      .orderBy(col("cos").desc, col("cand_id"))
    joined
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
      .select("probe_id", "bucket", "rn", "cand_id", "cos")
  }

  /** One row per (probe row, probed bucket): the base hyperplane
    * bucket plus the buckets reached by flipping the `nprobe−1`
    * least-confident plane bits (smallest |rounded projection| — the
    * boundaries a true neighbor is most likely to have crossed). The
    * standard LSH recall dial, shared by [[knnLshMultiprobe]] and
    * [[Contamination.semanticScores]]: probe-side fan-out only, the
    * corpus keeps exactly one bucket per vector, so candidates never
    * duplicate. Ties in |projection| break by plane index — the struct
    * sort is (|proj|, plane, bit) lexicographic — keeping the probed
    * set deterministic and oracle-reproducible. With nprobe = 1 this
    * is exactly `withColumn(out, hyperplaneBucket(...))` (no flips,
    * same sign test).
    *
    * The per-plane projections are STAGED as a column and both the
    * base bucket and the flip set derive from that one evaluation —
    * deriving the flips from a second [[hyperplaneBucket]] call would
    * re-run every dot product per row (and a third time inside the
    * flip lambda, where subexpression elimination cannot reach).
    */
  private[operators] def explodeProbeBuckets(probes: DataFrame, vecCol: String,
      dims: Int, planes: Int, nprobe: Int, out: String,
      planeOffset: Int = 0): DataFrame = {
    require(nprobe >= 1 && nprobe <= planes + 1, "nprobe must be in [1, planes+1]")
    if (nprobe == 1)
      return probes.withColumn(out,
        hyperplaneBucketAt(col(vecCol), dims, planes, planeOffset))
    val projs = (0 until planes).map { p =>
      val plane = array((0 until dims).map(d =>
        lit(hpComponent(planeOffset + p, d))): _*)
      val proj = round(dot(col(vecCol), plane), 6)
      struct(abs(proj).as("a"), lit(p).as("p"), lit(1 << p).as("b"),
        when(proj > 0, lit(1 << p)).otherwise(lit(0)).as("s"))
    }
    probes
      .withColumn("_pp", array(projs: _*))
      // base bucket = Σ sign bits — the same rounded sign test as
      // hyperplaneBucket, read from the staged projections
      .withColumn("_b0",
        aggregate(col("_pp"), lit(0), (acc, f) => acc + f.getField("s")))
      .withColumn(out, explode(concat(
        array(col("_b0")),
        transform(slice(array_sort(col("_pp")), 1, nprobe - 1),
          f => col("_b0").bitwiseXOR(f.getField("b"))))))
      .drop("_pp", "_b0")
  }

  /** [[explodeProbeBuckets]] per table of a [[multiTableBuckets]] code:
    * one row per (probe row, table, probed bucket) — table t's probes
    * drawn from plane offset t·planes, with the nprobe Hamming fan-out
    * applied WITHIN each table. The probe side is small by contract
    * (this is the test/query relation), so the T-way union is a
    * broadcast-sized structure, never a corpus cost.
    */
  private[operators] def explodeMultiTableProbes(probes: DataFrame,
      vecCol: String, dims: Int, planes: Int, tables: Int, nprobe: Int,
      tblOut: String, bktOut: String): DataFrame = {
    require(tables >= 1, "tables must be >= 1")
    (0 until tables).map { t =>
      explodeProbeBuckets(probes, vecCol, dims, planes, nprobe, bktOut,
        planeOffset = t * planes).withColumn(tblOut, lit(t))
    }.reduce(_ unionByName _)
  }

  /** LSH top-k with multi-probe ([[explodeProbeBuckets]] on the probe
    * side; the IVF twin is [[knnIvf]]'s nprobe).
    */
  def knnLshMultiprobe(probes: DataFrame, corpus: DataFrame, dims: Int,
                       planes: Int, k: Int, nprobe: Int = 2): DataFrame = {
    val pb = explodeProbeBuckets(probes, "pv", dims, planes, nprobe, "bucket")
      .withColumn("_pn", l2norm(col("pv")))
    val cb = corpus.withColumn("bucket", hyperplaneBucket(col("cv"), dims, planes))
      .withColumn("_cn", l2norm(col("cv")))
    val joined = pb.join(cb, Seq("bucket"))
      .filter(col("probe_id") =!= col("cand_id"))
      .withColumn("cos",
        round(dot(col("pv"), col("cv")) / (col("_pn") * col("_cn")), 6))
    val w = Window.partitionBy(col("probe_id"))
      .orderBy(col("cos").desc, col("cand_id"))
    joined
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
      .select("probe_id", "bucket", "rn", "cand_id", "cos")
  }

  /** IVF cell assignment: the `nprobe` nearest centroids by cosine
    * (ties → smallest centroid id). With the default nprobe=1 this is
    * the inverted-list builder (each vector in exactly one cell); with
    * nprobe>1 it is the PROBE-side multi-cell assignment (one row per
    * (vector, probed cell)). `centroids` must be broadcast-small — it
    * is the IVF coarse quantizer (k-means in production; any
    * deterministic vector sample works for the mechanism). One pass
    * over the vectors.
    */
  def ivfAssign(vectors: DataFrame, vecCol: String, idCol: String,
                centroids: DataFrame, nprobe: Int = 1): DataFrame = {
    require(nprobe >= 1, "nprobe must be >= 1")
    if (nprobe == 1) {
      // single-cell assignment = the [[bestCell]] narrow fold over the
      // one-row collected codebook: no candidate fan-out, no exchange,
      // no sort — same argmax (highest round-6 cosine, ties to the
      // smallest centroid id), one map pass at any corpus size
      vectors.crossJoin(broadcast(centArray(centroids, Nil)))
        .withColumn("_nv", l2norm(col(vecCol)))
        .withColumn("cell", bestCell(col(vecCol), col("_nv")))
        .select((vectors.columns.toSeq :+ "cell").map(col): _*)
    } else {
      val joined = vectors.crossJoin(broadcast(centroids))
        .withColumn("_ccos",
          round(cosine(col(vecCol), col("centroid_vec")), 6))
      val w = Window.partitionBy(col(idCol))
        .orderBy(col("_ccos").desc, col("centroid_id"))
      joined
        .withColumn("_rn", row_number().over(w))
        .filter(col("_rn") <= nprobe)
        .drop("_rn", "_ccos", "centroid_vec")
        .withColumnRenamed("centroid_id", "cell")
    }
  }

  /** IVF top-k: probes search the inverted lists of their `nprobe`
    * nearest cells (the corpus side is always single-cell — a candidate
    * lives in exactly one list, so multi-probe never duplicates it).
    * Corpus-linear like LSH, but the cells adapt to the data
    * distribution instead of being fixed hyperplane signs; raising
    * nprobe buys recall for `nprobe ×` the probe-side join fan-out —
    * the standard IVF recall/cost dial, NOT a corpus-side cost.
    */
  def knnIvf(probes: DataFrame, corpus: DataFrame, centroids: DataFrame,
             k: Int, nprobe: Int = 1): DataFrame = {
    val pc = ivfAssign(probes, "pv", "probe_id", centroids, nprobe)
    val cc = ivfAssign(corpus, "cv", "cand_id", centroids)
    val joined = pc.withColumn("_pn", l2norm(col("pv")))
      .join(cc.withColumn("_cn", l2norm(col("cv"))), Seq("cell"))
      .filter(col("probe_id") =!= col("cand_id"))
      .withColumn("cos",
        round(dot(col("pv"), col("cv")) / (col("_pn") * col("_cn")), 6))
    val w = Window.partitionBy(col("probe_id"))
      .orderBy(col("cos").desc, col("cand_id"))
    joined
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
      .select("probe_id", "cell", "rn", "cand_id", "cos")
  }

  /** Write the IVF index ONCE as catalog tables: the centroid codebook
    * (`{prefix}_centroids` — tiny) and the corpus inverted lists
    * (`{prefix}_lists` — one row per corpus vector with its cell and
    * PRECOMPUTED norm, bucketed by `cell`, the probe join key). This is
    * the ANN production shape at 100 TB, the vector twin of
    * [[Dedup.writeBandIndex]]: cell assignment and norms are paid once
    * at index-build time; every later probe batch equi-joins INTO the
    * bucketed lists with no corpus-side shuffle or recompute
    * ([[knnIvfIndexed]]; plan pinned by IvfIndexSpec).
    */
  def writeIvfIndex(corpus: DataFrame, centroids: DataFrame,
                    prefix: String, buckets: Int): (String, String) = {
    val lists = ivfAssign(corpus, "cv", "cand_id", centroids)
      .withColumn("_cn", l2norm(col("cv")))
    (ScaleJoins.writeBucketed(centroids, s"${prefix}_centroids", "centroid_id", 1),
      ScaleJoins.writeBucketed(lists, s"${prefix}_lists", "cell", buckets))
  }

  /** Reopen the [[writeIvfIndex]] tables: (centroids, lists). Deletes
    * recorded via [[Tombstones.write]] against the same prefix filter
    * the lists by a broadcast anti-join — a deleted vector stops being
    * a candidate immediately, the bucketed `cell` partitioning
    * survives, and the frozen quantizer (centroids) is untouched.
    */
  def readIvfIndex(spark: org.apache.spark.sql.SparkSession,
                   prefix: String): (DataFrame, DataFrame) =
    (spark.table(s"${prefix}_centroids"),
      Tombstones.filter(spark, prefix,
        spark.table(s"${prefix}_lists"), "cand_id"))

  /** Physically remove tombstoned vectors from a [[writeIvfIndex]]
    * lists table (the band-index compaction pattern): rewrite the
    * bucketed lists from the tombstone-filtered read — the centroid
    * codebook is a frozen quantizer and never rewrites — then drop the
    * tombstone table.
    */
  def compactIvfIndex(spark: org.apache.spark.sql.SparkSession,
                      prefix: String, buckets: Int): Unit = {
    // snapshot + retire, not clear: a delete arriving during the
    // rewrite must survive the epilogue (Dedup.compactBandIndex note)
    val snap = Tombstones.snapshot(spark, prefix)
    val kept = Tombstones.filterWith(
        spark.table(s"${prefix}_lists"), snap, "cand_id")
      .pipe(Checkpoints.pin) // staged: the rewrite reads the table it replaces
    ScaleJoins.writeBucketed(kept, s"${prefix}_lists", "cell", buckets)
    Tombstones.retire(spark, prefix, snap)
    snap.foreach(Checkpoints.release)
  }

  /** IVF top-k against a PERSISTED index ([[writeIvfIndex]]): identical
    * semantics to [[knnIvf]], but the corpus side comes pre-assigned
    * and pre-normed from the bucketed lists table — only the probes are
    * assigned per run, and the cell join reads the corpus
    * co-partitioned from disk.
    */
  def knnIvfIndexed(probes: DataFrame, centroids: DataFrame, lists: DataFrame,
                    k: Int, nprobe: Int = 1): DataFrame = {
    val pc = ivfAssign(probes, "pv", "probe_id", centroids, nprobe)
      .withColumn("_pn", l2norm(col("pv")))
    val joined = pc.join(lists, Seq("cell"))
      .filter(col("probe_id") =!= col("cand_id"))
      .withColumn("cos",
        round(dot(col("pv"), col("cv")) / (col("_pn") * col("_cn")), 6))
    val w = Window.partitionBy(col("probe_id"))
      .orderBy(col("cos").desc, col("cand_id"))
    joined
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
      .select("probe_id", "cell", "rn", "cand_id", "cos")
  }

  /** Spherical k-means (Lloyd's) — the trained coarse quantizer for
    * [[knnIvf]]: returns `(centroid_id, centroid_vec)` in exactly the
    * shape `knnIvf`/`ivfAssign` consume, so
    * `knnIvf(probes, corpus, kmeans(corpus, …), k)` is the production
    * IVF pipeline (a hash-picked centroid sample bootstraps the
    * mechanism; a trained codebook is what makes the cells balanced).
    *
    * Every step is deterministic and engine-portable, so a re-run (or
    * the SQL oracle) reproduces the identical codebook:
    *  - init: the `k` vectors with the smallest `hash64(id, seed)`
    *    (ties by id) — no `rand()`;
    *  - assign: argmax cosine against the broadcast centroids
    *    ([[ivfAssign]] — cosine rounded to 6 before the argmax, so a
    *    boundary tie cannot flip between engines), one corpus pass per
    *    iteration;
    *  - update: per-dimension arithmetic mean via an EXACT decimal sum
    *    (float addition is order-sensitive; a plain double `avg` would
    *    differ across partitionings), cast to double and rounded to 9
    *    places — cosine-argmax against the unnormalized mean equals the
    *    spherical-k-means normalized update, so no normalization step;
    *  - empty cells keep their previous centroid.
    *
    * Scale: per iteration one broadcast-assign pass (n·k dot products,
    * map-side) + one (cell, dim) shuffle of exploded coordinates —
    * bounded by rows × dims, never by cell size. The tiny codebook is
    * pinned per iteration (lineage otherwise grows per round) and the
    * superseded pin released. Callers should persist `vectors` across
    * the `iters` passes.
    */
  def kmeans(vectors: DataFrame, vecCol: String, idCol: String,
             k: Int, iters: Int, seed: Int = 0): DataFrame = {
    require(k >= 1, "k must be >= 1")
    require(iters >= 0, "iters must be >= 0")
    val h = hash64(col(idCol).cast("string"), seed)
    // The id-assignment window runs on ≤ k rows, so one task is fine —
    // partition on a constant-valued (but non-foldable, else the
    // optimizer erases it and WindowExec warns about a global window
    // every call) expression to say so explicitly.
    val w0 = Window.partitionBy(col(idCol) % 1).orderBy(h, col(idCol))
    val init = vectors
      .orderBy(h, col(idCol)).limit(k)
      .select((row_number().over(w0) - 1).cast("long").as("centroid_id"),
        col(vecCol).as("centroid_vec"))
    var cent = Checkpoints.pin(init)
    for (_ <- 0 until iters) {
      val assigned = ivfAssign(
        vectors.select(col(idCol), col(vecCol)), vecCol, idCol, cent)
      val next = Checkpoints.pin(lloydNext(assigned, cent, Nil, vecCol))
      Checkpoints.release(cent)
      cent = next
    }
    cent
  }

  // ---- product quantization -------------------------------------------------

  /** Train an m-subspace product-quantization codebook: the vector is
    * split into `m` contiguous `subDim`-wide subvectors and each
    * subspace gets its own independent spherical-k-means codebook (seed
    * `seed + subspace`, so the inits decorrelate). Returns
    * `(subspace, centroid_id, centroid_vec)` — m·k rows, tiny by
    * construction; PQ's storage win is that the corpus then keeps only
    * `m` small codes (here m·3 bits) instead of `m·subDim` floats.
    * Callers should persist `vectors` across the training passes.
    *
    * All m trainings run BATCHED in one frame keyed by `subspace` —
    * value-identical to m sequential [[kmeans]] runs (same hash init
    * per `seed + subspace`, same round-6 cosine argmax, same
    * exact-decimal mean, same empty-cell carry-over; PqSpec pins it),
    * but each Lloyd iteration is ONE assign-window job + ONE (subspace,
    * cell, dim) aggregation instead of m of each — m× fewer jobs and
    * checkpoint pins, the dominant cost of the fixed-size training.
    */
  def pqTrain(vectors: DataFrame, vecCol: String, idCol: String,
              m: Int, subDim: Int, k: Int, iters: Int, seed: Int): DataFrame = {
    require(m >= 1 && subDim >= 1, "m and subDim must be >= 1")
    require(k >= 1 && iters >= 0, "k >= 1 and iters >= 0")
    val id = col(idCol)
    // (id, subspace, _sub): every subspace's slice of every vector
    val sub = vectors.select(id, posexplode(array((0 until m).map(j =>
        slice(col(vecCol), j * subDim + 1, subDim)): _*))
      .as(Seq("subspace", "_sub")))
    // per-subspace init hash — the same md5 string kmeans builds from
    // its Int seed, with the seed arithmetic lifted to a column
    val h = conv(substring(md5(concat(
        (col("subspace") + seed).cast("string"), lit(":"), id.cast("string"))),
      1, 15), 16, 10).cast("long")
    val wInit = Window.partitionBy(col("subspace")).orderBy(h, id)
    val init = sub
      .withColumn("_rn", row_number().over(wInit))
      .filter(col("_rn") <= k)
      .select(col("subspace"), (col("_rn") - 1).cast("long").as("centroid_id"),
        col("_sub").as("centroid_vec"))
    var cent = Checkpoints.pin(init)
    for (_ <- 0 until iters) {
      // [[bestCell]] narrow-fold assignment per (row, subspace): each
      // subvector joins its subspace's collected codebook row
      // (broadcast — m rows by construction) and folds to its argmax
      // in place (same round-6 cosine argmax, ties to the smallest
      // centroid id) — no k-candidate fan-out, no window
      val assigned = sub
        .join(broadcast(centArray(cent, Seq("subspace"))), Seq("subspace"))
        .withColumn("_nv", l2norm(col("_sub")))
        .withColumn("cell", bestCell(col("_sub"), col("_nv")))
        .select(col("subspace"), col("cell"), col("_sub"))
      val next = Checkpoints.pin(
        lloydNext(assigned, cent, Seq("subspace"), "_sub"))
      Checkpoints.release(cent)
      cent = next
    }
    cent
  }

  /** PQ code of subspace `j` as a NARROW per-row expression: argmax
    * rounded cosine of the subvector against the (collected, literal)
    * centroid list `cents` — `cents(c)` must be centroid `c`'s vector,
    * ordered by centroid id, so `array_position`'s first-match is the
    * smallest-id tie-break the training assignment uses. Inlining the
    * tiny codebook keeps encode scan-fused: no join, no shuffle, the
    * 100 TB corpus is coded in one map pass.
    */
  def pqCodeCol(vec: Column, j: Int, subDim: Int,
                cents: Seq[Seq[Double]]): Column = {
    val sub = slice(vec, j * subDim + 1, subDim)
    val sims = array(cents.map(c => round(cosine(sub, typedLit(c)), 6)): _*)
    (array_position(sims, array_max(sims)) - 1).cast("int")
  }

  /** Reconstructed (decoded) vector from per-subspace code columns:
    * the concatenation of each subspace's chosen centroid, looked up in
    * the literal codebook `cents(j)(code)`. Narrow like [[pqCodeCol]];
    * approximate-distance scans compare probes against this
    * reconstruction (asymmetric distance — the probe side stays exact).
    */
  def pqReconCol(codeCols: Seq[Column], cents: Seq[Seq[Seq[Double]]]): Column =
    concat(codeCols.zipWithIndex.map { case (code, j) =>
      element_at(typedLit(cents(j)), code + 1)
    }: _*)

  /** Collect a [[pqTrain]] codebook into the literal
    * `cents(subspace)(centroidId)` form [[pqCodeCol]]/[[pqReconCol]]
    * inline — m·k tiny rows, the literal-broadcast pattern.
    */
  def pqCollect(codebook: DataFrame, m: Int): Seq[Seq[Seq[Double]]] = {
    val rows = codebook.collect()
    (0 until m).map { j =>
      rows.filter(_.getInt(0) == j).sortBy(_.getLong(1))
        .map(_.getSeq[Double](2).toSeq).toSeq
    }
  }

  private val pqArtifactMemo =
    new java.util.concurrent.ConcurrentHashMap[String, Seq[Seq[Seq[Double]]]]()

  /** Train-once PQ codebook ARTIFACT — the production counterpart of
    * calling [[pqTrain]] inline: the first caller for `artifactPath`
    * trains the codebook (the by-name `train` frame), writes it as a
    * committed parquet directory, and every later caller — in this JVM
    * (memoized) or another — reads the tiny artifact instead of
    * re-running the m k-means trainings. This is the [[writeIvfIndex]]
    * shape applied to the PQ codebook: at 100 TB the codebook is a
    * build-time index artifact probed by every query batch, never a
    * per-query training job.
    *
    * Commit protocol: train into a scratch sibling, then one atomic
    * directory rename onto `artifactPath` — a half-written artifact is
    * never visible under the final name, and a concurrent builder
    * losing the rename race just deletes its scratch copy (the training
    * is deterministic, so both copies are identical). Requires a
    * filesystem with atomic rename (local FS/HDFS), like
    * [[graft.operators.Compaction.compactDir]]. Callers must key
    * `artifactPath` by BOTH the training config and a fingerprint of
    * the input data, so a regenerated dataset can never serve a stale
    * codebook.
    */
  def pqCodebookOnce(spark: org.apache.spark.sql.SparkSession,
                     artifactPath: String, m: Int)
                    (train: => DataFrame): Seq[Seq[Seq[Double]]] =
    pqArtifactMemo.computeIfAbsent(artifactPath, _ => {
      import java.nio.file.{Files, Paths, StandardCopyOption}
      val dst = Paths.get(artifactPath)
      if (!Files.exists(dst)) {
        Files.createDirectories(dst.getParent)
        val tmp = Paths.get(
          artifactPath + ".build-" + java.util.UUID.randomUUID().toString.take(8))
        train.select(col("subspace"), col("centroid_id"), col("centroid_vec"))
          .coalesce(1).write.mode("overwrite").parquet(tmp.toString)
        try Files.move(tmp, dst, StandardCopyOption.ATOMIC_MOVE)
        catch { case _: java.nio.file.FileAlreadyExistsException =>
          // lost the race to an identical artifact; drop the scratch copy
          val fs = org.apache.hadoop.fs.FileSystem.getLocal(
            spark.sparkContext.hadoopConfiguration)
          fs.delete(new org.apache.hadoop.fs.Path(tmp.toString), true)
        }
      }
      pqCollect(spark.read.parquet(artifactPath)
        .select(col("subspace").cast("int"), col("centroid_id").cast("long"),
          col("centroid_vec")), m)
    })

  /** PQ asymmetric-distance top-k: probes `(probe_id, pv)` against the
    * corpus `(cand_id, cv)` decoded through the literal codebook —
    * [[knnExact]]'s broadcast-probe shape with the candidate side
    * reconstructed from its codes (all narrow, no extra shuffle).
    */
  def knnPq(probes: DataFrame, corpus: DataFrame,
            cents: Seq[Seq[Seq[Double]]], subDim: Int, k: Int): DataFrame = {
    val m = cents.length
    val codes = (0 until m).map(j => pqCodeCol(col("cv"), j, subDim, cents(j)))
    val cn = corpus.select(col("cand_id"), pqReconCol(codes, cents).as("rv"))
      .withColumn("_rvn", l2norm(col("rv")))
    val pn = probes.withColumn("_pn", l2norm(col("pv")))
    val joined = broadcast(pn).join(cn, col("probe_id") =!= col("cand_id"))
      .withColumn("cos",
        round(dot(col("pv"), col("rv")) / (col("_pn") * col("_rvn")), 6))
    val w = Window.partitionBy(col("probe_id"))
      .orderBy(col("cos").desc, col("cand_id"))
    joined
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
      .select("probe_id", "rn", "cand_id", "cos")
  }

  /** IVF-PQ composite top-k — the standard large-scale index shape:
    * the coarse `centroids` quantizer restricts candidates to the
    * probe's cell (an EQUI-join — candidates ∝ cell size, never the
    * corpus), and within the cell candidates rank by PQ asymmetric
    * distance against their literal-codebook reconstruction. One
    * definition serves both q71 and q50's recall row, so the measured
    * index and the answering index can never drift.
    */
  def knnIvfPq(probes: DataFrame, corpus: DataFrame, centroids: DataFrame,
               cents: Seq[Seq[Seq[Double]]], subDim: Int, k: Int): DataFrame = {
    val m = cents.length
    val pr = ivfAssign(probes, "pv", "probe_id", centroids)
      .select(col("probe_id"), col("pv"), col("cell"))
      .withColumn("_pn", l2norm(col("pv")))
    val codes = (0 until m).map(j => pqCodeCol(col("cv"), j, subDim, cents(j)))
    val cr = ivfAssign(corpus, "cv", "cand_id", centroids)
      .select(col("cand_id"), col("cell"), pqReconCol(codes, cents).as("rv"))
      .withColumn("_rvn", l2norm(col("rv")))
    val w = Window.partitionBy(col("probe_id"))
      .orderBy(col("cos").desc, col("cand_id"))
    pr.join(cr, Seq("cell"))
      .filter(col("probe_id") =!= col("cand_id"))
      .withColumn("cos",
        round(dot(col("pv"), col("rv")) / (col("_pn") * col("_rvn")), 6))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
      .select("probe_id", "rn", "cell", "cand_id", "cos")
  }

  /** SemDeDup-style semantic dedup (Abbas et al. 2023, arXiv:2303.09540):
    * partition the corpus into k-means cells, then WITHIN each cell drop
    * every vector whose cosine to a lower-id cell-mate reaches `tau` —
    * the keep-first rule makes the verdict a pure function of the data
    * (no iteration order). Each dropped vector reports `dup_of`: its
    * SMALLEST duplicate partner, which under a transitive chain (1≈2,
    * 2≈3, 1≉3) may itself be dropped — vector 3 reports dup_of=2 while
    * 2 reports dup_of=1. The surviving canonical is the chain's root
    * (follow `dup_of` until an id absent from the dropped set; the
    * minimum of every chain always survives, since it has no lower-id
    * partner). Callers wanting one-hop canonical attribution should run
    * [[graft.operators.Dedup.connectedComponents]] over the pairs
    * instead. Complements [[embeddingNearDupPairs]]: hyperplane
    * buckets are fixed-direction slices, k-means cells adapt to the
    * density, which is what the published method exploits.
    *
    * Returns one row per DROPPED vector: `(cell, id, dup_of, cos)`.
    *
    * Scale shape: assignment is one broadcast pass; the pair generation
    * is a cell-local equi-join — never corpus all-pairs. Σ|cell|² is the
    * cost, so `k` must grow with the corpus to keep cells bounded
    * (SemDeDup trains 50k clusters for billions of points); the join
    * shuffles on `cell`, and a runaway cell is AQE-skew-splittable
    * because the join key is a plain column.
    */
  def semDedup(vectors: DataFrame, vecCol: String, idCol: String,
               centroids: DataFrame, tau: Double): DataFrame = {
    val assigned = ivfAssign(vectors, vecCol, idCol, centroids)
      .withColumn("_n", l2norm(col(vecCol)))
    val a = assigned.select(col("cell"), col(idCol).as("id_a"),
      col(vecCol).as("_va"), col("_n").as("_na"))
    val b = assigned.select(col("cell"), col(idCol).as("id_b"),
      col(vecCol).as("_vb"), col("_n").as("_nb"))
    val dup = a.join(b, Seq("cell"))
      .filter(col("id_a") < col("id_b"))
      .withColumn("cos",
        round(dot(col("_va"), col("_vb")) / (col("_na") * col("_nb")), 6))
      .filter(col("cos") >= tau)
    // keep-smallest-partner via min(struct) — the [[semDedupHier]]
    // pair-pass rewrite: id_a unique per id_b, payload never compared
    dup
      .groupBy(col("id_b"))
      .agg(min(struct(col("id_a"), col("cos"), col("cell"))).as("_b"))
      .select(col("_b.cell").as("cell"), col("id_b").as(idCol),
        col("_b.id_a").as("dup_of"), col("_b.cos").as("cos"))
  }

  /** Embedding-cosine near-duplicate pairs: LSH-bucket the corpus, emit
    * within-bucket pairs above the similarity threshold. The dedup twin
    * of [[knnLsh]] — never all-pairs.
    */
  def embeddingNearDupPairs(vectors: DataFrame, vecCol: String, idCol: String,
                            dims: Int, planes: Int, threshold: Double): DataFrame = {
    val b = vectors.withColumn("bucket", hyperplaneBucket(col(vecCol), dims, planes))
      .withColumn("_n", l2norm(col(vecCol)))
    val l = b.select(col("bucket"), col(idCol).as("id_a"), col(vecCol).as("va"), col("_n").as("_na"))
    val r = b.select(col("bucket"), col(idCol).as("id_b"), col(vecCol).as("vb"), col("_n").as("_nb"))
    l.join(r, Seq("bucket"))
      .filter(col("id_a") < col("id_b"))
      .withColumn("cos",
        round(dot(col("va"), col("vb")) / (col("_na") * col("_nb")), 6))
      .filter(col("cos") >= threshold)
      .select("id_a", "id_b", "cos")
  }
}
