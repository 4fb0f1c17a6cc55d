package graft.operators

import graft.SparkSpec

/** [[Similarity.semDedup]]: keep-first verdicts within a cell, the
  * reported kept partner, cell-locality of the candidate pairs, and
  * determinism across reruns.
  *
  * The [[Similarity.semDedupSliced]] cases keep the titles they had when
  * each slicing was its own entry point: `semDedupHierSharded` is
  * [[Similarity.Slicing.IdHash]], `…ShardedByContent` is
  * [[Similarity.Slicing.Content]], `…FromMat` is
  * [[Similarity.Slicing.Materialized]] and `…Multi` is `families`.
  */
class SemDedupSpec extends SparkSpec {

  import org.apache.spark.sql.functions._
  import spark.implicits._
  import Similarity.Slicing
  import scala.jdk.CollectionConverters._

  // axis-aligned 2-cell quantizer
  private def cents = Seq(
    (0L, Seq(1.0, 0.0)), (1L, Seq(0.0, 1.0))
  ).toDF("centroid_id", "centroid_vec")

  private def vecs = Seq(
    (1L, Seq(1.0, 0.01)),  // cell 0, kept (lowest id of the dup set)
    (2L, Seq(0.99, 0.0)),  // cell 0, dup of 1 → dropped, partner 1
    (3L, Seq(0.97, 0.05)), // cell 0, dup of 1 AND 2 → dropped, partner 1
    (4L, Seq(0.0, 1.0)),   // cell 1, alone
    (5L, Seq(0.3, 1.0))    // cell 1, cos(4,5) ≈ 0.96 < 0.99 → kept
  ).toDF("vec_id", "embedding")

  test("keep-first within a cell; dropped rows report the smallest partner") {
    val out = Similarity.semDedup(vecs, "embedding", "vec_id", cents, tau = 0.99)
      .orderBy($"vec_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(out.toSeq == Seq((0L, 2L, 1L), (0L, 3L, 1L)),
      s"expected ids 2 and 3 dropped with partner 1, got ${out.toSeq}")
  }

  test("transitive chain: dup_of may itself be dropped; the chain minimum survives") {
    // angles 0°/17°/34°: cos(1,2)=cos(2,3)≈0.956 ≥ τ, cos(1,3)≈0.829 < τ
    def at(deg: Double) =
      Seq(math.cos(math.toRadians(deg)), math.sin(math.toRadians(deg)))
    val chain = Seq((1L, at(0)), (2L, at(17)), (3L, at(34)))
      .toDF("vec_id", "embedding")
    val out = Similarity.semDedup(chain, "embedding", "vec_id", cents, tau = 0.95)
      .orderBy($"vec_id")
      .collect().map(r => (r.getLong(1), r.getLong(2)))
    // 3's smallest partner is 2 — which is itself dropped (dup_of=1);
    // following the chain bottoms out at 1, the surviving minimum
    assert(out.toSeq == Seq((2L, 1L), (3L, 2L)),
      s"chain must report per-hop partners, got ${out.toSeq}")
  }

  test("duplicates split across cells are not candidates") {
    // identical vectors forced into different cells by the quantizer:
    // near the 45° boundary a tiny nudge flips the assignment
    val boundary = Seq(
      (1L, Seq(1.0, 0.999)), // cos to c0 wins
      (2L, Seq(0.999, 1.0))  // cos to c1 wins
    ).toDF("vec_id", "embedding")
    val out = Similarity.semDedup(boundary, "embedding", "vec_id", cents, tau = 0.9)
    assert(out.count() == 0L,
      "cell-local semdedup must not see cross-cell pairs (recall is the k dial)")
  }

  test("deterministic across reruns") {
    def run() = Similarity.semDedup(vecs, "embedding", "vec_id", cents, tau = 0.99)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      .toSet
    assert(run() == run())
  }

  test("tau above every within-cell cosine drops nothing") {
    val out = Similarity.semDedup(vecs, "embedding", "vec_id", cents, tau = 0.9999999)
    assert(out.count() == 0L)
  }

  test("autoCells: integer-exact ceil(n/target), floored at 1, k grows with n") {
    assert(Similarity.autoCells(0, 64) == 1)   // empty corpus still trains 1 cell
    assert(Similarity.autoCells(1, 64) == 1)
    assert(Similarity.autoCells(64, 64) == 1)  // exact multiple: no phantom cell
    assert(Similarity.autoCells(65, 64) == 2)
    assert(Similarity.autoCells(500, 64) == 8)   // the sf0.01 embeddings count
    assert(Similarity.autoCells(2000, 64) == 32) // the sf0.1 embeddings count
    // the scale property: 100x the data is ~100x the cells, so the
    // expected within-cell pair work (n · targetCell) stays linear
    assert(Similarity.autoCells(640000, 64) == 100 * Similarity.autoCells(6400, 64))
    intercept[IllegalArgumentException](Similarity.autoCells(10, 0))
  }

  test("coarseCells: smallest g with g^2*t >= n — both assignment levels n*sqrt(n/t)") {
    assert(Similarity.coarseCells(1, 64) == 1)
    assert(Similarity.coarseCells(64, 64) == 1)
    assert(Similarity.coarseCells(256, 64) == 2)  // 2^2*64 = 256 exactly
    assert(Similarity.coarseCells(257, 64) == 3)
    assert(Similarity.coarseCells(2000, 64) == 6)   // sf0.1: 6^2*64=2304 >= 2000
    assert(Similarity.coarseCells(200000, 64) == 56) // the 100x soak corpus
    // the scale property: g grows with sqrt(n), so assignment cost
    // n*g is n^1.5/sqrt(t), never the flat quantizer's n^2/t
    assert(Similarity.coarseCells(640000, 64) == 100)
    intercept[IllegalArgumentException](Similarity.coarseCells(10, 0))
  }

  test("kmeansGrouped == an independent flat kmeans per group (same seed)") {
    // two groups with different sizes → different derived cell counts
    // (target 2: |A|=5 → 3 cells, |B|=3 → 2 cells)
    val gvecs = Seq(
      ("A", 1L, Seq(1.0, 0.0)), ("A", 2L, Seq(0.9, 0.1)),
      ("A", 3L, Seq(0.0, 1.0)), ("A", 4L, Seq(0.1, 0.9)),
      ("A", 5L, Seq(0.7, 0.7)),
      ("B", 11L, Seq(1.0, 0.2)), ("B", 12L, Seq(0.2, 1.0)),
      ("B", 13L, Seq(0.6, 0.6))
    ).toDF("g", "vec_id", "embedding")
    val grouped = Similarity.kmeansGrouped(gvecs, "embedding", "vec_id",
        "g", targetCell = 2L, iters = 2, seed = 37)
      .collect()
      .map(r => (r.getString(0), r.getLong(1)) -> r.getSeq[Double](2).toSeq)
      .toMap
    for ((grp, mc) <- Seq(("A", 3), ("B", 2))) {
      val flat = Similarity.kmeans(
          gvecs.filter($"g" === grp).select($"vec_id", $"embedding"),
          "embedding", "vec_id", k = mc, iters = 2, seed = 37)
        .collect().map(r => r.getLong(0) -> r.getSeq[Double](1).toSeq).toMap
      for ((cid, c) <- flat)
        assert(grouped((grp, cid)) == c,
          s"group $grp cell $cid: batched ${grouped((grp, cid))} != flat $c")
      assert(grouped.keys.count(_._1 == grp) == flat.size)
    }
  }

  test("semDedupHier: exact twins always share a cell and drop keep-smallest-id") {
    // exact duplicates get identical round-6 cosines to EVERY centroid at
    // both levels, so the argmax tie-break lands them in the same fine
    // cell no matter what the trained quantizers look like
    val base = (0 until 24).map { i =>
      val a = math.toRadians(i * 15.0)
      (100L + i, Seq(math.cos(a), math.sin(a)))
    }
    val twins = Seq((1L, base(3)._2), (2L, base(3)._2), (3L, base(11)._2))
    val df = (base ++ twins).toDF("vec_id", "embedding")
    val out = Similarity.semDedupHier(df, "embedding", "vec_id",
        targetCell = 4L, tau = 0.999999)
      .collect().map(r => (r.getLong(2), r.getLong(3))).toSet
    assert(out.contains((2L, 1L)), s"twin 2 must drop with partner 1: $out")
    assert(out.contains((103L, 1L)), s"103 duplicates 1, 2 and 100+3; its smallest partner is 1: $out")
  }

  test("kmeansGrouped maxCells caps the per-group codebook — the " +
    "assignment cost class is |group| * maxCells past the cap") {
    val gvecs = Seq(
      ("A", 1L, Seq(1.0, 0.0)), ("A", 2L, Seq(0.9, 0.1)),
      ("A", 3L, Seq(0.0, 1.0)), ("A", 4L, Seq(0.1, 0.9)),
      ("A", 5L, Seq(0.7, 0.7)),
      ("B", 11L, Seq(1.0, 0.2)), ("B", 12L, Seq(0.2, 1.0)),
      ("B", 13L, Seq(0.6, 0.6))
    ).toDF("g", "vec_id", "embedding")
    // target 1: derived cells = |group| (5 and 3); the cap pins both at 2
    val capped = Similarity.kmeansGrouped(gvecs, "embedding", "vec_id",
        "g", targetCell = 1L, iters = 2, seed = 37, maxCells = 2)
      .collect().map(r => r.getString(0)).groupBy(identity)
      .view.mapValues(_.length).toMap
    assert(capped == Map("A" -> 2, "B" -> 2),
      s"codebooks must stop at maxCells centroids per group: $capped")
    // a cap above every derived count is byte-identical to the default
    def flatten(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getString(0), r.getLong(1), r.getSeq[Double](2).toSeq))
      .toSet
    assert(
      flatten(Similarity.kmeansGrouped(gvecs, "embedding", "vec_id", "g",
        targetCell = 2L, iters = 2, seed = 37, maxCells = 100)) ==
      flatten(Similarity.kmeansGrouped(gvecs, "embedding", "vec_id", "g",
        targetCell = 2L, iters = 2, seed = 37)),
      "an unreached cap must not change the codebook")
  }

  test("semDedupHier kmax bounds BOTH codebooks (cell ids stay under the " +
    "cap); defaults off — unreached cap is byte-identical") {
    // 12 directions, one exact twin each: drops land all around the circle
    val base = (0 until 12).map { i =>
      val a = math.toRadians(i * 30.0)
      (100L + i, Seq(math.cos(a), math.sin(a)))
    }
    val twins = base.map { case (id, v) => (id - 100L, v) }
    val df = (base ++ twins).toDF("vec_id", "embedding")
    def run(kmax: Int) = Similarity.semDedupHier(df, "embedding", "vec_id",
        targetCell = 1L, tau = 0.999999, kmax = kmax)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3))).toSet
    // uncapped derived shape: coarseCells(24, 1) = 5 coarse cells
    val free = run(Int.MaxValue)
    assert(free.exists(_._1 >= 2), s"fixture must spread past 2 coarse cells: $free")
    // capped: every assignment is against <= 2 coarse and <= 2 fine
    // centroids — ids are row_number-derived, so the bound is structural
    val capped = run(2)
    assert(capped.nonEmpty && capped.forall(r => r._1 < 2 && r._2 < 2),
      s"kmax=2 must bound both codebook id spaces: $capped")
    // exact twins still share a fine cell under any codebook (identical
    // round-6 cosines tie-break together) and drop keep-smallest-id
    for (i <- 0 until 12)
      assert(capped.exists(r => r._3 == 100L + i && r._4 == i.toLong),
        s"twin ${100 + i} must drop with partner $i under the cap: $capped")
    // a cap above the derived counts changes nothing
    assert(run(100) == free, "an unreached kmax must be byte-identical")
  }

  test("semDedupHierSharded: shards = 1 is semDedupHier plus the shard " +
    "column; verdicts are shard-local (a cross-shard twin is missed by " +
    "design)") {
    // the kmax fixture: 12 directions, one exact twin each — a twin
    // pair drops under ANY quantizer iff both land in the same shard
    val base = (0 until 12).map { i =>
      val a = math.toRadians(i * 30.0)
      (100L + i, Seq(math.cos(a), math.sin(a)))
    }
    val twins = base.map { case (id, v) => (id - 100L, v) }
    val df = (base ++ twins).toDF("vec_id", "embedding")
    val one = Similarity.semDedupSliced(df, "embedding", "vec_id",
        targetCell = 1L, tau = 0.999999, Slicing.IdHash(1))
      .collect().map(r => (r.getInt(0), r.getInt(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6))).toSet
    // the unused family and table dimensions read 0
    val flat = Similarity.semDedupHier(df, "embedding", "vec_id",
        targetCell = 1L, tau = 0.999999)
      .collect().map(r => (0, 0, 0L, r.getLong(0), r.getLong(1),
        r.getLong(2), r.getLong(3))).toSet
    assert(one == flat, "shards = 1 must be the unsharded verdict set")

    // the q48 shard arithmetic, recomputed here: hash64(id, seed=5) % 2
    def shard(id: Long): Long =
      graft.functions.Hash64Array.hashString(id.toString, 5) % 2
    val sameShard = (0 until 12).map(_.toLong)
      .filter(i => shard(i) == shard(100L + i)).toSet
    // the fixture must actually exercise the documented miss (it does:
    // the md5 split separates several twin pairs)
    assert(sameShard.nonEmpty && sameShard.size < 12,
      s"fixture must mix same- and cross-shard twin pairs: $sameShard")
    val sharded = Similarity.semDedupSliced(df, "embedding", "vec_id",
        targetCell = 1L, tau = 0.999999, Slicing.IdHash(2))
      .drop("family", "tbl")
      .collect().map(r => (r.getLong(3), r.getLong(4), r.getLong(0))).toSet
    for (i <- 0 until 12) {
      val hit = sharded.exists(p => p._1 == 100L + i && p._2 == i.toLong)
      assert(hit == sameShard.contains(i.toLong),
        s"twin pair ($i, ${100 + i}): same-shard=${sameShard(i.toLong)} " +
          s"but dropped=$hit — verdicts must be exactly shard-local")
    }
    // every verdict is internally shard-consistent: the dropped id and
    // its partner hash to the reported shard
    sharded.foreach { case (id, dupOf, s) =>
      assert(shard(id) == s && shard(dupOf) == s,
        s"pair ($dupOf, $id) reported in shard $s but hashes elsewhere")
    }
  }

  test("semDedupHierShardedByContent: exact twins co-locate by construction " +
    "— the cross-id-shard pairs the hash split misses are caught") {
    // the sharded fixture: 12 directions, one exact twin each
    val base = (0 until 12).map { i =>
      val a = math.toRadians(i * 30.0)
      (100L + i, Seq(math.cos(a), math.sin(a)))
    }
    val twins = base.map { case (id, v) => (id - 100L, v) }
    val df = (base ++ twins).toDF("vec_id", "embedding")
    // premise: the id-hash split at shards = 4 separates some twin pairs
    def shard4(id: Long): Long =
      graft.functions.Hash64Array.hashString(id.toString, 5) % 4
    val crossPairs = (0 until 12).map(_.toLong)
      .filter(i => shard4(i) != shard4(100L + i))
    assert(crossPairs.nonEmpty,
      "fixture must exercise the documented cross-shard miss")
    val idSharded = Similarity.semDedupSliced(df, "embedding", "vec_id",
        targetCell = 1L, tau = 0.999999, Slicing.IdHash(4))
      .drop("family", "tbl")
      .collect().map(r => (r.getLong(3), r.getLong(4))).toSet
    crossPairs.foreach { i =>
      assert(!idSharded.contains((100L + i, i)),
        s"id-hash sharding cannot see cross-shard pair ($i, ${100 + i})")
    }
    // content sharding: identical vectors share every hyperplane sign,
    // so ALL 12 pairs co-locate and drop — including every cross-id-shard
    // pair above
    val content = Similarity.semDedupSliced(df, "embedding",
        "vec_id", targetCell = 1L, tau = 0.999999,
        Slicing.Content(dims = 2, shardPlanes = 2))
      .drop("family")
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(4),
        r.getLong(5)))
    for (i <- 0 until 12)
      assert(content.exists(p => p._3 == 100L + i && p._4 == i.toLong),
        s"exact twin ${100 + i} must co-locate with $i under content " +
          s"sharding: ${content.toSeq}")
    // every verdict's (tbl, shard) matches the public bucket arithmetic
    val bkt = Similarity.multiTableBuckets(df, "embedding", dims = 2,
        planes = 2, tables = 1, "t", "b")
      .collect().map(r => r.getLong(0) -> r.getInt(3)).toMap
    content.foreach { case (tbl, s, id, dupOf) =>
      assert(tbl == 0 && bkt(id) == s && bkt(dupOf) == s,
        s"pair ($dupOf, $id) reported in (tbl=$tbl, shard=$s) but the " +
          s"bucket arithmetic says (${bkt(dupOf)}, ${bkt(id)})")
    }
  }

  test("semDedupHierShardedByContent: tables compose as OR — table 0 is " +
    "byte-identical to the single-table run, extra tables only add") {
    val df = (0 until 24).map { i =>
      (i.toLong, Seq(math.cos(i * 0.26), math.sin(i * 0.26), 0.02 * (i % 5)))
    }.toDF("vec_id", "embedding")
    def run(tables: Int) = Similarity.semDedupSliced(
        df, "embedding", "vec_id", targetCell = 2L, tau = 0.97,
        Slicing.Content(dims = 3, shardPlanes = 2, tables = tables))
      .drop("family")
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5), r.getDouble(6))).toSet
    val t1 = run(1)
    val t2 = run(2)
    assert(t2.filter(_._1 == 0) == t1,
      "table 0 of the 2-table run must replay the 1-table run exactly")
    val drops1 = t1.map(_._5)
    val drops2 = t2.map(_._5)
    assert(drops1.subsetOf(drops2),
      s"OR-composition can only add drops: ${drops1 -- drops2} lost")
  }

  test("semDedupHierShardedByContent: output equals the per-(table, shard) " +
    "manual replay; empty shards are silent") {
    val df = (0 until 16).map { i =>
      (i.toLong, Seq(math.cos(i * 0.39), math.sin(i * 0.39)))
    }.toDF("vec_id", "embedding")
    val out = Similarity.semDedupSliced(df, "embedding",
        "vec_id", targetCell = 2L, tau = 0.9,
        Slicing.Content(dims = 2, shardPlanes = 2, tables = 2))
      .drop("family")
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5), r.getDouble(6))).toSet
    val fanned = Similarity.multiTableBuckets(df, "embedding", dims = 2,
      planes = 2, tables = 2, "t", "b")
    val manual = (for { tbl <- 0 until 2; s <- 0 until 4 } yield {
      val sub = fanned.filter($"t" === tbl && $"b" === s).drop("t", "b")
      Similarity.semDedupHier(sub, "embedding", "vec_id", targetCell = 2L,
          tau = 0.9)
        .collect().map(r => (tbl, s.toLong, r.getLong(0), r.getLong(1),
          r.getLong(2), r.getLong(3), r.getDouble(4)))
    }).flatten.toSet
    assert(out == manual,
      s"operator must equal the definitional replay: ${out -- manual} vs " +
        s"${manual -- out}")
  }

  test("semDedupHierSharded matPath: row-identical to the filter form; " +
    "the per-shard read prunes to one partition at planning time") {
    val df = (0 until 40).map { i =>
      (i.toLong, Seq(math.cos(i * 0.17), math.sin(i * 0.17), 0.03 * (i % 4)))
    }.toDF("vec_id", "embedding")
    val p = java.nio.file.Files.createTempDirectory("semdedup-mat")
      .toString + "/shards"
    def rows(d: org.apache.spark.sql.DataFrame) =
      d.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getDouble(5))).toSet
    val filt = rows(Similarity.semDedupSliced(df, "embedding",
      "vec_id", targetCell = 2L, tau = 0.97, Slicing.IdHash(4))
      .drop("family", "tbl"))
    val mat = rows(Similarity.semDedupSliced(df, "embedding",
      "vec_id", targetCell = 2L, tau = 0.97, Slicing.IdHash(4),
      matPath = Some(p)).drop("family", "tbl"))
    assert(mat == filt,
      s"materialized form must be row-identical: ${mat -- filt} vs " +
        s"${filt -- mat}")
    // the pruning receipt: a per-shard read of the materialization has
    // the shard predicate as a PartitionFilter (planning-time, zero
    // I/O for other shards), never a pushed row filter
    val pruned = spark.read.parquet(p).filter($"_shard" === 0)
    val plan = pruned.queryExecution.executedPlan.toString
    assert("PartitionFilters: \\[[^\\]]*_shard".r.findFirstIn(plan).isDefined,
      s"the shard predicate must prune partitions at planning time:\n$plan")
    assert(!"PushedFilters: \\[[^\\]]*_shard".r.findFirstIn(plan).isDefined,
      s"the shard predicate must not re-check row-wise:\n$plan")
    // and the pruned read sees exactly the filter form's shard slice
    def shard(id: Long): Long =
      graft.functions.Hash64Array.hashString(id.toString, 5) % 4
    val want = (0 until 40).map(_.toLong).filter(shard(_) == 0L).toSet
    assert(col1[Long](pruned.select($"vec_id")).toSet == want,
      "the pruned partition must hold exactly shard 0's rows")
  }

  test("semDedupHierShardedByContent matPath: row-identical to the " +
    "filter form; partitions are pruned per (table, shard)") {
    val df = (0 until 24).map { i =>
      (i.toLong, Seq(math.cos(i * 0.26), math.sin(i * 0.26), 0.02 * (i % 5)))
    }.toDF("vec_id", "embedding")
    val p = java.nio.file.Files.createTempDirectory("semdedup-cmat")
      .toString + "/shards"
    def rows(mp: Option[String]) = Similarity.semDedupSliced(
        df, "embedding", "vec_id", targetCell = 2L, tau = 0.97,
        Slicing.Content(dims = 3, shardPlanes = 2, tables = 2), matPath = mp)
      .drop("family")
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5), r.getDouble(6))).toSet
    val filt = rows(None)
    val mat = rows(Some(p))
    assert(mat == filt,
      s"materialized form must be row-identical: ${mat -- filt} vs " +
        s"${filt -- mat}")
    val pruned = spark.read.parquet(p)
      .filter($"_tbl" === 1 && $"_shard" === 2)
    val plan = pruned.queryExecution.executedPlan.toString
    assert("PartitionFilters: \\[[^\\]]*_tbl".r.findFirstIn(plan).isDefined &&
      "PartitionFilters: \\[[^\\]]*_shard".r.findFirstIn(plan).isDefined,
      s"both partition keys must prune at planning time:\n$plan")
    // the materialization holds every row exactly once per table
    val perTbl = spark.read.parquet(p).groupBy($"_tbl")
      .count().collect().map(r => r.getAs[Number]("_tbl").intValue() ->
        r.getLong(1)).toMap
    assert(perTbl == Map(0 -> 24L, 1 -> 24L),
      s"one row per (input row, table): $perTbl")
  }

  test("semDedupHierMulti: family 0 is the flat verdict set; extra " +
    "families only add dropped ids") {
    val df = (0 until 30).map { i =>
      (i.toLong, Seq(math.cos(i * 0.21), math.sin(i * 0.21), 0.05 * (i % 3)))
    }.toDF("vec_id", "embedding")
    val flat = Similarity.semDedupHier(df, "embedding", "vec_id",
        targetCell = 2L, tau = 0.95)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getDouble(4))).toSet
    def run(families: Int) = Similarity.semDedupSliced(df, "embedding",
        "vec_id", targetCell = 2L, tau = 0.95, families = families)
      .drop("tbl", "shard")
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getDouble(5))).toSet
    val f1 = run(1)
    val f2 = run(2)
    assert(f1.map(t => (t._2, t._3, t._4, t._5, t._6)) == flat,
      "families = 1 must be semDedupHier plus the family column")
    assert(f2.filter(_._1 == 0) == f1,
      "family 0 of the 2-family run must replay the 1-family run exactly")
    val drops1 = f1.map(_._4)
    val drops2 = f2.map(_._4)
    assert(drops1.subsetOf(drops2),
      s"OR-composition can only add drops: ${drops1 -- drops2} lost")
    // the dial must actually dial on this fixture: family 1 draws
    // different cell boundaries, so the 2-family union catches at
    // least one pair family 0 alone does not
    assert(drops2 != drops1,
      "fixture must exercise the extra family's independent boundaries")
  }

  test("parallelism: concurrent per-shard chains are row-identical to " +
    "the sequential form (both sharded rails)") {
    val df = (0 until 40).map { i =>
      (i.toLong, Seq(math.cos(i * 0.17), math.sin(i * 0.17), 0.03 * (i % 4)))
    }.toDF("vec_id", "embedding")
    def tmp(tag: String) = java.nio.file.Files
      .createTempDirectory(s"semdedup-$tag").toString + "/shards"
    def idRows(par: Int, mp: Option[String]) =
      Similarity.semDedupSliced(df, "embedding", "vec_id",
          targetCell = 2L, tau = 0.97, Slicing.IdHash(4), matPath = mp,
          parallelism = par)
        .drop("family", "tbl")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getLong(3), r.getLong(4), r.getDouble(5))).toSet
    val seqI = idRows(1, None)
    val parI = idRows(4, Some(tmp("par-id")))
    assert(parI == seqI,
      s"parallel id-hash chains must replay: ${parI -- seqI} vs ${seqI -- parI}")
    def cRows(par: Int, mp: Option[String]) =
      Similarity.semDedupSliced(df, "embedding", "vec_id",
          targetCell = 2L, tau = 0.97,
          Slicing.Content(dims = 3, shardPlanes = 2, tables = 2),
          matPath = mp, parallelism = par)
        .drop("family")
        .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2),
          r.getLong(3), r.getLong(4), r.getLong(5), r.getDouble(6))).toSet
    val seqC = cRows(1, None)
    val parC = cRows(4, Some(tmp("par-c")))
    assert(parC == seqC,
      s"parallel content chains must replay: ${parC -- seqC} vs ${seqC -- parC}")
  }

  test("semDedupHierShardedByContentMulti: family 0 is the base form; " +
    "extra families only add drops; the materialization is written once") {
    val df = (0 until 24).map { i =>
      (i.toLong, Seq(math.cos(i * 0.26), math.sin(i * 0.26), 0.02 * (i % 5)))
    }.toDF("vec_id", "embedding")
    val p = java.nio.file.Files.createTempDirectory("semdedup-fam")
      .toString + "/shards"
    val base = Similarity.semDedupSliced(df, "embedding",
        "vec_id", targetCell = 2L, tau = 0.97,
        Slicing.Content(dims = 3, shardPlanes = 2, tables = 2))
      .drop("family")
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5), r.getDouble(6))).toSet
    val multi = Similarity.semDedupSliced(df, "embedding",
        "vec_id", targetCell = 2L, tau = 0.97,
        Slicing.Content(dims = 3, shardPlanes = 2, tables = 2),
        families = 2, matPath = Some(p), parallelism = 2)
      .collect().map(r => (r.getInt(0), r.getInt(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6),
        r.getDouble(7))).toSet
    assert(multi.filter(_._1 == 0).map(t =>
        (t._2, t._3, t._4, t._5, t._6, t._7, t._8)) == base,
      "family 0 must be the one-family content-sharded run exactly")
    val drops0 = multi.filter(_._1 == 0).map(_._6)
    val dropsAll = multi.map(_._6)
    assert(drops0.subsetOf(dropsAll),
      "OR-composition can only add drops")
    // the shard key is family-independent, so ONE materialization
    // serves both families: each input row appears once per table
    val perTbl = spark.read.parquet(p).groupBy($"_tbl")
      .count().collect().map(r => r.getAs[Number]("_tbl").intValue() ->
        r.getLong(1)).toMap
    assert(perTbl == Map(0 -> 24L, 1 -> 24L),
      s"one shared materialization, one row per (input row, table): $perTbl")
  }

  test("semDedupHier: deterministic across reruns; nothing drops above every cosine") {
    val df = (0 until 20).map { i =>
      (i.toLong, Seq(math.cos(i * 0.3), math.sin(i * 0.3), 0.1 * (i % 3)))
    }.toDF("vec_id", "embedding")
    def run() = Similarity.semDedupHier(df, "embedding", "vec_id",
        targetCell = 4L, tau = 0.97)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getDouble(4))).toSet
    val first = run()
    assert(first == run(), "hierarchical semdedup must be deterministic")
    for ((_, _, id, dupOf, cos) <- first) {
      assert(dupOf < id, "partner is always a smaller id")
      assert(cos >= 0.97)
    }
  }

  test("semDedupHierShardedByContentFromMat: shard-range runs over an " +
    "existing materialization union to the single-run verdict exactly") {
    val df = (0 until 32).map { i =>
      (i.toLong, Seq(math.cos(i * 0.19), math.sin(i * 0.19), 0.04 * (i % 3)))
    }.toDF("vec_id", "embedding")
    val p = java.nio.file.Files.createTempDirectory("semdedup-frommat")
      .toString + "/shards"
    // the in-JVM composed run writes the materialization it reads
    val full = Similarity.semDedupSliced(df, "embedding",
        "vec_id", targetCell = 2L, tau = 0.97,
        Slicing.Content(dims = 3, shardPlanes = 2, tables = 2),
        families = 2, matPath = Some(p))
      .collect().map(r => (r.getInt(0), r.getInt(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6),
        r.getDouble(7))).toSet
    def ranged(lo: Int, hi: Int) =
      Similarity.semDedupSliced(spark.read.parquet(p), "embedding",
          "vec_id", targetCell = 2L, tau = 0.97,
          Slicing.Materialized(shardPlanes = 2, tables = 2, lo, hi),
          families = 2)
        .collect().map(r => (r.getInt(0), r.getInt(1), r.getLong(2),
          r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6),
          r.getDouble(7))).toSet
    // one "JVM" covering everything reproduces the single-run verdict
    assert(ranged(0, 3) == full,
      "the FromMat full range must replay the in-JVM composed run")
    // a shard-range split (the cross-JVM recipe) unions to the same set
    val unioned = ranged(0, 1) ++ ranged(2, 3)
    assert(unioned == full,
      s"range split must union to the full verdict: " +
        s"${unioned -- full} vs ${full -- unioned}")
    // the reader is read-only: a second ranged run still sees the same
    // materialization (nothing re-wrote or destroyed the scratch path)
    assert(ranged(0, 3) == full, "FromMat must not mutate the matPath")
  }

  test("parallel fan-out abort: a failing slice rethrows (no hang), " +
    "completed slices' pins are released, the session stays healthy") {
    val clean = (0 until 40).map { i =>
      (i.toLong, Seq(math.cos(i * 0.17), math.sin(i * 0.17), 0.03 * (i % 4)))
    }.toDF("vec_id", "embedding")
    // poison exactly one id of shard 3 of 4 — the LAST slice submitted,
    // and the sleep lets the other three slices complete and PIN before
    // the failure, so the abort path has real pins to release
    val shardOf = graft.functions.GraftFunctions.hash64(
      $"vec_id".cast("string"), 5) % 4
    val bad = clean.withColumn("_s", shardOf).filter($"_s" === 3L)
      .select($"vec_id").head().getLong(0)
    val poison = udf { (id: Long, emb: Seq[Double]) =>
      if (id == bad) { Thread.sleep(3000); sys.error(s"poisoned id $id") }
      emb
    }
    val poisoned = clean.withColumn("embedding",
      poison($"vec_id", $"embedding"))
    val before = spark.sparkContext.getPersistentRDDs.size
    val thrown = intercept[Exception] {
      Similarity.semDedupSliced(poisoned, "embedding", "vec_id",
        targetCell = 2L, tau = 0.97, Slicing.IdHash(4),
        parallelism = 2).count()
    }
    assert(thrown != null, "the slice failure must rethrow to the caller")
    // completed slices' pins release explicitly on abort; the FAILED
    // slice's mid-train kmeans pin is reclaimed by reference-tracking
    // once its frame is unreachable — nudge GC and poll for both
    val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
    while (spark.sparkContext.getPersistentRDDs.size > before &&
        System.nanoTime() < deadline) { System.gc(); Thread.sleep(200) }
    assert(spark.sparkContext.getPersistentRDDs.size <= before,
      s"aborted fan-out must not leak pinned storage: " +
        s"${spark.sparkContext.getPersistentRDDs.size} vs $before")
    // the session is still healthy after the job-group cancellation
    assert(clean.count() == 40L)

    // the same contract on a bare two-thunk fan-out: one thunk fails
    // while the other's job is running, and that job is cancelled
    // (its tasks interrupted), not waited out
    import org.apache.spark.scheduler.{JobResult, JobSucceeded,
      SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
    val slowStarted = new java.util.concurrent.CountDownLatch(1)
    val slowJobs = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
    val slowEnds = new java.util.concurrent.ConcurrentLinkedQueue[JobResult]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("graft.test.slow") != null)) {
          slowJobs.add(e.jobId); slowStarted.countDown()
        }
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        if (slowJobs.contains(e.jobId)) slowEnds.add(e.jobResult)
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      val t0 = System.nanoTime()
      val pairThrown = intercept[IllegalStateException] {
        Overlap.fanOut(Seq(
          () => {
            spark.sparkContext.setLocalProperty("graft.test.slow", "1")
            spark.sparkContext.parallelize(1 to 2, 2)
              .map { x => Thread.sleep(120000); x }.count()
          },
          () => {
            assert(slowStarted.await(60, java.util.concurrent.TimeUnit.SECONDS))
            throw new IllegalStateException("failing thunk")
          }), parallelism = 2)
      }
      assert(pairThrown.getMessage == "failing thunk",
        "the failing thunk's error must rethrow to the caller")
      val end = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (slowEnds.isEmpty && System.nanoTime() < end) Thread.sleep(100)
      assert(slowEnds.size == 1 && slowEnds.peek() != JobSucceeded,
        s"the surviving thunk's job must be cancelled: ${slowEnds.asScala}")
      assert(System.nanoTime() - t0 < 60L * 1000 * 1000 * 1000,
        "the abort must not wait out the surviving thunk's 120 s tasks")
    } finally spark.sparkContext.removeSparkListener(listener)
    assert(clean.count() == 40L)
  }
}
