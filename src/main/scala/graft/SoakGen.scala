package graft

import org.apache.spark.sql.functions._

/** Soak-table generator: writes an N× scaled copy of the documents and
  * embeddings tables for scale rehearsals (`SoakGen <srcDir> <dstDir>
  * <factor>`). The scaling preserves the ORIGINAL duplicate rate
  * instead of multiplying it: replica k > 0 suffixes every token with
  * `~k`, so replicas of one document are near-dups of each other's
  * replicas within k but never across k — 100× data means 100× the
  * dup clusters, not clusters 100× the size (the latter would measure
  * an intentional quadratic, not the engine). Embeddings rotate by
  * k mod dims — norm-preserving, decorrelating most replica pairs
  * while leaving the per-replica neighborhood structure intact.
  * Replica ids live in a disjoint id range (`+ k·10^7`).
  */
object SoakGen {
  def main(args: Array[String]): Unit = {
    require(args.length == 3, "usage: SoakGen <srcDir> <dstDir> <factor>")
    val Array(src, dst, factorS) = args
    val factor = factorS.toInt
    require(factor >= 1, "factor must be >= 1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = GraftSession.local(cpus.toInt)
    val reps = spark.range(factor).select(col("id").as("_k"))
    // Replica ids collide silently if a source id reaches the shift —
    // assert the headroom up front (one cheap agg per scaled table)
    // so a larger source dataset fails loudly instead of corrupting
    // soak-run dedup/funnel/join semantics.
    def assertFits(df: org.apache.spark.sql.DataFrame, idCol: String,
                   shift: Long, table: String): Unit =
      if (factor > 1) {
        val row = df.agg(max(col(idCol).cast("long"))).head()
        // max() over an empty table is null — nothing to collide
        if (!row.isNullAt(0)) {
          val mx = row.getLong(0)
          require(mx < shift,
            s"$table.$idCol max $mx >= replica shift $shift: ids would collide")
        }
      }
    val docs = spark.read.parquet(s"$src/documents.parquet")
    assertFits(docs, "doc_id", 10000000L, "documents")
    docs.crossJoin(reps)
      .select(
        (col("doc_id") + col("_k") * 10000000L).as("doc_id"),
        when(col("_k") === 0, col("text"))
          .otherwise(array_join(transform(split(col("text"), " "),
            t => concat(t, lit("~"), col("_k"))), " ")).as("text"),
        col("lang"), col("source"))
      .withColumn("n_chars", length(col("text")).cast("long"))
      .repartition(64)
      .write.mode("overwrite").parquet(s"$dst/documents.parquet")
    val vecs = spark.read.parquet(s"$src/embeddings.parquet")
    assertFits(vecs, "vec_id", 10000000L, "embeddings")
    val dims = vecs.select(size(col("embedding"))).head().getInt(0)
    val rot = (col("_k") % dims).cast("int")
    vecs.crossJoin(reps)
      .select(
        (col("vec_id") + col("_k") * 10000000L).as("vec_id"),
        concat(slice(col("embedding"), rot + 1, lit(dims) - rot),
          slice(col("embedding"), lit(1), rot)).as("embedding"),
        col("label"))
      .repartition(64)
      .write.mode("overwrite").parquet(s"$dst/embeddings.parquet")
    // Events scale on the USER axis: replica k shifts user/event ids
    // into a disjoint range and keeps timestamps — 100× data means
    // 100× users with the original per-user histories (the natural
    // growth for funnel/retention/transition rehearsals), not
    // 100×-longer single histories.
    val ev = Tables(spark, src, "events")
    assertFits(ev, "event_id", 10000000L, "events")
    assertFits(ev, "user_id", 10000000L, "events")
    ev.crossJoin(reps)
      .select(
        (col("event_id") + col("_k") * 10000000L).as("event_id"),
        col("ts"),
        (col("user_id") + col("_k") * 10000000L).as("user_id"),
        col("event_type"), col("value"), col("props"))
      .repartition(64)
      .write.mode("overwrite").parquet(s"$dst/events.parquet")
    // TPC-H facts scale on the TRANSACTION axis: replica k shifts
    // order keys into a disjoint range and keeps customer/supplier/
    // part keys — 100× data = 100× orders against the same catalog
    // (the natural warehouse growth). Dims copy through verbatim so a
    // soak dir is a full drop-in table set.
    val ord = spark.read.parquet(s"$src/orders.parquet")
    assertFits(ord, "o_orderkey", 1000000000L, "orders")
    ord.crossJoin(reps)
      .select(
        (col("o_orderkey") + col("_k") * 1000000000L).as("o_orderkey"),
        col("o_custkey"), col("o_orderstatus"), col("o_totalprice"),
        col("o_orderdate"), col("o_orderpriority"))
      .repartition(64)
      .write.mode("overwrite").parquet(s"$dst/orders.parquet")
    val li = spark.read.parquet(s"$src/lineitem.parquet")
    assertFits(li, "l_orderkey", 1000000000L, "lineitem")
    li.crossJoin(reps)
      .select((col("l_orderkey") + col("_k") * 1000000000L).as("l_orderkey")
        +: li.columns.filter(_ != "l_orderkey").map(col): _*)
      .repartition(64)
      .write.mode("overwrite").parquet(s"$dst/lineitem.parquet")
    Seq("region", "nation", "customer", "supplier", "part").foreach { n =>
      spark.read.parquet(s"$src/$n.parquet")
        .write.mode("overwrite").parquet(s"$dst/$n.parquet")
    }
    println(s"""{"dst":"$dst","factor":$factor}""")
    spark.stop()
  }
}
