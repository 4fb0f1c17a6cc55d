package perfbench

import scala.collection.mutable

import org.apache.spark.sql.{Column, SparkSession, graftcolumn}
import org.apache.spark.sql.functions._

import graft.functions.GraftFunctions._
import graft.functions.MultiPatternCounts

/** Fixed-work timings that ride beside the workloads. */
object Microbench {

  private def seconds(body: => Unit): Double = {
    val t0 = System.nanoTime()
    body
    (System.nanoTime() - t0) / 1e9
  }

  /** Rows per second of each native `graft.functions` expression over
    * `fn_rows` rows built from the seed's documents and embeddings. The
    * input columns are cached first, so a timing covers one expression
    * (median of three `noop` writes). */
  def functions(ctx: Main.Ctx): Unit = {
    val spark = ctx.spark
    val docs = spark.read.parquet(s"${ctx.inputs}/documents.parquet")
    val vecs = spark.read.parquet(s"${ctx.inputs}/embeddings.parquet")
    val nVecs = vecs.count()
    val reps = math.max(1L, ctx.int("fn_rows") / math.max(1L, docs.count()))
    val money = array(Seq("$12M", "₹20 Cr", "$3 million", "$2,000,000",
      "Undisclosed", "€5.5M").map(lit): _*)
    val base = docs.crossJoin(spark.range(reps).withColumnRenamed("id", "rep"))
      .join(broadcast(vecs), col("vec_id") === (col("doc_id") + col("rep")) % nVecs)
      .select(col("text"), split(col("text"), " ").as("words"),
        hash64_array(split(col("text"), " "), 7).as("wh"),
        element_at(money, ((col("doc_id") + col("rep")) % 6 + 1).cast("int")).as("money"),
        col("embedding").as("emb"))
      .cache()
    val rows = base.count()
    val exprs: Seq[(String, Column)] = Seq(
      "Hash64Array" -> hash64_array(col("words"), 7),
      "MinHashSig" -> minhash_sig(col("wh"), 16),
      "ShingleHash3" -> shingle_hash3(col("wh")),
      "SimHashBits" -> simhash_bits(col("wh"), 63),
      "NgramHashes" -> ngram_hashes(col("wh"), 5),
      "BpeTokenCount" -> bpe_token_count(col("text")),
      "MultiPatternCounts" -> graftcolumn(MultiPatternCounts(
        graftcolumn.expr(col("text")), Seq("spark", "stream", "join", "data", "the"))),
      "DotProduct" -> dot(col("emb"), col("emb")),
      "ParseMoney" -> parse_money(col("money")))
    val out = mutable.LinkedHashMap.empty[String, Double]
    exprs.foreach { case (name, e) =>
      val ts = Seq.fill(3)(seconds(
        base.select(e.as("x")).write.format("noop").mode("overwrite").save()))
      out(name) = rows / ts.sorted.apply(1)
    }
    base.unpersist(blocking = true)
    ctx.out("functions") = out
  }

  /** `graft.Bench`'s fixed-work canary at a quarter of its size: constant
    * cost at a given core count, independent of the inputs and of the
    * program's code, so runs from different windows can be read against
    * each other. */
  def canary(spark: SparkSession, cpus: Int): Double = seconds {
    spark.range(0L, 16L << 20, 1L, cpus * 2)
      .select(xxhash64(col("id")).as("h"))
      .agg(expr("bit_xor(h)"))
      .write.format("noop").mode("overwrite").save()
  }
}
