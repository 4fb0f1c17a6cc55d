package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame, Observation}
import org.apache.spark.sql.functions._

/** The reference pipeline end to end (main.py:36-136), as one logical
  * plan with three outputs:
  *
  * {{{
  * feed_entries → F1/F2 ingest filter → J1 anti-join vs store → T1 limit
  *   → enrich (bodies + extractions, F5) → K3 domain resolution
  *   → K2 LinkedIn fallback → K1 hiring signal
  *   → [J5 merge into store | P3 report | F10+W3 alerts]
  * }}}
  *
  * The batch is persisted before the three-way fan-out so the enrichment
  * joins run once (the streaming variant runs the same fan-out inside
  * `foreachBatch` — see [[graft.streaming.StreamingPipeline]]).
  */
object Pipeline {

  /** All side-effect-replacing fixture tables (FIXTURES.md A1-A8).
    * `atsPayloads` carries the RAW provider payloads (API JSON / page
    * HTML) — parsing is engine work ([[AtsParsers]]), not fixture work.
    */
  case class Fixtures(
      feedEntries: DataFrame,
      articleBodies: DataFrame,
      llmExtractions: DataFrame,
      urlStatus: DataFrame,
      pageAnchors: DataFrame,
      atsPayloads: DataFrame,
      searchResults: DataFrame)

  /** @param rejects articles dropped at enrichment, with a reason — the
    *   side-output twin of the reference's print-and-skip.
    * @param observations per-stage row counts (the reference's console
    *   progress lines, main.py:44,54-55,67,131 — here as zero-cost
    *   `observe` metrics piggybacked on whatever action runs; read with
    *   `observations("ingested").get` after an action).
    */
  case class Result(
      batch: DataFrame,
      newStore: DataFrame,
      report: DataFrame,
      alerts: DataFrame,
      rejects: DataFrame,
      observations: Map[String, Observation])

  /** @param extractor structured-extraction adapter; defaults to the
    *   fixture table in `fx` (offline/hermetic). Plug a [[UdfExtractor]]
    *   with a provider transport for a live run — every other stage is
    *   unchanged.
    * @param search web-search adapter; defaults to the fixture table in
    *   `fx`. A live [[graft.sources.HtmlSearchAdapter]] is queried in
    *   two waves — S11 "official site" before domain resolution, the
    *   S12 LinkedIn triple after (the reference's ordering) — with the
    *   query strings derived from the batch by the same expressions
    *   the resolvers join on.
    */
  def run(
      fx: Fixtures,
      store: DataFrame,
      asOf: Column,
      daysBack: Int = 7,
      limit: Int = 20,
      linkedInFallback: Boolean = true,
      extractor: Extractor = null,
      search: graft.sources.SearchAdapter = null): Result = {

    val obsIngested = Observation()
    val obsFresh = Observation()
    val ingested = Stages.ingestFilter(fx.feedEntries, asOf, daysBack)
      .observe(obsIngested, count(lit(1)).as("rows"))
    val fresh = Stages.dedupAgainstStore(ingested, store)
      .observe(obsFresh, count(lit(1)).as("rows"))
    val limited = Stages.safetyLimit(fresh, limit)
    val ex =
      if (extractor != null) extractor else new FixtureExtractor(fx.llmExtractions)
    val (enriched, rejects) =
      Stages.enrichSplit(limited, fx.articleBodies,
        ex.rawOutputs(limited, fx.articleBodies))
    val sa =
      if (search != null) search
      else new graft.sources.FixtureSearchAdapter(fx.searchResults)
    val resolved = Stages.resolveDomain(
      enriched, fx.urlStatus, fx.pageAnchors,
      sa.results(Stages.officialSiteQueries(enriched)))
    val withLinkedIn =
      if (linkedInFallback)
        Stages.resolveLinkedIn(resolved,
          sa.results(Stages.linkedInSearchQueries(resolved)))
      else resolved
    // coalesce(1) before the pin: the batch is bounded by `limit` rows
    // AT ANY SCALE (safetyLimit upstream), yet without it the frame
    // materializes across the full shuffle-partition fan and every
    // downstream consumer schedules that many tasks — each paying the
    // plan's fixed per-task cost (measured 0.64 s/task × 32 tasks on
    // the report path at local[32]: regex/parser-heavy projections
    // initialize per task)
    val batch = Stages.hiringSignal(withLinkedIn, fx.pageAnchors, fx.atsPayloads, asOf)
      .coalesce(1)
      .persist()

    Result(
      batch = batch,
      newStore = Stages.mergeIntoStore(store, Stages.storeProjection(batch, asOf)),
      report = Stages.reportProjection(batch, asOf),
      alerts = Stages.alertRows(batch),
      rejects = rejects,
      observations = Map("ingested" -> obsIngested, "fresh" -> obsFresh))
  }

  /** Empty store with the funded_companies schema (schema.sql:1-27;
    * investors as a real array, dates/timestamps typed — SURVEY §1.2).
    */
  def emptyStore(spark: org.apache.spark.sql.SparkSession): DataFrame = {
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("company_name", StringType),
      StructField("website_url", StringType),
      StructField("linkedin_url", StringType),
      StructField("amount_raised_usd", LongType),
      StructField("funding_round", StringType),
      StructField("investors", ArrayType(StringType)),
      StructField("lead_investor", StringType),
      StructField("headquarter_country", StringType),
      StructField("announcement_date", DateType),
      StructField("hiring_tier", StringType),
      StructField("tech_roles", IntegerType),
      StructField("careers_url", StringType),
      StructField("ats_provider", StringType),
      StructField("source_url", StringType),
      StructField("last_seen", TimestampType)))
    spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
  }
}
