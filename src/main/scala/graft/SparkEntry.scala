package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.queries.{CurationQueries, DomainQueries, FunctionQueries, LlmQueries, MiscQueries, PipelineQueries, Q, RelationalQueries, TpchQueries}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Every implemented operator from SURVEY.md §2 registers here as a
  * named query over the testdata lake plus (when SQL-expressible) a
  * DuckDB oracle for the differential correctness gate.
  */
object SparkEntry {

  /** The engine's session settings, shared by `Bench`, `Verify`,
    * `SpillProbe` and the test session: `cores` local threads and shuffle
    * partitions, the graft extensions on by default, UTC, no UI. Callers
    * add their own settings with `.config` before `getOrCreate()`. */
  def sessionBuilder(cores: String): SparkSession.Builder =
    SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.extensions", "graft.expressions.GraftExtensions")
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.sql.session.timeZone", "UTC")
      // events.parquet is TIMESTAMP(NANOS): read nanos as long engine-wide
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")

  /** All registered queries, one per operator family. */
  def allQueries: Seq[Q] =
    RelationalQueries.all ++ TpchQueries.all ++ DomainQueries.all ++
      PipelineQueries.all ++ LlmQueries.all ++ CurationQueries.all ++
      MiscQueries.all ++ FunctionQueries.all

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    * A compact customer-360 slice: left-join + aggregate + value-segment
    * ladder (reference `sql/customer_360_views.sql:376-515`). */
  def entry(spark: SparkSession): DataFrame = {
    val dir = "/root/testdata/sf0.001"
    val c = Tables.customer(spark, dir).select("c_custkey", "c_name", "c_mktsegment")
    val o = Tables.orders(spark, dir)
    c.join(o, c("c_custkey") === o("o_custkey"), "left")
      .groupBy("c_custkey", "c_name", "c_mktsegment")
      .agg(
        count(col("o_orderkey")).as("order_cnt"),
        coalesce(sum(col("o_totalprice").cast("decimal(18,2)")).cast("double"), lit(0.0))
          .as("total_spend"))
      .withColumn("value_segment",
        functions.Cleansing.valueSegment(col("total_spend")))
      .orderBy("c_custkey")
  }

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    allQueries.map(q => q.name -> q.run).toMap

  /** Session-memoized shared frames ([[SharedFrames]]), in dependency
    * order (later builds consume earlier memos). The bench forces and
    * times each one as a `shared:<name>` pseudo-query BEFORE the query
    * loop, so whichever consumer happens to run first no longer gets
    * charged the family's build (4.08 s vs 1.86 s for the same query
    * across two r12 runs, purely from attribution) — consumer times
    * become build-free and round-over-round comparable, and the suite
    * total is unchanged: the same work is just billed to its owner. */
  def sharedBuilds: Seq[(String, (SparkSession, String) => Unit)] = Seq(
    "customer_profiles" -> ((s, d) => { DomainQueries.sharedProfiles(s, d); () }),
    "vehicle_history" -> ((s, d) => { DomainQueries.sharedVehicleHistory(s, d); () }),
    "id_match_edges" -> ((s, d) => { PipelineQueries.matchEdges(s, d); () }),
    "copurchase_edges" -> ((s, d) => { RelationalQueries.copurchaseEdges(s, d); () }),
    "corpus_survivors" -> ((s, d) => { LlmQueries.corpusSurvivors(s, d); () }),
    "minhash_pairs" -> ((s, d) => { LlmQueries.minhashPairs(s, d); () }),
    "cluster_components" -> ((s, d) => { LlmQueries.clusterComponents(s, d); () }),
    "survivor_components" -> ((s, d) => { LlmQueries.survivorComponents(s, d); () }),
    "training_chunks" -> ((s, d) => { LlmQueries.trainingChunkStage(s, d); () }),
    "quality_lr_scored" -> ((s, d) => { CurationQueries.sharedLrScored(s, d); () }))

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] =
    allQueries.flatMap(q => q.oracle.map(sql => q.name -> sql)).toMap
}
