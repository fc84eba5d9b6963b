package graft.perfbench

import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._

import graft.{SharedFrames, SparkEntry}
import graft.queries._

/** Shared helpers for the two query-driven workloads. */
object QueryRuns {
  /** Recorded from the seed tree (see `perfbench/README.md`): the
    * `ResultHash` of each result, cross-checked against the DuckDB oracle,
    * and the fingerprint [[noopWrite]] observes for the same result. */
  @volatile var expected: Map[String, String] = Map.empty
  @volatile var fingerprints: Map[String, String] = Map.empty

  /** Writes `df` to the `noop` sink and returns the fingerprint of the
    * rows written, `<rows>:<sum>`: the exact sum of each row's `xxhash64`
    * over its columns in name order. The sums are observed while the rows
    * stream to the sink, so checking a result costs no second execution. */
  def noopWrite(df: DataFrame): String = {
    val byName = df.columns.zipWithIndex.sortBy(_._1).map(_._2)
    val obs = Observation()
    df.toDF(df.columns.indices.map(i => s"c$i"): _*)
      .observe(obs, count(lit(1)).as("rows"),
        sum(xxhash64(byName.map(i => col(s"c$i")).toIndexedSeq: _*).cast("decimal(20,0)")).as("sum"))
      .write.mode("overwrite").format("noop").save()
    // release persisted result frames, never a session memo (unpersist
    // matches by plan and would evict the memo for later consumers)
    if (!SharedFrames.isShared(df)) df.unpersist()
    val m = obs.get
    s"${m("rows")}:${Option(m("sum")).getOrElse(0)}"
  }

  /** The query's answer, or an emptied one when the benchmark's own
    * tests inject a wrong result into `victim`. */
  def answer(ctx: Ctx, q: Q, victim: Option[String]): DataFrame = {
    val df = q.run(ctx.spark, ctx.lake)
    if (victim.contains(q.name)) df.limit(0) else df
  }

  /** First query in `names` whose expected result has rows. */
  def victimOf(ctx: Ctx, names: Seq[String]): Option[String] =
    if (!ctx.inject.contains("wrong_result")) None
    else names.find(n => fingerprints.get(n).exists(!_.startsWith("0:")))

  /** Output check of a fingerprint taken in the timed region. */
  def checkFingerprint(ctx: Ctx, name: String, got: String): Unit =
    ctx.expect(s"result of $name") {
      val want = fingerprints.getOrElse(name, sys.error(s"no fingerprint recorded for $name"))
      if (got != want) ctx.failures += s"$name: fingerprint $got, expected $want"
      got == want
    }

  def checkHash(ctx: Ctx, name: String)(df: => DataFrame): Unit =
    ctx.expect(s"result hash of $name") {
      val want = expected.getOrElse(name, sys.error(s"no expected hash recorded for $name"))
      val got = ResultHash.of(df)
      if (got != want) ctx.failures += s"$name: hash $got, expected $want"
      got == want
    }

  /** Runs `q` as one timed step; its fingerprint joins `seen`. */
  def step(ctx: Ctx, kind: String, spanName: String, q: Q, victim: Option[String],
      seen: scala.collection.mutable.Map[String, String]): Unit =
    ctx.step(kind, q.name)(ctx.span(spanName) {
      seen(q.name) = noopWrite(answer(ctx, q, victim))
    })

  def forceShared(ctx: Ctx, memo: String): Unit = {
    val force = SparkEntry.sharedBuilds.toMap.getOrElse(memo, sys.error(s"no shared build $memo"))
    ctx.build("shared", memo)(ctx.span(s"shared.$memo")(force(ctx.spark, ctx.lake)))
  }
}

/** A seed-drawn, seed-ordered sample of the read-only registered
  * queries, each run once with a `noop` write after the session memos
  * they read are built. */
object AnalyticsMix extends Workload {
  val name = "analytics_mix"

  def families: Seq[(String, Seq[Q])] = Seq(
    "relational" -> RelationalQueries.all,
    "tpch" -> TpchQueries.all,
    "function" -> FunctionQueries.all,
    "identity" -> PipelineQueries.all.filter(_.name.startsWith("id_")),
    "views" -> DomainQueries.all.filter(_.name.startsWith("v_")))

  /** Memos the sampled families read; built first so the sample's
    * latencies do not depend on which consumer happens to run first. */
  val Memos = Seq("customer_profiles", "vehicle_history", "id_match_edges", "copurchase_edges")

  /** Queries drawn for each second of `--seconds`. */
  val PerSecond = 1.6

  /** Recorded single-query latencies (`expected/costs.json`). */
  @volatile var costs: Map[String, Double] = Map.empty

  private var sample: Seq[(String, Q)] = Nil
  private var victim: Option[String] = None
  private val seen = scala.collection.mutable.LinkedHashMap[String, String]()

  /** Stratified draw: the population, ordered by recorded latency, is cut
    * into as many strata as the sample has queries, and the seed picks one
    * query per stratum, then the run order. Every seed so draws the same
    * spread of cheap to expensive queries, which keeps the latency
    * quantiles comparable across seeds while the queries themselves vary. */
  def draw(ctx: Ctx): Seq[(String, Q)] = {
    val pop = families.flatMap { case (f, qs) => qs.map(f -> _) }
      .sortBy { case (_, q) => (costs.getOrElse(q.name, 0.0), q.name) }.toVector
    val n = math.max(1, math.min(pop.size, math.round(PerSecond * ctx.seconds).toInt))
    val picked = (0 until n).map { i =>
      val stratum = pop.slice(i * pop.size / n, (i + 1) * pop.size / n)
      stratum(ctx.rng.nextInt(stratum.size))
    }
    ctx.rng.shuffle(picked)
  }

  def prepare(ctx: Ctx): Unit = {
    sample = draw(ctx)
    victim = QueryRuns.victimOf(ctx, sample.map(_._2.name))
    ctx.detail("sample") = sample.map { case (f, q) => s"$f/${q.name}" }
  }

  def run(ctx: Ctx): Unit = {
    Memos.foreach(QueryRuns.forceShared(ctx, _))
    sample.foreach { case (fam, q) =>
      QueryRuns.step(ctx, fam, s"queries.$fam.${q.name}", q, victim, seen)
    }
  }

  def check(ctx: Ctx): Unit =
    seen.foreach { case (name, fp) => QueryRuns.checkFingerprint(ctx, name, fp) }

  override def layerMetrics(ctx: Ctx, a: Trace.Analysis, root: Trace.Span): Map[String, Double] = {
    val qs = a.named("queries.", root)
    val perFamily = families.map(_._1).map { f =>
      val ms = qs.filter(_.name.startsWith(s"queries.$f.")).map(_.durationMs)
      s"queries.${f}_p50_ms" -> (if (ms.isEmpty) 0.0 else Stats.median(ms))
    }
    val n = math.max(1, qs.size).toDouble
    perFamily.toMap ++ Map(
      "queries.jobs_per_query" -> qs.map(a.total(_).jobs).sum / n,
      "queries.driver_only_ms_per_query" -> qs.map(a.driverOnlyMs).sum / n)
  }
}

/** The LLM-curation operator chain: the corpus memos in dependency
  * order, then the iterative and self-join operators in seed order. */
object CurationBatch extends Workload {
  val name = "curation_batch"

  val Memos = Seq("corpus_survivors", "minhash_pairs", "cluster_components", "survivor_components")
  val Ops = Seq("dedup_ngram_jaccard", "corpus_bpe_merges", "corpus_bpe_encode",
    "emb_kmeans_lloyd", "quality_lr_train", "quality_lr_score")

  private var order: Seq[Q] = Nil
  private var victim: Option[String] = None
  private val seen = scala.collection.mutable.LinkedHashMap[String, String]()

  def prepare(ctx: Ctx): Unit = {
    val byName = SparkEntry.allQueries.map(q => q.name -> q).toMap
    order = ctx.rng.shuffle(Ops).map(byName)
    victim = QueryRuns.victimOf(ctx, order.map(_.name))
    ctx.detail("order") = order.map(_.name)
  }

  def run(ctx: Ctx): Unit = {
    Memos.foreach(QueryRuns.forceShared(ctx, _))
    order.foreach(q => QueryRuns.step(ctx, "curation", s"curation.${q.name}", q, victim, seen))
  }

  /** The memo frames themselves, for their fingerprints. */
  def memoFrame(s: SparkSession, dir: String, memo: String): DataFrame = memo match {
    case "corpus_survivors" => LlmQueries.corpusSurvivors(s, dir)
    case "minhash_pairs" => LlmQueries.minhashPairs(s, dir)
    case "cluster_components" => LlmQueries.clusterComponents(s, dir)
    case "survivor_components" => LlmQueries.survivorComponents(s, dir)
  }

  def check(ctx: Ctx): Unit = {
    val failed = ctx.builds.filterNot(_.ok).map(_.name).toSet
    Memos.filterNot(failed).foreach(m => QueryRuns.checkFingerprint(ctx, s"shared:$m",
      QueryRuns.noopWrite(memoFrame(ctx.spark, ctx.lake, m))))
    seen.foreach { case (name, fp) => QueryRuns.checkFingerprint(ctx, name, fp) }
  }

  override def extraLayer: Seq[(String, String)] =
    Memos.map(m => s"shared.${m}_s" -> "s") ++ Ops.map(o => s"curation.${o}_s" -> "s") :+
      ("curation.jobs_per_op" -> "count")

  override def layerMetrics(ctx: Ctx, a: Trace.Analysis, root: Trace.Span): Map[String, Double] = {
    val ops = a.named("curation.", root)
    Ops.map(o => s"curation.${o}_s" ->
        ops.filter(_.name == s"curation.$o").map(_.durationMs / 1e3).sum).toMap +
      ("curation.jobs_per_op" -> ops.map(a.total(_).jobs).sum / math.max(1, ops.size).toDouble)
  }
}
