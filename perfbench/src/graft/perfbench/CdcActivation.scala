package graft.perfbench

import java.nio.charset.StandardCharsets
import java.security.MessageDigest

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.StringType

import graft.activation.Activation
import graft.etl.{AggregateView, MaterializedView, SnapshotCatalog}
import graft.functions.Cleansing
import graft.operators.Dedup
import graft.queries.{DomainQueries, PerfbenchFeeds}
import graft.sinks.EventSink
import graft.streaming.Streams
import graft.views.Customer360

/** The reference's nightly loop at the lake's scale: build the
  * validated-sales aggregate view and the marketable-contacts view,
  * register both in a snapshot catalog, ship the built view's events,
  * then run CDC cycles. Each cycle hands one seed-chosen slice of
  * customers to the stream — their deals as streamed fact rows, their
  * held-back master versions as the dimension change — and ends with an
  * activation run off the catalog pin.
  *
  * Slices are custno-partitioned: a customer's deals and master
  * versions all arrive in one cycle, so the events already shipped for
  * other customers never change afterwards, and the union of delivered
  * events must equal the one-shot event set over the final state. */
object CdcActivation extends Workload {
  val name = "cdc_activation"

  /** Customers fall into `custno % Modulus` residue classes; a cycle's
    * slice is one seed-chosen class that has deals (about 15 customers
    * at sf0.01). */
  val Modulus = 97

  /** CDC cycles per second of `--seconds`. */
  val CyclesPerSecond = 0.15

  /** Delivered events, as 64-bit digests (the transport runs in tasks,
    * so it records into a static collection). */
  val delivered = new java.util.concurrent.ConcurrentLinkedQueue[java.lang.Long]()

  def digest(s: String): Long = java.nio.ByteBuffer.wrap(
    MessageDigest.getInstance("MD5").digest(s.getBytes(StandardCharsets.UTF_8)), 0, 8).getLong

  val transport: EventSink.Transport = batch => batch.foreach(e => delivered.add(digest(e)))

  private var dims, facts, dimsBuild, factsBuild: DataFrame = _
  private var deals: Seq[Seq[String]] = Nil
  private var dimBatches: Seq[DataFrame] = Nil
  private var av: AggregateView = _
  private var contacts: MaterializedView = _
  private var catalog: SnapshotCatalog = _
  private var query: StreamingQuery = _
  private var root, statePath: String = _
  @volatile private var currentDims: DataFrame = _
  private var eventsSent = 0L
  private var feedRows = 0L
  private var refreshCalls, published = 0

  def cycles(seconds: Int): Int = math.max(2, math.round(CyclesPerSecond * seconds).toInt)

  def prepare(ctx: Ctx): Unit = {
    val spark = ctx.spark
    root = s"${ctx.work}/cdc"
    statePath = s"$root/processed"
    delivered.clear()
    ctx.span("sources.feed_synthesis") {
      PerfbenchFeeds.customerMaster(spark, ctx.lake)
        .filter(Cleansing.notSoftDeleted(col("isdeleted"), col("deletedataflag")))
        .select(Customer360.MarketableContactCols.map(col): _*)
        .write.parquet(s"$root/landed/dims")
      PerfbenchFeeds.vehicleSales(spark, ctx.lake)
        .filter(col("custno").isNotNull && col("vin").isNotNull && col("contractdate").isNotNull)
        .select(Customer360.ValidatedSalesSourceCols.map(col): _*)
        .write.parquet(s"$root/landed/facts")
    }
    dims = spark.read.parquet(s"$root/landed/dims")
    facts = spark.read.parquet(s"$root/landed/facts")
    val custL = col("custno").cast("long")
    val withDeals = facts.select((custL % Modulus).cast("int").as("r")).distinct()
      .collect().map(_.getInt(0)).sorted.toVector
    val residues = ctx.rng.shuffle(withDeals).take(cycles(ctx.seconds))
    def inSlice(r: Int) = custL % Modulus === r
    val anySlice = (custL % Modulus).isin(residues: _*)
    // a slice customer's odd master versions are held back to its cycle
    val held = col("sourcerowid") % 2 =!= 0
    dimsBuild = dims.filter(!(anySlice && held))
    factsBuild = facts.filter(!anySlice)
    ctx.span("sources.cdc_slices") {
      deals = residues.map(r => facts.filter(inSlice(r)).select("dealno").distinct()
        .collect().map(_.getString(0)).sorted.toSeq)
    }
    dimBatches = residues.map(r => dims.filter(inSlice(r) && held))
    ctx.detail("residues") = residues
    ctx.detail("cdc_input_mb") = Files.bytesUnder(s"$root/landed") / 1e6
    ctx.detail("cycle_deals") = deals.map(_.size)
  }

  private def countPublish(ctx: Ctx, versions: () => Seq[Long])(refresh: => Unit): Unit =
    if (!ctx.trace.enabled) refresh
    else {
      val before = ctx.span("bench.versions")(versions())
      refresh
      refreshCalls += 1
      if (ctx.span("bench.versions")(versions()) != before) published += 1
    }

  private def activationRun(ctx: Ctx): Unit = ctx.span("activation.run") {
    val spark = ctx.spark
    val feed = ctx.span("activation.Activation.feedFromCatalog")(
      Activation.feedFromCatalog(catalog, spark).getOrElse(sys.error("catalog has no consistent feed")))
    val processed = ctx.span("sinks.EventSink.ProcessedIds.load")(
      EventSink.ProcessedIds.load(spark, statePath, "deal_number", StringType))
    val events = ctx.span("activation.Activation.toSegmentTrackEvents")(
      Activation.toSegmentTrackEvents(Activation.cleanAndValidate(Activation.nextBatch(
        feed, processed, lit("1990-01-01").cast("timestamp"), lit("2030-01-01").cast("timestamp"),
        limit = 1000000))))
    if (ctx.trace.enabled) feedRows += ctx.span("bench.feed_count")(feed.count())
    eventsSent += ctx.span("sinks.EventSink.deliverBatchIdempotent")(
      EventSink.deliverBatchIdempotent(events, "deal_number", "event_json", statePath, transport))
  }

  def run(ctx: Ctx): Unit = {
    val spark = ctx.spark
    av = DomainQueries.validatedSalesAggregateView(s"$root/av", keepVersions = 2)
    contacts = DomainQueries.marketableContactsView(s"$root/contacts")
    ctx.build("etl", "av_build")(ctx.span("etl.AggregateView.build")(av.build(dimsBuild, factsBuild)))
    ctx.build("etl", "mv_build")(ctx.span("etl.MaterializedView.build")(contacts.build(dimsBuild)))
    ctx.build("etl", "catalog")(ctx.span("etl.SnapshotCatalog.commitCycle") {
      catalog = new SnapshotCatalog(s"$root/catalog")
        .register("validated_sales", av.store)
        .register("marketable_contacts", contacts.store)
      catalog.commitCycle(spark)
    })
    ctx.build("activation", "initial")(activationRun(ctx))

    implicit val sq = spark.sqlContext
    import spark.implicits._
    val in = MemoryStream[String]
    val cdc = in.toDF().toDF("__deal_key")
      .join(facts, col("__deal_key") === col("dealno")).drop("__deal_key")
    val avVersions = () => av.viewVersions(spark)
    val mvVersions = () => contacts.viewVersions(spark)
    query = ctx.span("streaming.Streams.maintainCycle")(
      Streams.maintainCycle(cdc, catalog, s"$root/checkpoint")(
        batch => ctx.span("etl.AggregateView.refreshFacts")(
          countPublish(ctx, avVersions)(av.refreshFacts(batch))),
        _ => ctx.span("etl.AggregateView.refreshDims")(
          countPublish(ctx, avVersions)(av.refreshDims(currentDims))),
        _ => ctx.span("etl.MaterializedView.refresh")(
          countPublish(ctx, mvVersions)(contacts.refresh(currentDims)))))
    try {
      deals.indices.foreach { i =>
        ctx.step("cycle", s"cycle$i")(ctx.span("cycle") {
          ctx.trace.ambient = ctx.trace.current
          currentDims = dimBatches(i)
          if (!(ctx.inject.contains("drop_cdc_batch") && i == 0)) {
            ctx.span("streaming.addData")(in.addData(deals(i): _*))
            ctx.span("streaming.processAllAvailable")(query.processAllAvailable())
          }
          activationRun(ctx)
          ctx.trace.ambient = None
        })
      }
    } finally query.stop()
    ctx.detail("store_mb") = Seq("av", "contacts", "catalog", "processed")
      .map(d => Files.bytesUnder(s"$root/$d")).sum / 1e6
    ctx.detail("events_sent") = eventsSent
  }

  /** Every row the cycles were meant to deliver has been delivered once
    * all cycles ran, so the maintained views must equal a full build over
    * the whole feed: for the validated-sales view that is the registered
    * `v_validated_sales` query, whose result hash is recorded. */
  def check(ctx: Ctx): Unit = {
    val spark = ctx.spark
    QueryRuns.checkHash(ctx, "v_validated_sales")(PerfbenchFeeds.pinTypes(av.view(spark)))
    ctx.expect("contacts view == full build over every delivered row") {
      val full = Customer360.marketableContactsOfLatest(Dedup.latestByKey(dims, Seq("custno"),
        Seq(col("lastupdated").desc, col("dateadded").desc, col("sourcerowid").desc)))
      val live = contacts.view(spark)
      live.exceptAll(full).isEmpty && full.exceptAll(live).isEmpty
    }
    val sent = delivered.asScala.map(_.longValue).toVector
    ctx.expect("no event delivered twice")(sent.distinct.size == sent.size)
    ctx.expect("delivered events == one-shot event set over the final views") {
      val none = spark.emptyDataFrame.withColumn("deal_number", lit(null).cast("string")).limit(0)
      val oneShot = Activation.toSegmentTrackEvents(Activation.cleanAndValidate(Activation.nextBatch(
        Activation.feedFromValidatedSales(av.view(spark), contacts.view(spark)),
        none, lit("1990-01-01").cast("timestamp"), lit("2030-01-01").cast("timestamp"),
        limit = 1000000)))
        .select("event_json").rdd.map(r => digest(r.getString(0))).collect().toVector
      val ok = oneShot.sorted == sent.sorted
      if (!ok) ctx.failures += s"delivered ${sent.size} events, one-shot set has ${oneShot.size}"
      ok
    }
  }

  override def layerMetrics(ctx: Ctx, a: Trace.Analysis, root: Trace.Span): Map[String, Double] = {
    def secs(name: String) = a.named(name, root).filter(_.name == name).map(_.durationMs / 1e3).sum
    val cyclesSpans = a.named("cycle", root).filter(_.name == "cycle")
    val etlInCycles = cyclesSpans.flatMap(c => a.named("etl.", c))
    val progress = Option(query).map(_.recentProgress.toSeq).getOrElse(Nil)
    def dur(k: String) = progress.flatMap(p => Option(p.durationMs.get(k)).map(_.longValue)).sum.toDouble
    val refreshS = Seq("etl.AggregateView.refreshFacts", "etl.AggregateView.refreshDims",
      "etl.MaterializedView.refresh").map(secs).sum
    Map(
      "etl.av_build_s" -> secs("etl.AggregateView.build"),
      "etl.mv_build_s" -> secs("etl.MaterializedView.build"),
      "etl.av_refresh_facts_s" -> secs("etl.AggregateView.refreshFacts"),
      "etl.av_refresh_dims_s" -> secs("etl.AggregateView.refreshDims"),
      "etl.mv_refresh_s" -> secs("etl.MaterializedView.refresh"),
      // the per-cycle commit runs inside the stream's batch, after the
      // refreshers: its share of addBatch plus the first commit
      "etl.commit_cycle_s" -> (secs("etl.SnapshotCatalog.commitCycle") +
        math.max(0.0, dur("addBatch") / 1e3 - refreshS)),
      "etl.jobs_per_cycle" -> etlInCycles.map(a.total(_).jobs).sum / math.max(1, cyclesSpans.size).toDouble,
      "etl.state_write_mb" -> a.named("etl.", root).map(a.total(_).outputMb).sum,
      "etl.publish_ratio" -> (if (refreshCalls == 0) 0.0 else published.toDouble / refreshCalls),
      "streaming.add_batch_ms" -> dur("addBatch"),
      "streaming.query_planning_ms" -> dur("queryPlanning"),
      "streaming.wal_commit_ms" -> dur("walCommit"),
      "activation.deliver_s" -> secs("sinks.EventSink.deliverBatchIdempotent"),
      "activation.events_sent" -> eventsSent.toDouble,
      "activation.sent_ratio" -> (if (feedRows == 0) 0.0 else eventsSent.toDouble / feedRows),
      "sinks.processed_id_files" -> Files.countUnder(statePath, _.endsWith(".parquet")).toDouble)
  }
}

object Files {
  private def walk(path: String): Seq[java.io.File] = {
    val f = new java.io.File(path)
    if (!f.exists) Nil
    else if (f.isFile) Seq(f)
    else Option(f.listFiles).toSeq.flatten.flatMap(c => walk(c.getPath))
  }
  def bytesUnder(path: String): Long = walk(path).map(_.length).sum
  def countUnder(path: String, p: String => Boolean): Int = walk(path).count(f => p(f.getName))
}
