package graft.operators

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SharedSpark

/** Operator-level properties: upsert idempotence (SURVEY §5.3), dedup ≡
  * max_by, incremental batch semantics. Property cases are generated
  * with a fixed-seed Random (the offline cache has no
  * scalatest-scalacheck bridge, so sampling is hand-rolled). */
class OperatorsSpec extends AnyFunSuite {
  private lazy val spark = SharedSpark.spark
  import spark.implicits._

  private def rows(df: org.apache.spark.sql.DataFrame): Set[String] =
    df.collect().map(_.toString).toSet

  test("upsert: staging wins on key, target rows without match survive") {
    val target = Seq(("d1", 10), ("d2", 20), ("d3", 30)).toDF("dealno", "v")
    val staging = Seq(("d2", 99), ("d4", 40)).toDF("dealno", "v")
    val out = Upsert.upsert(target, staging, Seq("dealno"))
    assert(rows(out) == Set("[d1,10]", "[d3,30]", "[d2,99]", "[d4,40]"))
  }

  test("upsert idempotence property: apply twice ≡ once (10 seeded cases)") {
    val rnd = new scala.util.Random(42)
    for (_ <- 1 to 10) {
      val target = List.fill(8)(rnd.nextInt(6)).zipWithIndex
        .map { case (k, i) => (s"k$k-$i", i) }.toDF("key", "v")
      val staging = List.fill(8)(rnd.nextInt(6)).distinct.zipWithIndex
        .map { case (k, i) => (s"k$k-$i", 100 + i) }.toDF("key", "v")
      val once = Upsert.upsert(target, staging, Seq("key"))
      val twice = Upsert.upsert(once, staging, Seq("key"))
      assert(rows(once) == rows(twice))
    }
  }

  test("upsert stays idempotent when key columns contain NULL") {
    // try_cast'd key columns (e.g. rowlastupdatedutc) routinely yield
    // NULL; a plain equi-anti-join never matches NULL keys and would
    // duplicate such rows on every re-run
    val target = Seq((Some("d1"), 10), (None, 20)).toDF("dealno", "v")
    val staging = Seq((Option.empty[String], 99), (Some("d3"), 30)).toDF("dealno", "v")
    val once = Upsert.upsert(target, staging, Seq("dealno"))
    val twice = Upsert.upsert(once, staging, Seq("dealno"))
    assert(rows(once) == rows(twice))
    // the NULL-keyed staging row replaced the NULL-keyed target row
    assert(rows(once) == Set("[d1,10]", "[null,99]", "[d3,30]"))
  }

  test("latestByKey ≡ groupBy.max_by under a total order") {
    val df = Seq(
      ("c1", "2024-01-01 00:00:00", "v1"), ("c1", "2024-03-01 00:00:00", "v2"),
      ("c2", "2024-02-01 00:00:00", "v3"))
      .toDF("k", "ts", "v").withColumn("ts", col("ts").cast("timestamp"))
    val viaWindow = Dedup.latestByKey(df, Seq("k"), Seq(col("ts").desc))
      .select("k", "v")
    val viaMaxBy = df.groupBy("k").agg(expr("max_by(v, ts)").as("v"))
    assert(rows(viaWindow) == rows(viaMaxBy))
  }

  test("latestByKey keeps exactly one row per key even on order ties (with tiebreak)") {
    val df = Seq(("c1", 5, "a"), ("c1", 5, "b"), ("c2", 1, "c"))
      .toDF("k", "ver", "v")
    val out = Dedup.latestByKey(df, Seq("k"), Seq(col("ver").desc, col("v").asc))
    assert(out.count() == 2)
    assert(rows(out.select("k", "v")) == Set("[c1,a]", "[c2,c]"))
  }

  test("latestByKeyClustered ≡ latestByKey and plans exactly ONE exchange") {
    val df = Seq(("c1", 1, "a"), ("c1", 2, "b"), ("c2", 1, "c"), ("c3", 4, "d"))
      .toDF("k", "ver", "v")
      .withColumn("__b", pmod(xxhash64(col("k")), lit(4L)))
    val fused = Dedup.latestByKeyClustered(
      df, Seq("k"), Seq(col("ver").desc, col("v").asc), "__b")
    val plain = Dedup.latestByKey(df, Seq("k"), Seq(col("ver").desc, col("v").asc))
    assert(rows(fused.select("k", "v")) == rows(plain.select("k", "v")))
    // the fusion's whole point: hash-on-bucket satisfies the window's
    // clustered distribution, so the cluster exchange is the ONLY one —
    // a second exchange here means every MV state materialization
    // shuffles its data twice again
    fused.collect()
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    var exchanges = 0
    def walk(p: SparkPlan): Unit = {
      if (p.isInstanceOf[ShuffleExchangeLike]) exchanges += 1
      p match {
        case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
        case q: QueryStageExec => walk(q.plan)
        case other => other.children.foreach(walk)
      }
    }
    walk(fused.queryExecution.executedPlan)
    assert(exchanges == 1, s"expected 1 exchange in fused fold plan, got $exchanges")
  }

  test("sequenceNumber assigns 1-based order per key") {
    val df = Seq(("c1", 3), ("c1", 1), ("c1", 2), ("c2", 9)).toDF("k", "d")
    val out = Dedup.sequenceNumber(df, Seq("k"), Seq(col("d").asc), "seq")
    assert(rows(out) == Set("[c1,1,1]", "[c1,2,2]", "[c1,3,3]", "[c2,9,1]"))
  }

  test("exactByHash keeps the smallest id per identical content") {
    val df = Seq((3L, "same text"), (1L, "same text"), (2L, "other"))
      .toDF("id", "text")
    val out = Dedup.exactByHash(df, "text", "id")
    assert(rows(out.select("id")) == Set("[1]", "[2]"))
  }

  test("topK per group ≡ rank window (seeded random, ties, null keys, k boundary)") {
    val rnd = new scala.util.Random(7)
    for (k <- Seq(1, 3); _ <- 1 to 3) {
      // heavy ties (scores drawn from 4 values) + ~10% null sort keys
      val data = (1L to 60L).map { id =>
        val score: java.lang.Double =
          if (rnd.nextInt(10) == 0) null else rnd.nextInt(4).toDouble
        (s"g${rnd.nextInt(5)}", score, id)
      }
      val df = data.toDF("g", "score", "id")
      val viaAgg = df.groupBy("g")
        .agg(TopKPerGroup.topK(k)(col("score"), col("id")).as("tk"))
        .select(col("g"), posexplode(col("tk")))
        .select(col("g"), (col("pos") + 1).as("rnk"), col("col._2").as("id"))
      val viaWindow = df
        .withColumn("rnk", row_number().over(
          org.apache.spark.sql.expressions.Window.partitionBy("g")
            .orderBy(col("score").desc_nulls_last, col("id").asc)).cast("long"))
        .filter(col("rnk") <= k)
        .select("g", "rnk", "id")
      assert(rows(viaAgg) == rows(viaWindow), s"k=$k mismatch")
    }
  }

  test("incremental nextBatch: range + exclusion + deterministic top-k") {
    val src = (1 to 20).map(i => (i.toLong, s"2024-01-${"%02d".format(i)} 00:00:00"))
      .toDF("id", "ts").withColumn("ts", col("ts").cast("timestamp"))
    val processed = Seq(15L, 16L).toDF("id")
    val out = Incremental.nextBatch(src, processed, "id", "ts",
      lit("2024-01-10").cast("timestamp"), lit("2024-01-18").cast("timestamp"),
      Seq(col("ts").desc, col("id").desc), 3)
    assert(out.select("id").as[Long].collect().toSeq == Seq(18L, 17L, 14L))
  }
}
