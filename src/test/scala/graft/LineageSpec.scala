package graft

import org.scalatest.funsuite.AnyFunSuite

/** `Lineage.checkpointed`'s leaf handling and the statistics its
  * checkpoint leaves carry (`GraftSqlShim.withMeasuredStats`). */
class LineageSpec extends AnyFunSuite {
  private lazy val spark = SharedSpark.spark

  test("checkpointed refuses a checkpoint leaf whose blocks were already released") {
    val (cp, release) = Lineage.checkpointed(spark.range(0, 100, 1, 2).toDF("id"))
    // a live leaf is reused as-is, with a releaser that frees nothing
    val (same, noop) = Lineage.checkpointed(cp)
    assert(same eq cp)
    noop()
    assert(cp.count() == 100)
    release()
    val leaf = org.apache.spark.sql.GraftSqlShim.leafRdd(cp).get
    val e = intercept[IllegalStateException](Lineage.checkpointed(cp))
    assert(e.getMessage.contains("already released") &&
      e.getMessage.contains(s"[${leaf.id}]"), e.getMessage)
  }

  test("a checkpointed frame keeps its origin rowCount beside its measured size") {
    // withMeasuredStats reads LogicalRDD's constructor-private
    // originStats/originConstraints reflectively; a Spark upgrade that
    // renames them would otherwise drop rowCount (and constraints) at
    // every checkpoint leaf without a sound
    val origin = spark.range(0, 1000, 1, 2).toDF("id").filter("id > 5").limit(500)
    val originPlan = origin.queryExecution.optimizedPlan
    assert(originPlan.stats.rowCount.contains(BigInt(500)))
    val (cp, release) = Lineage.checkpointed(origin)
    try {
      val leaf = cp.queryExecution.analyzed
      val rdd = org.apache.spark.sql.GraftSqlShim.leafRdd(cp).get
      val stored = spark.sparkContext.getRDDStorageInfo.find(_.id == rdd.id)
        .map(i => i.memSize + i.diskSize).getOrElse(0L)
      assert(stored > 0L)
      assert(leaf.stats.sizeInBytes == BigInt(stored), "measured size not stamped")
      assert(leaf.stats.rowCount.contains(BigInt(500)),
        s"origin rowCount lost at the checkpoint leaf: ${leaf.stats}")
      // the leaf re-binds the constraints to its own attribute ids
      val originConstraints = originPlan.constraints.map(_.sql).toSet
      assert(originConstraints.nonEmpty)
      assert(leaf.constraints.map(_.sql).toSet == originConstraints,
        s"origin constraints lost at the checkpoint leaf: ${leaf.constraints}")
    } finally release()
  }
}
