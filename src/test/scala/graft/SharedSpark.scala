package graft

import org.apache.spark.sql.SparkSession

/** One shared local session for the whole suite (sbt forks a single
  * test JVM; building a session per spec would dominate runtime). */
object SharedSpark {
  lazy val spark: SparkSession = {
    // the engine's session settings, as Verify/Bench use them, so every
    // spec exercises the native functions + optimizer rewrite path
    val s = SparkEntry.sessionBuilder("4")
      .appName("graft-tests")
      // Spark 4.1's checksum checkpoint manager deadlocked the whole
      // suite under the streaming tests (all executor threads parked in
      // ChecksumCheckpointFileManager.awaitResult); tests don't need
      // checkpoint corruption detection.
      .config("spark.sql.streaming.checkpoint.fileChecksum.enabled", "false")
      // bucketed-table specs saveAsTable; keep the warehouse out of the
      // repo working tree
      .config("spark.sql.warehouse.dir", "/tmp/graft_test_warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    Logging.quietNoise()
    s
  }
}
