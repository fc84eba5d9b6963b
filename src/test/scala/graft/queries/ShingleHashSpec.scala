package graft.queries

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.{SharedSpark, Tables}
import graft.functions.TextFunctions

/** Pins the equivalence premise of `dedup_ngram_jaccard`'s hashed
  * candidate generation (guide §2.3 — shuffle 8-byte shingle hashes,
  * not ~30-byte strings): the rewrite is EXACT iff no two distinct
  * 4-shingles of the corpus share an xxhash64 value. Expected
  * collision mass at any shipped scale factor is ~n²/2⁶⁵ (≈10⁻⁸ at a
  * million shingles); this asserts the property on the actual data so
  * a future corpus drop that beats those odds fails loudly here, not
  * as a silent candidate-set drift. (The exact-Jaccard stage compares
  * full shingle SETS either way, so a collision could only add or
  * drop a candidate pair, never misscore one.) */
class ShingleHashSpec extends AnyFunSuite {
  private lazy val spark = SharedSpark.spark

  for (sf <- Seq("sf0.001", "sf0.01", "sf0.1")) {
    test(s"xxhash64 has no collisions over $sf's distinct 4-shingles") {
      val dir = s"/root/testdata/$sf"
      assume(new java.io.File(s"$dir/documents.parquet").exists())
      val collisions = Tables.documents(spark, dir)
        .select(explode(TextFunctions.shingles(col("text"), 4)).as("shingle"))
        .distinct()
        .groupBy(xxhash64(col("shingle")).as("h"))
        .agg(countDistinct(col("shingle")).as("n"))
        .filter(col("n") > 1)
        .count()
      assert(collisions == 0L,
        s"xxhash64 collision among $sf shingles — the hashed candidate " +
          "generation in dedup_ngram_jaccard is no longer exact; revert " +
          "to joining on the shingle strings")
    }
  }
}
