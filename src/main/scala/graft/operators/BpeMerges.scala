package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Iterative BPE merge learning — the byte-pair-encoding training loop
  * (Sennrich et al. 2016) as k rounds of DataFrame jobs:
  *
  *   count adjacent symbol pairs across the weighted vocabulary →
  *   merge the most frequent pair everywhere → repeat.
  *
  * The working set is the DISTINCT-WORD table (word, freq) — the corpus
  * compresses to its vocabulary before any iteration, so at 100 TB the
  * loop runs over millions of metadata rows, not billions of documents;
  * only the single argmax pair row crosses to the driver per round
  * (bounded metadata, like the IVF centroid tables). Rounds run in
  * [[graft.Lineage.rounds]].
  *
  * Symbol sequences are encoded as delimiter-wrapped strings — word
  * `ab` → `·a··b·` — so one compiled string `replace` applies a merge
  * greedily left-to-right and non-overlapping: the doubled delimiter
  * means `·a··a·` inside `·a··a··a·` matches once, exactly the classic
  * merge-application semantics (`aaa` + merge(a,a) → `[aa, a]`), while
  * pair COUNTING stays overlapping (`aaa` counts (a,a) twice), also the
  * classic behavior. No HOF lambdas anywhere: char-wrapping is one
  * regexp_replace, pair extraction is `sequence` + `element_at`.
  */
object BpeMerges {

  /** Symbol delimiter — must not occur in any input word. */
  val Delim = "·"

  /** Learn up to `k` merges from a weighted vocabulary. Returns
    * `(merge_rank 1..k, lhs, rhs, pair_freq)` in merge order; stops
    * early (fewer rows) only when no adjacent pair remains. Ties on
    * pair frequency break by (lhs, rhs) — fully deterministic. */
  def learn(
      words: DataFrame,
      wordCol: String,
      freqCol: String,
      k: Int): Seq[(Long, String, String, Long)] = {
    require(k >= 1, s"need at least one merge round, got $k")
    val merges = scala.collection.mutable.ArrayBuffer[(Long, String, String, Long)]()
    val (_, release) = graft.Lineage.rounds(graft.Lineage.checkpointed(
      words.select(
        regexp_replace(col(wordCol), "(.)", s"$Delim$$1$Delim").as("seq"),
        col(freqCol).cast("long").as("freq"))), k)({ (cur, round) =>
      val syms = split(
        regexp_replace(col("seq"), s"^$Delim|$Delim$$", ""), s"$Delim$Delim")
      val top = cur
        .select(col("freq"), syms.as("a"))
        .filter(size(col("a")) > 1)
        .select(col("freq"), col("a"),
          explode(sequence(lit(1), size(col("a")) - 1)).as("i"))
        .select(col("freq"),
          element_at(col("a"), col("i")).as("lhs"),
          element_at(col("a"), col("i") + 1).as("rhs"))
        .groupBy("lhs", "rhs").agg(sum(col("freq")).as("cnt"))
        .orderBy(col("cnt").desc, col("lhs"), col("rhs")).limit(1)
        .collect()
      // no adjacent pair left: the vocabulary is exhausted, stop early
      top.headOption.map { t =>
        val (l, r, cnt) = (t.getString(0), t.getString(1), t.getLong(2))
        merges += ((round.toLong, l, r, cnt))
        cur.withColumn("seq",
          replace(col("seq"), lit(s"$Delim$l$Delim$Delim$r$Delim"),
            lit(s"$Delim$l$r$Delim")))
      }
    }, (_, _) => false)
    release()
    merges.toSeq
  }
}
