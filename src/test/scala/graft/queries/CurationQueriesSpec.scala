package graft.queries

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.{SharedSpark, SparkEntry}

/** Semantic properties of the corpus-curation queries on PLANTED
  * documents (the sf-lake rows exercise them end-to-end in the
  * differential gate; here the fixtures make each behavior provable):
  * a copy of a benchmark document must flag as contaminated, the
  * stratified sample must be the deterministic hash-derived set, and
  * the token-budget selection must be exactly the greedy prefix. */
class CurationQueriesSpec extends AnyFunSuite with BeforeAndAfterAll {
  private lazy val spark = SharedSpark.spark
  private var dir: String = _

  // doc_id 7 is the benchmark slice (doc_id % 50 == 7)
  private val benchText = "alpha bravo charlie delta echo foxtrot golf hotel"
  private val docs = Seq(
    (7L, benchText, "en", "web"),                             // benchmark
    (1L, benchText + " india juliett", "en", "web"),          // near-copy → contaminated
    (2L, "one two three four five six seven eight nine", "en", "web"), // clean
    (3L, "tiny", "en", "web"),                                // no 4-grams
    (4L, "uno dos tres cuatro cinco seis siete ocho", "es", "web"),
    (5L, "ein zwei drei vier funf sechs sieben acht", "de", "web"),
    // bucket(9) = 69 ≥ de's 50% epoch: this doc must DROP in the
    // fractional-epoch path (and miss the 25% stratified rate too)
    (9L, "neun zehn elf zwolf dreizehn vierzehn", "de", "web"),
    (6L, "un deux trois quatre cinq six sept huit", "fr", "web"),
    (8L, "yi er san si wu liu qi ba jiu shi", "zh", "web")) ++
    // five ~700-token docs so the 3000-token budget CUTS (3500 > 3000):
    // without a stratum that crosses the budget, the greedy-prefix
    // exclusion boundary would never be exercised
    (20L to 24L).map(i =>
      (i, (1 to 700).map(j => s"big${i}w$j").mkString(" "), "en", "bulk"))

  override def beforeAll(): Unit = {
    val spark0 = spark
    import spark0.implicits._
    dir = Files.createTempDirectory("curation_docs").toString
    docs.map { case (id, text, lang, source) =>
      (id, text, lang, source, text.length.toLong)
    }.toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
  }

  test("a copy of a benchmark document flags as contaminated; clean text does not") {
    val out = SparkEntry.queries("decontam_overlap")(spark, dir)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getDouble(3), r.getBoolean(4))).toMap
    // doc 1 extends the bench doc by two tokens: its first five 4-grams
    // are verbatim bench 4-grams (5 of 7 distinct shingles hit)
    val (n1, hit1, ratio1, flag1) = out(1L)
    assert(n1 == 7 && hit1 == 5 && flag1, s"doc 1: $n1 $hit1 $ratio1 $flag1")
    assert(math.abs(ratio1 - 5.0 / 7.0) < 1e-3)
    // disjoint vocabulary → zero hits
    assert(out(2L) == ((6L, 0L, 0.0, false)))
    // shorter than the shingle width → 0/0 → ratio 0, not null/NaN
    assert(out(3L) == ((0L, 0L, 0.0, false)))
    // the benchmark doc itself is excluded from the corpus side
    assert(!out.contains(7L))
  }

  test("span excision removes exactly the benchmark-covered tokens") {
    val out = SparkEntry.queries("decontam_excise")(spark, dir)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getString(3))).toMap
    // doc 1 = bench doc 7 (8 tokens) + "india juliett": its 4-gram
    // windows 1..5 are verbatim bench shingles, covering tokens 1..8 —
    // exactly those vanish, the clean tail survives
    assert(out(1L) == ((10L, 8L, "india juliett")), s"doc 1: ${out(1L)}")
    // disjoint vocabulary → untouched, byte-identical
    assert(out(2L) == ((9L, 0L, "one two three four five six seven eight nine")))
    // shorter than a shingle → no window, untouched
    assert(out(3L) == ((1L, 0L, "tiny")))
    // the benchmark slice itself is not part of the corpus side
    assert(!out.contains(7L))
    // global sanity: n_tokens - n_removed == clean token count
    out.foreach { case (id, (n, rem, text)) =>
      val kept = if (text.isEmpty) 0 else text.split(" ").length
      assert(kept.toLong == n - rem, s"doc $id inconsistent")
    }
  }

  test("stratified sample is exactly the hash-derived set, twice over") {
    def bucket(id: Long) = ((id * 2654435761L) % 4294967296L) % 100L
    val rates = Map("en" -> 50L, "fr" -> 75L, "de" -> 25L, "es" -> 25L)
      .withDefaultValue(10L)
    val expected = docs.collect {
      case (id, _, lang, _) if bucket(id) < rates(lang) => (id, bucket(id))
    }.toSet
    def run() = SparkEntry.queries("mix_stratified_sample")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(3))).toSet
    val first = run()
    assert(first == expected, s"got $first, expected $expected")
    assert(run() == first, "sample must be deterministic across runs")
  }

  test("token-budget selection keeps exactly the greedy per-stratum prefix") {
    val budget = 3000L
    val kept = SparkEntry.queries("mix_token_budget")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
    // recompute the greedy prefix driver-side from the raw token counts
    val expected = docs
      .map { case (id, text, lang, _) => (id, lang, text.split(" ").length.toLong) }
      .groupBy(_._2).values.flatMap { grp =>
        val ordered = grp.sortBy { case (id, _, n) => (-n, id) }
        ordered.zip(ordered.scanLeft(0L)(_ + _._3).tail)
          .takeWhile(_._2 <= budget)
          .map { case ((id, lang, n), cum) => (id, lang, n, cum) }
      }.toSet
    assert(kept.toSet == expected)
    // the budget is an invariant, not just a fixture property
    kept.groupBy(_._2).foreach { case (lang, rows) =>
      assert(rows.map(_._3).sum <= budget, s"$lang over budget")
    }
    // the cutoff actually fired: the en stratum holds 3500+ tokens, so
    // at least one of its documents must have been excluded
    val keptEn = kept.filter(_._2 == "en").map(_._1).toSet
    val allEn = docs.filter(_._3 == "en").map(_._1).toSet
    assert(keptEn.subsetOf(allEn) && keptEn != allEn,
      s"budget cutoff never fired: kept all of $allEn")
  }

  test("epoch upsampling emits exactly the hash-derived copy counts") {
    def bucket(id: Long) = ((id * 2654435761L) % 4294967296L) % 100L
    val pcts = Map("en" -> 230L, "fr" -> 100L, "de" -> 50L, "es" -> 150L)
      .withDefaultValue(100L)
    val expected = docs.flatMap { case (id, _, lang, _) =>
      val p = pcts(lang)
      val n = p / 100 + (if (bucket(id) < p % 100) 1L else 0L)
      (0L until n).map(c => (id, lang, c))
    }.toSet
    val got = SparkEntry.queries("mix_epoch_upsample")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(2), r.getString(1)))
      .map(t => (t._1, t._3, t._2)).toSet
    assert(got == expected)
    // both directions actually exercised: some doc repeated, some dropped
    val copies = got.groupBy(_._1).map(_._2.size)
    assert(copies.exists(_ >= 2), "no stratum ever upsampled")
    assert(docs.map(_._1).toSet.diff(got.map(_._1)).nonEmpty,
      "fractional drop path unverified (doc 9 should vanish)")
  }

  test("pack emit materializes exact fixed-length sequences") {
    val seqLen = 64L
    val rows = SparkEntry.queries("mix_pack_emit")(spark, dir)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getString(4)))
    // per source: every sequence except the last is EXACTLY SeqLen
    // tokens, the last carries the remainder, and ids are dense from 0
    rows.groupBy(_._1).foreach { case (source, seqs) =>
      val sorted = seqs.sortBy(_._2)
      assert(sorted.map(_._2).toSeq == sorted.indices.map(_.toLong),
        s"$source: sequence ids not dense")
      sorted.init.foreach { case (_, id, n, _, text) =>
        assert(n == seqLen, s"$source seq $id: $n tokens, want $seqLen")
        assert(text.split(" ").length.toLong == seqLen,
          s"$source seq $id: text token count mismatch")
      }
      assert(sorted.last._3 <= seqLen && sorted.last._3 > 0)
    }
    // the emitted stream IS the doc_id-ordered concatenation: rebuild
    // each source's full token stream and compare verbatim
    rows.groupBy(_._1).foreach { case (source, seqs) =>
      val emitted = seqs.sortBy(_._2).map(_._5).mkString(" ")
      val expected = docs.filter(_._4 == source).sortBy(_._1)
        .map(_._2).mkString(" ")
      assert(emitted == expected, s"$source: emitted stream diverged")
    }
    // a straddling document was actually split: the bulk docs are 700
    // tokens on a 64-token grid, so multi-doc sequences AND splits exist
    assert(rows.exists(_._4 > 1), "no sequence drew from 2+ docs")
  }

  test("pack emit doc-start boundaries are exact attention-reset offsets") {
    val out = SparkEntry.queries("mix_pack_emit")(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(3), r.getString(5)))
    def starts(s: String) = if (s.isEmpty) Seq.empty
      else s.split(" ").map(_.toLong).toSeq
    out.foreach { case (source, id, nDocs, ds) =>
      val b = starts(ds)
      // strictly increasing within the sequence window, and matching
      // n_docs up to the one piece that may continue a straddler
      assert(b == b.sorted && b.distinct == b, s"$source seq $id: $ds")
      assert(b.forall(o => o >= 0 && o < 64), s"$source seq $id: $ds")
      assert(b.size == nDocs || b.size == nDocs - 1, s"$source seq $id: $ds")
    }
    // every document starts exactly once somewhere in its source stream
    out.groupBy(_._1).foreach { case (source, seqs) =>
      val total = seqs.map(s => starts(s._4).size).sum
      val expected = docs.count(_._4 == source)
      assert(total == expected, s"$source: $total starts for $expected docs")
    }
  }

  test("BPE segmentation round-trips and its counts are consistent") {
    // removing the '+' piece separators must rebuild each document
    // verbatim (segmentation loses nothing), and n_subwords must equal
    // tokens + splits; at least one word must actually have merged into
    // a multi-char symbol (k=8 rounds on this fixture guarantee it)
    val out = SparkEntry.queries("corpus_bpe_encode")(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
    assert(out.nonEmpty)
    val textById = docs.map(d => d._1 -> d._2).toMap
    out.foreach { case (id, nTok, nSub, bpe) =>
      assert(bpe.replace("+", "") == textById(id), s"doc $id: round-trip broke")
      assert(nSub == nTok + bpe.count(_ == '+'), s"doc $id: count mismatch")
      assert(nTok == textById(id).split(" ").length.toLong)
    }
    // merges actually shortened something: some word segments into
    // fewer pieces than its character count
    assert(out.exists { case (id, _, nSub, _) =>
      nSub < textById(id).replace(" ", "").length
    }, "no merge ever applied — segmentation is vacuously char-level")
  }

  test("capstone token streams are model-shaped (sf0.001 lake)") {
    // end-to-end invariants of corpus_training_tokens over the real
    // testdata lake (the differential gate proves value equality; this
    // pins the SHAPE a trainer relies on): fixed-length sequences,
    // ids_str length == n_tokens, ids within [-1, VocabK), and the OOV
    // path non-vacuous (vocab K=24 < 31 corpus tokens)
    val seqLen = 64L
    val out = SparkEntry.queries("corpus_training_tokens")(
      spark, "/root/testdata/sf0.001")
    val rows = out.collect().map(r => (r.getString(0), r.getLong(1),
      r.getLong(2), r.getLong(3), r.getString(4)))
    out.unpersist()
    assert(rows.nonEmpty, "capstone produced no sequences")
    rows.groupBy(_._1).foreach { case (source, seqs) =>
      val sorted = seqs.sortBy(_._2)
      sorted.init.foreach { case (_, id, n, _, _) =>
        assert(n == seqLen, s"$source seq $id: $n tokens") }
      assert(sorted.last._3 <= seqLen && sorted.last._3 > 0)
    }
    rows.foreach { case (source, id, n, nOov, ids) =>
      val parsed = ids.split(" ").map(_.toLong)
      assert(parsed.length.toLong == n, s"$source seq $id: ids_str length")
      assert(parsed.forall(t => t >= -1L && t < 24L), s"$source seq $id: id range")
      assert(parsed.count(_ == -1L).toLong == nOov, s"$source seq $id: oov count")
    }
    assert(rows.map(_._4).sum > 0, "OOV encoding path never exercised")
  }

  test("temperature mixing flattens the majority and keeps every minimum stratum") {
    val out = SparkEntry.queries("mix_temperature_sample")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(3)))
    // langs with the minimum count (es/fr/zh: 1 doc each) have p = 1
    // exactly — sqrt(n_min/n_min) — so every document survives
    Seq("es", "fr", "zh").foreach { l =>
      assert(out.count(_._2 == l) == 1, s"minimum stratum $l not fully kept")
      assert(out.filter(_._2 == l).forall(_._3 == 1.0))
    }
    // the majority stratum (en, 9 docs) is strictly downsampled — the
    // flattening is non-vacuous — but never emptied
    val en = out.filter(_._2 == "en")
    assert(en.nonEmpty && en.length < 9, s"en kept ${en.length} of 9")
    assert(en.forall(t => math.abs(t._3 - math.sqrt(1.0 / 9)) < 1e-15))
    // deterministic: the same set on a second run
    val again = SparkEntry.queries("mix_temperature_sample")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(3)))
    assert(out.toSeq == again.toSeq)
  }

  test("boilerplate strip removes exactly the cross-document template span") {
    val spark0 = spark
    import spark0.implicits._
    val dir2 = Files.createTempDirectory("boiler_docs").toString
    val footer = "subscribe to our newsletter" // the planted template 4-gram
    val docs2 = Seq(
      (1L, s"alpha beta gamma $footer"),   // trailing footer
      (2L, s"delta epsilon $footer zeta"), // mid-document footer
      (3L, footer),                        // footer-only doc → stripped empty
      (4L, "unique words only here"))      // untouched
    docs2.map { case (id, t) => (id, t, "en", "web", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(s"$dir2/documents.parquet")
    val out = SparkEntry.queries("corpus_boilerplate_strip")(spark, dir2)
      .collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getString(3))))
      .toMap
    // only the footer reaches df >= 3; boundary-spanning 4-grams differ
    // per document (df 1) and must not widen the excision
    assert(out == Map(
      1L -> ((7L, 4L, "alpha beta gamma")),
      2L -> ((7L, 4L, "delta epsilon zeta")),
      3L -> ((4L, 4L, "")),
      4L -> ((4L, 0L, "unique words only here"))), out.toString)
  }

  test("robust outlier filter: MAD=0 source degenerates to null z, spread source flags the extreme") {
    // columns: doc_id, source, token_cnt, med, mad, robust_z, is_outlier
    val out = SparkEntry.queries("corpus_outlier_filter")(spark, dir).collect()
    // 'bulk' docs are all exactly 700 tokens → MAD = 0: the z must be
    // NULL (no division blow-up) and nothing flagged
    val bulk = out.filter(_.getString(1) == "bulk")
    assert(bulk.length == 5)
    assert(bulk.forall(r => r.getDouble(4) == 0.0 && r.isNullAt(5) && !r.getBoolean(6)))
    // 'web' counts [1,6,8,8,8,8,9,10,10]: med 8, MAD 1 — only the
    // 1-token doc (id 3, z = -4.7215) clears the 2.5 cutoff
    val flagged = out.filter(r => r.getString(1) == "web" && r.getBoolean(6))
      .map(_.getLong(0)).toSet
    assert(flagged == Set(3L), s"flagged $flagged")
    val z3 = out.find(_.getLong(0) == 3L).get.getDouble(5)
    assert(math.abs(z3 - (-4.7215)) < 1e-9, s"z3=$z3")
  }

  test("KL drift monitor: off-profile source screams, scores match the plain-Scala replay") {
    val B = 64
    def bucket(tok: String): Int = {
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest(tok.getBytes("UTF-8")).map("%02x".format(_)).mkString
      (java.lang.Long.parseLong(hex.substring(0, 15), 16) % B).toInt
    }
    def lnQ(x: Double): BigDecimal =
      BigDecimal(math.log(x)).setScale(9, BigDecimal.RoundingMode.HALF_UP)
    val toks = docs.map(d => d._4 -> d._2.split(" ").toSeq)
    val byBucket = (cnts: Seq[Int]) =>
      cnts.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val qCnt = byBucket(toks.flatMap(_._2).map(bucket))
    val nQ = toks.map(_._2.size).sum.toLong
    val expected = toks.groupBy(_._1).map { case (src, ds) =>
      val sCnt = byBucket(ds.flatMap(_._2).map(bucket))
      val nS = ds.map(_._2.size).sum.toLong
      val sum = (0 until B).map { b =>
        val (cs, cq) = (sCnt.getOrElse(b, 0L), qCnt.getOrElse(b, 0L))
        BigDecimal(cs + 1) * lnQ(
          ((cs + 1).toDouble * (nQ + B)) / ((cq + 1).toDouble * (nS + B)))
      }.sum
      src -> (nS, sum.toDouble / (nS + B))
    }
    val out = SparkEntry.queries("corpus_drift_kl")(spark, dir).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2))).toMap
    assert(out.keySet == expected.keySet)
    expected.foreach { case (src, (n, kl)) =>
      assert(out(src)._1 == n, s"$src n_tokens ${out(src)._1} != $n")
      assert(out(src)._2 == kl, s"$src kl ${out(src)._2} != replay $kl")
    }
    // the reference profile is the POOLED corpus, and bulk contributes
    // 3500 of its ~3568 tokens — the dominant source defines the
    // profile (KL ≈ 0) while the minority web source's disjoint
    // vocabulary diverges hard from it. Non-vacuity: the monitor must
    // separate the two by orders of magnitude.
    assert(out("web")._2 > 100 * out("bulk")._2,
      s"minority off-profile source not flagged: $out")
  }

  test("BPE fertility aggregates are consistent with the per-doc segmentation") {
    // corpus_bpe_encode's per-document (n_tokens, n_subwords) are
    // independently oracle-replayed; the per-language fertility must be
    // exactly their lang-rollup — a drifted merge table, a broadcast
    // that dropped words, or a weighting bug would break the equality.
    val langOf = docs.map(d => d._1 -> d._3).toMap
    val enc = SparkEntry.queries("corpus_bpe_encode")(spark, dir).collect()
      .map(r => (langOf(r.getLong(0)), r.getLong(1), r.getLong(2)))
    val expected = enc.groupBy(_._1).view.mapValues(rs =>
      (rs.map(_._2).sum, rs.map(_._3).sum)).toMap
    val out = SparkEntry.queries("corpus_bpe_fertility")(spark, dir).collect()
      .map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getDouble(3))).toMap
    assert(out.keySet == expected.keySet)
    expected.foreach { case (lang, (nTok, nSub)) =>
      val (t, s0, f) = out(lang)
      assert(t == nTok && s0 == nSub, s"$lang rollup ($t,$s0) != ($nTok,$nSub)")
      assert(f == nSub.toDouble / nTok, s"$lang fertility $f")
    }
    // non-vacuous: at least one language actually merged below
    // one-piece-per-char (fertility < mean word length) and fertilities
    // are not all identical across languages on the disjoint fixture
    assert(out.values.map(_._3).toSet.size > 1, s"flat fertility: $out")
  }

  test("DSIR selection matches an independent plain-Scala reference exactly") {
    // Independent re-derivation of the whole DSIR arithmetic (md5
    // bucket, Laplace-smoothed profiles, 9-dp-quantized ln weights,
    // exact decimal doc scores) — a bucketing or smoothing bug on the
    // Spark side cannot self-confirm through the shared DuckDB oracle
    // the way it could here if this replayed the same SQL.
    val B = 64
    def bucket(bigram: String): Int = {
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest(bigram.getBytes("UTF-8")).map("%02x".format(_)).mkString
      (java.lang.Long.parseLong(hex.substring(0, 15), 16) % B).toInt
    }
    def lnQ(x: Double): BigDecimal =
      BigDecimal(math.log(x)).setScale(9, BigDecimal.RoundingMode.HALF_UP)
    val featsOf = (text: String) => {
      val t = text.split(" ")
      (0 until t.length - 1).map(i => bucket(t(i) + " " + t(i + 1)))
    }
    val (target, raw) = docs.partition(_._3 == "en")
    val tCnt = target.flatMap(d => featsOf(d._2)).groupBy(identity).view.mapValues(_.size)
    val rCnt = raw.flatMap(d => featsOf(d._2)).groupBy(identity).view.mapValues(_.size)
    val (nt, nr) = (tCnt.values.sum, rCnt.values.sum)
    val w = (0 until B).map(b =>
      b -> (lnQ((tCnt.getOrElse(b, 0) + 1).toDouble / (nt + B)) -
        lnQ((rCnt.getOrElse(b, 0) + 1).toDouble / (nr + B))))
      .toMap
    val expected = raw.filter(_._2.split(" ").length >= 2)
      .map(d => d._1 -> featsOf(d._2).map(w).sum)
      .sortBy { case (id, sc) => (-sc, id) }

    val out = SparkEntry.queries("mix_dsir_sample")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(4)))
    // exactly the raw pool, ranked by the reference scores; no target
    // ('en') doc ever selected
    assert(out.map(_._2).toSeq == expected.map(_._1),
      s"selection/order mismatch: ${out.toSeq} vs $expected")
    out.zip(expected).foreach { case ((rank, id, sc), (refId, refSc)) =>
      assert(rank == out.indexWhere(_._2 == id) + 1L)
      assert(sc == refSc.toDouble, s"doc $id score $sc != ref $refSc")
    }
    // non-vacuous: the fixture raw docs have distinct bucket multisets,
    // so the ranking is decided by score, not the doc_id tiebreak
    assert(out.map(_._3).distinct.length > 1)
    // deterministic batch over batch
    val again = SparkEntry.queries("mix_dsir_sample")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(4)))
    assert(out.sameElements(again))
  }

  test("quality_lr_train's oracle SQL materializes the rep CTE") {
    // the DuckDB chain re-evaluates every non-MATERIALIZED CTE once per
    // reference; the hint on `rep` is a string rewrite of REP_CTE
    val sql = SparkEntry.allQueries.find(_.name == "quality_lr_train")
      .flatMap(_.oracle).get
    assert(sql.contains("rep AS MATERIALIZED ("), sql.take(200))
  }
}
