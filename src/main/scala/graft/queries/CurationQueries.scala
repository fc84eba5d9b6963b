package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.TextFunctions

/** Corpus-curation operators for the LLM-training-data pipeline
  * (north-star extensions beyond the reference surface, same family as
  * [[LlmQueries]]): benchmark decontamination, stratified sampling for
  * data mixing, and token-budget quota selection.
  *
  * All are single-pass, shuffle-light designs: decontamination
  * broadcasts the (tiny) benchmark shingle dictionary against the
  * corpus scan; sampling is a pure per-row filter (zero shuffles);
  * quota selection and sequence packing run their per-stratum running
  * sums through [[graft.operators.PrefixSum]]'s two-phase prefix sum
  * (bounded tasks even with one hot stratum). Each is oracle-checked
  * end-to-end against a DuckDB replay of the identical semantics.
  */
object CurationQueries {

  /** Benchmark/eval-set membership: a deterministic slice of the
    * documents table stands in for the eval set being protected.
    * Shared by the Spark side, the oracle, AND the training-mix
    * capstone ([[LlmQueries]]) — one definition, no drift. */
  private[queries] def benchPred(idExpr: String): String = s"$idExpr % 50 = 7"
  private[graft] val BenchPred = benchPred("doc_id")

  /** Knuth-multiplicative sampling hash of a non-negative id, in
    * [0, 2^32). Computed as a 16/16-bit split so no intermediate
    * exceeds 2^48 — `id * 2654435761` directly overflows LONG for ids
    * ≥ ~3.47e9 (ANSI throws; legacy wraps negative and `bucket < rate`
    * then keeps EVERY such row), and "billions of documents" is
    * exactly the scale this engine targets. Ids at or above 2^32 fold
    * mod 2^32 first (documented, deterministic). Identical arithmetic
    * on both sides: [[mixBucketHashSql]] is the oracle spelling. */
  private[queries] def mixBucketHash(id: Column): Column = {
    val x = pmod(id, lit(4294967296L))
    val lo = x % 65536L
    val hi = (x / 65536L).cast("long")
    (lo * lit(2654435761L) % lit(4294967296L) +
      hi * lit(2654435761L) % lit(4294967296L) * lit(65536L) % lit(4294967296L)) %
      lit(4294967296L)
  }

  private[queries] def mixBucketHashSql(id: String): String =
    s"""((($id % 4294967296) % 65536) * 2654435761 % 4294967296
       | + (($id % 4294967296) // 65536) * 2654435761 % 4294967296 * 65536 % 4294967296
       |) % 4294967296""".stripMargin

  /** Context-window chunking parameters, shared with the capstone. */
  private[queries] val ChunkSize = 16
  private[queries] val ChunkStride = 12

  /** Per-document benchmark-overlap stats for the NON-bench side of
    * `docs`: `(idCol, n_shingles, n_hit, contam_ratio)`. ONE
    * implementation of the decontamination stage, shared by
    * `decontam_overlap` and the training-mix capstone — the broadcast
    * dictionary, the hit count, and the rounded ratio can never drift
    * between them. */
  private[queries] def benchOverlapStats(docs: DataFrame): DataFrame =
    TextFunctions.dictOverlapStats(
      docs.filter(!expr(BenchPred)).select("doc_id", "text"),
      benchShingleDict(docs))
      .select("doc_id", "n_shingles", "n_hit", "contam_ratio")

  /** The benchmark slice's distinct-shingle dictionary — the broadcast
    * side of every decontamination stage, batch or streaming. */
  private[graft] def benchShingleDict(docs: DataFrame): DataFrame =
    docs.filter(expr(BenchPred))
      .select(explode(TextFunctions.shingles(col("text"), 4)).as("shingle"))
      .distinct()

  /** Explode `df` (which must carry `text`) into context-window chunk
    * rows: `keep ++ (chunk_idx, chunk_start, chunk_len, chunk_text)`.
    * ONE implementation of the [[ChunkSize]]/[[ChunkStride]] geometry,
    * shared by `corpus_chunks` and the training-mix capstone. */
  private[queries] def chunkExplode(df: DataFrame, keep: Seq[String]): DataFrame = {
    val toks = TextFunctions.tokens(col("text"))
    val keepC = keep.map(col)
    df.select(keepC :+ toks.as("t") :+ size(toks).cast("long").as("n"): _*)
      .select(keepC ++ Seq(col("t"), col("n"),
        explode(sequence(lit(0L), col("n") - 1, lit(ChunkStride.toLong)))
          .as("chunk_start")): _*)
      .select(keepC ++ Seq(
        (col("chunk_start") / ChunkStride).cast("long").as("chunk_idx"),
        col("chunk_start"),
        least(lit(ChunkSize.toLong), col("n") - col("chunk_start")).as("chunk_len"),
        array_join(slice(col("t"), (col("chunk_start") + 1).cast("int"),
          lit(ChunkSize)), " ").as("chunk_text")): _*)
  }

  // ---------------------------------------------------- decontamination
  /** Test-set decontamination — the GPT-3/Pile-style n-gram overlap
    * check: a training document is contaminated when too many of its
    * word 4-grams appear in the benchmark set. (The published recipes
    * use 8-13-grams over web-scale text; the testdata documents are
    * ~50-token synthetic strings, so k=4 keeps the check non-vacuous at
    * every SF.)
    *
    * 100 TB design: eval sets are tiny (thousands of documents) while
    * the corpus is the 100 TB side — so the benchmark's distinct
    * shingle DICTIONARY is broadcast and the corpus is scanned ONCE,
    * with a map-side semi join + partial aggregate per document. The
    * corpus never self-joins and never shuffles its shingles; the only
    * exchange is the per-document aggregate of hit counts. */
  private val decontam = Q(
    "decontam_overlap",
    (s, dir) =>
      // shingles() yields DISTINCT shingles per doc, so n_hit is the
      // distinct-hit count (see benchOverlapStats — the stage shared
      // with the training-mix capstone)
      benchOverlapStats(Tables.documents(s, dir))
        .withColumn("is_contaminated", col("contam_ratio") >= 0.2)
        .orderBy("doc_id"),
    Some(s"""
      WITH tok AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
      sh AS (SELECT doc_id, list_distinct(
               CASE WHEN len(t) >= 4
                    THEN list_transform(range(1, len(t) - 2),
                           i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2] || ' ' || t[i+3])
                    ELSE [] END) AS shl
             FROM tok),
      bench AS (SELECT DISTINCT unnest(shl) AS shingle FROM sh WHERE $BenchPred),
      corpus AS (SELECT doc_id, shl FROM sh WHERE NOT ($BenchPred)),
      ex AS (SELECT doc_id, unnest(shl) AS shingle FROM corpus),
      hits AS (SELECT e.doc_id, count(*) AS n_hit
               FROM ex e JOIN bench b USING (shingle) GROUP BY e.doc_id)
      SELECT c.doc_id, CAST(len(c.shl) AS BIGINT) AS n_shingles,
             CAST(coalesce(h.n_hit, 0) AS BIGINT) AS n_hit,
             coalesce(round(CAST(coalesce(h.n_hit, 0) AS DOUBLE)
                            / nullif(len(c.shl), 0), 4), 0.0) AS contam_ratio,
             (coalesce(round(CAST(coalesce(h.n_hit, 0) AS DOUBLE)
                             / nullif(len(c.shl), 0), 4), 0.0) >= 0.2) AS is_contaminated
      FROM corpus c LEFT JOIN hits h USING (doc_id)
      ORDER BY c.doc_id"""),
  )

  /** The STREAMING decontamination screen's per-batch core, exercised
    * as one batch differential ([[graft.streaming.Streams.decontamScreen]]
    * runs exactly this over each micro-batch; `DecontamScreenSpec` pins
    * streamed-over-K-batches ≡ this union): the corpus arrives in three
    * independent slices, each screened against the SAME broadcast
    * benchmark dictionary, flagged at [[decontam]]'s threshold. Because
    * the stats are per-document functions of (document, dictionary),
    * the union of per-batch screens equals the whole-corpus screen —
    * which is precisely what makes the screen sound to run
    * incrementally at ingest: contamination caught per batch can never
    * differ from what the nightly batch sweep would have said. Oracle =
    * the decontam differential's SQL (same rows, `flagged` alias). */
  private val streamDecontam = Q(
    "stream_decontam_screen",
    (s, dir) => {
      val d = Tables.documents(s, dir)
      val dict = benchShingleDict(d)
      (0 to 2).map(i =>
        TextFunctions.dictOverlapStats(
          d.filter(!expr(BenchPred) && pmod(col("doc_id"), lit(3L)) === i)
            .select("doc_id", "text"),
          dict))
        .reduce(_ unionByName _)
        .withColumn("flagged", col("contam_ratio") >= 0.2)
        .select("doc_id", "n_shingles", "n_hit", "contam_ratio", "flagged")
        .orderBy("doc_id")
    },
    Some(s"""
      WITH tok AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
      sh AS (SELECT doc_id, list_distinct(
               CASE WHEN len(t) >= 4
                    THEN list_transform(range(1, len(t) - 2),
                           i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2] || ' ' || t[i+3])
                    ELSE [] END) AS shl
             FROM tok),
      bench AS (SELECT DISTINCT unnest(shl) AS shingle FROM sh WHERE $BenchPred),
      corpus AS (SELECT doc_id, shl FROM sh WHERE NOT ($BenchPred)),
      ex AS (SELECT doc_id, unnest(shl) AS shingle FROM corpus),
      hits AS (SELECT e.doc_id, count(*) AS n_hit
               FROM ex e JOIN bench b USING (shingle) GROUP BY e.doc_id)
      SELECT c.doc_id, CAST(len(c.shl) AS BIGINT) AS n_shingles,
             CAST(coalesce(h.n_hit, 0) AS BIGINT) AS n_hit,
             coalesce(round(CAST(coalesce(h.n_hit, 0) AS DOUBLE)
                            / nullif(len(c.shl), 0), 4), 0.0) AS contam_ratio,
             (coalesce(round(CAST(coalesce(h.n_hit, 0) AS DOUBLE)
                             / nullif(len(c.shl), 0), 4), 0.0) >= 0.2) AS flagged
      FROM corpus c LEFT JOIN hits h USING (doc_id)
      ORDER BY c.doc_id"""),
  )

  /** Contamination by SOURCE — the rollup the decontamination decision
    * actually acts on: per-doc overlap flags aggregate to which feed
    * is leaking the benchmark (a handful of contaminated docs spread
    * across sources is crawl noise to excise; a single source at 30%
    * contamination is an upstream pipeline INCLUDING the eval set, and
    * the action is dropping the source). Shares [[benchOverlapStats]]
    * with `decontam_overlap` — same dictionary, same ratio, zero
    * drift — and adds one map-side-collapsing rollup to |sources|
    * rows plus the mean-ratio column that separates "one bad doc"
    * from "systemic leak". */
  private val decontamBySource = Q(
    "decontam_by_source",
    (s, dir) => {
      val d = Tables.documents(s, dir)
      benchOverlapStats(d)
        .join(d.select("doc_id", "source"), Seq("doc_id"))
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("contam_ratio") >= 0.2, 1L).otherwise(0L))
            .as("n_contaminated"),
          sum(col("contam_ratio").cast("decimal(8,4)")).as("ratio_sum"))
        .select(col("source"), col("n_docs"), col("n_contaminated"),
          round(col("n_contaminated").cast("double") / col("n_docs").cast("double"), 4)
            .as("contaminated_rate"),
          round(col("ratio_sum").cast("string").cast("double")
            / col("n_docs").cast("double"), 6).as("mean_contam_ratio"))
        .orderBy("source")
    },
    Some(s"""
      WITH tok AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
      sh AS (SELECT doc_id, list_distinct(
               CASE WHEN len(t) >= 4
                    THEN list_transform(range(1, len(t) - 2),
                           i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2] || ' ' || t[i+3])
                    ELSE [] END) AS shl
             FROM tok),
      bench AS (SELECT DISTINCT unnest(shl) AS shingle FROM sh WHERE $BenchPred),
      corpus AS (SELECT doc_id, shl FROM sh WHERE NOT ($BenchPred)),
      ex AS (SELECT doc_id, unnest(shl) AS shingle FROM corpus),
      hits AS (SELECT e.doc_id, count(*) AS n_hit
               FROM ex e JOIN bench b USING (shingle) GROUP BY e.doc_id),
      perdoc AS (
        SELECT c.doc_id,
               coalesce(round(CAST(coalesce(h.n_hit, 0) AS DOUBLE)
                              / nullif(len(c.shl), 0), 4), 0.0) AS contam_ratio
        FROM corpus c LEFT JOIN hits h USING (doc_id))
      SELECT d.source,
             CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(CASE WHEN p.contam_ratio >= 0.2 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_contaminated,
             round(CAST(sum(CASE WHEN p.contam_ratio >= 0.2 THEN 1 ELSE 0 END) AS DOUBLE)
                   / CAST(count(*) AS DOUBLE), 4) AS contaminated_rate,
             round(CAST(CAST(sum(CAST(p.contam_ratio AS DECIMAL(8,4))) AS VARCHAR) AS DOUBLE)
                   / CAST(count(*) AS DOUBLE), 6) AS mean_contam_ratio
      FROM perdoc p JOIN documents d USING (doc_id)
      GROUP BY d.source ORDER BY d.source"""),
  )

  /** Surgical decontamination — span EXCISION, the precision tool
    * beside [[decontam]]'s whole-document flag: only the token
    * positions covered by a benchmark-matching 4-gram are removed, the
    * rest of the document survives (how production pipelines treat
    * partially-contaminated pages rather than discarding them).
    *
    * 100 TB design: the benchmark dictionary broadcasts as in
    * [[decontam]]; positional 4-grams are `element_at` column
    * arithmetic off the scan (no HOF); hit positions collapse to ONE
    * bounded array per document (contamination-sized metadata), and
    * the kept-token rebuild joins that array back on doc_id and
    * regroups on the SAME key — the token stream crosses a single
    * exchange, membership tests are compiled `array_contains`. */
  /** Shared span-excision stage: remove every token position covered
    * by a 4-gram in `dict` from `toks` (`doc_id`, token array `t`,
    * length `n`) → `(doc_id, n_tokens, n_removed, clean_text)`. ONE
    * implementation behind `decontam_excise` (benchmark dictionary)
    * and `corpus_boilerplate_strip` (corpus-df dictionary): positional
    * 4-grams are `element_at` arithmetic off the scan, hit positions
    * collapse to one bounded array per doc, and the kept-token rebuild
    * joins that array back on doc_id and regroups on the SAME key —
    * the token stream crosses a single exchange. */
  private[queries] def exciseByDict(toks: DataFrame, dict: DataFrame): DataFrame = {
    val posSh = toks.filter(col("n") >= 4)
      .select(col("doc_id"), col("t"),
        explode(sequence(lit(1L), col("n") - 3)).as("i"))
      .select(col("doc_id"), col("i"),
        concat_ws(" ",
          element_at(col("t"), col("i").cast("int")),
          element_at(col("t"), col("i").cast("int") + 1),
          element_at(col("t"), col("i").cast("int") + 2),
          element_at(col("t"), col("i").cast("int") + 3)).as("shingle"))
    val hitSets = posSh.join(broadcast(dict), Seq("shingle"))
      .select(col("doc_id"), explode(sequence(col("i"), col("i") + 3)).as("p"))
      .groupBy("doc_id").agg(collect_set(col("p")).as("hits"))
    toks.join(hitSets, Seq("doc_id"), "left")
      .select(col("doc_id"), col("hits"),
        posexplode(col("t")).as(Seq("p0", "tok")))
      .withColumn("p", col("p0").cast("long") + 1)
      .withColumn("hit",
        coalesce(array_contains(col("hits"), col("p")), lit(false)))
      .groupBy("doc_id")
      .agg(
        count(lit(1)).as("n_tokens"),
        sum(when(col("hit"), 1L).otherwise(0L)).as("n_removed"),
        array_join(
          sort_array(collect_list(when(!col("hit"), struct(col("p"), col("tok")))))
            .getField("tok"), " ").as("clean_text"))
      .orderBy("doc_id")
  }

  /** Textual twin of [[exciseByDict]]: the pos/hits/allp CTEs + final
    * select, over a corpus CTE `(doc_id, t, n)` named `corpusCte` and
    * a dictionary CTE `(shingle)` named `dictCte`. Callers prepend
    * their own `WITH` chain defining both. */
  private def exciseSql(corpusCte: String, dictCte: String): String = s"""
      pos AS (SELECT doc_id, CAST(u.i AS BIGINT) AS i,
                     t[CAST(u.i AS INT)] || ' ' || t[CAST(u.i AS INT) + 1] || ' '
                       || t[CAST(u.i AS INT) + 2] || ' ' || t[CAST(u.i AS INT) + 3]
                       AS shingle
              FROM $corpusCte, unnest(range(1, CAST(n AS INT) - 2)) u(i)
              WHERE n >= 4),
      hits AS (SELECT DISTINCT p.doc_id, CAST(u.p AS BIGINT) AS p
               FROM pos p JOIN $dictCte USING (shingle),
                    unnest(range(p.i, p.i + 4)) u(p)),
      allp AS (SELECT doc_id, CAST(u.i AS BIGINT) AS p, t[CAST(u.i AS INT)] AS tok
               FROM $corpusCte, unnest(range(1, CAST(n AS INT) + 1)) u(i))
      SELECT a.doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
             CAST(count(h.p) AS BIGINT) AS n_removed,
             coalesce(string_agg(a.tok, ' ' ORDER BY a.p)
               FILTER (WHERE h.p IS NULL), '') AS clean_text
      FROM allp a LEFT JOIN hits h ON a.doc_id = h.doc_id AND a.p = h.p
      GROUP BY a.doc_id ORDER BY a.doc_id"""

  private val decontamExcise = Q(
    "decontam_excise",
    (s, dir) => {
      val d = Tables.documents(s, dir)
      val benchDict = d
        .select(col("doc_id"), TextFunctions.shingles(col("text"), 4).as("sh"))
        .filter(expr(BenchPred))
        .select(explode(col("sh")).as("shingle")).distinct()
      val toks = d.filter(!expr(BenchPred))
        .select(col("doc_id"), TextFunctions.tokens(col("text")).as("t"))
        .withColumn("n", size(col("t")).cast("long"))
      exciseByDict(toks, benchDict)
    },
    Some(s"""
      WITH tok AS (SELECT doc_id, string_split(text, ' ') AS t,
                          CAST(len(string_split(text, ' ')) AS BIGINT) AS n
                   FROM documents),
      benchsh AS (SELECT DISTINCT unnest(list_distinct(
                    CASE WHEN len(t) >= 4
                         THEN list_transform(range(1, len(t) - 2),
                                i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2] || ' ' || t[i+3])
                         ELSE [] END)) AS shingle
                  FROM tok WHERE $BenchPred),
      corpus AS (SELECT doc_id, t, n FROM tok WHERE NOT ($BenchPred)),
      ${exciseSql("corpus", "benchsh")}"""),
  )

  // ------------------------------------------------ boilerplate strip
  /** A 4-gram is boilerplate when it recurs across at least this many
    * DISTINCT documents. Pairs (df = 2) are just duplicated documents
    * — the dedup stages own those; 3+ is template text. 100 shingles
    * clear the valve at sf0.01 touching 52 docs — non-vacuous both
    * ways. */
  private val BoilerDf = 3

  /** Corpus boilerplate stripping — the RefinedWeb/CCNet-style line-
    * dedup applied at the span level: 4-grams that recur across
    * [[BoilerDf]]+ distinct documents (headers, footers, template
    * text) are excised from every document IN PLACE, the document
    * survives. Same positional machinery as `decontam_excise`
    * ([[exciseByDict]] — literally the same stage), different
    * dictionary: corpus document-frequency instead of an external
    * benchmark set.
    *
    * 100 TB design: the df pass is one shingle-keyed exchange of
    * per-doc DISTINCT shingles (the same shape every shingle-dedup
    * stage here pays) collapsing map-side; the surviving dictionary is
    * df-valved — Zipf guarantees high-df spans are FEW, which is what
    * makes the broadcast side bounded even when the corpus is not.
    * Excision itself crosses one doc_id exchange. */
  private val boilerStrip = Q(
    "corpus_boilerplate_strip",
    (s, dir) => {
      val d = Tables.documents(s, dir)
      // shingles() is per-doc DISTINCT, so count(*) here IS document
      // frequency
      val dict = d
        .select(col("doc_id"),
          explode(TextFunctions.shingles(col("text"), 4)).as("shingle"))
        .groupBy("shingle").agg(count(lit(1)).as("df"))
        .filter(col("df") >= BoilerDf)
        .select("shingle")
      val toks = d
        .select(col("doc_id"), TextFunctions.tokens(col("text")).as("t"))
        .withColumn("n", size(col("t")).cast("long"))
      exciseByDict(toks, dict)
    },
    Some(s"""
      WITH tok AS (SELECT doc_id, string_split(text, ' ') AS t,
                          CAST(len(string_split(text, ' ')) AS BIGINT) AS n
                   FROM documents),
      sh AS (SELECT doc_id, unnest(list_distinct(
               CASE WHEN len(t) >= 4
                    THEN list_transform(range(1, len(t) - 2),
                           i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2] || ' ' || t[i+3])
                    ELSE [] END)) AS shingle
             FROM tok),
      dict AS (SELECT shingle FROM sh GROUP BY shingle
               HAVING count(*) >= $BoilerDf),
      corpus AS (SELECT doc_id, t, n FROM tok),
      ${exciseSql("corpus", "dict")}"""),
  )

  // ------------------------------------------------- stratified sampling
  /** Data-mixing rates per language stratum, in kept-buckets-of-100.
    * One definition feeding both the Spark CASE ladder and the oracle. */
  private val MixRates: Seq[(String, Long)] =
    Seq("en" -> 50L, "fr" -> 75L, "de" -> 25L, "es" -> 25L)
  private val DefaultRate = 10L

  /** Deterministic stratified sampling — the data-mixing primitive: keep
    * X% of each language, chosen by a multiplicative hash of the stable
    * document id (Knuth 2654435761), NOT by `rand()`. Determinism is the
    * point at scale: the sample is reproducible run-to-run, survives
    * retries/speculation (a re-executed task keeps the same rows), and
    * composes with incremental processing (a document's fate never
    * changes as the corpus grows).
    *
    * 100 TB design: a pure per-row filter — ZERO shuffles, fully inside
    * whole-stage codegen, trivially parallel over any partition count.
    * The hash decorrelates the kept set from id assignment order, which
    * `doc_id % 100` would not. */
  private val stratifiedSample = Q(
    "mix_stratified_sample",
    (s, dir) => {
      val bucket = mixBucketHash(col("doc_id")) % lit(100L)
      val rate = MixRates.foldRight(lit(DefaultRate)) { case ((l, r), acc) =>
        when(col("lang") === l, lit(r)).otherwise(acc)
      }
      Tables.documents(s, dir)
        .withColumn("bucket", bucket)
        .filter(col("bucket") < rate)
        .select("doc_id", "lang", "source", "bucket")
        .orderBy("doc_id")
    },
    Some(s"""
      SELECT doc_id, lang, source,
             ${mixBucketHashSql("doc_id")} % 100 AS bucket
      FROM documents
      WHERE ${mixBucketHashSql("doc_id")} % 100 <
            CASE ${MixRates.map { case (l, r) => s"WHEN lang = '$l' THEN $r" }
               .mkString(" ")} ELSE $DefaultRate END
      ORDER BY doc_id"""),
  )

  /** Per-language epoch weights in integer percent (230 = 2.3 epochs).
    * One definition feeding both the Spark ladder and the oracle. */
  private val EpochPct: Seq[(String, Long)] =
    Seq("en" -> 230L, "fr" -> 100L, "de" -> 50L, "es" -> 150L)
  private val DefaultEpochPct = 100L

  /** Epoch upsampling — the other half of data mixing: strata can be
    * REPEATED fractionally ("2.3 epochs of en, half an epoch of de"),
    * not just rate-downsampled. Each document gets
    * `floor(w) + (hash-bucket < frac(w) ? 1 : 0)` copies — the same
    * deterministic multiplicative hash as [[stratifiedSample]], so the
    * fractional epoch is an exact, reproducible subset (and w < 1
    * degenerates to plain downsampling: one primitive, both
    * directions). Emits one row per copy with a dense `copy_idx`, the
    * repeat tag a downstream packer shuffles into the stream.
    *
    * 100 TB design: pure per-row arithmetic + a bounded `sequence`
    * explode — zero shuffles below the output sort, fully codegen,
    * and the explode factor is the mix policy's epoch cap, not data. */
  private val epochUpsample = Q(
    "mix_epoch_upsample",
    (s, dir) => {
      val bucket = mixBucketHash(col("doc_id")) % lit(100L)
      val pct = EpochPct.foldRight(lit(DefaultEpochPct)) { case ((l, p), acc) =>
        when(col("lang") === l, lit(p)).otherwise(acc)
      }
      val n = (pct / 100L).cast("long") +
        when(bucket < pct % 100L, 1L).otherwise(0L)
      Tables.documents(s, dir)
        .withColumn("n_copies", n)
        .filter(col("n_copies") > 0)
        .select(col("doc_id"), col("lang"),
          explode(sequence(lit(0L), col("n_copies") - 1)).as("copy_idx"))
        .orderBy("doc_id", "copy_idx")
    },
    Some(s"""
      WITH b AS (
        SELECT doc_id, lang,
               ${mixBucketHashSql("doc_id")} % 100 AS bucket,
               CASE ${EpochPct.map { case (l, p) => s"WHEN lang = '$l' THEN $p" }
                 .mkString(" ")} ELSE $DefaultEpochPct END AS pct
        FROM documents),
      n AS (SELECT doc_id, lang,
                   pct // 100 + CASE WHEN bucket < pct % 100 THEN 1 ELSE 0 END
                     AS n_copies
            FROM b)
      SELECT doc_id, lang, CAST(u.c AS BIGINT) AS copy_idx
      FROM n, unnest(range(0, CAST(n_copies AS INT))) u(c)
      ORDER BY doc_id, copy_idx"""),
  )

  /** Temperature-flattened language mixing at α = 0.5: each stratum
    * keeps `p = sqrt(n_min / n)` of its documents, so sampled counts
    * become `sqrt(n_min · n)` — the geometric mean between the natural
    * distribution and uniform, the standard move for keeping
    * low-resource languages from drowning in a majority-language crawl
    * (the multilingual analog of the reference's per-location balance,
    * `scripts/glue_vehicle_sales_etl.py:300-320`). The smallest
    * stratum keeps everything (p = 1) — flattening only ever removes
    * from the majority.
    *
    * α = 0.5 is chosen deliberately: `sqrt`, like `/`, is an
    * IEEE-correctly-rounded primitive, so `keep_p` is bit-identical
    * across engines and the keep decision (`hash < p · 2³²`) is
    * oracle-exact — a general `pow(x, α)` would not be.
    *
    * 100 TB design: the per-stratum counts are a metadata-sized
    * aggregate broadcast back; the keep decision is then a pure
    * per-row hash filter — zero corpus shuffles, fully codegen'd,
    * deterministic across retries and corpus growth (same contract as
    * `mix_stratified_sample`). */
  private val temperatureSample = Q(
    "mix_temperature_sample",
    (s, dir) => {
      val d = Tables.documents(s, dir)
      val counts = d.groupBy("lang")
        .agg(count(lit(1)).cast("double").as("n_docs"))
      val nMin = counts.agg(min(col("n_docs")).as("n_min"))
      val probs = counts.crossJoin(broadcast(nMin))
        .withColumn("keep_p", sqrt(col("n_min") / col("n_docs")))
        .select("lang", "keep_p")
      d.join(broadcast(probs), "lang")
        .filter(mixBucketHash(col("doc_id")).cast("double") <
          col("keep_p") * 4294967296.0)
        .select("doc_id", "lang", "source", "keep_p")
        .orderBy("doc_id")
    },
    Some(s"""
      WITH c AS (SELECT lang, CAST(count(*) AS DOUBLE) AS n_docs
                 FROM documents GROUP BY lang),
      m AS (SELECT min(n_docs) AS n_min FROM c),
      p AS (SELECT lang, sqrt(n_min / n_docs) AS keep_p FROM c, m)
      SELECT d.doc_id, d.lang, d.source, p.keep_p
      FROM documents d JOIN p USING (lang)
      WHERE CAST(${mixBucketHashSql("d.doc_id")} AS DOUBLE) < keep_p * 4294967296
      ORDER BY d.doc_id"""),
  )

  // ---------------------------------------------- token-budget selection
  /** Per-stratum token budget in whitespace tokens. */
  private val TokenBudget = 3000L

  /** Token-budget quota selection — fill each language's budget
    * greedily: rank documents by a priority (here token count desc, a
    * stand-in for any quality score; tie-broken by doc_id so the order
    * is total) and keep the prefix whose running token sum fits the
    * budget. This is the "mix 30B tokens of code with 10B of forum
    * text" primitive of training-data assembly.
    *
    * 100 TB design: the running sum is [[graft.operators.PrefixSum]]'s
    * two-phase prefix sum — range-partition on (stratum, priority),
    * partition-local running sums, broadcast per-partition offsets —
    * NOT a `Window.partitionBy(stratum)`, which would serialize every
    * row of a stratum into one sorter task (a straggler/OOM when one
    * source holds most of 100 TB). No self-joins, no global sort (the
    * final ORDER BY is the harness's determinism contract, not part of
    * the operator). */
  private val tokenBudget = Q(
    "mix_token_budget",
    (s, dir) =>
      graft.operators.PrefixSum.runningSum(
          Tables.documents(s, dir)
            .select(col("doc_id"), col("lang"),
              TextFunctions.tokenCount(col("text")).as("token_cnt")),
          Seq("lang"), Seq(col("token_cnt").desc, col("doc_id")),
          col("token_cnt"), "cum_tokens")
        .filter(col("cum_tokens") <= TokenBudget)
        .select("doc_id", "lang", "token_cnt", "cum_tokens")
        .orderBy("doc_id"),
    Some(s"""
      SELECT doc_id, lang, token_cnt, cum_tokens FROM (
        SELECT doc_id, lang,
               CAST(len(string_split(text, ' ')) AS BIGINT) AS token_cnt,
               CAST(sum(len(string_split(text, ' '))) OVER (
                 PARTITION BY lang
                 ORDER BY len(string_split(text, ' ')) DESC, doc_id
                 ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_tokens
        FROM documents) t
      WHERE cum_tokens <= $TokenBudget
      ORDER BY doc_id"""),
  )

  /** Per-source rank + decile WITHOUT a stratum window — the
    * `ntile`-at-scale pattern: `row_number() OVER (PARTITION BY
    * source)` serializes a hot source into one task, but a rank is
    * just a running COUNT, so it rides [[graft.operators.PrefixSum]]
    * (value = 1) with bounded tasks; the per-source totals broadcast
    * back and the decile is closed-form arithmetic. Ranking documents
    * by length within their source is the binning step behind
    * per-source quality curricula. */
  /** Per-doc length rank + decile within its source — ONE derivation
    * shared by `corpus_rank_deciles` and the curriculum composition:
    * `(doc_id, source, token_cnt, src_rank, n_docs, decile)`. */
  private[queries] def docDeciles(d: DataFrame): DataFrame = {
    val sized = d.select(col("doc_id"), col("source"),
      TextFunctions.tokenCount(col("text")).as("token_cnt"))
    val counts = sized.groupBy("source").agg(count(lit(1)).as("n_docs"))
    graft.operators.PrefixSum.runningSum(sized, Seq("source"),
        Seq(col("token_cnt").desc, col("doc_id")), lit(1L), "src_rank")
      .join(broadcast(counts), "source")
      .withColumn("decile",
        ((col("src_rank") - 1) * 10 / col("n_docs")).cast("long") + 1)
  }

  private val rankDeciles = Q(
    "corpus_rank_deciles",
    (s, dir) =>
      docDeciles(Tables.documents(s, dir))
        .select("doc_id", "source", "token_cnt", "src_rank", "n_docs", "decile")
        .orderBy("doc_id"),
    Some("""
      SELECT doc_id, source, token_cnt,
             CAST(rn AS BIGINT) AS src_rank,
             CAST(n AS BIGINT) AS n_docs,
             CAST((rn - 1) * 10 // n + 1 AS BIGINT) AS decile
      FROM (SELECT doc_id, source,
                   CAST(len(string_split(text, ' ')) AS BIGINT) AS token_cnt,
                   row_number() OVER (PARTITION BY source
                     ORDER BY len(string_split(text, ' ')) DESC, doc_id) AS rn,
                   count(*) OVER (PARTITION BY source) AS n
            FROM documents) t
      ORDER BY doc_id"""),
  )

  // ------------------------------------------------ fixed-size sampling
  /** Exact-N-per-stratum sampling: the first [[FixedSampleK]] documents
    * of each language in deterministic hash order — "give me exactly
    * 20 eval docs per language", the fixed-size complement of the
    * rate-based [[stratifiedSample]].
    *
    * 100 TB design: composes the multiplicative hash (pseudo-random but
    * reproducible order) with [[graft.operators.TopKPerGroup]]'s
    * k-bounded packed-heap aggregator — partial aggregation keeps ≤ k
    * rows per (group, mapper), so only k·mappers rows per stratum cross
    * the shuffle instead of the whole table, and nothing sorts. The
    * rank-window spelling the oracle uses would shuffle every row. */
  private val FixedSampleK = 20

  private val fixedSample = Q(
    "mix_fixed_sample",
    (s, dir) => {
      val h = mixBucketHash(col("doc_id"))
      Tables.documents(s, dir)
        .select(col("lang"), col("doc_id"), h.as("h"))
        .groupBy("lang")
        // sortKey is -h: the aggregator keeps top-k DESC, we want the
        // SMALLEST hashes; doc_id is its mandatory unique tiebreak
        .agg(graft.operators.TopKPerGroup.topK(FixedSampleK)(
          -col("h"), col("doc_id")).as("top"))
        .select(col("lang"), posexplode(col("top")))
        .select(col("lang"), (col("pos") + 1).cast("long").as("sample_rank"),
          col("col._2").as("doc_id"))
        .orderBy("lang", "sample_rank")
    },
    Some(s"""
      SELECT lang, CAST(rn AS BIGINT) AS sample_rank, doc_id FROM (
        SELECT lang, doc_id,
               row_number() OVER (PARTITION BY lang
                 ORDER BY ${mixBucketHashSql("doc_id")}, doc_id) AS rn
        FROM documents) t
      WHERE rn <= $FixedSampleK
      ORDER BY lang, sample_rank"""),
  )

  // ---------------------------------------------- weighted sampling
  private val WeightedK = 15

  /** Weighted sampling without replacement — Efraimidis-Spirakis A-ES
    * with a HASH-derived uniform, so the draw is deterministic,
    * retry-safe and incremental like every sampler here: each doc gets
    * u = (hash(id)+1)/2^32 ∈ (0,1] and survives by the k largest
    * u^(1/w) per stratum, w = token count — longer documents
    * proportionally likelier, the "sample by token budget, not by doc
    * count" primitive quality-weighted mixing needs.
    *
    * The rank key is ln(u)/w — the LOGARITHM of u^(1/w), same order,
    * but free of pow() (not correctly rounded cross-engine). u is
    * exact (the +1 keeps it nonzero; /2^32 is an exponent shift) and w
    * an exact long — but ln NEAR 1 is ill-conditioned and JVM/DuckDB
    * diverge by tens of ulps there (measured: 33 ulps at u=0.9826),
    * unlike the >1 arguments the bm25/perplexity lns see. So the key
    * is QUANTIZED to 9 dp before ranking — the same
    * round-before-compare discipline as the perplexity decimal cast —
    * and doc_id breaks any quantization ties totally. A zero-weight
    * doc keys to -∞ and can never be drawn.
    *
    * 100 TB design: same shape as `mix_fixed_sample` — the k-bounded
    * packed-heap aggregator keeps ≤ k rows per (stratum, mapper), so
    * k·mappers rows cross the shuffle, not the corpus; the oracle's
    * rank-window spelling would shuffle every row. */
  private val weightedSample = Q(
    "mix_weighted_sample",
    (s, dir) => {
      val u = (mixBucketHash(col("doc_id")) + 1L).cast("double") /
        lit(4294967296.0)
      val key = round(
        log(u) / TextFunctions.tokenCount(col("text")).cast("double"), 9)
      Tables.documents(s, dir)
        .select(col("lang"), col("doc_id"), key.as("es_key"))
        .groupBy("lang")
        .agg(graft.operators.TopKPerGroup.topK(WeightedK)(
          col("es_key"), col("doc_id")).as("top"))
        .select(col("lang"), posexplode(col("top")))
        .select(col("lang"), (col("pos") + 1).cast("long").as("sample_rank"),
          col("col._2").as("doc_id"), col("col._1").as("es_key"))
        .orderBy("lang", "sample_rank")
    },
    Some(s"""
      WITH scored AS (
        SELECT lang, doc_id,
               round(ln((${mixBucketHashSql("doc_id")} + 1) / 4294967296.0)
                 / CAST(len(string_split(text, ' ')) AS DOUBLE), 9) AS es_key
        FROM documents),
      r AS (SELECT lang, doc_id, es_key,
                   row_number() OVER (PARTITION BY lang
                     ORDER BY es_key DESC, doc_id) AS rn
            FROM scored)
      SELECT lang, CAST(rn AS BIGINT) AS sample_rank, doc_id, es_key
      FROM r WHERE rn <= $WeightedK ORDER BY lang, sample_rank"""),
  )

  // ------------------------------------------------------ corpus stats
  /** Per-stratum token-count distribution — median/p90/p99 token counts
    * per language, the "what does this corpus look like" report that
    * gates curation decisions.
    *
    * Exact PERCENTILE_CONT values via [[graft.operators.ExactQuantiles]]
    * — rank arithmetic over one exchange, O(1) task memory — NOT
    * Spark's built-in `percentile`, which buffers every group value
    * (an OOM at 100 TB strata; see the operator doc). The oracle
    * replays the identical rank/interpolation arithmetic in DuckDB, and
    * `ExactQuantilesSpec` independently pins equivalence to Spark's
    * built-in exact percentile. */
  // ------------------------------------------------- count-min sketch
  private[queries] val CmsDepth = 4
  private[queries] val CmsWidth = 16L

  /** Row-`d` cell index of `key`: the same 60-bit md5 bridge the
    * packed-heap uses (Spark `conv(hex,16,10)` == DuckDB
    * `CAST('0x…' AS BIGINT)`), salted with the row number. */
  private[queries] def cmsIdx(d: Int, key: Column): Column =
    pmod(conv(substring(md5(concat(lit(d.toString), key)), 1, 15), 16, 10)
      .cast("long"), lit(CmsWidth))

  /** Count-min sketch over corpus tokens — approximate frequencies
    * from a fixed `depth × width` counter grid instead of a full
    * per-key aggregation. Unlike Misra-Gries-style summaries, CMS is
    * a pure sum of per-row cell increments — commutative and order-
    * independent — so the sketch is bit-deterministic under any
    * partitioning and the DuckDB oracle replays it exactly (estimates
    * AND the overestimate error, never an undercount, both checked).
    *
    * 100 TB design: the build is one corpus scan whose groupBy
    * collapses map-side to ≤ depth·width rows per task — the shuffle
    * carries a 64-cell grid, not per-key traffic, no matter how many
    * distinct keys exist; estimates then join a BROADCAST sketch. The
    * width is sized down (16) against the lake's 31-token vocabulary
    * so collisions are real at test scale — 19 of 31 keys overestimate
    * at sf0.01 — rather than a sketch so wide the error path is never
    * exercised. */
  private val cmsCounts = Q(
    "corpus_cms_counts",
    (s, dir) => {
      val toks = Tables.documents(s, dir)
        .select(explode(TextFunctions.tokens(col("text"))).as("tok"))
      val cells = toks
        .select(explode(array((0 until CmsDepth).map(d =>
          struct(lit(d.toLong).as("d"), cmsIdx(d, col("tok")).as("idx"))): _*)).as("c"))
        .groupBy(col("c.d").as("d"), col("c.idx").as("idx"))
        .agg(count(lit(1)).as("cell_cnt"))
      val exact = toks.groupBy("tok").agg(count(lit(1)).as("exact_cnt"))
      exact
        .select(col("tok"), col("exact_cnt"),
          explode(array((0 until CmsDepth).map(d =>
            struct(lit(d.toLong).as("d"), cmsIdx(d, col("tok")).as("idx"))): _*)).as("c"))
        .join(broadcast(cells),
          col("c.d") === cells("d") && col("c.idx") === cells("idx"))
        .groupBy("tok", "exact_cnt")
        .agg(min(col("cell_cnt")).as("cms_estimate"))
        .withColumn("overestimate", col("cms_estimate") - col("exact_cnt"))
        .select("tok", "exact_cnt", "cms_estimate", "overestimate")
        .orderBy("tok")
    },
    Some(s"""
      WITH toks AS (SELECT unnest(string_split(text, ' ')) AS tok FROM documents),
      cells AS (
        SELECT d.d AS d,
               CAST(concat('0x', substring(md5(concat(CAST(d.d AS VARCHAR), tok)), 1, 15))
                 AS BIGINT) % $CmsWidth AS idx,
               count(*) AS cell_cnt
        FROM toks, unnest(range(0, $CmsDepth)) d(d) GROUP BY 1, 2),
      exact AS (SELECT tok, count(*) AS exact_cnt FROM toks GROUP BY 1),
      probes AS (
        SELECT tok, exact_cnt, d.d AS d,
               CAST(concat('0x', substring(md5(concat(CAST(d.d AS VARCHAR), tok)), 1, 15))
                 AS BIGINT) % $CmsWidth AS idx
        FROM exact, unnest(range(0, $CmsDepth)) d(d))
      SELECT p.tok, p.exact_cnt, min(c.cell_cnt) AS cms_estimate,
             min(c.cell_cnt) - p.exact_cnt AS overestimate
      FROM probes p JOIN cells c USING (d, idx)
      GROUP BY p.tok, p.exact_cnt ORDER BY p.tok"""),
  )

  private val tokenQuantiles = Q(
    "corpus_token_quantiles",
    (s, dir) => {
      val toks = Tables.documents(s, dir)
        .select(col("lang"), TextFunctions.tokenCount(col("text")).as("token_cnt"))
      graft.operators.ExactQuantiles.perGroup(
          toks, Seq("lang"), "token_cnt",
          Seq(0.5 -> "p50", 0.9 -> "p90", 0.99 -> "p99"))
        .withColumnRenamed("n_token_cnt", "n_docs")
        .orderBy("lang")
    },
    // the identical rank/position/interpolation arithmetic, so doubles
    // match bit-for-bit (quantile_cont's v_lo + d·(v_hi−v_lo) form can
    // differ in the last ulp; the spec covers algorithmic independence)
    Some("""
      WITH v AS (SELECT lang,
                        CAST(len(string_split(text, ' ')) AS DOUBLE) AS val
                 FROM documents WHERE text IS NOT NULL),
      r AS (SELECT lang, val,
                   CAST(row_number() OVER (PARTITION BY lang ORDER BY val) - 1
                        AS BIGINT) AS rn,
                   CAST(count(*) OVER (PARTITION BY lang) AS BIGINT) AS n
            FROM v)
      SELECT lang, max(n) AS n_docs,
             round(sum(CASE WHEN rn = CAST(floor((n-1) * 0.5) AS BIGINT)
                              THEN val * (1.0 - ((n-1) * 0.5 - floor((n-1) * 0.5)))
                            WHEN rn = CAST(floor((n-1) * 0.5) AS BIGINT) + 1
                                 AND (n-1) * 0.5 - floor((n-1) * 0.5) > 0
                              THEN val * ((n-1) * 0.5 - floor((n-1) * 0.5))
                            ELSE 0.0 END), 4) AS p50,
             round(sum(CASE WHEN rn = CAST(floor((n-1) * 0.9) AS BIGINT)
                              THEN val * (1.0 - ((n-1) * 0.9 - floor((n-1) * 0.9)))
                            WHEN rn = CAST(floor((n-1) * 0.9) AS BIGINT) + 1
                                 AND (n-1) * 0.9 - floor((n-1) * 0.9) > 0
                              THEN val * ((n-1) * 0.9 - floor((n-1) * 0.9))
                            ELSE 0.0 END), 4) AS p90,
             round(sum(CASE WHEN rn = CAST(floor((n-1) * 0.99) AS BIGINT)
                              THEN val * (1.0 - ((n-1) * 0.99 - floor((n-1) * 0.99)))
                            WHEN rn = CAST(floor((n-1) * 0.99) AS BIGINT) + 1
                                 AND (n-1) * 0.99 - floor((n-1) * 0.99) > 0
                              THEN val * ((n-1) * 0.99 - floor((n-1) * 0.99))
                            ELSE 0.0 END), 4) AS p99
      FROM r GROUP BY lang ORDER BY lang"""),
  )

  /** Token-MASS quantiles per source — the weighted twin of
    * `corpus_token_quantiles`: "below what document length does half
    * (90%, 99%) of the TOKEN MASS sit". A row-count median is blind to
    * a handful of huge documents carrying most of a source's tokens —
    * exactly the documents that dominate a token-budgeted training mix
    * — so budget/packing decisions need the weighted distribution
    * ([[graft.operators.WeightedQuantiles]]: value = doc token count,
    * weight = the same token count).
    *
    * 100 TB shape: the corpus collapses to per-source LENGTH HISTOGRAMS
    * in the first hash aggregate; the running weight rides the
    * [[graft.operators.PrefixSum]] two-phase prefix sum (a hot source
    * never serializes into one task); picks are conditional mins. The
    * oracle replays histogram → cumulative weight → threshold pick
    * with the identical integer/double arithmetic. */
  private val tokenMass = Q(
    "corpus_token_mass_quantiles",
    (s, dir) => {
      val toks = Tables.documents(s, dir)
        .select(col("source"), TextFunctions.tokenCount(col("text")).as("n_tok"))
      graft.operators.WeightedQuantiles.perGroup(
          toks, Seq("source"), "n_tok", "n_tok",
          Seq(0.5 -> "mass_p50", 0.9 -> "mass_p90", 0.99 -> "mass_p99"))
        .withColumnRenamed("w_total", "total_tokens")
        .orderBy("source")
    },
    Some("""
      WITH tok AS (SELECT source,
                          CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
                   FROM documents),
      hist AS (SELECT source, n_tok, sum(n_tok) AS w
               FROM tok GROUP BY 1, 2 HAVING sum(n_tok) > 0),
      cum AS (SELECT source, n_tok,
                     sum(w) OVER (PARTITION BY source ORDER BY n_tok
                       ROWS UNBOUNDED PRECEDING) AS cumw
              FROM hist),
      tot AS (SELECT source, max(cumw) AS tot FROM cum GROUP BY 1)
      SELECT c.source,
             CAST(t.tot AS BIGINT) AS total_tokens,
             min(CASE WHEN CAST(cumw AS DOUBLE) >= 0.5 * CAST(t.tot AS DOUBLE)
                      THEN n_tok END) AS mass_p50,
             min(CASE WHEN CAST(cumw AS DOUBLE) >= 0.9 * CAST(t.tot AS DOUBLE)
                      THEN n_tok END) AS mass_p90,
             min(CASE WHEN CAST(cumw AS DOUBLE) >= 0.99 * CAST(t.tot AS DOUBLE)
                      THEN n_tok END) AS mass_p99
      FROM cum c JOIN tot t USING (source)
      GROUP BY c.source, t.tot ORDER BY c.source"""),
  )

  /** MIX RECIPE solver — the PLANNING step upstream of every sampling
    * operator here: given target mix weights (config: the five "high
    * quality" sources count double) and a token budget (60% of the
    * corpus), derive per source the target token count, the effective
    * sampling RATE, and — where the target exceeds what the source has
    * — the epoch plan (`n_full_epochs` + fractional-epoch rate) that
    * `mix_epoch_upsample` executes. One corpus aggregate (per-source
    * token totals collapse map-side to |sources| rows); everything
    * after is closed-form column arithmetic over that metadata frame —
    * broadcast totals, zero extra shuffles at any corpus size.
    *
    * Rates are true doubles (a planning output, not a money sum) with
    * both engines computing the identical division order; epoch counts
    * come from floor() on those doubles, identical by IEEE. */
  private val mixRecipe = Q(
    "mix_recipe",
    (s, dir) => {
      val premium = Seq("src0", "src1", "src2", "src3", "src4")
      val avail = Tables.documents(s, dir)
        .groupBy("source")
        .agg(sum(TextFunctions.tokenCount(col("text"))).as("available_tokens"))
        .withColumn("w_raw",
          when(col("source").isin(premium: _*), 2.0).otherwise(1.0))
      val tot = avail.agg(
        sum(col("available_tokens")).as("corpus_tokens"),
        sum(col("w_raw")).as("w_sum"))
      avail.crossJoin(broadcast(tot))
        .withColumn("weight", col("w_raw") / col("w_sum"))
        .withColumn("budget",
          floor(col("corpus_tokens").cast("double") * 0.6).cast("long"))
        .withColumn("target_tokens",
          floor(col("weight") * col("budget").cast("double")).cast("long"))
        .withColumn("rate",
          col("target_tokens").cast("double")
            / col("available_tokens").cast("double"))
        .withColumn("n_full_epochs", floor(col("rate")).cast("long"))
        .withColumn("frac_epoch_rate",
          round(col("rate") - floor(col("rate")), 6))
        .select(col("source"), col("available_tokens"),
          round(col("weight"), 6).as("weight"), col("target_tokens"),
          round(col("rate"), 6).as("rate"), col("n_full_epochs"),
          col("frac_epoch_rate"))
        .orderBy("source")
    },
    Some("""
      WITH avail AS (
        SELECT source,
               CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS available_tokens,
               CASE WHEN source IN ('src0','src1','src2','src3','src4')
                    THEN 2.0 ELSE 1.0 END AS w_raw
        FROM documents GROUP BY source),
      tot AS (SELECT CAST(sum(available_tokens) AS BIGINT) AS corpus_tokens,
                     sum(w_raw) AS w_sum
              FROM avail),
      calc AS (
        SELECT a.source, a.available_tokens,
               a.w_raw / t.w_sum AS weight,
               CAST(floor(CAST(t.corpus_tokens AS DOUBLE) * 0.6) AS BIGINT) AS budget
        FROM avail a, tot t),
      tgt AS (
        SELECT source, available_tokens, weight,
               CAST(floor(weight * CAST(budget AS DOUBLE)) AS BIGINT) AS target_tokens
        FROM calc),
      r AS (
        SELECT *, CAST(target_tokens AS DOUBLE)
                    / CAST(available_tokens AS DOUBLE) AS rate
        FROM tgt)
      SELECT source, available_tokens, round(weight, 6) AS weight,
             target_tokens, round(rate, 6) AS rate,
             CAST(floor(rate) AS BIGINT) AS n_full_epochs,
             round(rate - floor(rate), 6) AS frac_epoch_rate
      FROM r ORDER BY source"""),
  )

  // ------------------------------------------------- robust outliers
  /** Robust outlier cutoff on the modified z-score (Iglewicz-Hodges
    * shape; 2.5 is the standard "moderate" cutoff and is sized against
    * the synthetic token-length spread so the flag path is non-vacuous
    * at sf0.01 — 5 docs flagged, max |z| ≈ 3.0; the same
    * non-vacuity discipline as the CMS width). */
  private val OutlierZ = 2.5

  /** Per-source robust outlier filter — flag documents whose token
    * count sits more than [[OutlierZ]] modified z-scores
    * (0.6745·(x−median)/MAD) from their source's median. Median/MAD is
    * the outlier detector that survives the contamination mean/stddev
    * z-scores die from: a batch of degenerate 10M-token docs drags a
    * mean-based gate toward itself (masking), while the median and MAD
    * barely move — exactly the failure mode crawl-source length gates
    * exist for.
    *
    * Composition: median via [[graft.operators.ExactQuantiles]] (rank
    * arithmetic, O(1) task memory), MAD as a SECOND quantile pass over
    * the |x−median| deviations built by broadcasting the ≤-sources-row
    * median frame back onto the scan — two bounded exchanges, no
    * stratum-sized window anywhere. A MAD of 0 (a constant-length
    * source) yields a NULL z and an unflagged doc rather than a
    * division blow-up; `CurationQueriesSpec` pins that degenerate
    * path on a planted fixture.
    *
    * Determinism: med/mad are 4-dp rounded quantiles; the z tree is
    * one subtraction, one multiply, one division in the SAME
    * association order both sides — raw IEEE doubles, deliberately
    * unrounded (see the inline note). */
  private val outlierFilter = Q(
    "corpus_outlier_filter",
    (s, dir) => {
      val toks = Tables.documents(s, dir)
        .select(col("doc_id"), col("source"),
          TextFunctions.tokenCount(col("text")).as("token_cnt"))
      val med = graft.operators.ExactQuantiles.perGroup(
          toks, Seq("source"), "token_cnt", Seq(0.5 -> "med"))
        .select(col("source"), col("med"))
      val dev = toks.join(broadcast(med), "source")
        .withColumn("absdev", abs(col("token_cnt").cast("double") - col("med")))
      val mad = graft.operators.ExactQuantiles.perGroup(
          dev, Seq("source"), "absdev", Seq(0.5 -> "mad"))
        .select(col("source"), col("mad"))
      dev.join(broadcast(mad), "source")
        // NOT rounded: 0.6745·(x−med) lands on exact decimal halves
        // (x−med is often a .5 multiple), where Spark's BigDecimal
        // HALF_UP and DuckDB's round() disagree by one ulp — the raw
        // IEEE tree (subtract, multiply, divide in this association
        // order) is already bit-identical cross-engine
        .withColumn("robust_z",
          when(col("mad") > 0.0,
            lit(0.6745) * (col("token_cnt").cast("double") - col("med"))
              / col("mad")))
        .withColumn("is_outlier",
          coalesce(abs(col("robust_z")) > OutlierZ, lit(false)))
        .select("doc_id", "source", "token_cnt", "med", "mad", "robust_z",
          "is_outlier")
        .orderBy("doc_id")
    },
    Some(s"""
      WITH t AS (SELECT doc_id, source,
                        CAST(len(string_split(text, ' ')) AS BIGINT) AS token_cnt
                 FROM documents),
      rm AS (SELECT doc_id, source, token_cnt,
                    CAST(row_number() OVER (PARTITION BY source
                      ORDER BY CAST(token_cnt AS DOUBLE)) - 1 AS BIGINT) AS rn,
                    CAST(count(*) OVER (PARTITION BY source) AS BIGINT) AS n
             FROM t),
      med AS (SELECT source,
                     round(sum(CASE
                       WHEN rn = CAST(floor((n-1) * 0.5) AS BIGINT)
                         THEN CAST(token_cnt AS DOUBLE)
                              * (1.0 - ((n-1) * 0.5 - floor((n-1) * 0.5)))
                       WHEN rn = CAST(floor((n-1) * 0.5) AS BIGINT) + 1
                            AND (n-1) * 0.5 - floor((n-1) * 0.5) > 0
                         THEN CAST(token_cnt AS DOUBLE)
                              * ((n-1) * 0.5 - floor((n-1) * 0.5))
                       ELSE 0.0 END), 4) AS med
              FROM rm GROUP BY source),
      dev AS (SELECT t.doc_id, t.source, t.token_cnt, med.med,
                     abs(CAST(t.token_cnt AS DOUBLE) - med.med) AS absdev
              FROM t JOIN med USING (source)),
      rd AS (SELECT source, absdev,
                    CAST(row_number() OVER (PARTITION BY source
                      ORDER BY absdev) - 1 AS BIGINT) AS rn,
                    CAST(count(*) OVER (PARTITION BY source) AS BIGINT) AS n
             FROM dev),
      mad AS (SELECT source,
                     round(sum(CASE
                       WHEN rn = CAST(floor((n-1) * 0.5) AS BIGINT)
                         THEN absdev * (1.0 - ((n-1) * 0.5 - floor((n-1) * 0.5)))
                       WHEN rn = CAST(floor((n-1) * 0.5) AS BIGINT) + 1
                            AND (n-1) * 0.5 - floor((n-1) * 0.5) > 0
                         THEN absdev * ((n-1) * 0.5 - floor((n-1) * 0.5))
                       ELSE 0.0 END), 4) AS mad
              FROM rd GROUP BY source),
      z AS (SELECT dev.doc_id, dev.source, dev.token_cnt, dev.med, mad.mad,
                   CASE WHEN mad.mad > 0.0
                        THEN 0.6745 * (CAST(dev.token_cnt AS DOUBLE) - dev.med)
                             / mad.mad
                   END AS robust_z
            FROM dev JOIN mad USING (source))
      SELECT doc_id, source, token_cnt, med, mad, robust_z,
             coalesce(abs(robust_z) > $OutlierZ, false) AS is_outlier
      FROM z ORDER BY doc_id"""),
  )

  // -------------------------------------------------- repetition signals
  /** Within-document repetition signals — the Gopher/RefinedWeb-style
    * quality rules that catch boilerplate and degenerate generations:
    * the fraction of token occurrences that are repeats, and the same
    * over bigrams. Both are CLOSED-FORM column arithmetic over the
    * token array (`array_distinct`/`size`, and n_bigrams = n_tokens−1
    * with the engine's distinct-shingle count) — no explode, no
    * per-document aggregation, zero shuffles below the output sort, so
    * the scoring rides the corpus scan like the other text signals.
    * The flag thresholds (30% repeated tokens / 15% repeated bigrams)
    * follow the published rules' shape; the continuous columns carry
    * the differential signal either way. */
  /** Gopher-style repetition cutoffs and per-row duplicate-fraction
    * columns — the [[graft.functions.GateSignals]] definitions, shared
    * with the composed `corpus_quality_gate` AND the streaming ingest
    * gate: one implementation, no drift. */
  private[queries] val DupTokenGate = graft.functions.GateSignals.DupTokenGate
  private[queries] val DupBigramGate = graft.functions.GateSignals.DupBigramGate
  private[queries] def dupTokenFrac: Column =
    graft.functions.GateSignals.dupTokenFrac(col("text"))
  private[queries] def dupBigramFrac: Column =
    graft.functions.GateSignals.dupBigramFrac(col("text"))

  /** The oracle twin of [[dupTokenFrac]]/[[dupBigramFrac]]: a CTE
    * `rep(doc_id, n_tok, dup_token_frac, dup_bigram_frac)`. */
  private[queries] val REP_CTE = """rep AS (
        SELECT doc_id, n_tok,
               round(CAST(n_tok - n_dis AS DOUBLE) / nullif(n_tok, 0), 4)
                 AS dup_token_frac,
               coalesce(round(CAST(n_bi - n_bi_dis AS DOUBLE) / nullif(n_bi, 0), 4),
                 0.0) AS dup_bigram_frac
        FROM (SELECT doc_id,
                CAST(len(t) AS BIGINT) AS n_tok,
                CAST(len(list_distinct(t)) AS BIGINT) AS n_dis,
                CAST(greatest(len(t) - 1, 0) AS BIGINT) AS n_bi,
                CAST(len(list_distinct(
                  CASE WHEN len(t) >= 2
                       THEN list_transform(range(1, len(t)), i -> t[i] || ' ' || t[i+1])
                       ELSE [] END)) AS BIGINT) AS n_bi_dis
              FROM (SELECT doc_id, string_split(text, ' ') AS t FROM documents) t0) m0)"""

  private val repetitionStats = Q(
    "corpus_repetition_stats",
    (s, dir) => {
      val nTok = size(TextFunctions.tokens(col("text"))).cast("long")
      Tables.documents(s, dir).select(
        col("doc_id"), nTok.as("n_tokens"),
        dupTokenFrac.as("dup_token_frac"),
        dupBigramFrac.as("dup_bigram_frac"),
        (dupTokenFrac > DupTokenGate.toDouble ||
          dupBigramFrac > DupBigramGate.toDouble).as("is_repetitive"))
        .orderBy("doc_id")
    },
    Some(s"""
      WITH $REP_CTE
      SELECT doc_id, n_tok AS n_tokens, dup_token_frac, dup_bigram_frac,
             (dup_token_frac > $DupTokenGate
              OR dup_bigram_frac > $DupBigramGate) AS is_repetitive
      FROM rep ORDER BY doc_id"""),
  )

  // ------------------------------------------------- trained quality LR
  // The in-engine TRAINED quality classifier
  // ([[graft.operators.QualityClassifier]]): distill the hand-ruled
  // repetition gate into a learned linear scorer. Features are the RAW
  // signals (dup fractions, scaled token count, scaled avg token
  // length); the label is the gate verdict itself — the classifier
  // must RECOVER the decision boundary the rule encodes, which is what
  // production stacks do when they replace threshold gates with a
  // trained filter. Training runs 8 deterministic full-batch GD steps
  // (see the operator's scaladoc for the bit-portability doctrine);
  // the oracle replays standardization AND every iteration as an
  // unrolled CTE chain — opposite execution shapes, identical bits.

  private val LrIters = 8
  private val LrRate = "2.0"
  private[queries] val LrFeatCols =
    graft.operators.QualityClassifier.TextFeatCols

  /** Raw features + gate label, Spark side of the `feat` CTE. The
    * feature surface is [[graft.operators.QualityClassifier
    * .textFeatures]] — the SAME columns the streaming admission gate
    * scores, one definition; only the LABEL (the rule verdict being
    * distilled) is query-side policy. */
  private def lrFeatures(s: SparkSession, dir: String): DataFrame =
    graft.operators.QualityClassifier
      .textFeatures(Tables.documents(s, dir), Seq("doc_id"), "text")
      .withColumn("label",
        when(col("x_dup_tok") <= lit(DupTokenGate.toDouble) &&
          col("x_dup_bi") <= lit(DupBigramGate.toDouble), 1.0).otherwise(0.0))

  private def q8Sql(e: String): String = s"floor(($e)*1e8+0.5)/1e8"
  /** Exact decimal sum → canonical string → double (the engine-portable
    * decimal hop, [[graft.operators.QualityClassifier]]'s doctrine). */
  private def sdSql(e: String): String =
    s"CAST(CAST(sum(CAST($e AS DECIMAL(28,8))) AS VARCHAR) AS DOUBLE)"

  /** The full oracle CTE chain: features → standardization → `LrIters`
    * unrolled GD iterations. Yields `wi<i>` (weights), `pp<i>`
    * (per-row scores under them), `gi<i>` (that iteration's exact
    * aggregates) for i in 0..LrIters.
    *
    * Every CTE is MATERIALIZED (a DuckDB execution hint, zero effect
    * on results): each `wi<i>` is referenced twice (by `pp<i>` and
    * `wi<i+1>`), so without the hint DuckDB inlines the whole chain and
    * re-evaluates it ONCE PER REFERENCE — 2^LrIters re-tokenizations of
    * the corpus. Measured on the r15 oracle run: the four quality_lr_*
    * differentials cost 425 of the 470 s oracle budget
    * (quality_lr_train alone 335.75 s); with the hints the chain is
    * linear, same rows, same bits (the BPE merge CTEs at
    * [[bpeRoundCtes]] learned the identical lesson). */
  private def lrCtes: String = {
    val rep = REP_CTE.replaceFirst("rep AS \\(", "rep AS MATERIALIZED (")
    require(rep != REP_CTE, "REP_CTE does not open with `rep AS (`: the MATERIALIZED hint was not applied")
    val sb = new StringBuilder
    sb ++= s"""WITH $rep,
      feat AS MATERIALIZED (
        SELECT r.doc_id, r.dup_token_frac AS x1, r.dup_bigram_frac AS x2,
               CAST(r.n_tok AS DOUBLE) / 64.0 AS x3,
               (CAST(c.n_chars_c AS DOUBLE) / CAST(r.n_tok AS DOUBLE)) / 8.0 AS x4,
               CASE WHEN r.dup_token_frac <= $DupTokenGate
                     AND r.dup_bigram_frac <= $DupBigramGate
                    THEN 1.0 ELSE 0.0 END AS y
        FROM rep r JOIN (SELECT doc_id, length(text) AS n_chars_c FROM documents) c
          ON r.doc_id = c.doc_id
        WHERE r.n_tok > 0),
      ms AS MATERIALIZED (SELECT CAST(count(*) AS DOUBLE) AS n,
             ${(1 to 4).map(j => s"${sdSql(q8Sql(s"x$j"))} AS su$j").mkString(", ")}
             FROM feat),
      mm AS MATERIALIZED (SELECT n, ${(1 to 4).map(j => s"${q8Sql(s"su$j/n")} AS m$j").mkString(", ")} FROM ms),
      vs AS MATERIALIZED (SELECT ${(1 to 4).map(j =>
      s"${sdSql(q8Sql(s"(f.x$j-mm.m$j)*(f.x$j-mm.m$j)"))} AS v$j").mkString(", ")}
             FROM feat f, mm),
      sd AS MATERIALIZED (SELECT ${(1 to 4).map(j =>
      s"CASE WHEN ${q8Sql(s"v$j/mm.n")} > 0 THEN sqrt(${q8Sql(s"v$j/mm.n")}) ELSE 1.0 END AS st$j")
        .mkString(", ")}
             FROM vs, mm),
      sf AS MATERIALIZED (SELECT f.doc_id, f.y, ${(1 to 4).map(j =>
      s"${q8Sql(s"(f.x$j-mm.m$j)/sd.st$j")} AS z$j").mkString(", ")}
             FROM feat f, mm, sd)"""
    for (i <- 0 to LrIters) {
      val wSel =
        if (i == 0) (0 to 4).map(j => s"0.0 AS w$j").mkString(", ")
        else s"${(0 to 4).map(j =>
          s"${q8Sql(s"w.w$j - $LrRate*(g.gg$j/g.n)")} AS w$j").mkString(", ")} FROM wi${i - 1} w, gi${i - 1} g"
      sb ++= s""",
      wi$i AS MATERIALIZED (SELECT $wSel),
      pp$i AS MATERIALIZED (SELECT b.doc_id, b.y, b.z1, b.z2, b.z3, b.z4,
                      0.5 + b.zz/(2.0*(1.0+abs(b.zz))) AS p
               FROM (SELECT sf.*,
                       (w.w0 + w.w1*sf.z1 + w.w2*sf.z2 + w.w3*sf.z3 + w.w4*sf.z4) AS zz
                     FROM sf, wi$i w) b),
      gi$i AS MATERIALIZED (SELECT CAST(count(*) AS DOUBLE) AS n,
                      ${sdSql(q8Sql("(p-y)*(p-y)"))} AS sse,
                      CAST(sum(CASE WHEN (p >= 0.5) = (y = 1.0) THEN 1 ELSE 0 END) AS DOUBLE) AS ok,
                      ${sdSql(q8Sql("(p-y)*1.0"))} AS gg0,
                      ${(1 to 4).map(j => s"${sdSql(q8Sql(s"(p-y)*z$j"))} AS gg$j").mkString(", ")}
               FROM pp$i)"""
    }
    sb.toString
  }

  /** Training-curve differential: the weights in effect at each
    * iteration plus the exact SSE and accuracy they score — iteration
    * 0 (zero weights, majority-vote accuracy) through the final fit.
    * SSE must DECREASE down the rows (the learnability evidence; the
    * spec pins it, the differential pins the exact values). */
  private val qualityLrTrain = Q(
    "quality_lr_train",
    (s, dir) => {
      import graft.operators.QualityClassifier
      import s.implicits._
      val hist = QualityClassifier.train(
        sharedLrStd(s, dir), LrFeatCols, "label", LrRate.toDouble, LrIters)
      hist.map(h => (h.iter.toLong, h.weights(0), h.weights(1), h.weights(2),
          h.weights(3), h.weights(4), h.sse, h.accuracy))
        .toDF("iter", "w0", "w1", "w2", "w3", "w4", "sse", "accuracy")
        .orderBy("iter")
    },
    Some({
      val rows = (0 to LrIters).map(i => s"""
        SELECT CAST($i AS BIGINT) AS iter, w.w0, w.w1, w.w2, w.w3, w.w4,
               floor((g.sse/g.n)*1e6+0.5)/1e6 AS sse,
               floor((g.ok/g.n)*1e4+0.5)/1e4 AS accuracy
        FROM wi$i w, gi$i g""").mkString(" UNION ALL ")
      s"$lrCtes SELECT * FROM ($rows) ORDER BY iter"
    }),
  )

  /** Corpus-wide scoring under the fitted model: the 6-dp probability,
    * the ≥0.5 decision, and whether it agrees with the gate label it
    * was distilled from (98% at sf0.01 — the trained scorer recovers
    * the rule it learned, which the differential replays exactly). */
  private val qualityLrScore = Q(
    "quality_lr_score",
    (s, dir) => {
      sharedLrScored(s, dir)
        .select(col("doc_id"), col("score"), col("predicted"),
          (col("label") === 1.0).as("label_pass"),
          (col("predicted") === (col("label") === 1.0)).as("correct"))
        .orderBy("doc_id")
    },
    Some(s"""
      $lrCtes
      SELECT p.doc_id, floor(p.p*1e6+0.5)/1e6 AS score,
             (p.p >= 0.5) AS predicted, (p.y = 1.0) AS label_pass,
             ((p.p >= 0.5) = (p.y = 1.0)) AS correct
      FROM pp$LrIters p ORDER BY p.doc_id"""),
  )

  /** Fitted weights, memoized by data directory: training is
    * bit-deterministic (the operator's doctrine), so the weights are a
    * pure function of (dir, LrFeatCols, LrRate, LrIters) and the memo
    * can never serve a stale or session-entangled value — plain
    * doubles, no Spark objects. Saves each scoring consumer the 9
    * training aggregates. */
  private val lrWeightsMemo =
    scala.collection.concurrent.TrieMap.empty[String, Seq[Double]]
  private def lrWeights(s: SparkSession, dir: String): Seq[Double] =
    lrWeightsMemo.getOrElseUpdate(dir, {
      import graft.operators.QualityClassifier
      QualityClassifier.train(
        sharedLrStd(s, dir), LrFeatCols, "label", LrRate.toDouble, LrIters)
        .last.weights
    })

  /** The standardized feature frame itself, session-memoized: the
    * trainer (`quality_lr_train`, `lrWeights`) and the scorer all
    * consume byte-identical standardized rows, so one
    * textFeatures+standardize pass per session serves the whole family
    * instead of each entry re-tokenizing the corpus (three identical
    * passes before; memoization cannot change any result — the frame
    * is a pure function of (dir, LrFeatCols) and every consumer's
    * output is differentially oracle-checked). */
  private[graft] def sharedLrStd(s: SparkSession, dir: String): DataFrame =
    graft.SharedFrames.cachedPrepersisted(s, s"quality_lr_std:$dir") {
      import graft.operators.QualityClassifier
      // Tokenize ONCE (guide §2.4: don't recompute what you hold):
      // standardize() keeps the CALLER's recomputable lineage on its
      // output, so memoizing `standardize(lrFeatures(..))` re-ran the
      // per-row tokenization twice — once inside standardize's stats
      // passes and again when the memo materialized the lazy result.
      // Materializing the raw feature frame first makes both read
      // stored blocks; the memoized frame is its own checkpoint
      // (cachedPrepersisted) and the raw leaf is released after.
      // Pure plumbing: identical rows in, exact decimal stats, so the
      // standardized bits are unchanged (oracle re-proves it).
      val (feat, release) = graft.Lineage.checkpointed(lrFeatures(s, dir))
      try
        org.apache.spark.sql.GraftSqlShim.withMeasuredStats(
          QualityClassifier.standardize(feat, LrFeatCols)._1
            .localCheckpoint(eager = true))
      finally release()
    }

  /** Spark side of the fitted scorer — standardize + score under the
    * memoized weights, session-memoized ([[graft.SharedFrames]]) for
    * the three scoring consumers (`quality_lr_score`, `_by_source`,
    * `_calibration`); registered as a `shared:` bench build so the
    * first consumer isn't billed for the family's fit. */
  private[graft] def sharedLrScored(s: SparkSession, dir: String): DataFrame =
    graft.SharedFrames.cachedPrepersisted(s, s"quality_lr_scored:$dir") {
      import graft.operators.QualityClassifier
      QualityClassifier.score(sharedLrStd(s, dir), lrWeights(s, dir), LrFeatCols)
    }

  /** Rule-vs-model DISAGREEMENT by source — the rollup a curation
    * owner acts on when swapping the threshold gate for the trained
    * scorer: which feeds would see their admission rate move, and by
    * how much. A uniform low disagreement is drop-in evidence; one
    * source diverging means the rule binds on a signal the linear fit
    * under-weights there. */
  private val qualityLrBySource = Q(
    "quality_lr_by_source",
    (s, dir) => {
      val d = Tables.documents(s, dir).select("doc_id", "source")
      sharedLrScored(s, dir)
        .join(d, Seq("doc_id"))
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("label") === 1.0, 1L).otherwise(0L)).as("n_rule_pass"),
          sum(when(col("predicted"), 1L).otherwise(0L)).as("n_model_pass"),
          sum(when(col("predicted") =!= (col("label") === 1.0), 1L).otherwise(0L))
            .as("n_disagree"))
        .withColumn("disagree_rate",
          floor((col("n_disagree").cast("double") / col("n_docs").cast("double"))
            * lit(1e4) + lit(0.5)) / lit(1e4))
        .orderBy("source")
    },
    Some(s"""
      $lrCtes,
      scored AS (SELECT p.doc_id, (p.p >= 0.5) AS predicted, (p.y = 1.0) AS label_pass
                 FROM pp$LrIters p)
      SELECT d.source,
             CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(CASE WHEN sc.label_pass THEN 1 ELSE 0 END) AS BIGINT) AS n_rule_pass,
             CAST(sum(CASE WHEN sc.predicted THEN 1 ELSE 0 END) AS BIGINT) AS n_model_pass,
             CAST(sum(CASE WHEN sc.predicted <> sc.label_pass THEN 1 ELSE 0 END) AS BIGINT)
               AS n_disagree,
             floor((CAST(sum(CASE WHEN sc.predicted <> sc.label_pass THEN 1 ELSE 0 END) AS DOUBLE)
                    / CAST(count(*) AS DOUBLE))*1e4+0.5)/1e4 AS disagree_rate
      FROM scored sc JOIN documents d ON sc.doc_id = d.doc_id
      GROUP BY d.source ORDER BY d.source"""),
  )

  /** CALIBRATION (reliability) curve of the trained scorer: score
    * deciles vs the observed pass base rate in each — the standard
    * check before a learned score is used as an admission PROBABILITY
    * rather than a ranker. Buckets are decided on the 6-dp score
    * (exact on both engines), so the curve is bit-replayable like
    * everything else in the family. */
  private val qualityLrCalibration = Q(
    "quality_lr_calibration",
    (s, dir) =>
      sharedLrScored(s, dir)
        .withColumn("bucket", least(floor(col("score") * 10), lit(9L)))
        .groupBy("bucket")
        .agg(count(lit(1)).as("n_docs"),
          sum(col("score").cast("decimal(18,6)")).as("score_sum"),
          sum(when(col("label") === 1.0, 1L).otherwise(0L)).as("n_pass"))
        .select(col("bucket"), col("n_docs"),
          (floor((col("score_sum").cast("string").cast("double") /
            col("n_docs").cast("double")) * lit(1e6) + lit(0.5)) / lit(1e6))
            .as("mean_score"),
          (floor((col("n_pass").cast("double") / col("n_docs").cast("double"))
            * lit(1e4) + lit(0.5)) / lit(1e4)).as("observed_pass_rate"))
        .orderBy("bucket"),
    Some(s"""
      $lrCtes,
      scored AS (SELECT floor(p.p*1e6+0.5)/1e6 AS score, p.y FROM pp$LrIters p)
      SELECT CAST(least(floor(score*10), 9) AS BIGINT) AS bucket,
             CAST(count(*) AS BIGINT) AS n_docs,
             floor((CAST(CAST(sum(CAST(score AS DECIMAL(18,6))) AS VARCHAR) AS DOUBLE)
                    / CAST(count(*) AS DOUBLE))*1e6+0.5)/1e6 AS mean_score,
             floor((CAST(sum(CASE WHEN y = 1.0 THEN 1 ELSE 0 END) AS DOUBLE)
                    / CAST(count(*) AS DOUBLE))*1e4+0.5)/1e4 AS observed_pass_rate
      FROM scored GROUP BY bucket ORDER BY bucket"""),
  )

  // ----------------------------------------------------------- chunking
  /** Document chunking — split every document into fixed-size token
    * windows with overlap, the standard prep step between a cleaned
    * corpus and sequence packing for training. Implemented as pure
    * array arithmetic: `sequence` generates the chunk starts,
    * `posexplode`-free `explode` + `slice` + `array_join` cut the
    * windows — no lambda HOFs, no shuffle below the output sort, and
    * the chunk index is closed-form (`start / stride`) so no window
    * function numbers the chunks. At 100 TB chunking rides the corpus
    * scan exactly like the text-stats projections. */
  private val chunks = Q(
    "corpus_chunks",
    (s, dir) =>
      chunkExplode(Tables.documents(s, dir), Seq("doc_id"))
        .orderBy("doc_id", "chunk_idx"),
    Some(s"""
      WITH t AS (SELECT doc_id, string_split(text, ' ') AS t,
                        CAST(len(string_split(text, ' ')) AS BIGINT) AS n
                 FROM documents),
      starts AS (SELECT doc_id, t, n, CAST(u.s AS BIGINT) AS chunk_start
                 FROM t, unnest(range(0, CAST(n AS INT), $ChunkStride)) u(s))
      SELECT doc_id,
             chunk_start // $ChunkStride AS chunk_idx,
             chunk_start,
             least($ChunkSize, n - chunk_start) AS chunk_len,
             array_to_string(
               list_slice(t, CAST(chunk_start + 1 AS INT),
                 CAST(least(chunk_start + $ChunkSize, n) AS INT)), ' ')
               AS chunk_text
      FROM starts
      ORDER BY doc_id, chunk_idx"""),
  )

  // ------------------------------------------------------------ packing
  /** Training-sequence length in tokens. */
  private[queries] val SeqLen = 64

  /** The packing ASSIGNMENT stage shared by `mix_pack_sequences`,
    * [[packEmit]] and the capstone: per document, `(doc_id, source,
    * token_cnt, seq_id, seq_offset)` where `seq_id` is the packed
    * sequence the document STARTS in and `seq_offset` its token offset
    * there. `df` must carry (doc_id, source, text). */
  private[queries] def packAssignments(df: DataFrame): DataFrame =
    graft.operators.PrefixSum.runningSum(
        df.select(col("doc_id"), col("source"),
          TextFunctions.tokenCount(col("text")).as("token_cnt")),
        Seq("source"), Seq(col("doc_id")), col("token_cnt"), "cum_end")
      .select(col("doc_id"), col("source"), col("token_cnt"),
        ((col("cum_end") - col("token_cnt")) / SeqLen).cast("long").as("seq_id"),
        ((col("cum_end") - col("token_cnt")) % SeqLen).as("seq_offset"))

  /** Sequence packing — the concat-and-cut step that turns cleaned
    * documents into fixed-length training sequences: within each
    * source stream, documents are laid end to end in a deterministic
    * order (doc_id) and every document learns which packed sequence it
    * starts in (`seq_id`) and at which token offset (`seq_offset`).
    * [[packEmit]] (`mix_pack_emit`) is the writer that concatenates
    * the assigned docs into the actual sequences, splitting boundary
    * straddlers — the assignment here is the distributed bookkeeping;
    * the emit moves the bytes.
    *
    * 100 TB design: the per-stream running sum is
    * [[graft.operators.PrefixSum]]'s two-phase prefix sum (bounded
    * tasks even when one source dominates the corpus); per-source
    * streams keep packing parallel ACROSS streams too, and the stream
    * key is pluggable. */
  private val packing = Q(
    "mix_pack_sequences",
    (s, dir) => packAssignments(Tables.documents(s, dir)).orderBy("doc_id"),
    Some(s"""
      SELECT doc_id, source, token_cnt,
             (cum_end - token_cnt) // $SeqLen AS seq_id,
             (cum_end - token_cnt) % $SeqLen AS seq_offset
      FROM (
        SELECT doc_id, source,
               CAST(len(string_split(text, ' ')) AS BIGINT) AS token_cnt,
               CAST(sum(len(string_split(text, ' '))) OVER (
                 PARTITION BY source ORDER BY doc_id
                 ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_end
        FROM documents) t
      ORDER BY doc_id"""),
  )

  /** Curriculum ordering — the final "in what order do the sequences
    * reach the model" step: each packed sequence inherits the mean
    * per-source length decile ([[rankDeciles]]) of the documents that
    * START in it, and the training stream is the global sort by that
    * difficulty signal (quality-first curricula feed easy/typical data
    * before tail data). Composes two already-oracle-proven stages —
    * the two-phase pack assignment and the two-phase decile ranking —
    * so the check is their COMPOSITION, same doctrine as the capstone.
    *
    * 100 TB design: deliberately NO global rank column — a
    * `row_number()` over all sequences would serialize the corpus
    * into one window task; the curriculum IS the total output order,
    * and a global range-exchange sort is the distributed shape for
    * that. Mean decile is an exact long-sum ÷ count, so the sort key
    * is deterministic. */
  private val curriculumOrder = Q(
    "mix_curriculum_order",
    (s, dir) => {
      val d = Tables.documents(s, dir)
      val deciles = docDeciles(d).select("doc_id", "decile")
      packAssignments(d)
        .join(deciles, Seq("doc_id"))
        .groupBy("source", "seq_id")
        .agg(count(lit(1)).as("n_docs"),
          round(sum(col("decile")).cast("double") / count(lit(1)).cast("double"), 6)
            .as("mean_decile"))
        .select("source", "seq_id", "n_docs", "mean_decile")
        .orderBy("mean_decile", "source", "seq_id")
    },
    Some(s"""
      WITH sized AS (
        SELECT doc_id, source,
               CAST(len(string_split(text, ' ')) AS BIGINT) AS token_cnt
        FROM documents),
      dec AS (
        SELECT doc_id,
               CAST((row_number() OVER (PARTITION BY source
                      ORDER BY token_cnt DESC, doc_id) - 1) * 10
                    // count(*) OVER (PARTITION BY source) + 1 AS BIGINT) AS decile
        FROM sized),
      asg AS (
        SELECT doc_id, source,
               (cum_end - token_cnt) // $SeqLen AS seq_id
        FROM (SELECT doc_id, source, token_cnt,
                     CAST(sum(token_cnt) OVER (PARTITION BY source
                       ORDER BY doc_id ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_end
              FROM sized) t)
      SELECT a.source, a.seq_id, count(*) AS n_docs,
             round(CAST(sum(d.decile) AS DOUBLE) / CAST(count(*) AS DOUBLE), 6)
               AS mean_decile
      FROM asg a JOIN dec d USING (doc_id)
      GROUP BY a.source, a.seq_id
      ORDER BY mean_decile, source, seq_id"""),
  )

  /** The pack EMIT stage — materialize the actual fixed-length training
    * sequences the assignment stage ([[packAssignments]]) promises: per
    * source stream, documents laid end to end in doc_id order and cut
    * every [[SeqLen]] tokens. A document contributes a PIECE to every
    * sequence its token range `[cum_start, cum_end)` overlaps — the one
    * straddling a boundary is split at its offset — so each output row
    * is one model-ready sequence: its token text, its exact token
    * count (= [[SeqLen]] everywhere but each stream's tail), and how
    * many documents fed it.
    *
    * 100 TB design: the slim assignment rides [[graft.operators.PrefixSum]];
    * the BYTES then move exactly twice — the doc_id join that re-attaches
    * text to its assignment, and the `(source, seq_id)` regroup that
    * co-locates each sequence's pieces (the floor for any packer: output
    * sequences must assemble somewhere). Piece extraction is `slice`
    * column arithmetic on the scan side of the regroup, and sequences
    * rebuild via `sort_array(collect_list(struct))` — compiled, no HOF
    * lambda, no window. Per-task state is one sequence's pieces
    * (≤ [[SeqLen]] tokens), never a stream. */
  private val packEmit = Q(
    "mix_pack_emit",
    (s, dir) => {
      val d = Tables.documents(s, dir)
      val asg = packAssignments(d)
        .withColumn("cum_start", col("seq_id") * SeqLen + col("seq_offset"))
      val pieces = asg
        .join(d.select("doc_id", "text"), Seq("doc_id"))
        .withColumn("seq_no", explode(sequence(
          col("seq_id"),
          ((col("cum_start") + col("token_cnt") - 1) / SeqLen).cast("long"))))
        .withColumn("piece_start",
          greatest(col("seq_no") * SeqLen - col("cum_start"), lit(0L)))
        .withColumn("piece_end",
          least(col("token_cnt"), (col("seq_no") + 1) * SeqLen - col("cum_start")))
        .withColumn("seq_off",
          greatest(col("cum_start") - col("seq_no") * SeqLen, lit(0L)))
        .select(col("source"), col("seq_no").as("seq_id"), col("cum_start"),
          col("piece_start"), col("seq_off"),
          (col("piece_end") - col("piece_start")).as("piece_len"),
          array_join(slice(TextFunctions.tokens(col("text")),
            (col("piece_start") + 1).cast("int"),
            (col("piece_end") - col("piece_start")).cast("int")), " ")
            .as("piece_text"))
      pieces.groupBy("source", "seq_id")
        .agg(
          sum(col("piece_len")).as("n_tokens"),
          count(lit(1)).as("n_docs"),
          array_join(
            sort_array(collect_list(struct(col("cum_start"), col("piece_text"))))
              .getField("piece_text"), " ").as("seq_text"),
          // attention-reset metadata: the within-sequence offsets where
          // a NEW document begins (piece_start = 0 ⇔ not a straddler's
          // continuation); collect_list drops the non-boundary NULLs
          array_join(
            sort_array(collect_list(when(col("piece_start") === 0L,
              struct(col("cum_start"), col("seq_off")))))
              .getField("seq_off").cast("array<string>"), " ").as("doc_starts"))
        .orderBy("source", "seq_id")
    },
    Some(s"""
      WITH a AS (
        SELECT doc_id, source, string_split(text, ' ') AS t,
               CAST(len(string_split(text, ' ')) AS BIGINT) AS token_cnt,
               CAST(sum(len(string_split(text, ' '))) OVER (
                 PARTITION BY source ORDER BY doc_id
                 ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_end
        FROM documents),
      b AS (SELECT *, cum_end - token_cnt AS cum_start FROM a),
      p AS (SELECT source, CAST(u.s AS BIGINT) AS seq_id, cum_start,
                   greatest(u.s * $SeqLen - cum_start, 0) AS st,
                   least(token_cnt, (u.s + 1) * $SeqLen - cum_start) AS en,
                   greatest(cum_start - u.s * $SeqLen, 0) AS soff, t
            FROM b, unnest(range(cum_start // $SeqLen,
                                 (cum_end - 1) // $SeqLen + 1)) u(s))
      SELECT source, seq_id,
             CAST(sum(en - st) AS BIGINT) AS n_tokens,
             CAST(count(*) AS BIGINT) AS n_docs,
             string_agg(
               array_to_string(list_slice(t, CAST(st + 1 AS INT), CAST(en AS INT)), ' '),
               ' ' ORDER BY cum_start) AS seq_text,
             coalesce(string_agg(CAST(soff AS VARCHAR), ' ' ORDER BY cum_start)
               FILTER (WHERE st = 0), '') AS doc_starts
      FROM p GROUP BY source, seq_id ORDER BY source, seq_id"""),
  )

  /** Right-to-be-forgotten BLAST RADIUS over the packed corpus — the
    * report an unlearning/opt-out pipeline needs BEFORE deciding
    * re-pack vs re-train: when a set of documents must be forgotten
    * (here the deterministic stand-in `doc_id % 97 = 0`), which packed
    * training sequences contain any of their tokens? Because packing
    * concatenates and straddles document boundaries ([[packEmit]]), a
    * forgotten doc poisons EVERY sequence it touches — including
    * neighbors' tokens in straddled sequences — so the affected token
    * mass is strictly larger than the forgotten mass; the
    * `blast_amplification` column carries that ratio per source (the
    * compliance cost of dense packing, quantified).
    *
    * 100 TB design: rides [[packAssignments]]' two-phase prefix sum;
    * the forget set filters BEFORE any explode, so the seq-range
    * explode is forget-sized, not corpus-sized; geometry (sequences
    * per source, tail size) is a per-source aggregate broadcast back;
    * everything else is metadata-sized joins on `source`. */
  private val forgetAudit = Q(
    "mix_forget_audit",
    (s, dir) => {
      val asg = packAssignments(Tables.documents(s, dir))
        .withColumn("cum_start", col("seq_id") * SeqLen + col("seq_offset"))
        .withColumn("last_seq",
          ((col("cum_start") + col("token_cnt") - 1) / SeqLen).cast("long"))
      val geom = asg.groupBy("source")
        .agg((max(col("last_seq")) + 1).as("n_seqs_total"),
          sum(col("token_cnt")).as("total_tokens"))
        .withColumn("tail_tokens",
          col("total_tokens") - (col("n_seqs_total") - 1) * SeqLen)
      val forget = asg.filter(col("doc_id") % 97 === 0)
      val fstats = forget.groupBy("source")
        .agg(count(lit(1)).as("n_docs_forgotten"),
          sum(col("token_cnt")).as("forgotten_tokens"))
      val affected = forget
        .select(col("source"),
          explode(sequence(col("seq_id"), col("last_seq"))).as("seq"))
        .distinct()
      val astats = affected.join(broadcast(geom), Seq("source"))
        .groupBy("source")
        .agg(count(lit(1)).as("n_seqs_affected"),
          sum(when(col("seq") === col("n_seqs_total") - 1, col("tail_tokens"))
            .otherwise(lit(SeqLen.toLong))).as("affected_seq_tokens"))
      geom.join(fstats, Seq("source"), "left")
        .join(astats, Seq("source"), "left")
        .select(col("source"), col("n_seqs_total"), col("total_tokens"),
          coalesce(col("n_docs_forgotten"), lit(0L)).as("n_docs_forgotten"),
          coalesce(col("forgotten_tokens"), lit(0L)).as("forgotten_tokens"),
          coalesce(col("n_seqs_affected"), lit(0L)).as("n_seqs_affected"),
          coalesce(col("affected_seq_tokens"), lit(0L)).as("affected_seq_tokens"))
        .withColumn("blast_amplification",
          round(col("affected_seq_tokens").cast("double") /
            greatest(col("forgotten_tokens"), lit(1L)).cast("double"), 4))
        .orderBy("source")
    },
    Some(s"""
      WITH a AS (
        SELECT doc_id, source,
               CAST(len(string_split(text, ' ')) AS BIGINT) AS token_cnt,
               CAST(sum(len(string_split(text, ' '))) OVER (
                 PARTITION BY source ORDER BY doc_id
                 ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_end
        FROM documents),
      b AS (SELECT *, (cum_end - token_cnt) // $SeqLen AS seq_id,
                   (cum_end - 1) // $SeqLen AS last_seq
            FROM a),
      geom AS (SELECT source,
                      CAST(max(last_seq) + 1 AS BIGINT) AS n_seqs_total,
                      CAST(sum(token_cnt) AS BIGINT) AS total_tokens,
                      CAST(sum(token_cnt) - max(last_seq) * $SeqLen AS BIGINT) AS tail_tokens
               FROM b GROUP BY 1),
      f AS (SELECT * FROM b WHERE doc_id % 97 = 0),
      fs AS (SELECT source, CAST(count(*) AS BIGINT) AS n_docs_forgotten,
                    CAST(sum(token_cnt) AS BIGINT) AS forgotten_tokens
             FROM f GROUP BY 1),
      aff AS (SELECT DISTINCT f.source, CAST(u.s AS BIGINT) AS seq
              FROM f, unnest(range(f.seq_id, f.last_seq + 1)) u(s)),
      ast AS (SELECT aff.source, CAST(count(*) AS BIGINT) AS n_seqs_affected,
                     CAST(sum(CASE WHEN aff.seq = g.n_seqs_total - 1
                              THEN g.tail_tokens ELSE $SeqLen END) AS BIGINT)
                       AS affected_seq_tokens
              FROM aff JOIN geom g USING (source) GROUP BY 1)
      SELECT g.source, g.n_seqs_total, g.total_tokens,
             coalesce(fs.n_docs_forgotten, 0) AS n_docs_forgotten,
             coalesce(fs.forgotten_tokens, 0) AS forgotten_tokens,
             coalesce(ast.n_seqs_affected, 0) AS n_seqs_affected,
             coalesce(ast.affected_seq_tokens, 0) AS affected_seq_tokens,
             round(CAST(coalesce(ast.affected_seq_tokens, 0) AS DOUBLE)
                   / greatest(coalesce(fs.forgotten_tokens, 0), 1), 4)
               AS blast_amplification
      FROM geom g LEFT JOIN fs USING (source) LEFT JOIN ast USING (source)
      ORDER BY g.source"""),
  )

  // --------------------------------------------------------- vocabulary
  /** Vocabulary size — the top-K most frequent tokens get ids. The
    * synthetic corpus has 31 distinct tokens at every SF, so K must sit
    * BELOW that for the cutoff (and the OOV encoding path) to be real
    * rather than vacuous — same lesson as the round-5 `f_like_patterns`
    * finding: a branch no row ever takes verifies nothing. */
  private val VocabK = 24

  /** Shared top-K vocabulary frame: `(token, freq, token_id)` with ids
    * 0..K-1 assigned by (freq DESC, token) — deterministic, so the id
    * map is reproducible run to run. The global top-K compiles to
    * TakeOrderedAndProject (per-partition top-K + a K-row driver
    * merge, never a full sort); the id-assigning rank window then runs
    * over K ROWS — bounded metadata, like the IVF centroid tables, not
    * a corpus-sized single-partition window. */
  private[queries] def vocabFrame(s: SparkSession, dir: String): DataFrame = {
    val freq = Tables.documents(s, dir)
      .select(explode(TextFunctions.tokens(col("text"))).as("token"))
      .groupBy("token").agg(count(lit(1)).as("freq"))
    val top = freq.orderBy(col("freq").desc, col("token")).limit(VocabK)
    val w = Window.orderBy(col("freq").desc, col("token"))
    top.withColumn("token_id", (row_number().over(w) - 1).cast("long"))
  }

  /** The vocabulary CTE, ONE SQL spelling for both vocab oracles. */
  private[queries] val VOCAB_CTE = s"""
      vocab AS (
        SELECT token, freq, CAST(rn - 1 AS BIGINT) AS token_id FROM (
          SELECT token, CAST(count(*) AS BIGINT) AS freq,
                 row_number() OVER (ORDER BY count(*) DESC, token) AS rn
          FROM (SELECT unnest(string_split(text, ' ')) AS token FROM documents)
          GROUP BY token) t
        WHERE rn <= $VocabK)"""

  /** Frequency-ranked vocabulary — the tokenizer-support half of the
    * training pipeline: the top-K corpus tokens with deterministic
    * dense ids, the table a word-level tokenizer (or a BPE seed
    * vocabulary) is built from. */
  private val vocab = Q(
    "corpus_vocab",
    (s, dir) => vocabFrame(s, dir).orderBy("token_id"),
    Some(s"""
      WITH $VOCAB_CTE
      SELECT token, freq, token_id FROM vocab ORDER BY token_id"""),
  )

  /** BPE merge rounds for the oracle unroll and the Spark loop. */
  private val BpeRounds = 8

  /** The DuckDB replay of [[graft.operators.BpeMerges.learn]]: k
    * unrolled rounds, each re-deriving pair counts from the previous
    * round's merged sequences, picking the identical (cnt DESC, lhs,
    * rhs) argmax, and applying the merge with the same doubled-delimiter
    * `replace` trick — so greedy non-overlapping application and
    * overlapping counting both replay exactly. Every w/m CTE is
    * MATERIALIZED: each round references the previous twice, so the
    * default inlining would expand the chain 2^k times (and re-open
    * the parquet on every expansion). */
  /** The k unrolled merge-round CTEs (w0..wk, p/m per round), shared by
    * both BPE oracles; each w CTE carries the ORIGINAL word alongside
    * its evolving symbol sequence so the final round doubles as the
    * word → segmentation map. */
  private def bpeRoundCtes(k: Int): String = {
    val d = graft.operators.BpeMerges.Delim
    val rounds = (1 to k).map { i =>
      val prev = s"w${i - 1}"
      s"""
      p$i AS (
        SELECT a[CAST(u.i AS INT)] AS lhs, a[CAST(u.i AS INT) + 1] AS rhs,
               CAST(sum(freq) AS BIGINT) AS cnt
        FROM (SELECT string_split(trim(seq, '$d'), '$d$d') AS a, freq
              FROM $prev) t,
             unnest(range(1, len(a))) u(i)
        GROUP BY 1, 2),
      m$i AS MATERIALIZED (SELECT lhs, rhs, cnt FROM p$i ORDER BY cnt DESC, lhs, rhs LIMIT 1),
      w$i AS MATERIALIZED (
        SELECT w, replace(seq,
                 '$d' || (SELECT lhs FROM m$i) || '$d$d' || (SELECT rhs FROM m$i) || '$d',
                 '$d' || (SELECT lhs FROM m$i) || (SELECT rhs FROM m$i) || '$d') AS seq,
               freq
        FROM $prev)"""
    }.mkString(",")
    s"""w0 AS MATERIALIZED (
        SELECT w, regexp_replace(w, '(.)', '$d\\1$d', 'g') AS seq,
               CAST(count(*) AS BIGINT) AS freq
        FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents)
        GROUP BY w),$rounds"""
  }

  private def bpeOracleSql(k: Int): String = {
    val heads = (1 to k).map(i =>
      s"SELECT CAST($i AS BIGINT) AS merge_rank, lhs, rhs, cnt AS pair_freq FROM m$i")
      .mkString("\n      UNION ALL ")
    s"""
      WITH ${bpeRoundCtes(k)}
      SELECT merge_rank, lhs, rhs, pair_freq FROM (
      $heads)
      ORDER BY merge_rank"""
  }

  /** BPE-style merge vocabulary — the real subword-tokenizer training
    * step the frequency vocabulary ([[vocabFrame]]) only scaffolds:
    * [[BpeRounds]] rounds of count-pairs → merge-argmax over the
    * corpus's weighted vocabulary. See [[graft.operators.BpeMerges]]
    * for the loop's scale design (distinct-word working set, one
    * argmax row to the driver per round, per-round checkpoint
    * hygiene). The oracle replays the full deterministic merge
    * sequence in DuckDB. */
  private val bpeMerges = Q(
    "corpus_bpe_merges",
    (s, dir) => {
      val spark0 = s
      import spark0.implicits._
      val words = Tables.documents(s, dir)
        .select(explode(TextFunctions.tokens(col("text"))).as("w"))
        .groupBy("w").agg(count(lit(1)).as("freq"))
      graft.operators.BpeMerges.learn(words, "w", "freq", BpeRounds)
        .toDF("merge_rank", "lhs", "rhs", "pair_freq")
        .orderBy("merge_rank")
    },
    Some(bpeOracleSql(BpeRounds)),
  )

  /** BPE APPLICATION — the learned merges segmenting the corpus, the
    * other half of a working subword tokenizer: each document's words
    * split into the subwords the [[bpeMerges]] rounds converged on
    * (pieces joined `+` within a word), plus word and subword counts.
    *
    * 100 TB design: merges apply on the DISTINCT-WORD table (the same
    * vocabulary compression as learning) as k chained compiled
    * `replace` calls — one codegen'd projection, no joins, no
    * iteration at apply time; the segmented vocabulary then broadcasts
    * into the positional token explode exactly like the token-id
    * encoding, and the only corpus-sized exchange is the per-document
    * regroup. The oracle re-learns the merges through the shared
    * round CTEs and replays the segmentation arithmetic.
    *
    * Contract: [[BpeRounds]] must not exceed the corpus's merge supply
    * — the Spark loop stops early when pairs run dry, but the oracle's
    * unroll is fixed-k (an empty argmax would NULL the replay). The
    * 31-word vocabulary exhausts far beyond k=8; revisit if k grows. */
  private val bpeEncode = Q(
    "corpus_bpe_encode",
    (s, dir) => {
      val d = graft.operators.BpeMerges.Delim
      val words = Tables.documents(s, dir)
        .select(explode(TextFunctions.tokens(col("text"))).as("w"))
        .groupBy("w").agg(count(lit(1)).as("freq"))
      val merges = graft.operators.BpeMerges.learn(words, "w", "freq", BpeRounds)
      val applied = merges.foldLeft(
          regexp_replace(col("w"), "(.)", s"$d$$1$d"): Column) {
        case (acc, (_, l, r, _)) =>
          replace(acc, lit(s"$d$l$d$d$r$d"), lit(s"$d$l$r$d"))
      }
      val seg = words.select(col("w"), applied.as("seq"))
        .select(col("w"),
          ((length(col("seq")) -
            length(replace(col("seq"), lit(s"$d$d"), lit("")))) / 2 + 1)
            .cast("long").as("n_sub"),
          regexp_replace(replace(col("seq"), lit(s"$d$d"), lit("+")),
            s"^$d|$d$$", "").as("segtext"))
      Tables.documents(s, dir)
        .select(col("doc_id"),
          posexplode(TextFunctions.tokens(col("text"))).as(Seq("pos", "w")))
        .join(broadcast(seg), Seq("w"))
        .groupBy("doc_id")
        .agg(
          count(lit(1)).as("n_tokens"),
          sum(col("n_sub")).as("n_subwords"),
          array_join(sort_array(collect_list(struct(col("pos"), col("segtext"))))
            .getField("segtext"), " ").as("bpe_text"))
        .orderBy("doc_id")
    },
    Some(bpeEncodeOracleSql(BpeRounds)),
  )

  private def bpeEncodeOracleSql(k: Int): String = {
    val d = graft.operators.BpeMerges.Delim
    s"""
      WITH ${bpeRoundCtes(k)},
      seg AS (
        SELECT w,
               CAST((length(seq) - length(replace(seq, '$d$d', ''))) // 2 + 1
                 AS BIGINT) AS n_sub,
               replace(trim(seq, '$d'), '$d$d', '+') AS segtext
        FROM w$k),
      dt AS (
        SELECT doc_id, ts[CAST(u.i AS INT)] AS w, CAST(u.i AS BIGINT) AS pos
        FROM (SELECT doc_id, string_split(text, ' ') AS ts FROM documents),
             unnest(range(1, len(ts) + 1)) u(i))
      SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
             CAST(sum(n_sub) AS BIGINT) AS n_subwords,
             string_agg(segtext, ' ' ORDER BY pos) AS bpe_text
      FROM dt JOIN seg USING (w)
      GROUP BY doc_id ORDER BY doc_id"""
  }

  /** Tokenizer fertility per language — average BPE pieces per word
    * (token-occurrence-weighted) under the [[bpeMerges]] vocabulary:
    * THE per-language tokenizer-equity number. A language whose
    * fertility runs high gets fewer effective context tokens and pays
    * more compute per sentence — the published multilingual-tokenizer
    * audits flag exactly this ratio, and a mixing pipeline reads it
    * next to `corpus_drift_kl` before committing a vocabulary.
    *
    * Exactness: subword counts are exact longs summed per language;
    * fertility is ONE division of two exact longs — correctly rounded,
    * engine-identical, left unrounded (the `corpus_outlier_filter`
    * doctrine: a raw IEEE division is bit-stable where a rounded tie
    * need not be).
    *
    * 100 TB design: the merge loop and segmentation run on the
    * DISTINCT-WORD table ([[graft.operators.BpeMerges]] doctrine); the
    * segmented vocabulary BROADCASTS into the token explode and the
    * per-language aggregate collapses map-side to `langs` rows — the
    * corpus is scanned once and shuffled never (the final exchange
    * carries one row per language). */
  private val bpeFertility = Q(
    "corpus_bpe_fertility",
    (s, dir) => {
      val d = graft.operators.BpeMerges.Delim
      val words = Tables.documents(s, dir)
        .select(explode(TextFunctions.tokens(col("text"))).as("w"))
        .groupBy("w").agg(count(lit(1)).as("freq"))
      val merges = graft.operators.BpeMerges.learn(words, "w", "freq", BpeRounds)
      val applied = merges.foldLeft(
          regexp_replace(col("w"), "(.)", s"$d$$1$d"): Column) {
        case (acc, (_, l, r, _)) =>
          replace(acc, lit(s"$d$l$d$d$r$d"), lit(s"$d$l$r$d"))
      }
      val seg = words.select(col("w"), applied.as("seq"))
        .select(col("w"), length(col("w")).cast("long").as("n_chars"),
          ((length(col("seq")) -
            length(replace(col("seq"), lit(s"$d$d"), lit("")))) / 2 + 1)
            .cast("long").as("n_sub"))
      Tables.documents(s, dir)
        .select(col("lang"), explode(TextFunctions.tokens(col("text"))).as("w"))
        .join(broadcast(seg), Seq("w"))
        .groupBy("lang")
        .agg(
          count(lit(1)).as("n_tokens"),
          sum(col("n_sub")).as("n_subwords"),
          sum(col("n_chars")).as("n_chars"))
        .select(col("lang"), col("n_tokens"), col("n_subwords"),
          (col("n_subwords").cast("double") / col("n_tokens").cast("double"))
            .as("fertility"),
          (col("n_chars").cast("double") / col("n_subwords").cast("double"))
            .as("chars_per_piece"))
        .orderBy("lang")
    },
    Some {
      val d = graft.operators.BpeMerges.Delim
      s"""
      WITH ${bpeRoundCtes(BpeRounds)},
      seg AS (
        SELECT w, CAST(length(w) AS BIGINT) AS n_chars,
               CAST((length(seq) - length(replace(seq, '$d$d', ''))) // 2 + 1
                 AS BIGINT) AS n_sub
        FROM w$BpeRounds),
      lt AS (
        SELECT lang, u.w AS w
        FROM (SELECT lang, string_split(text, ' ') AS ts FROM documents),
             unnest(ts) u(w))
      SELECT lang, CAST(count(*) AS BIGINT) AS n_tokens,
             CAST(sum(n_sub) AS BIGINT) AS n_subwords,
             CAST(sum(n_sub) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS fertility,
             CAST(sum(seg.n_chars) AS DOUBLE) / CAST(sum(n_sub) AS DOUBLE)
               AS chars_per_piece
      FROM lt JOIN seg USING (w)
      GROUP BY lang ORDER BY lang"""
    },
  )

  /** Top-k per-source frequent bigrams. */
  private val TopNgramK = 10

  /** Per-source top bigrams by document frequency — the corpus
    * inspection report (boilerplate detection, source profiling) that
    * is ALSO the scale showcase for [[graft.operators.TopKPerGroup]]
    * at corpus level: at 100 TB the per-source distinct-bigram table is
    * billions of rows, so a rank window per source would serialize
    * each source into one task (the same hazard the prefix-sum rework
    * killed) — the k-bounded packed heap keeps ≤ k·mappers rows per
    * source crossing the shuffle instead. The heap's unique tiebreak
    * id is a 60-bit md5 prefix computed identically on both sides
    * (Spark `conv(hex,16,10)` == DuckDB `CAST('0x…' AS BIGINT)`), and
    * the k·sources winners broadcast back to re-attach the bigram
    * text, per the operator's narrow-payload doctrine. */
  /** Zipf power-law fit — per language, the least-squares slope and
    * intercept of ln(frequency) against ln(rank) over the token
    * frequency table: natural language sits near slope −1, so this is
    * the one-number "does this corpus look like language or like
    * noise" diagnostic (the synthetic lake's near-uniform vocabulary
    * fits ≈ 0 — honestly reported, the diagnostic WORKING). Complements
    * the per-doc quality signals with a corpus-level one.
    *
    * Determinism: ln(rank)/ln(freq) are quantized to 9 dp (the ln-ulp
    * discipline) and cast to DECIMAL(12,9), so the Σx/Σy/Σxy/Σx²
    * moments are EXACT decimal sums — order-independent, the
    * a17_group_stats trick — and both engines evaluate the identical
    * closed-form slope/intercept on identical one-row-per-lang values
    * (decimal→double via VARCHAR on the oracle side).
    *
    * 100 TB design: the frequency table collapses map-side to
    * vocabulary size; the rank window and moment aggregate run over
    * vocab-sized METADATA per language, never the corpus. */
  private val zipfFit = Q(
    "corpus_zipf_fit",
    (s, dir) => {
      val freq = Tables.documents(s, dir)
        .select(col("lang"), explode(TextFunctions.tokens(col("text"))).as("tok"))
        .groupBy("lang", "tok").agg(count(lit(1)).as("c"))
      val ranked = freq.withColumn("r", row_number().over(
        Window.partitionBy("lang").orderBy(col("c").desc, col("tok"))))
      val xy = ranked.select(col("lang"),
        round(log(col("r").cast("double")), 9).cast("decimal(12,9)").as("x"),
        round(log(col("c").cast("double")), 9).cast("decimal(12,9)").as("y"))
      val m = xy.groupBy("lang").agg(count(lit(1)).as("n_vocab"),
        sum(col("x")).as("sx"), sum(col("y")).as("sy"),
        sum(col("x") * col("y")).as("sxy"), sum(col("x") * col("x")).as("sxx"))
      def d(c: String) = col(c).cast("double")
      val nD = col("n_vocab").cast("double")
      val slope = (nD * d("sxy") - d("sx") * d("sy")) /
        (nD * d("sxx") - d("sx") * d("sx"))
      m.select(col("lang"), col("n_vocab"),
          slope.as("zipf_slope"),
          ((d("sy") - slope * d("sx")) / nD).as("zipf_intercept"))
        .orderBy("lang")
    },
    Some("""
      WITH freq AS (SELECT lang, u.tok AS tok, count(*) AS c
                    FROM (SELECT lang, string_split(text, ' ') AS t
                          FROM documents), unnest(t) u(tok)
                    GROUP BY 1, 2),
      ranked AS (SELECT lang, c,
                        row_number() OVER (PARTITION BY lang
                          ORDER BY c DESC, tok) AS r
                 FROM freq),
      xy AS (SELECT lang,
                    CAST(round(ln(CAST(r AS DOUBLE)), 9) AS DECIMAL(12,9)) AS x,
                    CAST(round(ln(CAST(c AS DOUBLE)), 9) AS DECIMAL(12,9)) AS y
             FROM ranked),
      m AS (SELECT lang, count(*) AS n_vocab,
                   sum(x) AS sx, sum(y) AS sy,
                   sum(x * y) AS sxy, sum(x * x) AS sxx
            FROM xy GROUP BY 1),
      -- decimal → double through VARCHAR: strtod is correctly rounded,
      -- DuckDB's direct decimal cast is not (a17_group_stats finding)
      dd AS (SELECT lang, n_vocab,
                    CAST(n_vocab AS DOUBLE) AS nd,
                    CAST(CAST(sx AS VARCHAR) AS DOUBLE) AS sxd,
                    CAST(CAST(sy AS VARCHAR) AS DOUBLE) AS syd,
                    CAST(CAST(sxy AS VARCHAR) AS DOUBLE) AS sxyd,
                    CAST(CAST(sxx AS VARCHAR) AS DOUBLE) AS sxxd
            FROM m)
      SELECT lang, n_vocab,
             (nd * sxyd - sxd * syd) / (nd * sxxd - sxd * sxd) AS zipf_slope,
             (syd - ((nd * sxyd - sxd * syd) / (nd * sxxd - sxd * sxd)) * sxd)
               / nd AS zipf_intercept
      FROM dd ORDER BY lang"""),
  )

  /** Heaps-law vocabulary growth — V(n) = K·n^β, the second classic
    * corpus law beside [[zipfFit]]'s rank-frequency line: how fast the
    * DISTINCT vocabulary grows as the corpus streams past. Natural
    * text sits at β ≈ 0.4–0.6; a saturating (synthetic, templated, or
    * exhausted-domain) corpus fits β ≈ 0 — the one-number "is more
    * data still buying new words?" signal a tokenizer-training run
    * checks before adding another crawl dump.
    *
    * Growth points are measured at LOG-SPACED checkpoints of the
    * global corpus order (docs 1, 2, 4, …, 256, plus the corpus end —
    * Heaps growth is a power law, so linear checkpoints land after
    * saturation and fit a flat line); V(checkpoint) = token types
    * whose FIRST occurrence falls at or before that many tokens.
    *
    * 100 TB design: the global token offset per document rides
    * [[graft.operators.PrefixSum]]'s two-phase running sum (a single
    * "corpus" stratum is exactly the hot-stratum case it bounds);
    * first-occurrence positions collapse map-side to one row per
    * vocabulary type; the 10-row checkpoint frame broadcasts against
    * the vocabulary table; the ln/least-squares fit uses the same
    * 9-dp-quantized exact-decimal moments as the Zipf fit, so the
    * regression replays bit-for-bit in DuckDB. */
  private val heapsFit = Q(
    "corpus_heaps_fit",
    (s, dir) => {
      import graft.operators.PrefixSum
      val d = Tables.documents(s, dir)
        .select(col("doc_id"), TextFunctions.tokens(col("text")).as("t"))
        .withColumn("n_tok", size(col("t")).cast("long"))
        .withColumn("corpus", lit("all"))
      val cum = PrefixSum.runningSum(
        d, Seq("corpus"), Seq(col("doc_id")), col("n_tok"), "cum_end")
        .withColumn("cum_start", col("cum_end") - col("n_tok"))
      val firstPos = cum
        .select(col("cum_start"), posexplode(col("t")).as(Seq("p0", "tok")))
        .groupBy("tok")
        .agg(min(col("cum_start") + col("p0") + 1).as("first_pos"))
      val ckpts = cum
        .filter(((col("doc_id") + 1).bitwiseAND(col("doc_id")) === 0) ||
          col("doc_id") === 499)
        .select(col("doc_id").as("ckpt_doc"), col("cum_end").as("n_tokens"))
      val growth = firstPos.crossJoin(broadcast(ckpts))
        .filter(col("first_pos") <= col("n_tokens"))
        .groupBy("ckpt_doc", "n_tokens")
        .agg(count(lit(1)).as("vocab_size"))
      val xy = growth.select(col("ckpt_doc"), col("n_tokens"), col("vocab_size"),
        round(log(col("n_tokens").cast("double")), 9).cast("decimal(12,9)").as("x"),
        round(log(col("vocab_size").cast("double")), 9).cast("decimal(12,9)").as("y"))
      val m = xy.agg(count(lit(1)).as("np"),
        sum(col("x")).as("sx"), sum(col("y")).as("sy"),
        sum(col("x") * col("y")).as("sxy"), sum(col("x") * col("x")).as("sxx"))
      def dd(c: String) = col(c).cast("double")
      val nD = col("np").cast("double")
      val beta = (nD * dd("sxy") - dd("sx") * dd("sy")) /
        (nD * dd("sxx") - dd("sx") * dd("sx"))
      val fit = m.select(beta.as("heaps_beta"),
        ((dd("sy") - beta * dd("sx")) / nD).as("heaps_ln_k"))
      xy.select("ckpt_doc", "n_tokens", "vocab_size")
        .crossJoin(broadcast(fit))
        .orderBy("ckpt_doc")
    },
    Some("""
      WITH a AS (SELECT doc_id, string_split(text, ' ') AS t,
                   CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok,
                   CAST(sum(len(string_split(text, ' '))) OVER (
                     ORDER BY doc_id ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_end
                 FROM documents),
      b AS (SELECT doc_id, t, n_tok, cum_end, cum_end - n_tok AS cum_start FROM a),
      fp AS (SELECT t[CAST(u.i AS INT)] AS tok,
                    min(cum_start + u.i) AS first_pos
             FROM b, unnest(range(1, CAST(n_tok AS INT) + 1)) u(i)
             GROUP BY 1),
      ck AS (SELECT doc_id AS ckpt_doc, cum_end AS n_tokens
             FROM b WHERE ((doc_id + 1) & doc_id) = 0 OR doc_id = 499),
      g AS (SELECT ck.ckpt_doc, ck.n_tokens,
                   CAST(count(*) AS BIGINT) AS vocab_size
            FROM fp, ck WHERE fp.first_pos <= ck.n_tokens GROUP BY 1, 2),
      xy AS (SELECT ckpt_doc, n_tokens, vocab_size,
                    CAST(round(ln(CAST(n_tokens AS DOUBLE)), 9) AS DECIMAL(12,9)) AS x,
                    CAST(round(ln(CAST(vocab_size AS DOUBLE)), 9) AS DECIMAL(12,9)) AS y
             FROM g),
      m AS (SELECT count(*) AS np, sum(x) AS sx, sum(y) AS sy,
                   sum(x * y) AS sxy, sum(x * x) AS sxx
            FROM xy),
      dd AS (SELECT CAST(np AS DOUBLE) AS nd,
                    CAST(CAST(sx AS VARCHAR) AS DOUBLE) AS sxd,
                    CAST(CAST(sy AS VARCHAR) AS DOUBLE) AS syd,
                    CAST(CAST(sxy AS VARCHAR) AS DOUBLE) AS sxyd,
                    CAST(CAST(sxx AS VARCHAR) AS DOUBLE) AS sxxd
             FROM m)
      SELECT xy.ckpt_doc, xy.n_tokens, xy.vocab_size,
             (nd * sxyd - sxd * syd) / (nd * sxxd - sxd * sxd) AS heaps_beta,
             (syd - ((nd * sxyd - sxd * syd) / (nd * sxxd - sxd * sxd)) * sxd)
               / nd AS heaps_ln_k
      FROM xy, dd ORDER BY xy.ckpt_doc"""),
  )

  // --------------------------------------- packing efficiency report
  /** Packing-efficiency report — the metric sequence packing EXISTS to
    * move: per source, token mass vs sequence capacity. Contiguous
    * cumulative packing means only each stream's LAST sequence carries
    * slack, so n_seqs has the closed form ⌈tokens/SeqLen⌉ and
    * utilization ≥ 1 − (SeqLen−1)/capacity by construction — this
    * report PROVES that bound holds (a padding-per-document baseline
    * would sit far below it) and gives the per-source number a
    * training-cost dashboard tracks. One map-side-collapsing aggregate
    * to |sources| rows. */
  private val packingEfficiency = Q(
    "mix_packing_efficiency",
    (s, dir) => {
      val perSource = Tables.documents(s, dir)
        .select(col("source"), TextFunctions.tokenCount(col("text")).cast("long").as("n"))
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"), sum(col("n")).as("n_tokens"))
        .withColumn("n_seqs",
          floor((col("n_tokens") + SeqLen - 1).cast("double") / SeqLen).cast("long"))
        .withColumn("capacity", col("n_seqs") * SeqLen)
      perSource.select(col("source"), col("n_docs"), col("n_tokens"),
          col("n_seqs"), col("capacity"),
          round(col("n_tokens").cast("double") / col("capacity").cast("double"), 6)
            .as("utilization"))
        .orderBy("source")
    },
    Some(s"""
      SELECT source,
             CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_tokens,
             CAST((sum(len(string_split(text, ' '))) + $SeqLen - 1) // $SeqLen AS BIGINT) AS n_seqs,
             CAST((sum(len(string_split(text, ' '))) + $SeqLen - 1) // $SeqLen * $SeqLen AS BIGINT) AS capacity,
             round(CAST(sum(len(string_split(text, ' '))) AS DOUBLE)
                   / CAST((sum(len(string_split(text, ' '))) + $SeqLen - 1) // $SeqLen * $SeqLen AS DOUBLE),
                   6) AS utilization
      FROM documents GROUP BY source ORDER BY source"""),
  )

  // ------------------------------------------- token entropy signal
  /** Per-document token-distribution Shannon entropy, raw and
    * normalized by ln(distinct) — the information-density quality
    * signal between the repetition fractions (which only see ADJACENT
    * or duplicate structure) and perplexity (which needs a trained
    * LM): a looped or template document scores low however its tokens
    * are arranged, with no model in the loop. Normalized entropy ∈
    * [0,1] is comparable across document lengths.
    *
    * Exactness: H = −Σ c·ln(c/n) / n with each ln QUANTIZED to 9 dp
    * and the weighted sum taken in exact DECIMAL (the PMI/zipf
    * discipline — c·lnq products are exact, order-free), one double
    * conversion per doc at the end; the normalizing ln(distinct) is a
    * single quantized ln, nullif-guarded for single-token docs. One
    * (doc, token) aggregate collapsing map-side, one per-doc
    * aggregate — two exchanges plus the output sort. */
  private val tokenEntropy = Q(
    "corpus_token_entropy",
    (s, dir) => {
      val counts = Tables.documents(s, dir)
        .select(col("doc_id"), explode(TextFunctions.tokens(col("text"))).as("tok"))
        .groupBy("doc_id", "tok").agg(count(lit(1)).as("c"))
      val perDoc = counts.groupBy("doc_id").agg(
        sum(col("c")).as("n_tokens"),
        count(lit(1)).as("n_distinct"),
        sum(col("c").cast("decimal(20,0)") *
          round(log(col("c").cast("double")), 9).cast("decimal(12,9)"))
          .as("clnc_q"))
      val n = col("n_tokens").cast("double")
      val ent = round(log(n), 9) -
        col("clnc_q").cast("string").cast("double") / n
      perDoc.select(col("doc_id"), col("n_tokens"), col("n_distinct"),
          round(ent, 6).as("entropy"),
          round(ent / nullif(round(log(col("n_distinct").cast("double")), 9),
            lit(0.0)), 6).as("norm_entropy"))
        .orderBy("doc_id")
    },
    // H = ln n − Σ c·ln c / n (algebraically equal to −Σ p·ln p, but
    // needs ONE quantized ln per distinct token instead of a division
    // inside every ln's ill-conditioned near-1 zone)
    Some("""
      WITH tok AS (SELECT doc_id, u.tok AS tok
                   FROM (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
                        unnest(t) u(tok)),
      cnt AS (SELECT doc_id, tok, CAST(count(*) AS BIGINT) AS c
              FROM tok GROUP BY 1, 2),
      pd AS (SELECT doc_id,
               CAST(sum(c) AS BIGINT) AS n_tokens,
               CAST(count(*) AS BIGINT) AS n_distinct,
               sum(CAST(c AS DECIMAL(20,0)) *
                   CAST(round(ln(CAST(c AS DOUBLE)), 9) AS DECIMAL(12,9))) AS clnc_q
             FROM cnt GROUP BY 1)
      SELECT doc_id, n_tokens, n_distinct,
             round(round(ln(CAST(n_tokens AS DOUBLE)), 9)
                   - CAST(CAST(clnc_q AS VARCHAR) AS DOUBLE) / CAST(n_tokens AS DOUBLE),
                   6) AS entropy,
             round((round(ln(CAST(n_tokens AS DOUBLE)), 9)
                    - CAST(CAST(clnc_q AS VARCHAR) AS DOUBLE) / CAST(n_tokens AS DOUBLE))
                   / nullif(round(ln(CAST(n_distinct AS DOUBLE)), 9), 0.0), 6) AS norm_entropy
      FROM pd ORDER BY doc_id"""),
  )

  // --------------------------------------- stride-scheduled interleave
  /** Target interleave weights per language. En-heavy like real mixes;
    * weights need not be normalized — only ratios matter. */
  private val StrideWeights: Seq[(String, Double)] = Seq(
    "en" -> 0.40, "zh" -> 0.18, "es" -> 0.16, "de" -> 0.14, "fr" -> 0.12)

  /** Deterministic stride-scheduled interleave — the DATA-LOADER ORDER
    * a mixed corpus is actually consumed in: the k-th document of a
    * weight-w source lands at virtual position (k − 0.5)/w, so EVERY
    * prefix of the global order holds each source at ≈ its target
    * share (stride scheduling, the lottery-scheduler classic — vs
    * naive concatenation, where the model sees one source for a
    * million steps then another). Sampling queries (`mix_*`) decide
    * WHAT is in the mix; this decides the ORDER it streams in.
    *
    * The sequential "pick the source with least virtual time" loop
    * has a closed form — that is what makes it distributable: the
    * per-source rank rides [[graft.operators.PrefixSum]] (bounded
    * under a hot source) and the global position is a second
    * PrefixSum rank over (virtual_pos, lang, doc_id) — no sequential
    * state anywhere. Virtual positions are one exact-integer-derived
    * division each, identical cross-engine; the total tiebreak makes
    * the order unique. */
  private val strideInterleave = Q(
    "mix_stride_interleave",
    (s, dir) => {
      import graft.operators.PrefixSum
      val weight = StrideWeights.tail.foldLeft(
        when(col("lang") === StrideWeights.head._1, lit(StrideWeights.head._2))) {
        case (c, (l, x)) => c.when(col("lang") === l, lit(x))
      }.otherwise(lit(0.1))
      val d = Tables.documents(s, dir).select(col("doc_id"), col("lang"))
        .withColumn("corpus", lit("all"))
      val ranked = PrefixSum.runningSum(d, Seq("lang"),
        Seq(col("doc_id")), lit(1L), "k")
        .withColumn("vpos",
          round((col("k").cast("double") - 0.5) / weight, 6))
      PrefixSum.runningSum(ranked, Seq("corpus"),
          Seq(col("vpos"), col("lang"), col("doc_id")), lit(1L), "interleave_rank")
        .select("doc_id", "lang", "k", "vpos", "interleave_rank")
        .orderBy("interleave_rank")
    },
    Some {
      val wCase = StrideWeights.map { case (l, x) =>
        s"WHEN lang = '$l' THEN $x"
      }.mkString(" ")
      s"""
      WITH d AS (SELECT doc_id, lang,
                   CAST(row_number() OVER (PARTITION BY lang ORDER BY doc_id)
                        AS BIGINT) AS k
                 FROM documents),
      v AS (SELECT doc_id, lang, k,
              round((CAST(k AS DOUBLE) - 0.5)
                    / (CASE $wCase ELSE 0.1 END), 6) AS vpos
            FROM d)
      SELECT doc_id, lang, k, vpos,
             CAST(row_number() OVER (ORDER BY vpos, lang, doc_id) AS BIGINT)
               AS interleave_rank
      FROM v ORDER BY interleave_rank"""
    },
  )

  // ------------------------------------- calibrated quality gating
  /** Per-source CALIBRATED quality gating vs the pooled global cut —
    * the source-bias control real curation pipelines need: a single
    * global threshold silently strips entire low-scoring sources from
    * the mix (killing domain coverage), while a per-source percentile
    * keeps the best 80% of EVERY source. This query materializes both
    * decisions side by side with a `differs` flag, so the mix owner
    * sees exactly which documents the policy choice flips.
    *
    * Same keep-RATE both sides (top 80%) — the comparison isolates
    * pooling vs calibration, not threshold strictness. Both ranks ride
    * [[graft.operators.PrefixSum]]'s two-phase shape (the global rank
    * is a single "corpus" stratum — the bounded hot-stratum case);
    * integer rank cuts (`10·rank ≤ 8·n`) leave no float boundary. */
  private val qualityCalibrated = Q(
    "corpus_quality_calibrated",
    (s, dir) => {
      import graft.operators.PrefixSum
      val scored = Tables.documents(s, dir)
        .select(col("doc_id"), col("source"),
          TextFunctions.qualityScore(col("text")).as("q_score"))
        .withColumn("corpus", lit("all"))
      val bySrc = PrefixSum.runningSum(scored, Seq("source"),
        Seq(col("q_score").desc, col("doc_id")), lit(1L), "src_rank")
      val ranked = PrefixSum.runningSum(bySrc, Seq("corpus"),
        Seq(col("q_score").desc, col("doc_id")), lit(1L), "glob_rank")
      val nSrc = scored.groupBy("source").agg(count(lit(1)).as("n_src"))
      val nAll = scored.groupBy("corpus").agg(count(lit(1)).as("n_total"))
      ranked
        .join(broadcast(nSrc), Seq("source"))
        .join(broadcast(nAll), Seq("corpus"))
        .withColumn("keep_calibrated", col("src_rank") * 10 <= col("n_src") * 8)
        .withColumn("keep_global", col("glob_rank") * 10 <= col("n_total") * 8)
        .select(col("doc_id"), col("source"), col("q_score"),
          col("src_rank"), col("n_src"), col("glob_rank"),
          col("keep_calibrated"), col("keep_global"),
          (col("keep_calibrated") =!= col("keep_global")).as("differs"))
        .orderBy("doc_id")
    },
    Some("""
      WITH q AS (SELECT doc_id, source,
               round(
                 (CASE WHEN len(string_split(text, ' ')) BETWEEN 20 AND 2000 THEN 0.5 ELSE 0.0 END)
                 + least(CAST(len(list_filter(string_split(text, ' '), t -> t = 'the'))
                              + len(list_filter(string_split(text, ' '), t -> t = 'a')) AS DOUBLE) * 5
                         / CAST(nullif(len(string_split(text, ' ')), 0) AS DOUBLE), 0.5),
                 4) AS q_score
             FROM documents),
      r AS (SELECT doc_id, source, q_score,
              CAST(row_number() OVER (PARTITION BY source
                ORDER BY q_score DESC, doc_id) AS BIGINT) AS src_rank,
              CAST(count(*) OVER (PARTITION BY source) AS BIGINT) AS n_src,
              CAST(row_number() OVER (ORDER BY q_score DESC, doc_id) AS BIGINT) AS glob_rank,
              CAST(count(*) OVER () AS BIGINT) AS n_total
            FROM q)
      SELECT doc_id, source, q_score, src_rank, n_src, glob_rank,
             src_rank * 10 <= n_src * 8 AS keep_calibrated,
             glob_rank * 10 <= n_total * 8 AS keep_global,
             (src_rank * 10 <= n_src * 8) <> (glob_rank * 10 <= n_total * 8) AS differs
      FROM r ORDER BY doc_id"""),
  )

  /** A bigram needs this many occurrences before its PMI is trusted —
    * the sparse-count guard every collocation recipe applies (PMI of a
    * count-1 pair is pure noise). */
  private val MinPairCount = 5

  /** PMI collocation mining — pointwise mutual information of adjacent
    * token pairs, ln(p(ab)/(p(a)p(b))): the phrase-detection signal
    * behind word2vec-style phrase merging and multiword tokenizer
    * entries, and the statistical complement to `corpus_top_ngrams`'
    * raw frequency ranking (frequency finds "of the"; PMI finds pairs
    * that co-occur far above chance).
    *
    * Exactness: every count is an exact long; the PMI argument is ONE
    * division of two exact integer products (c_ab·N² / (N_b·c_a·c_b) —
    * bounded within long up to corpus sizes where the counts
    * themselves would overflow first), then one ln, QUANTIZED to 9 dp
    * because near-independent pairs put the argument near 1 where
    * JVM/DuckDB ln diverges by ulps (the `mix_weighted_sample`
    * finding); the output sort tiebreaks on the bigram text.
    *
    * 100 TB design: unigram and bigram counts collapse map-side into
    * vocabulary-sized aggregates (occurrence counts, positional
    * `element_at` bigrams — no HOF, no self-join); the unigram table
    * broadcasts like the tokenizer vocabulary (Zipf-bounded), totals
    * are 1-row broadcasts, and the valved bigram table is the only
    * shuffled relation. */
  private val pmiBigrams = Q(
    "corpus_pmi_bigrams",
    (s, dir) => {
      val toks = Tables.documents(s, dir)
        .select(col("doc_id"), TextFunctions.tokens(col("text")).as("t"))
        .withColumn("n", size(col("t")).cast("long"))
      val uni = toks.select(explode(col("t")).as("tok"))
        .groupBy("tok").agg(count(lit(1)).as("c"))
      val uniTotal = uni.agg(sum(col("c")).as("n_uni"))
      val bi = toks.filter(col("n") >= 2)
        .select(col("t"), explode(sequence(lit(1L), col("n") - 1)).as("i"))
        .select(
          element_at(col("t"), col("i").cast("int")).as("w1"),
          element_at(col("t"), col("i").cast("int") + 1).as("w2"))
        .groupBy("w1", "w2").agg(count(lit(1)).as("c_ab"))
        .filter(col("c_ab") >= MinPairCount)
      val biTotal = toks.filter(col("n") >= 2).agg(sum(col("n") - 1).as("n_bi"))
      bi
        .join(broadcast(uni.select(col("tok").as("w1"), col("c").as("c_a"))), "w1")
        .join(broadcast(uni.select(col("tok").as("w2"), col("c").as("c_b"))), "w2")
        .crossJoin(broadcast(uniTotal)).crossJoin(broadcast(biTotal))
        .select(concat_ws(" ", col("w1"), col("w2")).as("bigram"),
          col("c_ab"), col("c_a"), col("c_b"),
          round(log(
            (col("c_ab") * col("n_uni") * col("n_uni")).cast("double") /
              (col("n_bi") * col("c_a") * col("c_b")).cast("double")), 9)
            .as("pmi"))
        .orderBy(col("pmi").desc, col("bigram"))
    },
    Some(s"""
      WITH tok AS (SELECT doc_id, string_split(text, ' ') AS t,
                          CAST(len(string_split(text, ' ')) AS BIGINT) AS n
                   FROM documents),
      uni AS (SELECT u.tok AS tok, CAST(count(*) AS BIGINT) AS c
              FROM tok, unnest(t) u(tok) GROUP BY 1),
      tot AS (SELECT sum(c) AS n_uni FROM uni),
      bic AS (SELECT t[CAST(u.i AS INT)] AS w1,
                     t[CAST(u.i AS INT) + 1] AS w2,
                     CAST(count(*) AS BIGINT) AS c_ab
              FROM tok, unnest(range(1, CAST(n AS INT))) u(i)
              WHERE n >= 2
              GROUP BY 1, 2 HAVING count(*) >= $MinPairCount),
      bt AS (SELECT sum(n - 1) AS n_bi FROM tok WHERE n >= 2)
      SELECT w1 || ' ' || w2 AS bigram, c_ab, a.c AS c_a, b.c AS c_b,
             round(ln(CAST(c_ab * n_uni * n_uni AS DOUBLE)
                      / CAST(n_bi * a.c * b.c AS DOUBLE)), 9) AS pmi
      FROM bic JOIN uni a ON w1 = a.tok JOIN uni b ON w2 = b.tok, tot, bt
      ORDER BY pmi DESC, bigram"""),
  )

  private val topNgrams = Q(
    "corpus_top_ngrams",
    (s, dir) => {
      val counts = Tables.documents(s, dir)
        .select(col("source"),
          explode(TextFunctions.shingles(col("text"), 2)).as("shingle"))
        .groupBy("source", "shingle").agg(count(lit(1)).as("df"))
        .withColumn("sid",
          conv(substring(md5(col("shingle")), 1, 15), 16, 10).cast("long"))
      val top = counts.groupBy("source")
        .agg(graft.operators.TopKPerGroup.topK(TopNgramK)(
          col("df"), col("sid")).as("top"))
        .select(col("source"), posexplode(col("top")))
        .select(col("source"), (col("pos") + 1).cast("long").as("ngram_rank"),
          col("col._2").as("sid"))
      counts.join(broadcast(top), Seq("source", "sid"))
        .select("source", "ngram_rank", "shingle", "df")
        .orderBy("source", "ngram_rank")
    },
    Some(s"""
      WITH sh AS (
        SELECT source, unnest(list_distinct(
                 CASE WHEN len(t) >= 2
                      THEN list_transform(range(1, len(t)), i -> t[i] || ' ' || t[i+1])
                      ELSE [] END)) AS shingle
        FROM (SELECT source, string_split(text, ' ') AS t FROM documents)),
      c AS (
        SELECT source, shingle, CAST(count(*) AS BIGINT) AS df,
               CAST(concat('0x', substring(md5(shingle), 1, 15)) AS BIGINT) AS sid
        FROM sh GROUP BY source, shingle),
      r AS (
        SELECT source, shingle, df,
               row_number() OVER (PARTITION BY source ORDER BY df DESC, sid) AS rn
        FROM c)
      SELECT source, CAST(rn AS BIGINT) AS ngram_rank, shingle, df
      FROM r WHERE rn <= $TopNgramK
      ORDER BY source, ngram_rank"""),
  )

  /** Token-id encoding — documents numericalized against the
    * vocabulary: per doc, the ordered id sequence (OOV → -1, the UNK
    * id), total and OOV token counts. The id sequence crosses the
    * boundary space-joined (the driver compare rejects ARRAY columns).
    *
    * 100 TB design: the K-row vocabulary is broadcast; tokens explode
    * WITH POSITION off the scan and map-side join their ids; the only
    * exchange is the per-document regroup, and the ordered sequence is
    * rebuilt by `sort_array(collect_list(struct(pos, id)))` + a
    * struct-field extraction (GetArrayStructFields — compiled, not a
    * HOF lambda), never a window. */
  private val tokenIds = Q(
    "corpus_token_ids",
    (s, dir) => {
      val toks = Tables.documents(s, dir)
        .select(col("doc_id"),
          posexplode(TextFunctions.tokens(col("text"))).as(Seq("pos", "token")))
      val enc = toks
        .join(broadcast(vocabFrame(s, dir).select("token", "token_id")),
          Seq("token"), "left")
        .withColumn("tid", coalesce(col("token_id"), lit(-1L)))
      enc.groupBy("doc_id").agg(
          count(lit(1)).as("n_tokens"),
          sum(when(col("tid") === -1L, 1L).otherwise(0L)).as("n_oov"),
          array_join(
            sort_array(collect_list(struct(col("pos"), col("tid"))))
              .getField("tid").cast("array<string>"), " ").as("ids_str"))
        .orderBy("doc_id")
    },
    Some(s"""
      WITH $VOCAB_CTE,
      d AS (SELECT doc_id, string_split(text, ' ') AS ts FROM documents),
      tok AS (SELECT doc_id, ts[CAST(u.i AS INT)] AS token,
                     CAST(u.i AS BIGINT) AS pos
              FROM d, unnest(range(1, len(ts) + 1)) u(i)),
      enc AS (SELECT t.doc_id, t.pos, coalesce(v.token_id, -1) AS tid
              FROM tok t LEFT JOIN vocab v USING (token))
      SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
             CAST(sum(CASE WHEN tid = -1 THEN 1 ELSE 0 END) AS BIGINT) AS n_oov,
             string_agg(CAST(tid AS VARCHAR), ' ' ORDER BY pos) AS ids_str
      FROM enc GROUP BY doc_id ORDER BY doc_id"""),
  )

  /** Balanced output sharding — assign each document to a fixed-size
    * output shard within its language stream (training jobs read
    * shards, and a shard 10× its siblings is a straggler at read
    * time): shard = exclusive-prefix-token-count div ShardTokens, in
    * stable doc_id order, so every shard holds ~ShardTokens tokens
    * and assignment is reproducible batch over batch.
    *
    * The running count rides [[graft.operators.PrefixSum]] — bounded
    * tasks under a hot language, same as every corpus prefix sum here
    * (a raw `Window.partitionBy(lang)` is plan-pinned away). */
  private val ShardTokens = 2000L
  private val shardAssign = Q(
    "mix_shard_assign",
    (s, dir) =>
      graft.operators.PrefixSum.runningSum(
          Tables.documents(s, dir)
            .select(col("doc_id"), col("lang"),
              TextFunctions.tokenCount(col("text")).as("token_cnt")),
          Seq("lang"), Seq(col("doc_id")),
          col("token_cnt"), "cum_tokens")
        .withColumn("shard",
          expr(s"(cum_tokens - token_cnt) div $ShardTokens"))
        .select("doc_id", "lang", "token_cnt", "shard")
        .orderBy("doc_id"),
    Some(s"""
      SELECT doc_id, lang, token_cnt,
             (cum_tokens - token_cnt) // $ShardTokens AS shard
      FROM (
        SELECT doc_id, lang,
               CAST(len(string_split(text, ' ')) AS BIGINT) AS token_cnt,
               CAST(sum(len(string_split(text, ' '))) OVER (
                 PARTITION BY lang ORDER BY doc_id
                 ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_tokens
        FROM documents) t
      ORDER BY doc_id"""),
  )

  // ------------------------------------------------- DSIR selection
  /** Hashed-feature buckets and selection size for DSIR. 64 buckets is
    * sized against the lake's 31-token vocabulary (31² possible
    * bigrams) so bucket collisions are real at test scale — the same
    * non-vacuity discipline as the CMS width. */
  private val DsirBuckets = 64L
  private val DsirK = 25

  /** Data Selection via Importance Resampling (Xie et al. 2023) — score
    * each raw-pool document by how target-like its hashed n-gram
    * feature distribution is, then keep the top-K. The published recipe:
    * hash word bigrams into B buckets, fit smoothed bag-of-buckets
    * unigram models p̂_target / p̂_raw, and weight each document by
    * Σ_features ln p̂_t(b) − ln p̂_r(b). The `lang = 'en'` slice stands
    * in for the curated target corpus; every other document is the raw
    * pool being scored. (The paper samples with Gumbel noise; rank +
    * doc_id tiebreak is the deterministic equivalent, per the
    * `mix_weighted_sample` doctrine.) The synthetic lake's bigram
    * distributions are near-uniform across languages, so scores sit
    * near 0 with a real but small spread — honestly reported, the same
    * stance as `corpus_zipf_fit`.
    *
    * Determinism: bucket = 60-bit md5 prefix mod B (the CMS bridge,
    * identical in both engines); each ln is QUANTIZED to 9 dp then
    * cast DECIMAL(12,9) — near-uniform profiles put the ln argument in
    * its ill-conditioned zone — so the per-bucket weight and every
    * per-document score are EXACT order-independent decimal sums; the
    * decimal reaches double through VARCHAR on the oracle side (the
    * a17 strtod finding).
    *
    * 100 TB design: both feature profiles collapse map-side to B
    * metadata rows (the CMS shape) and their totals are 1-row
    * broadcasts; the B-row weight table BROADCASTS into the raw
    * feature stream, and the ONE corpus-sized exchange in the whole
    * query is the per-document score aggregate (which collapses
    * map-side); selection is TakeOrdered per-partition heaps (never a
    * global sort materialization), and the rank window runs over the
    * K surviving metadata rows only. */
  private val dsirSample = Q(
    "mix_dsir_sample",
    (s, dir) => {
      val toks = Tables.documents(s, dir)
        .select(col("doc_id"), col("lang"), col("source"),
          TextFunctions.tokens(col("text")).as("t"))
        .withColumn("n", size(col("t")).cast("long"))
      val feats = toks.filter(col("n") >= 2)
        .select(col("doc_id"), col("lang"), col("source"),
          explode(sequence(lit(1L), col("n") - 1)).as("i"), col("t"))
        .select(col("doc_id"), col("lang"), col("source"),
          pmod(conv(substring(md5(concat_ws(" ",
              element_at(col("t"), col("i").cast("int")),
              element_at(col("t"), col("i").cast("int") + 1))), 1, 15), 16, 10)
            .cast("long"), lit(DsirBuckets)).as("bucket"))
      val isTarget = col("lang") === "en"
      val tc = feats.filter(isTarget).groupBy("bucket").agg(count(lit(1)).as("tc"))
      val rc = feats.filter(!isTarget).groupBy("bucket").agg(count(lit(1)).as("rc"))
      val spine = s.range(DsirBuckets).toDF("bucket")
        .join(broadcast(tc), Seq("bucket"), "left")
        .join(broadcast(rc), Seq("bucket"), "left")
        .select(col("bucket"), coalesce(col("tc"), lit(0L)).as("tc"),
          coalesce(col("rc"), lit(0L)).as("rc"))
      val tTot = tc.agg(coalesce(sum("tc"), lit(0L)).as("nt"))
      val rTot = rc.agg(coalesce(sum("rc"), lit(0L)).as("nr"))
      val weights = spine.crossJoin(broadcast(tTot)).crossJoin(broadcast(rTot))
        .select(col("bucket"),
          (round(log((col("tc") + 1).cast("double") /
              (col("nt") + DsirBuckets).cast("double")), 9).cast("decimal(12,9)") -
            round(log((col("rc") + 1).cast("double") /
              (col("nr") + DsirBuckets).cast("double")), 9).cast("decimal(12,9)"))
            .as("w"))
      // per-occurrence broadcast join + ONE per-doc decimal-sum
      // aggregate — no intermediate (doc, bucket) regroup
      val scored = feats.filter(!isTarget)
        .join(broadcast(weights), "bucket")
        .groupBy("doc_id", "lang", "source")
        .agg(sum(col("w")).as("sc"))
      scored.orderBy(col("sc").desc, col("doc_id")).limit(DsirK)
        .withColumn("sample_rank",
          row_number().over(Window.orderBy(col("sc").desc, col("doc_id")))
            .cast("long"))
        .select(col("sample_rank"), col("doc_id"), col("lang"), col("source"),
          col("sc").cast("double").as("dsir_score"))
        .orderBy("sample_rank")
    },
    Some(s"""
      WITH tok AS (SELECT doc_id, lang, source, string_split(text, ' ') AS t,
                          CAST(len(string_split(text, ' ')) AS BIGINT) AS n
                   FROM documents),
      f AS (SELECT doc_id, lang, source,
                   CAST(concat('0x', substring(md5(
                     t[CAST(u.i AS INT)] || ' ' || t[CAST(u.i AS INT) + 1]),
                     1, 15)) AS BIGINT) % $DsirBuckets AS bucket
            FROM tok, unnest(range(1, CAST(n AS INT))) u(i) WHERE n >= 2),
      spine AS (SELECT unnest(range(0, $DsirBuckets)) AS bucket),
      tc AS (SELECT bucket, CAST(count(*) AS BIGINT) AS tc FROM f
             WHERE lang = 'en' GROUP BY 1),
      rc AS (SELECT bucket, CAST(count(*) AS BIGINT) AS rc FROM f
             WHERE lang <> 'en' GROUP BY 1),
      tt AS (SELECT coalesce(sum(tc), 0) AS nt FROM tc),
      rt AS (SELECT coalesce(sum(rc), 0) AS nr FROM rc),
      w AS (SELECT s.bucket,
                   CAST(round(ln(CAST(coalesce(tc.tc, 0) + 1 AS DOUBLE)
                     / CAST(nt + $DsirBuckets AS DOUBLE)), 9) AS DECIMAL(12,9))
                 - CAST(round(ln(CAST(coalesce(rc.rc, 0) + 1 AS DOUBLE)
                     / CAST(nr + $DsirBuckets AS DOUBLE)), 9) AS DECIMAL(12,9)) AS w
            FROM spine s LEFT JOIN tc USING (bucket) LEFT JOIN rc USING (bucket),
                 tt, rt),
      scored AS (SELECT doc_id, lang, source, sum(w.w) AS sc
                 FROM f JOIN w USING (bucket)
                 WHERE lang <> 'en' GROUP BY 1, 2, 3)
      SELECT CAST(row_number() OVER (ORDER BY sc DESC, doc_id) AS BIGINT)
               AS sample_rank,
             doc_id, lang, source,
             CAST(CAST(sc AS VARCHAR) AS DOUBLE) AS dsir_score
      FROM scored ORDER BY sample_rank LIMIT $DsirK"""),
  )

  // ------------------------------------------------- distribution drift
  /** Per-source distribution drift — KL(p̂_source ‖ p̂_corpus) over the
    * same hashed-unigram B-bucket profiles the DSIR selector uses: the
    * ingest monitoring number that catches a source going off-profile
    * (a crawler stuck on boilerplate, an encoding regression, a spam
    * flood) before it contaminates a training mix. Laplace-smoothed on
    * both sides so empty buckets never divide by zero.
    *
    * Exactness: the summand is (c_sb+1) · ln-ratio with the ln
    * QUANTIZED to 9 dp then DECIMAL(12,9) — integer × decimal, so the
    * per-source sum is exact and order-independent; the ln argument is
    * one double division of two exact integer products (exact to 2^53;
    * correctly rounded — hence engine-identical — beyond); the final
    * normalization by (n_s + B) is the only post-sum double op, with
    * the decimal reaching double through VARCHAR on the oracle side.
    *
    * 100 TB design: the corpus is touched by exactly two map-side-
    * collapsing count aggregates — (source, bucket) at sources×B rows
    * and (bucket) at B rows; everything after is arithmetic over
    * broadcast metadata. No corpus reshuffle, no window, nothing
    * driver-side. */
  private val driftKl = Q(
    "corpus_drift_kl",
    (s, dir) => {
      val f = Tables.documents(s, dir)
        .select(col("source"), explode(TextFunctions.tokens(col("text"))).as("tok"))
        .select(col("source"),
          pmod(conv(substring(md5(col("tok")), 1, 15), 16, 10).cast("long"),
            lit(DsirBuckets)).as("bucket"))
      val sc_ = f.groupBy("source", "bucket").agg(count(lit(1)).as("c_sb"))
      val qc = f.groupBy("bucket").agg(count(lit(1)).as("c_qb"))
      val ns = sc_.groupBy("source").agg(sum("c_sb").as("n_s"))
      val nq = qc.agg(sum("c_qb").as("n_q"))
      val spine = ns.crossJoin(broadcast(s.range(DsirBuckets).toDF("bucket")))
      val full = spine
        .join(broadcast(sc_), Seq("source", "bucket"), "left")
        .join(broadcast(qc), Seq("bucket"), "left")
        .crossJoin(broadcast(nq))
        .select(col("source"), col("n_s"),
          coalesce(col("c_sb"), lit(0L)).as("c_sb"),
          coalesce(col("c_qb"), lit(0L)).as("c_qb"), col("n_q"))
      val lnRatio = round(log(
        ((col("c_sb") + 1).cast("double") * (col("n_q") + DsirBuckets).cast("double")) /
          ((col("c_qb") + 1).cast("double") * (col("n_s") + DsirBuckets).cast("double"))),
        9).cast("decimal(12,9)")
      full
        .groupBy("source", "n_s")
        .agg(sum((col("c_sb") + 1).cast("decimal(20,0)") * lnRatio).as("klSum"))
        .select(col("source"), col("n_s").as("n_tokens"),
          (col("klSum").cast("double") /
            (col("n_s") + DsirBuckets).cast("double")).as("kl_to_corpus"))
        .orderBy("source")
    },
    Some(s"""
      WITH f AS (
        SELECT source,
               CAST(concat('0x', substring(md5(u.tok), 1, 15)) AS BIGINT)
                 % $DsirBuckets AS bucket
        FROM (SELECT source, string_split(text, ' ') AS t FROM documents),
             unnest(t) u(tok)),
      sc_ AS (SELECT source, bucket, CAST(count(*) AS BIGINT) AS c_sb
              FROM f GROUP BY 1, 2),
      qc AS (SELECT bucket, CAST(count(*) AS BIGINT) AS c_qb FROM f GROUP BY 1),
      ns AS (SELECT source, sum(c_sb) AS n_s FROM sc_ GROUP BY 1),
      nq AS (SELECT sum(c_qb) AS n_q FROM qc),
      spine AS (SELECT ns.source, ns.n_s, b.bucket
                FROM ns, (SELECT unnest(range(0, $DsirBuckets)) AS bucket) b),
      fl AS (SELECT s.source, s.n_s, s.bucket,
                      coalesce(sc_.c_sb, 0) AS c_sb,
                      coalesce(qc.c_qb, 0) AS c_qb, n_q
               FROM spine s
               LEFT JOIN sc_ ON s.source = sc_.source AND s.bucket = sc_.bucket
               LEFT JOIN qc ON s.bucket = qc.bucket, nq),
      summed AS (
        SELECT source, n_s,
               sum(CAST(c_sb + 1 AS DECIMAL(20,0)) *
                   CAST(round(ln(
                     (CAST(c_sb + 1 AS DOUBLE) * CAST(n_q + $DsirBuckets AS DOUBLE))
                     / (CAST(c_qb + 1 AS DOUBLE) * CAST(n_s + $DsirBuckets AS DOUBLE))),
                     9) AS DECIMAL(12,9))) AS kl_sum
        FROM fl GROUP BY 1, 2)
      SELECT source, CAST(n_s AS BIGINT) AS n_tokens,
             CAST(CAST(kl_sum AS VARCHAR) AS DOUBLE)
               / CAST(n_s + $DsirBuckets AS DOUBLE) AS kl_to_corpus
      FROM summed ORDER BY source"""),
  )

  // ---------------------------------------------------------------- PII
  /** PII regex needles, one per category — defined ONCE in
    * [[graft.functions.Cleansing.PiiNeedles]] (shared with the
    * streaming ingest scrub). Patterns are dialect-neutral (Java regex
    * = RE2 here): no backreferences, no lookaround, `\b` boundaries
    * only against non-word neighbours, non-capturing groups. Masking
    * order is fixed (email → ssn → phone → ipv4); the four categories
    * are mutually non-overlapping on any input — an email has no
    * 3-2-4 dash run, the phone's NANP tail is 3-4, an IPv4 literal
    * has no `@`/dash — so counts taken on the RAW text equal counts
    * taken mid-masking regardless of order. */
  private[queries] val PiiNeedles: Seq[(String, String, String)] =
    graft.functions.Cleansing.PiiNeedles

  /** Deterministic PII-bearing corpus: the documents table with
    * contact-shaped strings appended, keyed off doc_id (the same
    * derived-fixture device as the dirty CDP master in
    * [[DomainQueries]] — the synthetic lake carries no real contact
    * strings, and a redactor proven on zero matches proves nothing).
    * Identical arithmetic on both sides; 1/3 of docs get an email,
    * 1/2 a phone, 1/3 an IP, 1/5 an SSN — and doc_ids ≡ 2 (mod 3)
    * that are odd non-multiples of 5 (e.g. 17, 23) carry NOTHING, so
    * `has_pii = false` rows exist and the flag is non-vacuous. */
  private[queries] def piiRawDocs(docs: DataFrame): DataFrame = {
    val k = col("doc_id")
    docs.select(col("doc_id"), col("source"),
      concat(
        col("text"),
        when(k % 3 === 1,
          concat(lit(" reach cust"), (k % 1000).cast("string"), lit("@shop"),
            (k % 7).cast("string"), lit(".net"))).otherwise(lit("")),
        when(k % 2 === 0,
          concat(lit(" call +1 (555) 010-"),
            lpad((k % 10000).cast("string"), 4, "0"))).otherwise(lit("")),
        when(k % 3 === 0,
          concat(lit(" from 192.168."), (k % 256).cast("string"), lit("."),
            ((k * 7) % 256).cast("string"))).otherwise(lit("")),
        when(k % 5 === 0,
          concat(lit(" id 987-65-"),
            lpad((k % 10000).cast("string"), 4, "0"))).otherwise(lit(""))
      ).as("raw_text"))
  }

  /** SQL twin of [[piiRawDocs]] as a CTE body over `documents`. */
  private def piiRawSql: String = s"""
      raw AS (SELECT doc_id, source, text
          || CASE WHEN doc_id % 3 = 1
                  THEN ' reach cust' || CAST(doc_id % 1000 AS VARCHAR)
                       || '@shop' || CAST(doc_id % 7 AS VARCHAR) || '.net'
                  ELSE '' END
          || CASE WHEN doc_id % 2 = 0
                  THEN ' call +1 (555) 010-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
                  ELSE '' END
          || CASE WHEN doc_id % 3 = 0
                  THEN ' from 192.168.' || CAST(doc_id % 256 AS VARCHAR)
                       || '.' || CAST((doc_id * 7) % 256 AS VARCHAR)
                  ELSE '' END
          || CASE WHEN doc_id % 5 = 0
                  THEN ' id 987-65-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
                  ELSE '' END AS raw_text
        FROM documents)"""

  /** Shared per-document PII scan: raw docs → per-category match
    * counts + the fully masked text. ONE implementation behind
    * `corpus_pii_redact` (per-doc) and `corpus_pii_report`
    * (per-source rollup). Every column is a compiled regex expression
    * riding the scan — zero shuffles added. */
  private[queries] def piiScan(raw: DataFrame): DataFrame = {
    val counted = PiiNeedles.foldLeft(raw) { case (df, (cat, re, _)) =>
      df.withColumn(s"n_$cat", regexp_count(col("raw_text"), lit(re)))
    }
    counted
      .withColumn("clean_text", graft.functions.Cleansing.piiMask(col("raw_text")))
      .withColumn("has_pii",
        PiiNeedles.map { case (cat, _, _) => col(s"n_$cat") > 0 }
          .reduce(_ || _))
  }

  /** SQL twin of [[piiScan]]'s derived columns over CTE `raw`. */
  private def piiScanSql: String = {
    val counts = PiiNeedles.map { case (cat, re, _) =>
      s"CAST(len(regexp_extract_all(raw_text, '$re')) AS INT) AS n_$cat"
    }.mkString(",\n             ")
    val masked = PiiNeedles.foldLeft("raw_text") {
      case (s, (_, re, tag)) => s"regexp_replace($s, '$re', '$tag', 'g')"
    }
    val hasPii = PiiNeedles
      .map { case (cat, re, _) => s"len(regexp_extract_all(raw_text, '$re')) > 0" }
      .mkString(" OR ")
    s"""scan AS (SELECT doc_id, source,
             $counts,
             $masked AS clean_text,
             ($hasPii) AS has_pii
        FROM raw)"""
  }

  /** Corpus PII redaction — the anonymization pass every published
    * web-scale training pipeline runs before release (CCNet/ROOTS/
    * FineWeb-style): detect emails, US-SSN shapes, NANP phone numbers
    * and IPv4 literals, count them per document, and mask each span
    * with a category tag so downstream training never memorizes a
    * contact string. Detection is pure compiled-regex column
    * arithmetic (Java regex under codegen; the needle list is data,
    * so extending categories is a one-line change).
    *
    * 100 TB design: the scan adds ZERO exchanges — counts and the
    * masked rebuild are per-row expressions fused into the parquet
    * scan's codegen stage; the output sort is only the differential
    * determinism contract. There is deliberately no "PII dictionary"
    * join: category regexes are closed-form, so the 100 TB side never
    * shuffles and the work parallelizes embarrassingly per split. */
  private val piiRedact = Q(
    "corpus_pii_redact",
    (s, dir) => piiScan(piiRawDocs(Tables.documents(s, dir)))
      .select(col("doc_id"), col("source"), col("n_email"), col("n_ssn"),
        col("n_phone"), col("n_ipv4"), col("has_pii"), col("clean_text"))
      .orderBy("doc_id"),
    Some(s"""
      WITH $piiRawSql,
      $piiScanSql
      SELECT doc_id, source, n_email, n_ssn, n_phone, n_ipv4, has_pii, clean_text
      FROM scan ORDER BY doc_id"""),
  )

  /** Per-source PII incidence report — the compliance dashboard over
    * [[piiRedact]]'s scan stage: how many documents per source carry
    * each PII category, and the per-category span totals. The rollup
    * is ONE hash aggregate that collapses map-side to |sources| rows;
    * at 100 TB the report costs the same single corpus scan as the
    * redaction itself (and a session running both pays the scan once
    * — same Q-family sharing discipline as the dedup report). */
  private val piiReport = Q(
    "corpus_pii_report",
    (s, dir) => piiScan(piiRawDocs(Tables.documents(s, dir)))
      .groupBy("source")
      .agg(
        count(lit(1)).as("docs"),
        sum(when(col("has_pii"), 1L).otherwise(0L)).as("docs_with_pii"),
        sum(col("n_email").cast("long")).as("email_spans"),
        sum(col("n_ssn").cast("long")).as("ssn_spans"),
        sum(col("n_phone").cast("long")).as("phone_spans"),
        sum(col("n_ipv4").cast("long")).as("ipv4_spans"))
      .orderBy("source"),
    Some(s"""
      WITH $piiRawSql,
      $piiScanSql
      SELECT source, CAST(count(*) AS BIGINT) AS docs,
             CAST(sum(CASE WHEN has_pii THEN 1 ELSE 0 END) AS BIGINT) AS docs_with_pii,
             CAST(sum(n_email) AS BIGINT) AS email_spans,
             CAST(sum(n_ssn) AS BIGINT) AS ssn_spans,
             CAST(sum(n_phone) AS BIGINT) AS phone_spans,
             CAST(sum(n_ipv4) AS BIGINT) AS ipv4_spans
      FROM scan GROUP BY source ORDER BY source"""),
  )

  /** WATER-FILLING source caps — the budget allocator the flat
    * `mix_token_budget` quota can't express: give every source an equal
    * share of the token budget, but a source with FEWER tokens than its
    * share contributes everything it has and its unused share
    * REDISTRIBUTES to the rest (the standard water-filling/max-min
    * fairness allocation; epoch-upsampling of small sources is the
    * downstream complement). Closed form, no iteration: sort sources by
    * availability ascending — the greedy cap condition
    * `avail·(remaining sources) ≤ remaining budget` is then MONOTONE,
    * so capped-full sources are a prefix; the prefix sums ride
    * [[graft.operators.PrefixSum]] (single stratum, bounded tasks), the
    * boundary aggregates are one metadata row, and the leftover after
    * integer division distributes deterministically (+1 to the first
    * `extra` uncapped sources in sort order), making Σ allocated == B
    * EXACTLY — all integer arithmetic, replayed verbatim by the oracle.
    * Budget = 90% of corpus tokens (forces both polarities at sf0.01:
    * 2 capped-full, 18 level-capped, 7 remainder +1s). */
  private val waterfill = Q(
    "mix_source_waterfill",
    (s, dir) => {
      val avail = Tables.documents(s, dir)
        .select(col("source"), TextFunctions.tokenCount(col("text")).as("n"))
        .groupBy("source").agg(sum(col("n")).as("avail"))
      val tot = avail.agg(sum(col("avail")).as("tot"),
        count(lit(1)).as("n_src"))
      def fdiv(a: Column, b: Column): Column = floor(a / b).cast("long")
      val ranked = graft.operators.PrefixSum.runningSums(
        avail.withColumn("__g", lit(1)), Seq("__g"),
        Seq(col("avail").asc, col("source").asc),
        Seq(lit(1L) -> "idx", col("avail") -> "cum"))
        .crossJoin(broadcast(tot))
        .withColumn("budget", fdiv(col("tot") * 9, lit(10L)))
        .withColumn("capped",
          col("avail") * (col("n_src") - col("idx") + 1)
            <= col("budget") - (col("cum") - col("avail")))
      val boundary = ranked
        .agg(coalesce(sum(when(col("capped"), col("avail"))), lit(0L)).as("sum_full"),
          coalesce(sum(when(col("capped"), 1L)), lit(0L)).as("k_full"))
      ranked.crossJoin(broadcast(boundary))
        .withColumn("__rem", col("budget") - col("sum_full"))
        .withColumn("__m", col("n_src") - col("k_full"))
        .withColumn("allocated",
          when(col("capped"), col("avail"))
            .otherwise(fdiv(col("__rem"), col("__m")) +
              when(col("idx") - col("k_full") <= pmod(col("__rem"), col("__m")), 1L)
                .otherwise(0L)))
        .select(col("source"), col("avail"), col("allocated"), col("capped"))
        .orderBy("source")
    },
    Some("""
      WITH avail AS (SELECT source,
                       CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS avail
                     FROM documents GROUP BY 1),
      tot AS (SELECT CAST(sum(avail) AS BIGINT) AS tot,
                     CAST(count(*) AS BIGINT) AS n_src,
                     CAST(sum(avail) * 9 // 10 AS BIGINT) AS budget
              FROM avail),
      ranked AS (SELECT a.source, a.avail,
                   CAST(row_number() OVER w AS BIGINT) AS idx,
                   CAST(sum(a.avail) OVER (w ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum,
                   t.tot, t.n_src, t.budget
                 FROM avail a, tot t
                 WINDOW w AS (ORDER BY a.avail, a.source)),
      flagged AS (SELECT *,
                    avail * (n_src - idx + 1) <= budget - (cum - avail) AS capped
                  FROM ranked),
      boundary AS (SELECT coalesce(sum(CASE WHEN capped THEN avail END), 0) AS sum_full,
                          coalesce(sum(CASE WHEN capped THEN 1 END), 0) AS k_full
                   FROM flagged)
      SELECT f.source, f.avail,
             CAST(CASE WHEN f.capped THEN f.avail
                  ELSE (f.budget - b.sum_full) // (f.n_src - b.k_full)
                       + (CASE WHEN f.idx - b.k_full
                                    <= (f.budget - b.sum_full) % (f.n_src - b.k_full)
                               THEN 1 ELSE 0 END)
                  END AS BIGINT) AS allocated,
             f.capped
      FROM flagged f, boundary b
      ORDER BY f.source"""),
  )

  // -------------------------------------------- k-center coreset selection
  private val KCenterK = 8

  /** Diversity-aware CORESET selection — greedy k-center (farthest-point
    * traversal, the classic 2-approximation): starting from the lowest
    * vec_id, repeatedly pick the embedding FARTHEST from everything
    * selected so far. Where the mix samplers weight by source/quality
    * and SemDeDup removes redundancy, this selects for COVERAGE — the k
    * exemplars spanning the embedding space, the "diverse subset"
    * primitive behind curation recipes that cap near-duplicate mass
    * before sampling (and behind picking k seed documents for human
    * review).
    *
    * 100 TB design — the distributed-iterative shape, NOT a pairwise
    * one: round r broadcasts the ≤r selected vectors (k·dims literals,
    * metadata) and makes ONE corpus scan computing each row's min
    * distance to them through the native codegen'd L2² expression
    * ([[graft.expressions.L2SquaredDistance]] — no interpreted HOF
    * lambda in the hot scan, per the engine-wide plan-audit doctrine;
    * no explode, no shuffle), reduced by a 1-row TakeOrdered. k rounds
    * = k scans + k single-row reduces; nothing ever materializes
    * corpus×corpus, the trap an all-pairs-distances formulation would
    * be (the ORACLE does exactly that all-pairs precompute, fine at
    * sf0.01 — the point of the differential is agreeing answers from
    * opposite plans).
    *
    * Determinism: the `ann_pq_adc` recipe — graft_l2sq accumulates
    * (x−y)² ascending, DuckDB replays it as an index-ordered
    * `list_sum(list_transform(range …))`, both rounded to 6 dp; argmax
    * ties break on vec_id in both engines. */
  /** Min squared-L2 from the `embedding` column to a broadcast-literal
    * center set — the k-center round scan's hot column. Kept on the
    * native [[graft.expressions.L2SquaredDistance]] expression: the
    * engine-wide HOF sweep cannot see inside a query whose returned
    * frame is a driver-built LocalTableScan, so `CoresetSpec` pins this
    * column's executed plan lambda-free directly. */
  private[graft] def kcenterMinDist(centers: Seq[Seq[Float]]): Column =
    centers
      .map(c => round(graft.ext.Similarity.l2sq(
        col("embedding"), array(c.map(lit): _*)), 6))
      .reduce(least(_, _))

  private val coresetKCenter = Q(
    "mix_coreset_kcenter",
    (s, dir) => {
      val emb = Tables.embeddings(s, dir).select(col("vec_id"), col("embedding"))
      val seed = emb.orderBy("vec_id").limit(1).collect()(0)
      var selected = Vector((seed.getLong(0), seed.getSeq[Float](1)))
      var picks = Vector[(Long, Long, Option[Double])]((1L, seed.getLong(0), None))
      while (selected.size < KCenterK) {
        val minDist = kcenterMinDist(selected.map(_._2))
        val next = emb
          .filter(!col("vec_id").isin(selected.map(_._1): _*))
          .select(col("vec_id"), minDist.as("d2"), col("embedding"))
          .orderBy(col("d2").desc, col("vec_id")).limit(1)
          .collect()(0)
        selected :+= ((next.getLong(0), next.getSeq[Float](2)))
        picks :+= ((picks.size + 1L, next.getLong(0), Some(next.getDouble(1))))
      }
      val s0 = s
      import s0.implicits._
      picks.map { case (r, id, d) => (r, id, d.map(java.lang.Double.valueOf).orNull) }
        .toDF("sel_rank", "vec_id", "min_dist2")
        .select(col("sel_rank"), col("vec_id"), col("min_dist2").cast("double"))
        .orderBy("sel_rank")
    },
    Some(s"""
      WITH RECURSIVE d AS (
        SELECT a.vec_id AS ia, b.vec_id AS ib,
               round(list_sum(list_transform(range(1, CAST(len(a.embedding) + 1 AS INTEGER)),
                 i -> (CAST(a.embedding[i] AS DOUBLE) - CAST(b.embedding[i] AS DOUBLE))
                    * (CAST(a.embedding[i] AS DOUBLE) - CAST(b.embedding[i] AS DOUBLE)))), 6) AS d2
        FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id),
      dd AS (SELECT ia AS i, ib AS j, d2 FROM d
             UNION ALL SELECT ib, ia, d2 FROM d),
      sel AS (
        (SELECT 1 AS step, min(vec_id) AS sel_id, CAST(NULL AS DOUBLE) AS mind2,
                [min(vec_id)] AS chosen
         FROM embeddings)
        UNION ALL
        SELECT s.step + 1, c.vec_id, c.mind2, list_append(s.chosen, c.vec_id)
        FROM sel s, LATERAL (
          SELECT t.vec_id,
                 (SELECT min(p.d2) FROM dd p
                  WHERE p.i = t.vec_id AND list_contains(s.chosen, p.j)) AS mind2
          FROM embeddings t WHERE NOT list_contains(s.chosen, t.vec_id)
          ORDER BY mind2 DESC, t.vec_id LIMIT 1) c
        WHERE s.step < $KCenterK)
      SELECT CAST(step AS BIGINT) AS sel_rank, sel_id AS vec_id, mind2 AS min_dist2
      FROM sel ORDER BY sel_rank"""),
  )

  val all: Seq[Q] = Seq(coresetKCenter,
    waterfill, decontam, streamDecontam, decontamExcise, decontamBySource, boilerStrip, stratifiedSample, epochUpsample, temperatureSample, tokenBudget, rankDeciles, fixedSample, weightedSample,
    cmsCounts, tokenQuantiles, tokenMass, mixRecipe, outlierFilter, repetitionStats, chunks, packing, curriculumOrder, packEmit, forgetAudit, vocab,
    bpeMerges, bpeEncode, tokenIds, topNgrams, pmiBigrams, zipfFit, shardAssign, dsirSample, driftKl, bpeFertility,
    piiRedact, piiReport, heapsFit, qualityCalibrated, strideInterleave, tokenEntropy,
    packingEfficiency, qualityLrTrain, qualityLrScore,
    qualityLrBySource, qualityLrCalibration)
}
