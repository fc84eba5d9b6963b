package graft.queries

import org.apache.spark.sql.functions._

import graft.Tables
import graft.ext.{Multimodal, Similarity}
import graft.functions.LeadFunctions

/** Second-wave operator entries: sorts (O1/O4/O5), dimension/point joins
  * (J2/J6), dedicated scalar-function families (F-arr, F-like,
  * F-str/F-re), the period-analytics map cache (A9), retention/TTL
  * (ST7), the ADF lead parser (U4), the fuzzy match scorer (U5), and
  * the scale-path ANN entries (IVF probe, embedding near-dup,
  * multimodal feature extraction).
  *
  * Same determinism contract as [[RelationalQueries]] (see [[Q]]).
  */
object MiscQueries {

  // -------------------------------------------------------------- O1/O4
  /** O1 — global multi-key sort with mixed directions (reference
    * `sql/customer_360_views.sql:741`-style exports). Spark plans a
    * range-partitioned sort (sampled bounds), so no single reducer owns
    * the output even at 100 TB. */
  private val o1 = Q(
    "o1_multikey_sort",
    (s, dir) =>
      Tables.lineitem(s, dir)
        .select("l_orderkey", "l_linenumber", "l_returnflag", "l_extendedprice")
        .orderBy(col("l_returnflag").asc, col("l_extendedprice").desc,
          col("l_orderkey").asc, col("l_linenumber").asc),
    Some("""
      SELECT l_orderkey, l_linenumber, l_returnflag, l_extendedprice
      FROM lineitem
      ORDER BY l_returnflag, l_extendedprice DESC, l_orderkey, l_linenumber"""),
  )

  // ------------------------------------------------------------------ O5
  /** O5 — the reference's driver-side `max(..., key=...)` over fetched
    * rows (`scripts/lambda_redshift_to_segment.py:222-228`) re-expressed
    * distributed: top-1 under a total order = TakeOrderedAndProject. */
  private val o5 = Q(
    "o5_latest_event",
    (s, dir) =>
      Tables.events(s, dir)
        .orderBy(col("ts").desc, col("event_id").desc)
        .limit(1)
        .select("event_id", "user_id", "event_type", "ts"),
    Some("""
      SELECT event_id, user_id, event_type, ts
      FROM events ORDER BY ts DESC, event_id DESC LIMIT 1"""),
  )

  // ------------------------------------------------------------------ J2
  /** J2 — profile ⋈ dimension inner joins (reference
    * `sql/customer_360_views.sql:521-608`: profiles ⋈ location_customers).
    * Both dims are broadcast (they are tiny at every scale), so the fact
    * side never shuffles. */
  private val j2 = Q(
    "j2_customer_geo",
    (s, dir) => {
      val c = Tables.customer(s, dir)
      val n = broadcast(Tables.nation(s, dir))
      val r = broadcast(Tables.region(s, dir))
      c.join(n, c("c_nationkey") === n("n_nationkey"))
        .join(r, n("n_regionkey") === r("r_regionkey"))
        .select(col("c_custkey"), col("c_name"), col("n_name").as("nation"),
          col("r_name").as("region"))
        .orderBy("c_custkey")
    },
    Some("""
      SELECT c_custkey, c_name, n_name AS nation, r_name AS region
      FROM customer
      JOIN nation ON c_nationkey = n_nationkey
      JOIN region ON n_regionkey = r_regionkey
      ORDER BY c_custkey"""),
  )

  // ------------------------------------------------------------------ J6
  /** J6 — point lookup join (reference
    * `identity-resolution/api-server.js:249-251`: one session's match).
    * The predicate pushes to the parquet scan on both sides; the
    * one-customer build side broadcasts. */
  private val j6 = Q(
    "j6_point_lookup",
    (s, dir) => {
      val one = Tables.customer(s, dir).filter(col("c_custkey") === 1)
      Tables.orders(s, dir)
        .join(broadcast(one), col("o_custkey") === col("c_custkey"))
        .select("o_orderkey", "o_custkey", "c_name", "o_totalprice")
        .orderBy("o_orderkey")
    },
    Some("""
      SELECT o_orderkey, o_custkey, c_name, o_totalprice
      FROM orders JOIN customer ON o_custkey = c_custkey
      WHERE c_custkey = 1 ORDER BY o_orderkey"""),
  )

  // --------------------------------------------------------------- F-arr
  /** F-arr — collect_set/array_sort/array_contains/size (reference
    * `sql/customer_360_views.sql:407-408` array aggregation surface).
    * The array ops all run in-plan; the array itself crosses the query
    * boundary '|'-joined (the differential harness hashes scalar columns). */
  private val fArr = Q(
    "f_array_ops",
    (s, dir) =>
      Tables.orders(s, dir)
        .groupBy("o_custkey")
        .agg(array_sort(collect_set(col("o_orderpriority"))).as("priorities"))
        .select(
          col("o_custkey"),
          array_join(col("priorities"), "|").as("priorities"),
          size(col("priorities")).as("n_priorities"),
          array_contains(col("priorities"), "1-URGENT").as("has_urgent"),
          element_at(col("priorities"), 1).as("first_priority"))
        .orderBy("o_custkey"),
    Some("""
      SELECT o_custkey, array_to_string(priorities, '|') AS priorities,
             CAST(len(priorities) AS INT) AS n_priorities,
             list_contains(priorities, '1-URGENT') AS has_urgent,
             priorities[1] AS first_priority
      FROM (SELECT o_custkey, list_sort(list(DISTINCT o_orderpriority)) AS priorities
            FROM orders GROUP BY o_custkey) t
      ORDER BY o_custkey"""),
  )

  // -------------------------------------------------------------- F-like
  /** F-like — ILIKE / LIKE / prefix-suffix patterns (reference
    * `sql/customer_360_views.sql:96-101` ilike dummy-domain checks). */
  private val fLike = Q(
    "f_like_patterns",
    // Unfiltered boolean emission (like f_string_regex): every row carries
    // signal, and ilike '%RED%' vs like '%RED%' differ on this data
    // (names are lowercase) — a real case-insensitivity differential,
    // not a vacuous 0-row hash match.
    (s, dir) =>
      Tables.part(s, dir)
        .select(
          col("p_partkey"),
          col("p_name").ilike("%RED%").as("ilike_red"),
          col("p_name").like("%RED%").as("like_red"),
          col("p_type").like("%OMY").as("like_economy"),
          col("p_name").startsWith("s").as("starts_s"),
          col("p_name").endsWith("bolt").as("ends_bolt"))
        .orderBy("p_partkey"),
    Some("""
      SELECT p_partkey,
             p_name ILIKE '%RED%' AS ilike_red,
             p_name LIKE '%RED%' AS like_red,
             p_type LIKE '%OMY' AS like_economy,
             p_name LIKE 's%' AS starts_s,
             p_name LIKE '%bolt' AS ends_bolt
      FROM part
      ORDER BY p_partkey"""),
  )

  // --------------------------------------------------------- F-str/F-re
  /** F-str + F-re — the string/regex function family (reference
    * `sql/customer_360_views.sql:83-109` + `lambda:316-325`). */
  private val fStr = Q(
    "f_string_regex",
    (s, dir) =>
      Tables.customer(s, dir)
        .select(
          col("c_custkey"),
          upper(col("c_name")).as("upper_name"),
          length(col("c_name")).cast("long").as("name_len"),
          regexp_extract(col("c_name"), "([0-9]+)$", 1).as("name_digits"),
          regexp_replace(col("c_mktsegment"), "[AEIOU]", "_").as("devoweled"),
          concat_ws("|", col("c_mktsegment"), col("c_custkey").cast("string"))
            .as("seg_key"),
          lpad(col("c_custkey").cast("string"), 10, "0").as("padded"),
          substring(col("c_name"), 1, 8).as("prefix8"),
          trim(lit("  x  ")).as("trimmed"))
        .orderBy("c_custkey"),
    Some("""
      SELECT c_custkey,
             upper(c_name) AS upper_name,
             CAST(length(c_name) AS BIGINT) AS name_len,
             regexp_extract(c_name, '([0-9]+)$', 1) AS name_digits,
             regexp_replace(c_mktsegment, '[AEIOU]', '_', 'g') AS devoweled,
             concat_ws('|', c_mktsegment, CAST(c_custkey AS VARCHAR)) AS seg_key,
             lpad(CAST(c_custkey AS VARCHAR), 10, '0') AS padded,
             substring(c_name, 1, 8) AS prefix8,
             trim('  x  ') AS trimmed
      FROM customer ORDER BY c_custkey"""),
  )

  // ------------------------------------------------------------------ A9
  /** A9 — the period-analytics cache with per-period breakdown maps
    * (reference `identity-resolution/database-schema.sql:360-413`:
    * JSONB maps per period). Spark side builds a real MapType then
    * serializes it to a canonical sorted string, so the oracle compare
    * is representation-stable. Two shuffles total (month×type, month). */
  private val a9 = Q(
    "a9_period_breakdown",
    (s, dir) => {
      val perType = Tables.events(s, dir)
        .groupBy(date_format(col("ts"), "yyyy-MM").as("month"), col("event_type"))
        .agg(count(lit(1)).as("cnt"))
      perType
        .groupBy("month")
        .agg(
          map_from_entries(array_sort(collect_list(struct(col("event_type"), col("cnt")))))
            .as("breakdown"),
          sum(col("cnt")).as("total"))
        .select(
          col("month"),
          array_join(
            transform(array_sort(map_entries(col("breakdown"))),
              e => concat(e.getField("key"), lit(":"),
                e.getField("value").cast("string"))),
            ",").as("breakdown_str"),
          col("total"))
        .orderBy("month")
    },
    Some("""
      SELECT month,
             string_agg(event_type || ':' || CAST(cnt AS VARCHAR), ',' ORDER BY event_type) AS breakdown_str,
             CAST(sum(cnt) AS BIGINT) AS total
      FROM (SELECT strftime(ts, '%Y-%m') AS month, event_type, count(*) AS cnt
            FROM events GROUP BY 1, 2) t
      GROUP BY month ORDER BY month"""),
  )

  // ----------------------------------------------------------------- ST7
  /** ST7 — retention/TTL purge (reference
    * `identity-resolution/database-schema.sql:236-242`: delete rows past
    * their TTL). Expressed as the surviving set + age; on a real lake
    * this is a partition-pruned overwrite of only the expired
    * partitions, never a full rewrite. */
  private val st7 = Q(
    "st7_retention_survivors",
    (s, dir) =>
      Tables.events(s, dir)
        .filter(col("ts") >= lit("2024-01-08").cast("timestamp"))
        .select(col("event_id"), col("user_id"), col("ts"),
          datediff(lit("2024-06-01").cast("date"), col("ts").cast("date"))
            .cast("long").as("age_days"))
        .orderBy("event_id"),
    Some("""
      SELECT event_id, user_id, ts,
             CAST(date_diff('day', CAST(ts AS DATE), DATE '2024-06-01') AS BIGINT) AS age_days
      FROM events WHERE ts >= TIMESTAMP '2024-01-08'
      ORDER BY event_id"""),
  )

  // ------------------------------------------------------------------ U4
  /** U4 — ADF/XML lead parsing. The XML is synthesized deterministically
    * from customer rows (the testdata has no XML column), then parsed by
    * [[LeadFunctions.adfLead]]; the oracle builds the identical string
    * and extracts with the same regexes, so the parse itself is what is
    * being differentially tested. */
  private val u4 = Q(
    "u4_adf_leads",
    (s, dir) => {
      val xml = concat(
        lit("<adf><prospect><id source=\"lead\">L-"), col("c_custkey").cast("string"),
        lit("</id><requestdate>2024-03-0"), (col("c_custkey") % 9 + 1).cast("string"),
        lit("T10:00:00</requestdate><customer><contact><name part=\"first\">Cust</name>"),
        lit("<name part=\"last\">N"), col("c_custkey").cast("string"),
        lit("</name><email>cust"), col("c_custkey").cast("string"),
        lit("@shop.net</email><phone>555-010-"),
        lpad((col("c_custkey") % 10000).cast("string"), 4, "0"),
        lit("</phone></contact></customer><vehicle><year>"),
        (lit(2000) + col("c_custkey") % 25).cast("string"),
        lit("</year><make>"), col("c_mktsegment"),
        lit("</make><model>M-"), (col("c_custkey") % 7).cast("string"),
        lit("</model><vin>VIN"), lpad(col("c_custkey").cast("string"), 8, "0"),
        lit("</vin></vehicle><id source=\"sd_session\">sd_"),
        (col("c_custkey") % 50).cast("string"),
        lit("</id></prospect></adf>"))
      Tables.customer(s, dir)
        .select(col("c_custkey"), LeadFunctions.adfLead(xml).as("lead"))
        .select(col("c_custkey"), col("lead.lead_id"), col("lead.request_date"),
          col("lead.first_name"), col("lead.last_name"), col("lead.email"),
          col("lead.phone"), col("lead.vehicle_year"), col("lead.vehicle_make"),
          col("lead.vehicle_model"), col("lead.vehicle_vin"), col("lead.sd_session_id"))
        .orderBy("c_custkey")
    },
    Some("""
      WITH x AS (
        SELECT c_custkey,
               '<adf><prospect><id source="lead">L-' || CAST(c_custkey AS VARCHAR)
               || '</id><requestdate>2024-03-0' || CAST(c_custkey % 9 + 1 AS VARCHAR)
               || 'T10:00:00</requestdate><customer><contact><name part="first">Cust</name>'
               || '<name part="last">N' || CAST(c_custkey AS VARCHAR)
               || '</name><email>cust' || CAST(c_custkey AS VARCHAR)
               || '@shop.net</email><phone>555-010-' || lpad(CAST(c_custkey % 10000 AS VARCHAR), 4, '0')
               || '</phone></contact></customer><vehicle><year>' || CAST(2000 + c_custkey % 25 AS VARCHAR)
               || '</year><make>' || c_mktsegment
               || '</make><model>M-' || CAST(c_custkey % 7 AS VARCHAR)
               || '</model><vin>VIN' || lpad(CAST(c_custkey AS VARCHAR), 8, '0')
               || '</vin></vehicle><id source="sd_session">sd_' || CAST(c_custkey % 50 AS VARCHAR)
               || '</id></prospect></adf>' AS xml
        FROM customer)
      SELECT c_custkey,
             coalesce(nullif(regexp_extract(xml, '<id[^>]*source="lead"[^>]*>\s*([^<]*?)\s*</id>', 1, 'is'), ''),
                      nullif(regexp_extract(xml, '<id\s*>\s*([^<]*?)\s*</id>', 1, 'is'), '')) AS lead_id,
             nullif(regexp_extract(xml, '<requestdate[^>]*>\s*([^<]*?)\s*</requestdate>', 1, 'is'), '') AS request_date,
             nullif(regexp_extract(xml, '<name[^>]*part="first"[^>]*>\s*([^<]*?)\s*</name>', 1, 'is'), '') AS first_name,
             nullif(regexp_extract(xml, '<name[^>]*part="last"[^>]*>\s*([^<]*?)\s*</name>', 1, 'is'), '') AS last_name,
             nullif(regexp_extract(xml, '<email[^>]*>\s*([^<]*?)\s*</email>', 1, 'is'), '') AS email,
             nullif(regexp_extract(xml, '<phone[^>]*>\s*([^<]*?)\s*</phone>', 1, 'is'), '') AS phone,
             TRY_CAST(nullif(regexp_extract(xml, '<year[^>]*>\s*([^<]*?)\s*</year>', 1, 'is'), '') AS INT) AS vehicle_year,
             nullif(regexp_extract(xml, '<make[^>]*>\s*([^<]*?)\s*</make>', 1, 'is'), '') AS vehicle_make,
             nullif(regexp_extract(xml, '<model[^>]*>\s*([^<]*?)\s*</model>', 1, 'is'), '') AS vehicle_model,
             nullif(regexp_extract(xml, '<vin[^>]*>\s*([^<]*?)\s*</vin>', 1, 'is'), '') AS vehicle_vin,
             nullif(regexp_extract(xml, '<id[^>]*source="sd_session"[^>]*>\s*([^<]*?)\s*</id>', 1, 'is'), '') AS sd_session_id
      FROM x ORDER BY c_custkey"""),
  )

  // ------------------------------------------------------------------ U5
  /** U5 — fuzzy contact-match scoring (reference `api-server.js:254-260`).
    * Visitor contact fields are deterministic perturbations of the lead
    * fields so every score branch (email hit, phone hit, name edit
    * distance) is exercised; the oracle replicates the formula with
    * DuckDB's levenshtein. */
  private val u5 = Q(
    "u5_fuzzy_scores",
    (s, dir) => {
      val c = Tables.customer(s, dir)
        .withColumn("lead_email", concat(lit("cust"), col("c_custkey").cast("string"), lit("@shop.net")))
        .withColumn("lead_phone", concat(lit("555010"), lpad((col("c_custkey") % 10000).cast("string"), 4, "0")))
        .withColumn("visitor_email",
          when(col("c_custkey") % 3 === 0, col("lead_email")).otherwise(lit("other@else.org")))
        .withColumn("visitor_phone",
          when(col("c_custkey") % 4 === 0, concat(lit("+1 "), col("lead_phone"))).otherwise(lit("555")))
        .withColumn("visitor_name",
          when(col("c_custkey") % 2 === 0, col("c_name"))
            .otherwise(concat(lit("X"), substring(col("c_name"), 2, 100))))
      c.select(
        col("c_custkey"),
        LeadFunctions.matchScore(
          col("lead_email"), col("lead_phone"), col("c_name"),
          col("visitor_email"), col("visitor_phone"), col("visitor_name")).as("score"))
        .orderBy("c_custkey")
    },
    Some("""
      WITH t AS (
        SELECT c_custkey, c_name,
               'cust' || CAST(c_custkey AS VARCHAR) || '@shop.net' AS lead_email,
               '555010' || lpad(CAST(c_custkey % 10000 AS VARCHAR), 4, '0') AS lead_phone,
               CASE WHEN c_custkey % 3 = 0 THEN 'cust' || CAST(c_custkey AS VARCHAR) || '@shop.net'
                    ELSE 'other@else.org' END AS visitor_email,
               CASE WHEN c_custkey % 4 = 0 THEN '+1 555010' || lpad(CAST(c_custkey % 10000 AS VARCHAR), 4, '0')
                    ELSE '555' END AS visitor_phone,
               CASE WHEN c_custkey % 2 = 0 THEN c_name
                    ELSE 'X' || substring(c_name, 2) END AS visitor_name
        FROM customer)
      SELECT c_custkey,
             round(
               (CASE WHEN nullif(lower(trim(lead_email)), '') = nullif(lower(trim(visitor_email)), '') THEN 0.4 ELSE 0.0 END)
               + (CASE WHEN length(regexp_replace(lead_phone, '[^0-9]', '', 'g')) >= 10
                        AND length(regexp_replace(visitor_phone, '[^0-9]', '', 'g')) >= 10
                        AND right(regexp_replace(lead_phone, '[^0-9]', '', 'g'), 10)
                            = right(regexp_replace(visitor_phone, '[^0-9]', '', 'g'), 10)
                       THEN 0.3 ELSE 0.0 END)
               + 0.3 * (1.0 - CAST(levenshtein(lower(trim(c_name)), lower(trim(visitor_name))) AS DOUBLE)
                              / greatest(length(lower(trim(c_name))), length(lower(trim(visitor_name))))),
               4) AS score
      FROM t ORDER BY c_custkey"""),
  )

  /** Shared oracle fragment: id-sampled centroids + double-precision
    * cosine + nearest-centroid assignment, mirroring
    * [[Similarity.trainCentroidsById]]/[[Similarity.assignToCentroids]]
    * exactly (index-ordered float→double products, so the sums are
    * bit-identical to the native expression's loop). */
  private val IVF_ORACLE_PRELUDE = """
      WITH c AS (SELECT vec_id AS centroid_id, embedding AS centroid
                 FROM embeddings ORDER BY vec_id LIMIT 16),
      e AS (SELECT vec_id, embedding FROM embeddings),
      pairs AS (
        SELECT e.vec_id, c.centroid_id,
          list_sum(list_transform(range(1, len(e.embedding)+1),
            i -> CAST(e.embedding[i] AS DOUBLE) * CAST(c.centroid[i] AS DOUBLE)))
            / (sqrt(list_sum(list_transform(e.embedding, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE))))
               * sqrt(list_sum(list_transform(c.centroid, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE))))) AS sim
        FROM e, c),
      assigned AS (
        SELECT t.vec_id, t.centroid_id, e.embedding FROM (
          SELECT vec_id, centroid_id,
                 row_number() OVER (PARTITION BY vec_id ORDER BY sim DESC, centroid_id) AS rn
          FROM pairs) t JOIN e ON t.vec_id = e.vec_id WHERE t.rn = 1)"""

  // ------------------------------------------------------------- ANN/IVF
  /** IVF-probed ANN top-k (the 100 TB path; see [[Similarity.ivfTopK]]):
    * probe the 4 nearest centroid buckets, score only their members.
    * The full pipeline (centroid training, assignment, probing, scoring,
    * tiebreaks) is replicated in the DuckDB oracle — a real differential
    * check, not rows-only. */
  private val annIvf = Q(
    "ann_ivf_topk",
    (s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val centroids = Similarity.trainCentroidsById(emb, 16)
      val assigned = Similarity.assignToCentroids(emb, centroids)
      val query = emb.filter(col("vec_id") === 0)
        .select(col("embedding")).head().getSeq[Float](0)
      Similarity.ivfTopK(assigned, centroids, query, k = 20, nprobe = 4)
        .withColumn("cosine", round(col("cosine"), 6))
        .orderBy(col("cosine").desc, col("vec_id"))
    },
    Some(IVF_ORACLE_PRELUDE + """,
      q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
      probed AS (
        SELECT centroid_id FROM (
          SELECT c.centroid_id,
            list_sum(list_transform(range(1, len(c.centroid)+1),
              i -> CAST(c.centroid[i] AS DOUBLE) * CAST(q.qv[i] AS DOUBLE)))
              / (sqrt(list_sum(list_transform(c.centroid, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE))))
                 * sqrt(list_sum(list_transform(q.qv, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE))))) AS sim
          FROM c, q ORDER BY sim DESC, centroid_id LIMIT 4) t),
      scored AS (
        SELECT a.vec_id,
          list_sum(list_transform(range(1, len(a.embedding)+1),
            i -> CAST(a.embedding[i] AS DOUBLE) * CAST(q.qv[i] AS DOUBLE)))
            / (sqrt(list_sum(list_transform(a.embedding, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE))))
               * sqrt(list_sum(list_transform(q.qv, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE))))) AS cos
        FROM assigned a JOIN probed p ON a.centroid_id = p.centroid_id, q),
      sel AS (SELECT vec_id, cos FROM scored ORDER BY cos DESC, vec_id LIMIT 20)
      SELECT vec_id, round(cos, 6) AS cosine FROM sel
      ORDER BY round(cos, 6) DESC, vec_id"""),
  )

  /** IVF top-k answered by a one-row search of the SERVED index
    * ([[graft.ext.ServedAnnIndex.search]]) — the retrieval tier built
    * in r14: postings persisted in a generation store partitioned by
    * centroid bucket (a search's scan statically prunes to its probed
    * bucket DIRECTORIES on disk), centroids riding the same store in a
    * reserved bucket so one manifest versions both halves, searches
    * resolved from one pinned version. The differential proves the
    * serving layer is TRANSPARENT: identical math to `ann_ivf_topk`,
    * identical oracle — round-tripping the index through build/publish/
    * manifest-resolve/search must change not one bit of the answer.
    * The store root is app-id-scoped (same race/injectivity posture as
    * `s11_json_scan`'s drop path); each run's build publishes a fresh
    * generation and the store's own GC bounds what accumulates.
    *
    * BENCH NOTE: unlike `ann_ivf_topk` (search-only), this entry times
    * the FULL index lifecycle — build + publish + manifest resolve +
    * search — deliberately, to price what a serving tier pays end to
    * end. Read the two entries' wall-times accordingly: the delta over
    * `ann_ivf_topk` is the serving layer's build/commit cost, not a
    * slower search. */
  private val annServed = Q(
    "ann_served_topk",
    (s, dir) => {
      val root = s"/tmp/graft_ann_index/${s.sparkContext.applicationId}/" +
        s"${dir.replaceAll("[^a-zA-Z0-9]", "_")}_${Integer.toHexString(dir.hashCode)}"
      val emb = Tables.embeddings(s, dir)
      val idx = new graft.ext.ServedAnnIndex(root, nCentroids = 16)
      idx.build(emb)
      val query = emb.filter(col("vec_id") === 0)
        .select(col("vec_id").as("q_id"), col("embedding").as("qv"))
      idx.search(query, k = 20, nprobe = 4).get
        .select("vec_id", "cosine")
        .withColumn("cosine", round(col("cosine"), 6))
        .orderBy(col("cosine").desc, col("vec_id"))
    },
    Some(IVF_ORACLE_PRELUDE + """,
      q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
      probed AS (
        SELECT centroid_id FROM (
          SELECT c.centroid_id,
            list_sum(list_transform(range(1, len(c.centroid)+1),
              i -> CAST(c.centroid[i] AS DOUBLE) * CAST(q.qv[i] AS DOUBLE)))
              / (sqrt(list_sum(list_transform(c.centroid, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE))))
                 * sqrt(list_sum(list_transform(q.qv, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE))))) AS sim
          FROM c, q ORDER BY sim DESC, centroid_id LIMIT 4) t),
      scored AS (
        SELECT a.vec_id,
          list_sum(list_transform(range(1, len(a.embedding)+1),
            i -> CAST(a.embedding[i] AS DOUBLE) * CAST(q.qv[i] AS DOUBLE)))
            / (sqrt(list_sum(list_transform(a.embedding, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE))))
               * sqrt(list_sum(list_transform(q.qv, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE))))) AS cos
        FROM assigned a JOIN probed p ON a.centroid_id = p.centroid_id, q),
      sel AS (SELECT vec_id, cos FROM scored ORDER BY cos DESC, vec_id LIMIT 20)
      SELECT vec_id, round(cos, 6) AS cosine FROM sel
      ORDER BY round(cos, 6) DESC, vec_id"""),
  )

  /** BATCHED served-index search ([[graft.ext.ServedAnnIndex
    * .search]]): a 10-query TABLE answered in ONE plan — per-query
    * centroid ranking as a broadcast product + window, all queries'
    * probed buckets unioned into one disk-pruned scan, per-query top-k
    * through the k-bounded TopKPerGroup heap. The serving analog of the
    * reference's 1000-row activation batches
    * (`scripts/lambda_redshift_to_segment.py:207-208`): a retrieval
    * tier prices Q queries as one job, not Q. The oracle replays the
    * whole per-query pipeline (probe ranking with the (sim DESC,
    * centroid_id) tie-break, probed-bucket scoring, (cos DESC, vec_id)
    * rank) in DuckDB SQL; per-query equality to a one-row `search`
    * and Q-independent job count are pinned in
    * `ServedAnnIndexSpec`. Like `ann_served_topk`, the entry times the
    * full build+publish+search lifecycle. */
  private val annServedBatch = Q(
    "ann_served_batch",
    (s, dir) => {
      val root = s"/tmp/graft_ann_index_batch/${s.sparkContext.applicationId}/" +
        s"${dir.replaceAll("[^a-zA-Z0-9]", "_")}_${Integer.toHexString(dir.hashCode)}"
      val emb = Tables.embeddings(s, dir)
      val idx = new graft.ext.ServedAnnIndex(root, nCentroids = 16)
      idx.build(emb)
      val queries = emb.filter(col("vec_id") < 10)
        .select(col("vec_id").as("q_id"), col("embedding").as("qv"))
      idx.search(queries, k = 20, nprobe = 4).get
        .withColumn("cosine", round(col("cosine"), 6))
        .orderBy("q_id", "rnk")
    },
    Some(IVF_ORACLE_PRELUDE + """,
      q AS (SELECT vec_id AS q_id, embedding AS qv FROM embeddings WHERE vec_id < 10),
      cp AS (SELECT q.q_id, c.centroid_id,
               list_sum(list_transform(range(1, len(c.centroid)+1),
                 i -> CAST(c.centroid[i] AS DOUBLE) * CAST(q.qv[i] AS DOUBLE)))
                 / (sqrt(list_sum(list_transform(c.centroid, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE))))
                    * sqrt(list_sum(list_transform(q.qv, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE))))) AS sim
             FROM c, q),
      probed AS (SELECT q_id, centroid_id FROM (
                   SELECT q_id, centroid_id,
                          row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, centroid_id) AS rn
                   FROM cp) WHERE rn <= 4),
      iscored AS (SELECT p.q_id, a.vec_id,
               list_sum(list_transform(range(1, len(a.embedding)+1),
                 i -> CAST(a.embedding[i] AS DOUBLE) * CAST(q.qv[i] AS DOUBLE)))
                 / (sqrt(list_sum(list_transform(a.embedding, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE))))
                    * sqrt(list_sum(list_transform(q.qv, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE))))) AS cos
             FROM assigned a JOIN probed p USING (centroid_id) JOIN q USING (q_id)),
      ivf AS (SELECT q_id, vec_id, cos,
                     row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, vec_id) AS rnk
              FROM iscored)
      SELECT q_id, CAST(rnk AS BIGINT) AS rnk, vec_id, round(cos, 6) AS cosine
      FROM ivf WHERE rnk <= 20 ORDER BY q_id, rnk"""),
  )

  /** Served-index RE-EMBEDDING upsert ([[graft.ext.ServedAnnIndex
    * .update]] = delete + add): one slice of the corpus arrives with
    * NEW embeddings (reversed vectors — most change their nearest
    * centroid, exactly the case where add-alone would duplicate a
    * vec_id across two buckets), and the updated index must answer as
    * a frozen-centroid rebuild over the updated corpus. The oracle
    * recomputes that rebuild in DuckDB: centroids id-initialized from
    * the ORIGINAL corpus (update never retrains — the freeze is the
    * contract), assignment and IVF probe over the post-update
    * embeddings, answered by a one-row `search`. No-duplication,
    * pinned-version grace and delete-replay idempotence are
    * spec-pinned in `ServedAnnIndexSpec`. */
  private val annServedUpdate = Q(
    "ann_served_update",
    (s, dir) => {
      val root = s"/tmp/graft_ann_index_upd/${s.sparkContext.applicationId}/" +
        s"${dir.replaceAll("[^a-zA-Z0-9]", "_")}_${Integer.toHexString(dir.hashCode)}"
      val emb = Tables.embeddings(s, dir)
      val idx = new graft.ext.ServedAnnIndex(root, nCentroids = 16)
      idx.build(emb)
      idx.update(emb.filter(col("vec_id") % 10 === 3)
        .withColumn("embedding", reverse(col("embedding"))))
      val query = emb.filter(col("vec_id") === 0)
        .select(col("vec_id").as("q_id"), col("embedding").as("qv"))
      idx.search(query, k = 20, nprobe = 4).get
        .select("vec_id", "cosine")
        .withColumn("cosine", round(col("cosine"), 6))
        .orderBy(col("cosine").desc, col("vec_id"))
    },
    Some("""
      WITH c AS (SELECT vec_id AS centroid_id, embedding AS centroid
                 FROM embeddings ORDER BY vec_id LIMIT 16),
      u AS (SELECT vec_id,
              CASE WHEN vec_id % 10 = 3 THEN list_reverse(embedding)
                   ELSE embedding END AS embedding
            FROM embeddings),
      pairs AS (
        SELECT u.vec_id, c.centroid_id,
          list_sum(list_transform(range(1, len(u.embedding)+1),
            i -> CAST(u.embedding[i] AS DOUBLE) * CAST(c.centroid[i] AS DOUBLE)))
            / (sqrt(list_sum(list_transform(u.embedding, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE))))
               * sqrt(list_sum(list_transform(c.centroid, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE))))) AS sim
        FROM u, c),
      assigned AS (
        SELECT t.vec_id, t.centroid_id, u.embedding FROM (
          SELECT vec_id, centroid_id,
                 row_number() OVER (PARTITION BY vec_id ORDER BY sim DESC, centroid_id) AS rn
          FROM pairs) t JOIN u ON t.vec_id = u.vec_id WHERE t.rn = 1),
      q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
      probed AS (
        SELECT centroid_id FROM (
          SELECT c.centroid_id,
            list_sum(list_transform(range(1, len(c.centroid)+1),
              i -> CAST(c.centroid[i] AS DOUBLE) * CAST(q.qv[i] AS DOUBLE)))
              / (sqrt(list_sum(list_transform(c.centroid, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE))))
                 * sqrt(list_sum(list_transform(q.qv, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE))))) AS sim
          FROM c, q ORDER BY sim DESC, centroid_id LIMIT 4) t),
      scored AS (
        SELECT a.vec_id,
          list_sum(list_transform(range(1, len(a.embedding)+1),
            i -> CAST(a.embedding[i] AS DOUBLE) * CAST(q.qv[i] AS DOUBLE)))
            / (sqrt(list_sum(list_transform(a.embedding, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE))))
               * sqrt(list_sum(list_transform(q.qv, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE))))) AS cos
        FROM assigned a JOIN probed p ON a.centroid_id = p.centroid_id, q),
      sel AS (SELECT vec_id, cos FROM scored ORDER BY cos DESC, vec_id LIMIT 20)
      SELECT vec_id, round(cos, 6) AS cosine FROM sel
      ORDER BY round(cos, 6) DESC, vec_id"""),
  )

  /** INCREMENTAL build differential — the per-batch core
    * [[graft.streaming.Streams.indexIngest]] drives, exercised as
    * build + K adds (the `stream_decontam_screen` pattern: the
    * streaming loop itself — checkpoints, replay idempotence — is
    * spec-pinned in `StreamingAnnSpec`; the per-batch math carries the
    * full SQL oracle). Centroids freeze at the INITIAL build (id-init
    * over the init slice — the oracle replays exactly that subset
    * pick); two ingest batches then merge into only their touched
    * buckets; the final one-row `search` must equal a frozen-centroid
    * IVF over the ENTIRE delivered corpus, which is what the oracle
    * computes — proving per-bucket incremental merges converge to the
    * one-shot assignment with no row lost, duplicated or mis-bucketed. */
  private val annServedIngest = Q(
    "ann_served_ingest",
    (s, dir) => {
      val root = s"/tmp/graft_ann_index_ing/${s.sparkContext.applicationId}/" +
        s"${dir.replaceAll("[^a-zA-Z0-9]", "_")}_${Integer.toHexString(dir.hashCode)}"
      val emb = Tables.embeddings(s, dir)
      val idx = new graft.ext.ServedAnnIndex(root, nCentroids = 16)
      idx.build(emb.filter(col("vec_id") % 4 =!= 0))
      idx.add(emb.filter(col("vec_id") % 8 === 0))
      idx.add(emb.filter(col("vec_id") % 8 === 4))
      val query = emb.filter(col("vec_id") === 0)
        .select(col("vec_id").as("q_id"), col("embedding").as("qv"))
      idx.search(query, k = 20, nprobe = 4).get
        .select("vec_id", "cosine")
        .withColumn("cosine", round(col("cosine"), 6))
        .orderBy(col("cosine").desc, col("vec_id"))
    },
    Some("""
      WITH c AS (SELECT vec_id AS centroid_id, embedding AS centroid
                 FROM embeddings WHERE vec_id % 4 <> 0
                 ORDER BY vec_id LIMIT 16),
      e AS (SELECT vec_id, embedding FROM embeddings),
      pairs AS (
        SELECT e.vec_id, c.centroid_id,
          list_sum(list_transform(range(1, len(e.embedding)+1),
            i -> CAST(e.embedding[i] AS DOUBLE) * CAST(c.centroid[i] AS DOUBLE)))
            / (sqrt(list_sum(list_transform(e.embedding, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE))))
               * sqrt(list_sum(list_transform(c.centroid, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE))))) AS sim
        FROM e, c),
      assigned AS (
        SELECT t.vec_id, t.centroid_id, e.embedding FROM (
          SELECT vec_id, centroid_id,
                 row_number() OVER (PARTITION BY vec_id ORDER BY sim DESC, centroid_id) AS rn
          FROM pairs) t JOIN e ON t.vec_id = e.vec_id WHERE t.rn = 1),
      q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
      probed AS (
        SELECT centroid_id FROM (
          SELECT c.centroid_id,
            list_sum(list_transform(range(1, len(c.centroid)+1),
              i -> CAST(c.centroid[i] AS DOUBLE) * CAST(q.qv[i] AS DOUBLE)))
              / (sqrt(list_sum(list_transform(c.centroid, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE))))
                 * sqrt(list_sum(list_transform(q.qv, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE))))) AS sim
          FROM c, q ORDER BY sim DESC, centroid_id LIMIT 4) t),
      scored AS (
        SELECT a.vec_id,
          list_sum(list_transform(range(1, len(a.embedding)+1),
            i -> CAST(a.embedding[i] AS DOUBLE) * CAST(q.qv[i] AS DOUBLE)))
            / (sqrt(list_sum(list_transform(a.embedding, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE))))
               * sqrt(list_sum(list_transform(q.qv, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE))))) AS cos
        FROM assigned a JOIN probed p ON a.centroid_id = p.centroid_id, q),
      sel AS (SELECT vec_id, cos FROM scored ORDER BY cos DESC, vec_id LIMIT 20)
      SELECT vec_id, round(cos, 6) AS cosine FROM sel
      ORDER BY round(cos, 6) DESC, vec_id"""),
  )

  /** QUANTIZED search on the served index (a one-row
    * [[graft.ext.ServedAnnIndex.search]] with `rerank = Some(100)`) —
    * the full 100 TB probe priced end to end:
    * build stores an int8 copy beside every float vector; the search
    * prunes to probed bucket directories, scores candidates on a scan
    * whose ReadSchema is (vec_id, qvec) — the float column stays on
    * disk for that pass, ~1/4 the bytes — and reranks the top-100
    * survivors with the exact float cosine. The oracle replays ALL of
    * it: id-init centroids, assignment, probe ranking, the max-abs
    * int8 quantization bit-exactly (float32 arithmetic, floor(x+0.5f)
    * rounding, ±127 clamp — the `ann_int8_score` discipline), integer
    * dot/norms, the rerank-100 screen and the float rerank.
    * Serving-layer parity with the in-memory `ivfTopKQuantized` and
    * the column-pruning pin live in `ServedAnnIndexSpec`. */
  private val annServedQ = Q(
    "ann_served_qtopk",
    (s, dir) => {
      val root = s"/tmp/graft_ann_index_q/${s.sparkContext.applicationId}/" +
        s"${dir.replaceAll("[^a-zA-Z0-9]", "_")}_${Integer.toHexString(dir.hashCode)}"
      val emb = Tables.embeddings(s, dir)
      val idx = new graft.ext.ServedAnnIndex(root, nCentroids = 16)
      idx.build(emb)
      val query = emb.filter(col("vec_id") === 0)
        .select(col("vec_id").as("q_id"), col("embedding").as("qv"))
      idx.search(query, k = 20, nprobe = 4, rerank = Some(100)).get
        .select("vec_id", "cosine")
        .withColumn("cosine", round(col("cosine"), 6))
        .orderBy(col("cosine").desc, col("vec_id"))
    },
    Some(IVF_ORACLE_PRELUDE + """,
      q AS MATERIALIZED (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
      probed AS (
        SELECT centroid_id FROM (
          SELECT c.centroid_id,
            list_sum(list_transform(range(1, len(c.centroid)+1),
              i -> CAST(c.centroid[i] AS DOUBLE) * CAST(q.qv[i] AS DOUBLE)))
              / (sqrt(list_sum(list_transform(c.centroid, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE))))
                 * sqrt(list_sum(list_transform(q.qv, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE))))) AS sim
          FROM c, q ORDER BY sim DESC, centroid_id LIMIT 4) t),
      cand AS MATERIALIZED (
        SELECT a.vec_id, a.embedding FROM assigned a
        JOIN probed p ON a.centroid_id = p.centroid_id),
      qz AS (
        SELECT vec_id,
               CASE WHEN list_max(list_transform(embedding, x -> abs(x))) = 0 THEN NULL
                    ELSE list_transform(embedding, x -> greatest(-127, least(127,
                      CAST(floor(CAST(x AS FLOAT)
                        / (CAST(list_max(list_transform(embedding, y -> abs(y))) AS FLOAT)
                           / CAST(127.0 AS FLOAT))
                        + CAST(0.5 AS FLOAT)) AS BIGINT)))) END AS q8
        FROM cand),
      qq AS (
        SELECT CASE WHEN list_max(list_transform(qv, x -> abs(x))) = 0 THEN NULL
                    ELSE list_transform(qv, x -> greatest(-127, least(127,
                      CAST(floor(CAST(x AS FLOAT)
                        / (CAST(list_max(list_transform(qv, y -> abs(y))) AS FLOAT)
                           / CAST(127.0 AS FLOAT))
                        + CAST(0.5 AS FLOAT)) AS BIGINT)))) END AS r8
        FROM q),
      qscored AS (
        SELECT z.vec_id,
               CAST(list_sum(list_transform(range(1, len(z.q8)+1),
                 i -> z.q8[i] * r.r8[i])) AS DOUBLE) AS dot,
               CAST(list_sum(list_transform(z.q8, x -> x*x)) AS DOUBLE) AS nx,
               CAST(list_sum(list_transform(r.r8, x -> x*x)) AS DOUBLE) AS ny
        FROM qz z, qq r),
      short AS (
        SELECT vec_id FROM (
          SELECT vec_id,
                 CASE WHEN nx = 0 OR ny = 0 OR nx IS NULL OR ny IS NULL THEN NULL
                      ELSE dot / (sqrt(nx) * sqrt(ny)) END AS q_cos
          FROM qscored) ORDER BY q_cos DESC, vec_id LIMIT 100),
      tru AS (
        SELECT s.vec_id,
          list_sum(list_transform(range(1, len(cd.embedding)+1),
            i -> CAST(cd.embedding[i] AS DOUBLE) * CAST(q.qv[i] AS DOUBLE)))
            / (sqrt(list_sum(list_transform(cd.embedding, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE))))
               * sqrt(list_sum(list_transform(q.qv, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE))))) AS cos
        FROM short s JOIN cand cd USING (vec_id), q),
      sel AS (SELECT vec_id, cos FROM tru ORDER BY cos DESC, vec_id LIMIT 20)
      SELECT vec_id, round(cos, 6) AS cosine FROM sel
      ORDER BY round(cos, 6) DESC, vec_id"""),
  )

  /** The serving matrix's fourth cell: a query TABLE through the
    * QUANTIZED served probe ([[graft.ext.ServedAnnIndex
    * .search]] with `rerank`) — `ann_served_batch`'s orchestration
    * (per-query probe, one probed-union scan, Q-independent jobs) with
    * `ann_served_qtopk`'s byte discipline (candidate scan reads
    * (vec_id, qvec) only; one int8 encode per query riding the
    * broadcast). The oracle replays the per-query pipeline: probe
    * ranking, bit-exact int8 quantization of candidates AND queries,
    * integer-dot shortlists of `rerank` per query, exact-cosine
    * re-rank. Per-query equality to a one-row quantized search is
    * spec-pinned in `ServedAnnIndexSpec`. */
  private val annServedQBatch = Q(
    "ann_served_qbatch",
    (s, dir) => {
      val root = s"/tmp/graft_ann_index_qb/${s.sparkContext.applicationId}/" +
        s"${dir.replaceAll("[^a-zA-Z0-9]", "_")}_${Integer.toHexString(dir.hashCode)}"
      val emb = Tables.embeddings(s, dir)
      val idx = new graft.ext.ServedAnnIndex(root, nCentroids = 16)
      idx.build(emb)
      val queries = emb.filter(col("vec_id") < 10)
        .select(col("vec_id").as("q_id"), col("embedding").as("qv"))
      idx.search(queries, k = 20, nprobe = 4, rerank = Some(100)).get
        .withColumn("cosine", round(col("cosine"), 6))
        .orderBy("q_id", "rnk")
    },
    Some(IVF_ORACLE_PRELUDE + """,
      q AS MATERIALIZED (SELECT vec_id AS q_id, embedding AS qv
                         FROM embeddings WHERE vec_id < 10),
      cp AS (SELECT q.q_id, c.centroid_id,
               list_sum(list_transform(range(1, len(c.centroid)+1),
                 i -> CAST(c.centroid[i] AS DOUBLE) * CAST(q.qv[i] AS DOUBLE)))
                 / (sqrt(list_sum(list_transform(c.centroid, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE))))
                    * sqrt(list_sum(list_transform(q.qv, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE))))) AS sim
             FROM c, q),
      probed AS (SELECT q_id, centroid_id FROM (
                   SELECT q_id, centroid_id,
                          row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, centroid_id) AS rn
                   FROM cp) WHERE rn <= 4),
      cand AS MATERIALIZED (
        SELECT p.q_id, a.vec_id, a.embedding FROM assigned a
        JOIN probed p ON a.centroid_id = p.centroid_id),
      qz AS (
        SELECT q_id, vec_id,
               CASE WHEN list_max(list_transform(embedding, x -> abs(x))) = 0 THEN NULL
                    ELSE list_transform(embedding, x -> greatest(-127, least(127,
                      CAST(floor(CAST(x AS FLOAT)
                        / (CAST(list_max(list_transform(embedding, y -> abs(y))) AS FLOAT)
                           / CAST(127.0 AS FLOAT))
                        + CAST(0.5 AS FLOAT)) AS BIGINT)))) END AS q8
        FROM cand),
      qq AS (
        SELECT q_id,
               CASE WHEN list_max(list_transform(qv, x -> abs(x))) = 0 THEN NULL
                    ELSE list_transform(qv, x -> greatest(-127, least(127,
                      CAST(floor(CAST(x AS FLOAT)
                        / (CAST(list_max(list_transform(qv, y -> abs(y))) AS FLOAT)
                           / CAST(127.0 AS FLOAT))
                        + CAST(0.5 AS FLOAT)) AS BIGINT)))) END AS r8
        FROM q),
      qscored AS (
        SELECT z.q_id, z.vec_id,
               CAST(list_sum(list_transform(range(1, len(z.q8)+1),
                 i -> z.q8[i] * r.r8[i])) AS DOUBLE) AS dot,
               CAST(list_sum(list_transform(z.q8, x -> x*x)) AS DOUBLE) AS nx,
               CAST(list_sum(list_transform(r.r8, x -> x*x)) AS DOUBLE) AS ny
        FROM qz z JOIN qq r USING (q_id)),
      short AS (
        SELECT q_id, vec_id FROM (
          SELECT q_id, vec_id,
                 row_number() OVER (PARTITION BY q_id ORDER BY
                   CASE WHEN nx = 0 OR ny = 0 OR nx IS NULL OR ny IS NULL THEN NULL
                        ELSE dot / (sqrt(nx) * sqrt(ny)) END DESC, vec_id) AS rn
          FROM qscored) WHERE rn <= 100),
      tru AS (
        SELECT s.q_id, s.vec_id,
          list_sum(list_transform(range(1, len(cd.embedding)+1),
            i -> CAST(cd.embedding[i] AS DOUBLE) * CAST(q.qv[i] AS DOUBLE)))
            / (sqrt(list_sum(list_transform(cd.embedding, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE))))
               * sqrt(list_sum(list_transform(q.qv, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE))))) AS cos
        FROM short s JOIN cand cd USING (q_id, vec_id) JOIN q USING (q_id)),
      ivf AS (SELECT q_id, vec_id, cos,
                     row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, vec_id) AS rnk
              FROM tru)
      SELECT q_id, CAST(rnk AS BIGINT) AS rnk, vec_id, round(cos, 6) AS cosine
      FROM ivf WHERE rnk <= 20 ORDER BY q_id, rnk"""),
  )

  /** Recall harness ON THE SERVED PATH — `ann_eval_recall`'s sibling
    * with the IVF side answered by a version-pinned [[graft.ext
    * .ServedAnnIndex.search]] instead of in-memory operators:
    * recall@10/20 of the served, disk-pruned, batch-searched index
    * against brute-force ground truth, per query, in one plan. This is
    * the post-build quality gate a retrieval tier actually runs (grade
    * the INDEX YOU SERVE, not an in-memory replica of it). Differences from
    * `ann_eval_recall`, both deliberate: self-matches stay IN (search
    * semantics — a served search does return the query's own document;
    * the eval harness excludes them to grade neighbor quality), and
    * the ground-truth top-k collapses through the same TopKPerGroup
    * heap the batch search uses. Centroids are id-init so the oracle
    * can replay the whole pipeline; the Lloyd-vs-id-init quality claim
    * (Lloyd recall@20 >= id-init's) is spec-pinned in
    * `ServedAnnIndexSpec` where SQL can't follow. */
  private val annServedRecall = Q(
    "ann_served_recall",
    (s, dir) => {
      val root = s"/tmp/graft_ann_index_recall/${s.sparkContext.applicationId}/" +
        s"${dir.replaceAll("[^a-zA-Z0-9]", "_")}_${Integer.toHexString(dir.hashCode)}"
      val emb = Tables.embeddings(s, dir)
      val idx = new graft.ext.ServedAnnIndex(root, nCentroids = 16)
      val v = idx.build(emb)
      val queries = emb.filter(col("vec_id") < 10)
        .select(col("vec_id").as("q_id"), col("embedding").as("qv"))
      val served = idx.search(queries, k = 20, nprobe = 4, version = Some(v)).get
      val brute = emb.crossJoin(broadcast(queries))
        .select(col("q_id"), col("vec_id"),
          Similarity.cosine(col("embedding"), col("qv")).as("cosine"))
        .groupBy("q_id")
        .agg(graft.operators.TopKPerGroup.topK(20)(
          col("cosine"), col("vec_id")).as("top"))
        .select(col("q_id"), posexplode(col("top")).as(Seq("rnk0", "sc")))
        .select(col("q_id"), (col("rnk0") + 1).cast("long").as("b_rnk"),
          col("sc").getField("_2").as("vec_id"))
      served.join(brute, Seq("q_id", "vec_id"))
        .groupBy("q_id")
        .agg(
          (sum(when(col("b_rnk") <= 10 && col("rnk") <= 10, 1L).otherwise(0L))
            .cast("double") / 10.0).as("recall_at_10"),
          (count(lit(1)).cast("double") / 20.0).as("recall_at_20"))
        .orderBy("q_id")
    },
    Some(IVF_ORACLE_PRELUDE + """,
      q AS (SELECT vec_id AS q_id, embedding AS qv FROM embeddings WHERE vec_id < 10),
      bs AS (SELECT q.q_id, e.vec_id,
               list_sum(list_transform(range(1, len(e.embedding)+1),
                 i -> CAST(e.embedding[i] AS DOUBLE) * CAST(q.qv[i] AS DOUBLE)))
                 / (sqrt(list_sum(list_transform(e.embedding, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE))))
                    * sqrt(list_sum(list_transform(q.qv, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE))))) AS cos
             FROM e, q),
      brute AS (SELECT q_id, vec_id, rnk FROM (
                  SELECT q_id, vec_id,
                         row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, vec_id) AS rnk
                  FROM bs) WHERE rnk <= 20),
      cp AS (SELECT q.q_id, c.centroid_id,
               list_sum(list_transform(range(1, len(c.centroid)+1),
                 i -> CAST(c.centroid[i] AS DOUBLE) * CAST(q.qv[i] AS DOUBLE)))
                 / (sqrt(list_sum(list_transform(c.centroid, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE))))
                    * sqrt(list_sum(list_transform(q.qv, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE))))) AS sim
             FROM c, q),
      probed AS (SELECT q_id, centroid_id FROM (
                   SELECT q_id, centroid_id,
                          row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, centroid_id) AS rn
                   FROM cp) WHERE rn <= 4),
      iscored AS (SELECT p.q_id, a.vec_id,
               list_sum(list_transform(range(1, len(a.embedding)+1),
                 i -> CAST(a.embedding[i] AS DOUBLE) * CAST(q.qv[i] AS DOUBLE)))
                 / (sqrt(list_sum(list_transform(a.embedding, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE))))
                    * sqrt(list_sum(list_transform(q.qv, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE))))) AS cos
             FROM assigned a JOIN probed p USING (centroid_id) JOIN q USING (q_id)),
      ivf AS (SELECT q_id, vec_id, rnk FROM (
                SELECT q_id, vec_id,
                       row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, vec_id) AS rnk
                FROM iscored) WHERE rnk <= 20)
      SELECT i.q_id,
             CAST(sum(CASE WHEN b.rnk <= 10 AND i.rnk <= 10 THEN 1 ELSE 0 END) AS DOUBLE) / 10.0
               AS recall_at_10,
             CAST(count(*) AS DOUBLE) / 20.0 AS recall_at_20
      FROM ivf i JOIN brute b USING (q_id, vec_id)
      GROUP BY i.q_id ORDER BY i.q_id"""),
  )

  /** Product-quantization ANN with ADC scoring — the MEMORY-side
    * compression beside IVF's partition pruning (see
    * [[Similarity.pqCodebooks]]/[[Similarity.pqEncode]]/
    * [[Similarity.pqTopK]]): 64 floats per vector collapse to 4 code
    * ids; the query precomputes a 4×16-entry L2² ADC table and every
    * candidate's approximate distance is four lookups summed in PINNED
    * left-to-right order (a plain `sum()` would add in engine-arbitrary
    * order and break the differential — the same double-discipline as
    * the PrefixSum moments). Codebooks are id-sampled (the replayable
    * stand-in for per-subspace k-means, as in `ann_ivf_topk`); the
    * oracle replays codebooks, encoding argmin (ties to smallest code),
    * ADC table and the fixed-order sum, and carries the TRUE L2² beside
    * the estimate so the compression error is self-auditing. */
  private val annPq = Q(
    "ann_pq_adc",
    (s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val cbs = Similarity.pqCodebooks(emb, nCodes = 16, mSub = 4, dims = 64)
      val enc = Similarity.pqEncode(emb, cbs, mSub = 4, dims = 64)
      val query = emb.filter(col("vec_id") === 0)
        .select(col("embedding")).head().getSeq[Float](0)
      val top = Similarity.pqTopK(enc, cbs, query, k = 20, mSub = 4, dims = 64)
      val q = array(query.map(v => lit(v)): _*)
      top.join(emb, Seq("vec_id"))
        .select(col("vec_id"),
          round(col("pq_dist"), 6).as("pq_dist"),
          round(Similarity.l2sq(col("embedding"), q), 6).as("true_dist"))
        .orderBy(col("pq_dist").asc, col("vec_id"))
    },
    Some("""
      WITH cbsrc AS MATERIALIZED (
        SELECT vec_id AS code, embedding FROM embeddings ORDER BY vec_id LIMIT 16),
      cb AS MATERIALIZED (
        SELECT CAST(m.m AS BIGINT) AS m, code, embedding
        FROM cbsrc, unnest(range(0, 4)) m(m)),
      e AS MATERIALIZED (SELECT vec_id, embedding FROM embeddings),
      q AS MATERIALIZED (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
      dists AS (
        SELECT e.vec_id, cb.m, cb.code,
          list_sum(list_transform(range(CAST(cb.m*16 + 1 AS INTEGER), CAST(cb.m*16 + 17 AS INTEGER)),
            i -> (CAST(e.embedding[i] AS DOUBLE) - CAST(cb.embedding[i] AS DOUBLE))
               * (CAST(e.embedding[i] AS DOUBLE) - CAST(cb.embedding[i] AS DOUBLE)))) AS d
        FROM e, cb),
      enc AS (
        SELECT vec_id, m, code FROM (
          SELECT vec_id, m, code,
                 row_number() OVER (PARTITION BY vec_id, m ORDER BY d ASC, code ASC) AS rn
          FROM dists) t
        WHERE rn = 1),
      adc AS (
        SELECT cb.m, cb.code,
          list_sum(list_transform(range(CAST(cb.m*16 + 1 AS INTEGER), CAST(cb.m*16 + 17 AS INTEGER)),
            i -> (CAST(q.qv[i] AS DOUBLE) - CAST(cb.embedding[i] AS DOUBLE))
               * (CAST(q.qv[i] AS DOUBLE) - CAST(cb.embedding[i] AS DOUBLE)))) AS qd
        FROM cb, q),
      appx AS (
        SELECT enc.vec_id,
          sum(CASE WHEN enc.m = 0 THEN adc.qd END) AS d0,
          sum(CASE WHEN enc.m = 1 THEN adc.qd END) AS d1,
          sum(CASE WHEN enc.m = 2 THEN adc.qd END) AS d2,
          sum(CASE WHEN enc.m = 3 THEN adc.qd END) AS d3
        FROM enc JOIN adc ON enc.m = adc.m AND enc.code = adc.code
        GROUP BY 1),
      sel AS (
        SELECT vec_id, d0 + d1 + d2 + d3 AS pq FROM appx
        ORDER BY pq ASC, vec_id LIMIT 20),
      tru AS (
        SELECT sel.vec_id, sel.pq,
          list_sum(list_transform(range(1, 65),
            i -> (CAST(e.embedding[i] AS DOUBLE) - CAST(q.qv[i] AS DOUBLE))
               * (CAST(e.embedding[i] AS DOUBLE) - CAST(q.qv[i] AS DOUBLE)))) AS td
        FROM sel JOIN e ON sel.vec_id = e.vec_id, q)
      SELECT vec_id, round(pq, 6) AS pq_dist, round(td, 6) AS true_dist
      FROM tru ORDER BY round(pq, 6) ASC, vec_id"""),
  )

  /** IVF-PQ — the composed production ANN architecture (FAISS
    * IndexIVFPQ shape): IVF partition pruning picks WHICH buckets to
    * read, PQ-ADC compression decides HOW CHEAPLY to score them, exact
    * re-ranking repairs the shortlist — the three stages `ann_ivf_topk`
    * and `ann_pq_adc` prove separately, now composed the way a 100 TB
    * vector store actually runs: (1) probe the 4 nearest centroid
    * buckets (partition-pruned scan, nothing else read); (2) ADC-score
    * ONLY the probed candidates on their 4-byte PQ codes (the probed
    * slice of a code store ~64× smaller than the float vectors; fixed
    * left-to-right lookup sum, cross-engine pinned); (3) re-rank the
    * 20-row ADC shortlist by EXACT distance — a k-row join, so full
    * floats are touched for k vectors, not the corpus. The oracle
    * replays all three stages; `pq_dist` rides beside `true_dist` so
    * the compression error inside the probe stays self-auditing. */
  private val annIvfPq = Q(
    "ann_ivfpq_topk",
    (s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val centroids = Similarity.trainCentroidsById(emb, 16)
      val assigned = Similarity.assignToCentroids(emb, centroids)
      val cbs = Similarity.pqCodebooks(emb, nCodes = 16, mSub = 4, dims = 64)
      val enc = Similarity.pqEncode(emb, cbs, mSub = 4, dims = 64)
      val query = emb.filter(col("vec_id") === 0)
        .select(col("embedding")).head().getSeq[Float](0)
      val probedIds = Similarity.probedCentroidIds(centroids, query, nprobe = 4)
      val cand = assigned
        .filter(col("centroid_id").isin(probedIds: _*))
        .select("vec_id")
      val shortlist = Similarity.pqTopK(enc.join(cand, Seq("vec_id")),
        cbs, query, k = 20, mSub = 4, dims = 64)
      val q = array(query.map(v => lit(v)): _*)
      shortlist.join(emb, Seq("vec_id"))
        .select(col("vec_id"),
          round(col("pq_dist"), 6).as("pq_dist"),
          round(Similarity.l2sq(col("embedding"), q), 6).as("true_dist"))
        .orderBy(col("true_dist").asc, col("vec_id"))
    },
    Some(IVF_ORACLE_PRELUDE + """,
      q AS MATERIALIZED (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
      probed AS (
        SELECT centroid_id FROM (
          SELECT c.centroid_id,
            list_sum(list_transform(range(1, len(c.centroid)+1),
              i -> CAST(c.centroid[i] AS DOUBLE) * CAST(q.qv[i] AS DOUBLE)))
              / (sqrt(list_sum(list_transform(c.centroid, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE))))
                 * sqrt(list_sum(list_transform(q.qv, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE))))) AS sim
          FROM c, q ORDER BY sim DESC, centroid_id LIMIT 4) t),
      cand AS MATERIALIZED (
        SELECT a.vec_id, a.embedding FROM assigned a
        JOIN probed p ON a.centroid_id = p.centroid_id),
      cbsrc AS MATERIALIZED (
        SELECT vec_id AS code, embedding FROM embeddings ORDER BY vec_id LIMIT 16),
      cb AS MATERIALIZED (
        SELECT CAST(m.m AS BIGINT) AS m, code, embedding
        FROM cbsrc, unnest(range(0, 4)) m(m)),
      dists AS (
        SELECT cd.vec_id, cb.m, cb.code,
          list_sum(list_transform(range(CAST(cb.m*16 + 1 AS INTEGER), CAST(cb.m*16 + 17 AS INTEGER)),
            i -> (CAST(cd.embedding[i] AS DOUBLE) - CAST(cb.embedding[i] AS DOUBLE))
               * (CAST(cd.embedding[i] AS DOUBLE) - CAST(cb.embedding[i] AS DOUBLE)))) AS d
        FROM cand cd, cb),
      enc AS (
        SELECT vec_id, m, code FROM (
          SELECT vec_id, m, code,
                 row_number() OVER (PARTITION BY vec_id, m ORDER BY d ASC, code ASC) AS rn
          FROM dists) t
        WHERE rn = 1),
      adc AS (
        SELECT cb.m, cb.code,
          list_sum(list_transform(range(CAST(cb.m*16 + 1 AS INTEGER), CAST(cb.m*16 + 17 AS INTEGER)),
            i -> (CAST(q.qv[i] AS DOUBLE) - CAST(cb.embedding[i] AS DOUBLE))
               * (CAST(q.qv[i] AS DOUBLE) - CAST(cb.embedding[i] AS DOUBLE)))) AS qd
        FROM cb, q),
      appx AS (
        SELECT enc.vec_id,
          sum(CASE WHEN enc.m = 0 THEN adc.qd END) AS d0,
          sum(CASE WHEN enc.m = 1 THEN adc.qd END) AS d1,
          sum(CASE WHEN enc.m = 2 THEN adc.qd END) AS d2,
          sum(CASE WHEN enc.m = 3 THEN adc.qd END) AS d3
        FROM enc JOIN adc ON enc.m = adc.m AND enc.code = adc.code
        GROUP BY 1),
      sel AS (
        SELECT vec_id, d0 + d1 + d2 + d3 AS pq FROM appx
        ORDER BY pq ASC, vec_id LIMIT 20),
      tru AS (
        SELECT sel.vec_id, sel.pq,
          list_sum(list_transform(range(1, 65),
            i -> (CAST(cd.embedding[i] AS DOUBLE) - CAST(q.qv[i] AS DOUBLE))
               * (CAST(cd.embedding[i] AS DOUBLE) - CAST(q.qv[i] AS DOUBLE)))) AS td
        FROM sel JOIN cand cd ON sel.vec_id = cd.vec_id, q)
      SELECT vec_id, round(pq, 6) AS pq_dist, round(td, 6) AS true_dist
      FROM tru ORDER BY round(td, 6) ASC, vec_id"""),
  )

  /** Int8-quantized cosine scoring (the IVF probe's candidate scorer;
    * see [[Similarity.quantize]] / [[graft.expressions.Int8CosineSimilarity]]):
    * every vector scored against vec_id 0's quantized query. Fully
    * differential — the DuckDB oracle replays the quantization
    * bit-exactly: DuckDB FLOAT arithmetic is true float32, and the
    * quantizer rounds as `floor(fl32(x + 0.5f))` by construction
    * (deliberately NOT `Math.round`, whose JDK 9+ exact-sum semantics
    * would diverge from any float32 oracle in a half-ulp window), so
    * scale, per-slot rounding and clamping agree; the int8 dot/norms
    * are then exact 64-bit integers on both sides and the final double
    * division/sqrt are IEEE-identical. */
  private val annInt8 = Q(
    "ann_int8_score",
    (s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val qv = Similarity
        .quantize(emb.filter(col("vec_id") === 0).select("embedding"),
          vecCol = "embedding", qCol = "q8")
        .select("q8")
      Similarity.quantize(emb)
        .crossJoin(broadcast(qv))
        .select(col("vec_id"),
          graft.expressions.Int8CosineSimilarity.of(col("qvec"), col("q8")).as("q_cos"))
        .orderBy("vec_id")
    },
    Some("""
      WITH qz AS (
        SELECT vec_id,
               CASE WHEN list_max(list_transform(embedding, x -> abs(x))) = 0 THEN NULL
                    ELSE list_transform(embedding, x -> greatest(-127, least(127,
                      CAST(floor(CAST(x AS FLOAT)
                        / (CAST(list_max(list_transform(embedding, y -> abs(y))) AS FLOAT)
                           / CAST(127.0 AS FLOAT))
                        + CAST(0.5 AS FLOAT)) AS BIGINT)))) END AS q
        FROM embeddings),
      qq AS (SELECT q AS qref FROM qz WHERE vec_id = 0),
      scored AS (
        SELECT v.vec_id,
               CAST(list_sum(list_transform(range(1, len(v.q)+1),
                 i -> v.q[i] * r.qref[i])) AS DOUBLE) AS dot,
               CAST(list_sum(list_transform(v.q, x -> x*x)) AS DOUBLE) AS nx,
               CAST(list_sum(list_transform(r.qref, x -> x*x)) AS DOUBLE) AS ny
        FROM qz v, qq r)
      SELECT vec_id,
             CASE WHEN nx = 0 OR ny = 0 OR nx IS NULL OR ny IS NULL THEN NULL
                  ELSE dot / (sqrt(nx) * sqrt(ny)) END AS q_cos
      FROM scored ORDER BY vec_id"""),
  )

  /** Binary sign-signature ANN with Hamming screening — the 1-BIT
    * floor of the quantization ladder (float → int8 `ann_int8_score` →
    * PQ codes `ann_pq_adc` → sign bits): each 64-dim vector collapses
    * to two 32-bit sign words (1 bit per dimension, 16× below int8),
    * candidates rank by Hamming distance to the query signature
    * (popcount of XOR — two register ops per candidate), and the 25
    * survivors carry their TRUE cosine beside the bit distance so the
    * screen's fidelity is self-auditing, the `ann_pq_adc` true_dist
    * doctrine.
    *
    * Exactness: sign bits (x > 0) and their 2^j weights are exact in
    * any engine (powers of two are exact doubles; each word < 2^32 —
    * two half-words rather than one 64-bit word precisely so no bit
    * ever lands on the sign position, where engines' shift/overflow
    * conventions differ); XOR/popcount are integer ops; the true
    * cosine is the one double at the end (in-order accumulation both
    * sides), rounded to 6 dp with vec_id the total tiebreak.
    *
    * 100 TB design: signatures build in one posexplode aggregate
    * (compiled — no HOF lambdas, per the global plan pin) and land in
    * 16 bytes/vector — a 1 B-vector signature store is 16 GB, RAM-
    * resident per executor where the float corpus is 256 GB; the
    * Hamming screen broadcasts TWO LONGS into a map-side TakeOrdered
    * heap (k·partitions rows cross the wire, never the corpus), and
    * only the k winners touch the float corpus again for exact
    * rescoring — screen-then-rescore with the screen at bit
    * granularity. */
  private val annHamming = Q(
    "ann_hamming_topk",
    (s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val e = emb.select(col("vec_id"), posexplode(col("embedding")))
        .toDF("vec_id", "pos", "x")
      def bitVal(p: org.apache.spark.sql.Column) =
        pow(lit(2.0), p.cast("double")).cast("long")
      val sig = e.groupBy("vec_id").agg(
        sum(when(col("pos") < 32 && col("x") > 0f, bitVal(col("pos")))
          .otherwise(0L)).as("w0"),
        sum(when(col("pos") >= 32 && col("x") > 0f, bitVal(col("pos") - 32))
          .otherwise(0L)).as("w1"))
      val qsig = sig.filter(col("vec_id") === 0)
        .select(col("w0").as("q0"), col("w1").as("q1"))
      val screened = sig.filter(col("vec_id") =!= 0)
        .crossJoin(broadcast(qsig))
        .select(col("vec_id"),
          (bit_count(col("w0").bitwiseXOR(col("q0"))) +
            bit_count(col("w1").bitwiseXOR(col("q1")))).cast("long").as("hamming"))
        .orderBy(col("hamming").asc, col("vec_id"))
        .limit(25)
      val query = emb.filter(col("vec_id") === 0)
        .select(col("embedding")).head().getSeq[Float](0)
      val qArr = array(query.map(v => lit(v)): _*)
      screened.join(emb, Seq("vec_id"))
        .select(col("vec_id"), col("hamming"),
          round(Similarity.cosine(col("embedding"), qArr), 6).as("true_cos"))
        .orderBy(col("hamming").asc, col("vec_id"))
    },
    Some("""
      WITH e AS (SELECT vec_id, unnest(range(0, len(embedding))) AS pos,
                        unnest(embedding) AS x
                 FROM embeddings),
      sig AS (SELECT vec_id,
        CAST(sum(CASE WHEN pos < 32 AND x > 0
                      THEN CAST(pow(2.0, pos) AS BIGINT) ELSE 0 END) AS BIGINT) AS w0,
        CAST(sum(CASE WHEN pos >= 32 AND x > 0
                      THEN CAST(pow(2.0, pos - 32) AS BIGINT) ELSE 0 END) AS BIGINT) AS w1
        FROM e GROUP BY 1),
      q AS (SELECT w0 AS q0, w1 AS q1 FROM sig WHERE vec_id = 0),
      h AS (SELECT s.vec_id,
              CAST(bit_count(xor(s.w0, q.q0))
                 + bit_count(xor(s.w1, q.q1)) AS BIGINT) AS hamming
            FROM sig s, q WHERE s.vec_id <> 0),
      sel AS (SELECT vec_id, hamming FROM h ORDER BY hamming, vec_id LIMIT 25),
      qv AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
      tc AS (SELECT sel.vec_id, sel.hamming,
               list_sum(list_transform(range(1, len(e2.embedding)+1),
                 i -> CAST(e2.embedding[i] AS DOUBLE) * CAST(qv.qe[i] AS DOUBLE)))
               / (sqrt(list_sum(list_transform(e2.embedding,
                    x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
                  * sqrt(list_sum(list_transform(qv.qe,
                      x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))) AS cos
             FROM sel JOIN embeddings e2 USING (vec_id), qv)
      SELECT vec_id, hamming, round(cos, 6) AS true_cos
      FROM tc ORDER BY hamming, vec_id"""),
  )

  /** Distributed Lloyd k-means convergence schedule (see
    * [[Similarity.lloydStats]] for the exact fixed-point contract
    * that makes an iterative k-means differentially replayable): 8
    * centroids, 3 rounds, per-round inertia + cluster-shape row —
    * the elbow/monitoring frame of the clustering family, and the
    * real "training" the IVF/semdedup centroid tables stand in for.
    * The oracle unrolls the same 3 rounds (the LPA/k-core doctrine:
    * fixed budget IS the contract), replaying quantization, exact
    * integer distances, smallest-id tie-breaks and the truncating
    * centroid update. */
  private val embKmeans = Q(
    "emb_kmeans_lloyd",
    (s, dir) => Similarity.lloydStats(Tables.embeddings(s, dir), k = 8, rounds = 3),
    Some {
      val rounds = (1 to 3).map { r =>
        s"""d$r AS (SELECT e.vec_id, c.cid,
               sum((1024*e.xq - c.c) * (1024*e.xq - c.c)) AS d
             FROM eq e JOIN c${r - 1} c USING (pos) GROUP BY 1, 2),
      a$r AS MATERIALIZED (SELECT vec_id, cid, d FROM (
               SELECT vec_id, cid, d,
                      row_number() OVER (PARTITION BY vec_id ORDER BY d, cid) AS rn
               FROM d$r) t WHERE rn = 1),
      z$r AS (SELECT cid, count(*) AS n FROM a$r GROUP BY 1),
      m$r AS (SELECT CAST($r AS BIGINT) AS round,
                     CAST((SELECT sum(d) FROM a$r) AS BIGINT) AS inertia,
                     CAST((SELECT count(*) FROM z$r) AS BIGINT) AS n_clusters,
                     CAST((SELECT max(n) FROM z$r) AS BIGINT) AS largest_cluster),
      c$r AS MATERIALIZED (
        SELECT a.cid, e.pos,
               CAST((1024*sum(e.xq) - (1024*sum(e.xq)) % count(*))
                    / count(*) AS BIGINT) AS c
        FROM a$r a JOIN eq e USING (vec_id) GROUP BY 1, 2)"""
      }.mkString(",\n      ")
      s"""
      WITH eq AS MATERIALIZED (
        SELECT vec_id, CAST(pos AS BIGINT) AS pos,
               CAST(floor(CAST(x AS DOUBLE) * 1000.0) AS BIGINT) + 1000 AS xq
        FROM (SELECT vec_id, unnest(range(0, len(embedding))) AS pos,
                     unnest(embedding) AS x
              FROM embeddings)),
      c0 AS MATERIALIZED (
        SELECT vec_id AS cid, pos, 1024*xq AS c FROM eq WHERE vec_id < 8),
      $rounds
      SELECT * FROM m1 UNION ALL SELECT * FROM m2 UNION ALL SELECT * FROM m3
      ORDER BY round"""
    },
  )

  /** Embedding-cosine near-duplicate pairs via centroid-bucketed
    * self-join (never all-pairs; see [[Similarity.nearDupPairs]]).
    * Threshold 0.35 — the synthetic embeddings are random (max pairwise
    * cosine ≈ 0.51), so a realistic 0.95 would make the differential
    * check vacuously empty; 0.35 exercises assignment, bucketed pair
    * generation, and exact scoring with ~100 surviving pairs. Oracle
    * replicates the full pipeline. */
  private val NEAR_DUP_ORACLE = IVF_ORACLE_PRELUDE + """,
      cand AS (
        SELECT a.vec_id AS id_a, b.vec_id AS id_b,
               a.embedding AS va, b.embedding AS vb
        FROM assigned a JOIN assigned b
          ON a.centroid_id = b.centroid_id AND a.vec_id < b.vec_id),
      scored AS (
        SELECT id_a, id_b,
          list_sum(list_transform(range(1, len(va)+1),
            i -> CAST(va[i] AS DOUBLE) * CAST(vb[i] AS DOUBLE)))
            / (sqrt(list_sum(list_transform(va, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE))))
               * sqrt(list_sum(list_transform(vb, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE))))) AS cos
        FROM cand)
      SELECT id_a, id_b, round(cos, 6) AS cosine FROM scored
      WHERE cos >= 0.35 ORDER BY id_a, id_b"""

  private val embNearDup = Q(
    "emb_near_dup_pairs",
    (s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val centroids = Similarity.trainCentroidsById(emb, 16)
      val assigned = Similarity.assignToCentroids(emb, centroids)
      Similarity.nearDupPairs(assigned, threshold = 0.35)
        .withColumn("cosine", round(col("cosine"), 6))
        .orderBy("id_a", "id_b")
    },
    Some(NEAR_DUP_ORACLE),
  )

  /** The quantized-prescreen variant MUST produce byte-identical output
    * to emb_near_dup_pairs (the int8 filter at threshold−0.05 is
    * recall-lossless for this corpus's ≈0.003 max quantization error),
    * so it shares the exact same DuckDB oracle — if the prescreen ever
    * loses a borderline pair, the differential gate goes red. */
  private val embNearDupQ = Q(
    "emb_near_dup_pairs_q",
    (s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val centroids = Similarity.trainCentroidsById(emb, 16)
      val assignedQ = Similarity.assignToCentroids(
        Similarity.quantize(emb), centroids)
      Similarity.nearDupPairsQuantized(assignedQ, emb, threshold = 0.35)
        .withColumn("cosine", round(col("cosine"), 6))
        .orderBy("id_a", "id_b")
    },
    Some(NEAR_DUP_ORACLE),
  )

  /** Embedding near-dup via random-hyperplane LSH — the TRAINING-FREE
    * scale path beside the IVF centroids ([[graft.expressions.HyperplaneBits]]:
    * 32 sign bits over the int8-quantized vector, banded 4×8). Bucketing
    * is one narrow compiled pass + a band self-join; with 8-bit bands a
    * random pair collides in ~1.5% of cases while a true near-dup
    * (cos ≈ 0.97) collides with ~95% probability — candidate generation
    * never goes all-pairs, exact scoring touches survivors only.
    *
    * The synthetic corpus is random (max pairwise cosine ≈ 0.51), so
    * near-duplicates are PLANTED: every vector gets a copy (id+100000)
    * with its last component bumped +0.25f — float32 arithmetic the
    * oracle reproduces bit-exactly, cosine ≈ 0.97. The oracle then
    * replays quantization, the integer LCG hyperplanes, banding, the
    * candidate join and exact scoring — all-integer signatures mean no
    * cross-engine float rounding can flip a bucket boundary. */
  private val embLsh = Q(
    "emb_lsh_pairs",
    (s, dir) => {
      val dims = 64
      val nPlanes = 32
      val bandBits = 8
      val emb = Tables.embeddings(s, dir).select("vec_id", "embedding")
      val planted = emb.select(
        (col("vec_id") + lit(100000L)).as("vec_id"),
        concat(slice(col("embedding"), 1, dims - 1),
          array((element_at(col("embedding"), dims) + lit(0.25f)).cast("float")))
          .as("embedding"))
      val sig = Similarity.quantize(emb.unionByName(planted))
        .select(col("vec_id"), col("embedding"),
          graft.expressions.HyperplaneBits.of(col("qvec"), nPlanes, 1).as("sig"))
        .filter(col("sig").isNotNull)
        .persist() // feeds the band join (twice) and the score join (twice)
      val bands = sig.select(col("vec_id"),
        Similarity.lshBands(col("sig"), nPlanes, bandBits).as("band"))
      val cand = bands.as("a").join(bands.as("b"),
        col("a.band") === col("b.band") && col("a.vec_id") < col("b.vec_id"))
        .select(col("a.vec_id").as("id_a"), col("b.vec_id").as("id_b"))
        .distinct()
      val vecs = sig.select(col("vec_id"), col("embedding"))
      val out = cand
        .join(vecs.select(col("vec_id").as("id_a"), col("embedding").as("va")), "id_a")
        .join(vecs.select(col("vec_id").as("id_b"), col("embedding").as("vb")), "id_b")
        .withColumn("cos",
          graft.expressions.CosineSimilarity.of(col("va"), col("vb")))
        .filter(col("cos") >= 0.9)
        .select(col("id_a"), col("id_b"), round(col("cos"), 6).as("cosine"))
        .orderBy("id_a", "id_b")
        .persist()
      out.count() // materialize, then drop the signature table
      sig.unpersist()
      out
    },
    Some("""
      WITH base AS (
        SELECT vec_id, embedding FROM embeddings
        UNION ALL
        SELECT vec_id + 100000,
               list_concat(embedding[1:63],
                 [CAST(CAST(embedding[64] AS FLOAT) + CAST(0.25 AS FLOAT) AS FLOAT)])
        FROM embeddings),
      qz AS (
        SELECT vec_id, embedding,
               CASE WHEN list_max(list_transform(embedding, x -> abs(x))) = 0 THEN NULL
                    ELSE list_transform(embedding, x -> greatest(-127, least(127,
                      CAST(floor(CAST(x AS FLOAT)
                        / (CAST(list_max(list_transform(embedding, y -> abs(y))) AS FLOAT)
                           / CAST(127.0 AS FLOAT))
                        + CAST(0.5 AS FLOAT)) AS BIGINT)))) END AS q
        FROM base),
      w AS (SELECT p.p AS p, d.d AS d,
                   ((1103515245 * (1 + p.p * 8192 + d.d) + 12345) % 2001) - 1000 AS wv
            FROM range(0, 32) p(p), range(0, 64) d(d)),
      dots AS (
        SELECT z.vec_id, w.p, sum(z.q[CAST(w.d AS INT) + 1] * w.wv) AS dot
        FROM qz z JOIN w ON w.d < len(z.q)
        WHERE z.q IS NOT NULL
        GROUP BY z.vec_id, w.p),
      bands AS (
        SELECT vec_id, p // 8 AS band_no,
               string_agg(CASE WHEN dot >= 0 THEN '1' ELSE '0' END, '' ORDER BY p) AS bv
        FROM dots GROUP BY vec_id, p // 8),
      cand AS (
        SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
        FROM bands a JOIN bands b
          ON a.band_no = b.band_no AND a.bv = b.bv AND a.vec_id < b.vec_id),
      scored AS (
        SELECT c.id_a, c.id_b,
          list_sum(list_transform(range(1, len(x.embedding)+1),
            i -> CAST(x.embedding[i] AS DOUBLE) * CAST(y.embedding[i] AS DOUBLE)))
            / (sqrt(list_sum(list_transform(x.embedding, v -> CAST(v AS DOUBLE)*CAST(v AS DOUBLE))))
               * sqrt(list_sum(list_transform(y.embedding, v -> CAST(v AS DOUBLE)*CAST(v AS DOUBLE))))) AS cos
        FROM cand c
        JOIN base x ON c.id_a = x.vec_id
        JOIN base y ON c.id_b = y.vec_id)
      SELECT id_a, id_b, round(cos, 6) AS cosine
      FROM scored WHERE cos >= 0.9 ORDER BY id_a, id_b"""),
  )

  /** The streaming half of LSH near-dup ([[Similarity.lshScreen]] —
    * training-free counterpart of `stream_near_dup_screen`): a
    * micro-batch of perturbed copies (vec_id+100000, last component
    * +0.25f, cosine ≈ 0.97 to its source) is screened against the full
    * corpus as a signature index. The batch side computes signatures
    * inline and is BROADCAST into the band join — the index is scanned
    * once, never shuffled, which is the per-micro-batch cost model that
    * matters when the index is 100 TB and the batch is thousands of
    * rows. Oracle replays quantization, hyperplanes, banding, the
    * batch×index band join and exact scoring (prescreen omitted — the
    * 0.05 margin vs ≈0.003 measured int8 error keeps it recall-lossless,
    * same reliance as stream_near_dup_screen). */
  private val streamLsh = Q(
    "stream_lsh_screen",
    (s, dir) => {
      val dims = 64
      val nPlanes = 32
      val bandBits = 8
      val emb = Tables.embeddings(s, dir).select("vec_id", "embedding")
      val batch = emb.filter(col("vec_id") % 4 === 0).select(
        (col("vec_id") + lit(100000L)).as("vec_id"),
        concat(slice(col("embedding"), 1, dims - 1),
          array((element_at(col("embedding"), dims) + lit(0.25f)).cast("float")))
          .as("embedding"))
      val indexSig = Similarity.quantize(emb)
        .withColumn("sig",
          graft.expressions.HyperplaneBits.of(col("qvec"), nPlanes, 1))
        .filter(col("sig").isNotNull)
      Similarity.lshScreen(batch, indexSig, emb, threshold = 0.9,
          nPlanes = nPlanes, bandBits = bandBits)
        .withColumn("cosine", round(col("cosine"), 6))
        .orderBy("vec_id", "match_id")
    },
    Some("""
      WITH base AS (
        SELECT 'i' AS side, vec_id, embedding FROM embeddings
        UNION ALL
        SELECT 'b', vec_id + 100000,
               list_concat(embedding[1:63],
                 [CAST(CAST(embedding[64] AS FLOAT) + CAST(0.25 AS FLOAT) AS FLOAT)])
        FROM embeddings WHERE vec_id % 4 = 0),
      qz AS (
        SELECT side, vec_id, embedding,
               CASE WHEN list_max(list_transform(embedding, x -> abs(x))) = 0 THEN NULL
                    ELSE list_transform(embedding, x -> greatest(-127, least(127,
                      CAST(floor(CAST(x AS FLOAT)
                        / (CAST(list_max(list_transform(embedding, y -> abs(y))) AS FLOAT)
                           / CAST(127.0 AS FLOAT))
                        + CAST(0.5 AS FLOAT)) AS BIGINT)))) END AS q
        FROM base),
      w AS (SELECT p.p AS p, d.d AS d,
                   ((1103515245 * (1 + p.p * 8192 + d.d) + 12345) % 2001) - 1000 AS wv
            FROM range(0, 32) p(p), range(0, 64) d(d)),
      dots AS (
        SELECT z.side, z.vec_id, w.p, sum(z.q[CAST(w.d AS INT) + 1] * w.wv) AS dot
        FROM qz z JOIN w ON w.d < len(z.q)
        WHERE z.q IS NOT NULL
        GROUP BY z.side, z.vec_id, w.p),
      bands AS (
        SELECT side, vec_id, p // 8 AS band_no,
               string_agg(CASE WHEN dot >= 0 THEN '1' ELSE '0' END, '' ORDER BY p) AS bv
        FROM dots GROUP BY side, vec_id, p // 8),
      cand AS (
        SELECT DISTINCT b.vec_id, i.vec_id AS match_id
        FROM bands b JOIN bands i
          ON b.band_no = i.band_no AND b.bv = i.bv
        WHERE b.side = 'b' AND i.side = 'i' AND b.vec_id <> i.vec_id),
      scored AS (
        SELECT c.vec_id, c.match_id,
          list_sum(list_transform(range(1, len(x.embedding)+1),
            i -> CAST(x.embedding[i] AS DOUBLE) * CAST(y.embedding[i] AS DOUBLE)))
            / (sqrt(list_sum(list_transform(x.embedding, v -> CAST(v AS DOUBLE)*CAST(v AS DOUBLE))))
               * sqrt(list_sum(list_transform(y.embedding, v -> CAST(v AS DOUBLE)*CAST(v AS DOUBLE))))) AS cos
        FROM cand c
        JOIN base x ON x.side = 'b' AND c.vec_id = x.vec_id
        JOIN base y ON y.side = 'i' AND c.match_id = y.vec_id)
      SELECT vec_id, match_id, round(cos, 6) AS cosine
      FROM scored WHERE cos >= 0.9 ORDER BY vec_id, match_id"""),
  )

  // ----------------------------------------------------------- Multimodal
  /** Multimodal decode/feature stage over mapPartitions (STUB decoder —
    * see [[Multimodal.StubDecoder]]; the Spark plumbing is the product).
    * EVERY decoder output crosses the oracle: byte_len/content_md5/
    * frame_count directly, and the float32 feature vector as its
    * recovered integer byte-sums — feature[i] = fl32(S_i / D) with
    * D = 255·(len/8+1) known, so round(feature[i]·D) = S_i exactly
    * WHILE the fl32 relative error stays below half a unit: D·2⁻²⁴ <
    * 0.5 ⇔ byte_len ≲ 263 KB. Recovery is GUARDED to byte_len ≤ 200000
    * (NULL beyond, mirrored in the oracle) so a future corpus with a
    * single huge document degrades that row's feature check to NULL
    * instead of flaking the whole gate off-by-one. DuckDB recomputes
    * each S_i from the blob's hex (strpos nibble decode) — integer
    * compares, no cross-engine float32-division bit-matching. */
  private val mmFeatures = Q(
    "multimodal_features",
    (s, dir) => {
      val packed = Multimodal.pack(
        Tables.documents(s, dir).withColumn("payload", to_binary(col("text"), lit("utf-8"))),
        "doc_id", "payload", "text/plain", "documents")
      val denom = lit(255.0) * (floor(col("byte_len") / 8) + lit(1))
      Multimodal.extractFeatures(packed)
        .select(Seq(
          col("media_id"), col("metadata.media_type").as("media_type"),
          col("byte_len"), col("content_md5"), col("frame_count")) ++
          (0 until Multimodal.StubDecoder.FeatureDim).map { i =>
            when(col("byte_len") <= 200000,
              round(element_at(col("feature"), i + 1).cast("double") * denom)
                .cast("long")).as(s"fsum$i")
          }: _*)
        .orderBy("media_id")
    },
    Some("""
      WITH b AS (
        SELECT doc_id, text, hex(encode(text)) AS hx,
               CAST(octet_length(encode(text)) AS BIGINT) AS len
        FROM documents),
      bytes AS (
        SELECT doc_id, CAST(u.i AS BIGINT) - 1 AS pos,
               (strpos('0123456789ABCDEF', substr(hx, CAST(2*u.i - 1 AS INT), 1)) - 1) * 16 +
                strpos('0123456789ABCDEF', substr(hx, CAST(2*u.i AS INT), 1)) - 1 AS bv
        FROM b, unnest(range(1, CAST(b.len AS INT) + 1)) u(i)),
      sums AS (
        SELECT doc_id,
      """ + (0 until 8).map(i =>
        s"CAST(sum(CASE WHEN pos % 8 = $i THEN bv ELSE 0 END) AS BIGINT) AS fsum$i")
        .mkString(",\n      ") + """
        FROM bytes GROUP BY doc_id)
      SELECT b.doc_id AS media_id, 'text/plain' AS media_type,
             b.len AS byte_len, md5(b.text) AS content_md5,
             CAST(1 + b.len // 64 AS INT) AS frame_count,
      """ + (0 until 8).map(i =>
        s"CASE WHEN b.len <= 200000 THEN coalesce(s.fsum$i, 0) END AS fsum$i")
        .mkString(",\n      ") + """
      FROM b LEFT JOIN sums s ON b.doc_id = s.doc_id
      ORDER BY media_id"""),
  )

  /** Frame/segment sampling (the video-frame stand-in, pure SQL over
    * binary — see [[Multimodal.sampleFrames]]): deterministic 32-byte
    * slices, 3 per blob, verified by md5. The corpus is pure ASCII at
    * every scale factor, so the DuckDB oracle can slice the varchar
    * (chars == bytes) and hash the encoded slice; out-of-range frames
    * are empty on both sides (md5 of the empty payload). */
  private val mmFrames = Q(
    "multimodal_frames",
    (s, dir) => {
      val packed = Multimodal.pack(
        Tables.documents(s, dir).withColumn("payload", to_binary(col("text"), lit("utf-8"))),
        "doc_id", "payload", "text/plain", "documents")
      Multimodal.sampleFrames(packed, frameBytes = 32, nFrames = 3)
        .select(col("media_id"), col("frame_no"),
          length(col("frame_bytes")).cast("long").as("frame_len"),
          md5(col("frame_bytes")).as("frame_md5"))
        .orderBy("media_id", "frame_no")
    },
    Some("""
      WITH f AS (SELECT doc_id, text, CAST(u.i AS INT) AS frame_no
                 FROM documents, unnest(range(0, 3)) u(i)),
      sl AS (SELECT doc_id AS media_id, frame_no,
                    substring(text, frame_no * 32 + 1, 32) AS fb
             FROM f)
      SELECT media_id, frame_no,
             CAST(octet_length(encode(fb)) AS BIGINT) AS frame_len,
             md5(fb) AS frame_md5
      FROM sl ORDER BY media_id, frame_no"""),
  )

  /** REAL image decode, differentially verified: a deterministic 4×4
    * PNG is synthesized per document row ([[Multimodal.syntheticImage]]:
    * `doc_id % 17` white pixels, rest black), PNG-encoded and decoded
    * back through `javax.imageio` on the executors
    * ([[Multimodal.decodeImages]]), and the decoded luminance histogram
    * is checked against pure arithmetic on doc_id — white pixels land in
    * bin 7, black in bin 0, both exact binary fractions (w/16) so the
    * float→double cast is bit-exact cross-engine. The codec round-trip
    * (encode → decode → histogram) runs distributed; the oracle needs no
    * codec at all. */
  private val mmDecode = Q(
    "multimodal_decode",
    (s, dir) => {
      import org.apache.spark.sql.{Encoders, Row}
      import org.apache.spark.sql.types._
      val enc = Encoders.row(StructType(Seq(
        StructField("doc_id", LongType, nullable = false),
        StructField("payload", BinaryType))))
      val withImg = Tables.documents(s, dir).select("doc_id")
        .mapPartitions { rows =>
          rows.map(r => Row(r.getLong(0), Multimodal.syntheticImage(r.getLong(0))))
        }(enc)
      val packed = Multimodal.pack(withImg, "doc_id", "payload",
        "image/png", "synthetic")
      Multimodal.decodeImages(packed)
        .select(
          col("media_id"),
          col("width").cast("long").as("width"),
          col("height").cast("long").as("height"),
          element_at(col("feature"), 1).cast("double").as("bin_black"),
          element_at(col("feature"), 8).cast("double").as("bin_white"))
        .orderBy("media_id")
    },
    Some("""
      SELECT doc_id AS media_id,
             CAST(4 AS BIGINT) AS width,
             CAST(4 AS BIGINT) AS height,
             CAST(16 - doc_id % 17 AS DOUBLE) / 16 AS bin_black,
             CAST(doc_id % 17 AS DOUBLE) / 16 AS bin_white
      FROM documents ORDER BY media_id"""),
  )

  /** REAL resize, differentially verified without any codec in the
    * oracle: synth(k) is 4×4 with the first k%17 pixels white
    * (row-major); the engine's nearest-neighbor 2×2 resize samples
    * source pixels (0,0),(2,0),(0,2),(2,2) — linear indices 0,2,8,10 —
    * so the RE-DECODED white fraction is pure arithmetic on k
    * (white iff index < k%17, each pixel an exact quarter). The
    * resize → PNG re-encode → decode round trip runs distributed;
    * a wrong sampling offset, row stride, or encode corruption all
    * shift the fraction. */
  private val mmResize = Q(
    "multimodal_resize",
    (s, dir) => {
      import org.apache.spark.sql.{Encoders, Row}
      import org.apache.spark.sql.types._
      val enc = Encoders.row(StructType(Seq(
        StructField("doc_id", LongType, nullable = false),
        StructField("payload", BinaryType))))
      val withImg = Tables.documents(s, dir).select("doc_id")
        .mapPartitions { rows =>
          rows.map(r => Row(r.getLong(0), Multimodal.syntheticImage(r.getLong(0))))
        }(enc)
      val packed = Multimodal.pack(withImg, "doc_id", "payload",
        "image/png", "synthetic")
      val resized = Multimodal.resizeImages(packed, 2, 2)
      Multimodal.decodeImages(resized.select(col("media_id"),
          col("resized_payload").as("payload"), col("metadata")))
        .select(
          col("media_id"),
          col("width").cast("long").as("out_w"),
          col("height").cast("long").as("out_h"),
          element_at(col("feature"), 8).cast("double").as("white_frac"))
        .orderBy("media_id")
    },
    Some("""
      SELECT doc_id AS media_id,
             CAST(2 AS BIGINT) AS out_w,
             CAST(2 AS BIGINT) AS out_h,
             CAST((CASE WHEN doc_id % 17 > 0 THEN 1 ELSE 0 END)
                + (CASE WHEN doc_id % 17 > 2 THEN 1 ELSE 0 END)
                + (CASE WHEN doc_id % 17 > 8 THEN 1 ELSE 0 END)
                + (CASE WHEN doc_id % 17 > 10 THEN 1 ELSE 0 END) AS DOUBLE) / 4
               AS white_frac
      FROM documents ORDER BY media_id"""),
  )

  /** REAL perceptual hashing (aHash), differentially verified with no
    * codec in the oracle: on synth(k) — 4×4, first w=k%17 pixels white
    * — a 4×4-grid aHash samples the identity grid, so the integer mean
    * is ⌊255w/16⌋ and the hash is pure arithmetic on k: white cells
    * are always ≥ mean (first w bits set, MSB-first), black cells pass
    * only when w=0 (mean 0 → ALL 16 bits set — the degenerate
    * flat-image case, exercised non-vacuously by every doc_id ≡ 0 mod
    * 17). A wrong luma formula, bit order, grid mapping, or mean
    * rounding all shift the value. This is the near-duplicate-IMAGE
    * screen: re-encoded/resized copies keep their aHash while changing
    * their content md5. */
  private val mmPhash = Q(
    "multimodal_phash",
    (s, dir) => {
      import org.apache.spark.sql.{Encoders, Row}
      import org.apache.spark.sql.types._
      val enc = Encoders.row(StructType(Seq(
        StructField("doc_id", LongType, nullable = false),
        StructField("payload", BinaryType))))
      val withImg = Tables.documents(s, dir).select("doc_id")
        .mapPartitions { rows =>
          rows.map(r => Row(r.getLong(0), Multimodal.syntheticImage(r.getLong(0))))
        }(enc)
      val packed = Multimodal.pack(withImg, "doc_id", "payload",
        "image/png", "synthetic")
      Multimodal.hashImages(packed, gridW = 4, gridH = 4)
        .select(
          col("media_id"),
          col("phash"),
          col("phash_bits").cast("long").as("phash_bits"))
        .orderBy("media_id")
    },
    Some("""
      SELECT doc_id AS media_id,
             CAST(CASE WHEN doc_id % 17 = 0 THEN 65535
                  ELSE 65536 - (CAST(1 AS BIGINT)
                                << CAST(16 - doc_id % 17 AS INTEGER))
                  END AS BIGINT) AS phash,
             CAST(CASE WHEN doc_id % 17 = 0 THEN 16 ELSE doc_id % 17 END
               AS BIGINT) AS phash_bits
      FROM documents ORDER BY media_id"""),
  )

  /** REAL audio decode, differentially verified with no codec in the
    * oracle (the WAV analog of `multimodal_decode`): syntheticWav(k)
    * holds k%17 loud 10-frame segments of amplitude exactly 0.5 in 160
    * frames, so the decoded mean absolute amplitude is (k%17)/32 — an
    * exact binary fraction. The WAV encode → header parse → PCM walk
    * runs distributed via `javax.sound.sampled`. */
  private val mmAudio = Q(
    "multimodal_audio",
    (s, dir) => {
      import org.apache.spark.sql.{Encoders, Row}
      import org.apache.spark.sql.types._
      val enc = Encoders.row(StructType(Seq(
        StructField("doc_id", LongType, nullable = false),
        StructField("payload", BinaryType))))
      val withWav = Tables.documents(s, dir).select("doc_id")
        .mapPartitions { rows =>
          rows.map(r => Row(r.getLong(0), Multimodal.syntheticWav(r.getLong(0))))
        }(enc)
      val packed = Multimodal.pack(withWav, "doc_id", "payload",
        "audio/wav", "synthetic")
      Multimodal.decodeAudio(packed)
        .select(
          col("media_id"),
          col("sample_rate").cast("long").as("sample_rate"),
          col("n_samples"),
          col("mean_abs"))
        .orderBy("media_id")
    },
    Some("""
      SELECT doc_id AS media_id,
             CAST(8000 AS BIGINT) AS sample_rate,
             CAST(160 AS BIGINT) AS n_samples,
             CAST(doc_id % 17 AS DOUBLE) / 32 AS mean_abs
      FROM documents ORDER BY media_id"""),
  )

  /** The micro-batch near-dup screen ([[Similarity.nearDupScreen]] —
    * the streaming half of embedding dedup, exercised here as one
    * batch): embeddings are split into a stored index (3/4, assigned
    * with nAssign=2 for boundary recall) and an incoming "micro-batch"
    * (1/4); every batch doc is assigned inline (shuffle-free), the
    * index is pruned to the batch's buckets, int8-prescreened, and
    * exact-scored. The oracle replicates index assignment (rank ≤ 2),
    * batch assignment (rank = 1) and exact cosine independently — the
    * prescreen must be recall-lossless (margin 0.05 vs ≈0.003 measured
    * int8 error, same guard as emb_near_dup_pairs_q) or the gate reds. */
  private val streamScreen = Q(
    "stream_near_dup_screen",
    (s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val index = emb.filter(col("vec_id") % 4 =!= 0)
      val batch = emb.filter(col("vec_id") % 4 === 0)
      val centroids = Similarity.trainCentroidsById(index, 16)
      val indexQ = Similarity.assignToCentroids(
        Similarity.quantize(index), centroids, nAssign = 2)
      Similarity.nearDupScreen(batch, indexQ, index, centroids, threshold = 0.35)
        .withColumn("cosine", round(col("cosine"), 6))
        .orderBy("vec_id", "match_id")
    },
    Some("""
      WITH idx AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id % 4 <> 0),
      bat AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id % 4 = 0),
      c AS (SELECT vec_id AS centroid_id, embedding AS centroid
            FROM idx ORDER BY vec_id LIMIT 16),
      ip AS (
        SELECT i.vec_id, c.centroid_id,
          list_sum(list_transform(range(1, len(i.embedding)+1),
            n -> CAST(i.embedding[n] AS DOUBLE) * CAST(c.centroid[n] AS DOUBLE)))
            / (sqrt(list_sum(list_transform(i.embedding, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE))))
               * sqrt(list_sum(list_transform(c.centroid, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE))))) AS sim
        FROM idx i, c),
      iassigned AS (
        SELECT vec_id, centroid_id FROM (
          SELECT vec_id, centroid_id,
                 row_number() OVER (PARTITION BY vec_id ORDER BY sim DESC, centroid_id) AS rn
          FROM ip) t WHERE rn <= 2),
      bp AS (
        SELECT b.vec_id, c.centroid_id,
          list_sum(list_transform(range(1, len(b.embedding)+1),
            n -> CAST(b.embedding[n] AS DOUBLE) * CAST(c.centroid[n] AS DOUBLE)))
            / (sqrt(list_sum(list_transform(b.embedding, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE))))
               * sqrt(list_sum(list_transform(c.centroid, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE))))) AS sim
        FROM bat b, c),
      bassigned AS (
        SELECT vec_id, centroid_id FROM (
          SELECT vec_id, centroid_id,
                 row_number() OVER (PARTITION BY vec_id ORDER BY sim DESC, centroid_id) AS rn
          FROM bp) t WHERE rn = 1),
      cand AS (
        SELECT b.vec_id, i.vec_id AS match_id
        FROM bassigned b JOIN iassigned i USING (centroid_id)
        WHERE b.vec_id <> i.vec_id),
      scored AS (
        SELECT cd.vec_id, cd.match_id,
          list_sum(list_transform(range(1, len(vb.embedding)+1),
            n -> CAST(vb.embedding[n] AS DOUBLE) * CAST(vi.embedding[n] AS DOUBLE)))
            / (sqrt(list_sum(list_transform(vb.embedding, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE))))
               * sqrt(list_sum(list_transform(vi.embedding, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE))))) AS cos
        FROM cand cd
        JOIN bat vb ON cd.vec_id = vb.vec_id
        JOIN idx vi ON cd.match_id = vi.vec_id)
      SELECT vec_id, match_id, round(cos, 6) AS cosine
      FROM scored WHERE cos >= 0.35
      ORDER BY vec_id, match_id"""),
  )

  /** SemDeDup-style SEMANTIC dedup (Abbas et al. 2023, "SemDeDup:
    * Data-efficient learning at web-scale through semantic
    * deduplication"): cluster the embedding space (deterministic
    * centroid table, same init as the IVF index), emit within-cluster
    * near-dup PAIRS (cosine ≥ 0.35 on this random corpus — a real
    * corpus would use ~0.95), collapse pairs into duplicate GROUPS with
    * [[graft.operators.ConnectedComponents]] (a↔b↔c must cost TWO
    * deletions, not one), and per group KEEP the member with the LOWEST
    * cosine to its cluster centroid — the paper's rule: the far-from-
    * center outlier carries the information, the center-mass copies are
    * redundant. Ties break on vec_id. Edge-less vectors are their own
    * group and survive.
    *
    * 100 TB design: candidate generation is the centroid-bucketed
    * self-join (never all-pairs — [[Similarity.nearDupPairs]]); the
    * component loop runs on the PAIR list (tiny vs corpus) with
    * per-round checkpoint release; the keep-pick window partitions on
    * group_id whose member counts are near-dup group sizes (single
    * digits) — the benign window shape, no single-task stratum hazard.
    *
    * The oracle replays the whole pipeline independently: assignment
    * by rank, brute within-bucket pairs, a recursive-CTE reachability
    * for the components (a genuinely different algorithm from min-label
    * pointer jumping), and the same keep rule. */
  private val embSemDedup = Q(
    "emb_semdedup",
    (s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val centroids = Similarity.trainCentroidsById(emb, 16)
      // two consumers (the c_sim projection and the pair join's both
      // sides) — materialize the assignment once
      val assigned = Similarity.assignToCentroids(emb, centroids).persist()
      val withSim = assigned
        .join(broadcast(centroids), Seq("centroid_id"))
        .withColumn("c_sim",
          round(Similarity.cosine(col("embedding"), col("centroid")), 6))
        .select("vec_id", "centroid_id", "c_sim")
      val pairs = Similarity.nearDupPairs(assigned, threshold = 0.35)
      val comps = graft.operators.ConnectedComponents.run(pairs, "id_a", "id_b")
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("group_id").orderBy(col("c_sim").asc, col("vec_id").asc)
      val out = withSim
        .join(comps.select(col("id").as("vec_id"), col("comp")), Seq("vec_id"), "left")
        .withColumn("group_id", coalesce(col("comp"), col("vec_id")))
        .withColumn("keep", row_number().over(w) === 1)
        .select("vec_id", "centroid_id", "group_id", "c_sim", "keep")
        .orderBy("vec_id")
        .persist()
      out.count() // materialize before releasing the internal frames
      comps.unpersist()
      assigned.unpersist()
      out
    },
    Some("""
      WITH RECURSIVE c AS (SELECT vec_id AS centroid_id, embedding AS centroid
                           FROM embeddings ORDER BY vec_id LIMIT 16),
      e AS (SELECT vec_id, embedding FROM embeddings),
      cp AS (
        SELECT e.vec_id, c.centroid_id,
          list_sum(list_transform(range(1, len(e.embedding)+1),
            i -> CAST(e.embedding[i] AS DOUBLE) * CAST(c.centroid[i] AS DOUBLE)))
            / (sqrt(list_sum(list_transform(e.embedding, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE))))
               * sqrt(list_sum(list_transform(c.centroid, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE))))) AS sim
        FROM e, c),
      assigned AS (
        SELECT t.vec_id, t.centroid_id, t.sim, e.embedding FROM (
          SELECT vec_id, centroid_id, sim,
                 row_number() OVER (PARTITION BY vec_id ORDER BY sim DESC, centroid_id) AS rn
          FROM cp) t JOIN e ON t.vec_id = e.vec_id WHERE t.rn = 1),
      cand AS (
        SELECT a.vec_id AS id_a, b.vec_id AS id_b, a.embedding AS va, b.embedding AS vb
        FROM assigned a JOIN assigned b
          ON a.centroid_id = b.centroid_id AND a.vec_id < b.vec_id),
      scored AS (
        SELECT id_a, id_b,
          list_sum(list_transform(range(1, len(va)+1),
            i -> CAST(va[i] AS DOUBLE) * CAST(vb[i] AS DOUBLE)))
            / (sqrt(list_sum(list_transform(va, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE))))
               * sqrt(list_sum(list_transform(vb, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE))))) AS cos
        FROM cand),
      edges AS (
        SELECT id_a AS src, id_b AS dst FROM scored WHERE cos >= 0.35
        UNION
        SELECT id_b AS src, id_a AS dst FROM scored WHERE cos >= 0.35),
      reach(id, r) AS (
        SELECT src, src FROM edges
        UNION
        SELECT e2.dst, reach.r FROM reach JOIN edges e2 ON e2.src = reach.id),
      comp AS (SELECT id, min(r) AS comp FROM reach GROUP BY id),
      lab AS (
        SELECT a.vec_id, a.centroid_id, round(a.sim, 6) AS c_sim,
               coalesce(k.comp, a.vec_id) AS group_id
        FROM assigned a LEFT JOIN comp k ON a.vec_id = k.id)
      SELECT vec_id, centroid_id, group_id, c_sim,
             (row_number() OVER (PARTITION BY group_id
                ORDER BY c_sim ASC, vec_id) = 1) AS keep
      FROM lab ORDER BY vec_id"""),
  )

  /** Join-key SKEW audit — the diagnostic that decides whether a key
    * needs salting ([[graft.operators.SaltedJoin]]) or AQE skew
    * handling before a 100 TB join on it: exact hot-key and count-
    * distribution statistics for `orders.o_custkey` in one row
    * (key cardinality, max multiplicity, p50/p90/p99 of the per-key
    * count, the hottest key, and max/mean skew ratio).
    *
    * 100 TB design — the insight is COUNT-OF-COUNTS: the per-key count
    * table can be billions of rows, but the HISTOGRAM of multiplicities
    * (cnt → how many keys have it) collapses to at most |distinct
    * multiplicities| rows — metadata-sized. Exact percentiles then come
    * from rank arithmetic over the histogram's cumulative sums
    * (percentile_disc: smallest cnt whose cumulative key count reaches
    * `ceil(q·n)`), so the plan is two hash aggregates (key, then cnt)
    * plus window/joins over a few-hundred-row frame. No global sort,
    * no per-group buffering, nothing driver-side. */
  private val keySkew = Q(
    "stats_key_skew",
    (s, dir) => {
      val counts = Tables.orders(s, dir)
        .groupBy(col("o_custkey").as("key"))
        .agg(count(lit(1)).as("cnt"))
      val tot = counts.agg(
        count(lit(1)).as("n_keys"),
        sum(col("cnt")).as("total_rows"),
        max(col("cnt")).as("max_cnt"),
        // min key among the argmax multiplicity, deterministically
        (-max(struct(col("cnt"), (-col("key")).as("nk"))).getField("nk")).as("top1_key"))
      val hist = counts.groupBy("cnt").agg(count(lit(1)).as("k"))
      val cume = hist.withColumn("cume",
        sum(col("k")).over(org.apache.spark.sql.expressions.Window
          .orderBy("cnt")
          .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
            org.apache.spark.sql.expressions.Window.currentRow)))
      def pick(q: Double, name: String) =
        min(when(col("cume") >= ceil(lit(q) * col("n_keys").cast("double")),
          col("cnt"))).as(name)
      val qs = cume.crossJoin(broadcast(tot.select("n_keys")))
        .agg(pick(0.5, "p50_cnt"), pick(0.9, "p90_cnt"), pick(0.99, "p99_cnt"))
      tot.crossJoin(broadcast(qs))
        .withColumn("skew_ratio", round(
          col("max_cnt").cast("double") * col("n_keys").cast("double")
            / col("total_rows").cast("double"), 6))
        .select("n_keys", "total_rows", "max_cnt", "top1_key",
          "p50_cnt", "p90_cnt", "p99_cnt", "skew_ratio")
    },
    Some("""
      WITH counts AS (
        SELECT o_custkey AS key, count(*) AS cnt FROM orders GROUP BY 1),
      hist AS (SELECT cnt, count(*) AS k FROM counts GROUP BY 1),
      cume AS (SELECT cnt, sum(k) OVER (ORDER BY cnt
                 ROWS UNBOUNDED PRECEDING) AS cume FROM hist),
      tot AS (SELECT CAST(count(*) AS BIGINT) AS n_keys,
                     CAST(sum(cnt) AS BIGINT) AS total_rows,
                     CAST(max(cnt) AS BIGINT) AS max_cnt
              FROM counts),
      t1 AS (SELECT min(key) AS top1_key FROM counts
             WHERE cnt = (SELECT max(cnt) FROM counts)),
      qs AS (SELECT
               min(CASE WHEN cume >= ceil(0.5 * CAST(t.n_keys AS DOUBLE))
                        THEN cnt END) AS p50_cnt,
               min(CASE WHEN cume >= ceil(0.9 * CAST(t.n_keys AS DOUBLE))
                        THEN cnt END) AS p90_cnt,
               min(CASE WHEN cume >= ceil(0.99 * CAST(t.n_keys AS DOUBLE))
                        THEN cnt END) AS p99_cnt
             FROM cume, tot t)
      SELECT t.n_keys, t.total_rows, t.max_cnt, t1.top1_key,
             qs.p50_cnt, qs.p90_cnt, qs.p99_cnt,
             round(CAST(t.max_cnt AS DOUBLE) * CAST(t.n_keys AS DOUBLE)
                   / CAST(t.total_rows AS DOUBLE), 6) AS skew_ratio
      FROM tot t, t1, qs"""),
  )

  // ----------------------------------------------------------------- A10
  /** A10 — top-k per group WITHOUT a rank window
    * (`operators/TopKPerGroup.scala`): the k-bounded Aggregator buffer
    * pre-aggregates map-side, so only ≤ k rows per group per map task
    * cross the shuffle — vs. the rank-window form that exchanges the
    * whole table. The oracle IS the window form (DuckDB), proving the
    * two spellings agree row-for-row. Payload stays narrow (price, key)
    * per the operator's rejoin-by-id contract. */
  private val a10 = Q(
    "a10_topk_per_group",
    (s, dir) =>
      Tables.orders(s, dir)
        .groupBy(col("o_custkey"))
        .agg(graft.operators.TopKPerGroup.topK(3)(
          col("o_totalprice"), col("o_orderkey")).as("tk"))
        .select(col("o_custkey"), posexplode(col("tk")))
        .select(
          col("o_custkey"),
          (col("pos") + 1).cast("long").as("rnk"),
          col("col._2").as("o_orderkey"),
          col("col._1").as("o_totalprice"))
        .orderBy("o_custkey", "rnk"),
    Some("""
      SELECT o_custkey, rnk, o_orderkey, o_totalprice FROM (
        SELECT o_custkey, o_orderkey, o_totalprice,
               row_number() OVER (PARTITION BY o_custkey
                                  ORDER BY o_totalprice DESC, o_orderkey) AS rnk
        FROM orders) t
      WHERE rnk <= 3 ORDER BY o_custkey, rnk"""),
  )

  // ------------------------------------------- embedding dim stats
  /** Embeddings exploded to one row per (vec_id, dimension) with the
    * component quantized to DECIMAL(12,6) — the engine's exact-sum
    * discipline applied to float vectors (float→double widening is
    * exact, the 6-dp round is identical cross-engine, and decimal
    * sums are order-independent, so per-dimension moments hash-match
    * DuckDB bit-for-bit). Shared by `emb_dim_stats` and
    * `emb_standardize`. */
  private def embDimExploded(s: org.apache.spark.sql.SparkSession, dir: String) =
    Tables.embeddings(s, dir)
      .select(col("vec_id"), posexplode(col("embedding")).as(Seq("p0", "x")))
      .select(col("vec_id"), (col("p0") + 1).cast("long").as("dim"),
        round(col("x").cast("double"), 6).cast("decimal(12,6)").as("xq"))

  private val EmbDimExplodedSql = """
      ex AS (SELECT vec_id, CAST(u.i AS BIGINT) AS dim,
                    CAST(round(CAST(embedding[CAST(u.i AS INT)] AS DOUBLE), 6)
                         AS DECIMAL(12,6)) AS xq
             FROM embeddings, unnest(range(1, len(embedding) + 1)) u(i)),
      st AS (SELECT dim, CAST(count(*) AS BIGINT) AS n_vectors,
                    sum(xq) AS sum_q, sum(xq*xq) AS ssq_q,
                    min(xq) AS mn, max(xq) AS mx
             FROM ex GROUP BY dim)"""

  /** Per-dimension corpus statistics over the embedding column — the
    * feature-health profile (dead dims, scale drift, outlier ranges)
    * every vector pipeline checks before training an index or a
    * projection head.
    *
    * 100 TB design: the explode multiplies rows by |dims| but the
    * per-dimension hash aggregate collapses MAP-SIDE to |dims| partial
    * rows per task before the exchange — the shuffle carries
    * dims × tasks metadata rows, never data. Moments are exact
    * decimal sums converted to double once, at the end (the a17/zipf
    * discipline), so no float accumulation order exists anywhere. */
  private val embDimStats = Q(
    "emb_dim_stats",
    (s, dir) => {
      val d = embDimExploded(s, dir)
        .groupBy("dim")
        .agg(count(lit(1)).as("n_vectors"),
          sum(col("xq")).as("sum_q"),
          sum(col("xq") * col("xq")).as("ssq_q"),
          min(col("xq")).as("mn"), max(col("xq")).as("mx"))
      def toD(c: String) = col(c).cast("string").cast("double")
      val n = col("n_vectors").cast("double")
      d.select(col("dim"), col("n_vectors"),
        (toD("sum_q") / n).as("mean_x"),
        ((toD("ssq_q") - toD("sum_q") * toD("sum_q") / n) / n).as("var_x"),
        toD("mn").as("min_x"), toD("mx").as("max_x"))
        .orderBy("dim")
    },
    Some(s"""
      WITH $EmbDimExplodedSql
      SELECT dim, n_vectors,
             CAST(CAST(sum_q AS VARCHAR) AS DOUBLE) / CAST(n_vectors AS DOUBLE) AS mean_x,
             (CAST(CAST(ssq_q AS VARCHAR) AS DOUBLE)
               - CAST(CAST(sum_q AS VARCHAR) AS DOUBLE) * CAST(CAST(sum_q AS VARCHAR) AS DOUBLE)
                 / CAST(n_vectors AS DOUBLE)) / CAST(n_vectors AS DOUBLE) AS var_x,
             CAST(CAST(mn AS VARCHAR) AS DOUBLE) AS min_x,
             CAST(CAST(mx AS VARCHAR) AS DOUBLE) AS max_x
      FROM st ORDER BY dim"""),
  )

  /** Per-component z-score standardization against the corpus
    * per-dimension moments — the normalization pass before cosine/ANN
    * when dimensions carry unequal scales (and the mean-centering
    * SemDeDup prescribes). Output stays in exploded (vec_id, dim, z)
    * form: the array rebuild is a caller concern (and the driver
    * compare takes no ARRAY columns).
    *
    * 100 TB design: the |dims|-row stats frame BROADCASTS back onto
    * the exploded scan — the 100 TB side crosses zero exchanges
    * before the output sort; scoring is compiled double arithmetic on
    * exact-decimal-derived inputs, so results are bit-identical
    * cross-engine without any tolerance. */
  private val embStandardize = Q(
    "emb_standardize",
    (s, dir) => {
      val d = embDimExploded(s, dir)
      val stats = d.groupBy("dim")
        .agg(count(lit(1)).as("n_vectors"),
          sum(col("xq")).as("sum_q"),
          sum(col("xq") * col("xq")).as("ssq_q"))
      def toD(c: String) = col(c).cast("string").cast("double")
      val n = col("n_vectors").cast("double")
      val moments = stats.select(col("dim"),
        (toD("sum_q") / n).as("mean_x"),
        ((toD("ssq_q") - toD("sum_q") * toD("sum_q") / n) / n).as("var_x"))
      d.join(broadcast(moments), Seq("dim"))
        .select(col("vec_id"), col("dim"),
          round((col("xq").cast("string").cast("double") - col("mean_x"))
            / sqrt(col("var_x")), 6).as("z"))
        .orderBy("vec_id", "dim")
    },
    Some(s"""
      WITH $EmbDimExplodedSql,
      mom AS (SELECT dim,
                CAST(CAST(sum_q AS VARCHAR) AS DOUBLE) / CAST(n_vectors AS DOUBLE) AS mean_x,
                (CAST(CAST(ssq_q AS VARCHAR) AS DOUBLE)
                  - CAST(CAST(sum_q AS VARCHAR) AS DOUBLE) * CAST(CAST(sum_q AS VARCHAR) AS DOUBLE)
                    / CAST(n_vectors AS DOUBLE)) / CAST(n_vectors AS DOUBLE) AS var_x
              FROM st)
      SELECT e.vec_id, e.dim,
             round((CAST(CAST(e.xq AS VARCHAR) AS DOUBLE) - m.mean_x) / sqrt(m.var_x), 6) AS z
      FROM ex e JOIN mom m USING (dim)
      ORDER BY e.vec_id, e.dim"""),
  )

  // --------------------------------------------- PCA (power iteration)
  /** Power-iteration steps for [[embPca]]. Fixed and replayed exactly
    * by the oracle — the output is DEFINED as "8 steps from the
    * all-ones vector", so convergence is a quality property (spec'd
    * via the norm-ratio eigenvalue estimate), not a correctness one. */
  private val PcaIters = 8

  /** Top principal component of the embedding corpus — the projection/
    * whitening primitive vector pipelines run before clustering or
    * SemDeDup-style dedup. Two genuinely-distributed stages and one
    * metadata stage:
    *
    *   1+2. counts, per-dimension sums AND the 64×64 Gram matrix in
    *      ONE corpus pass through the native
    *      [[graft.operators.OuterProductSum]] Aggregator — exact
    *      integer (micros/nanos) accumulation, so partials are
    *      commutative long sums that collapse map-side to one
    *      dims²-long buffer per task; the exchange carries buffers,
    *      never rows. (The first cut exploded to corpus×dims rows and
    *      self-joined per vec_id — correct, but 22 s at sf0.1 in
    *      per-row decimal arithmetic; the Aggregator is the same
    *      result in one tight-loop scan.)
    *   3. covariance C = S/n − μμᵀ and 8 power-iteration matvecs
    *      v ← C·v DRIVER-SIDE on the collected dims² Gram triangle —
    *      the same metadata size class as the collected IVF
    *      centroids ([[graft.ext.Similarity]]), and the corpus is
    *      never touched again after the single pass.
    *
    * Cross-engine exactness: every sum that crosses rows is an exact
    * DECIMAL sum of 9-dp-rounded double products (the dsir/zipf
    * discipline), and every double expression has identical shape on
    * both sides — so even the 8-deep iteration replays bit-for-bit
    * in DuckDB with no tolerance. The loading sign follows the
    * all-ones init deterministically. */
  /** The full loadings computation behind `emb_pca_power`, shared with
    * the projection query: (dim → 6-dp loading), dims 1-based. */
  import java.math.{BigDecimal => JBD, RoundingMode}
  // d9: exactly what `CAST(round(x, 9) AS DECIMAL(28,9))` lands on
  // in both engines — Spark's round IS BigDecimal HALF_UP, and the
  // double→decimal(·,9) cast recovers the same 9-dp value
  private def d9(x: Double): JBD = new JBD(x).setScale(9, RoundingMode.HALF_UP)

  /** ONE corpus pass: the native outer-product Aggregator accumulates
    * n, per-dim micro-sums and the nanos Gram triangle as exact longs
    * (map-side partials collapse to one buffer per task; see
    * [[graft.operators.OuterProductSum]] for the overflow headroom) →
    * the covariance map keyed by 1-based (i, j). */
  private def pcaCovariance(
      s: org.apache.spark.sql.SparkSession, dir: String): Map[(Long, Long), Double] = {
    import graft.operators.OuterProductSum
    val D = 64
    val (nRows, sMicros, pNanos) = OuterProductSum.unpack(
      Tables.embeddings(s, dir)
        .agg(OuterProductSum.of(col("embedding"), D)).collect()(0))
    val nVec = nRows.toDouble
    val mu = Array.tabulate(D)(i => sMicros(i).toDouble / 1e6 / nVec)
    (for { i <- 0 until D; j <- 0 until D }
      yield (i.toLong + 1, j.toLong + 1) ->
        d9(pNanos(i, j).toDouble / 1e9 / nVec - mu(i) * mu(j)).doubleValue).toMap
  }

  /** [[PcaIters]] exact matvecs (decimal sums of 9-dp-rounded
    * products, max-abs rescale per step — without the rescale the
    * 9-dp rounding sends the shrinking iterate to exactly zero) then
    * the unit-normalized 6-dp loading per dim. */
  private def pcaIterate(
      cov: Map[(Long, Long), Double], dims: Seq[Long]): Seq[(Long, Double)] = {
    var v: Map[Long, Double] = dims.map(_ -> 1.0).toMap
    for (_ <- 1 to PcaIters) {
      val t = dims.map { i =>
        val sum = dims.foldLeft(JBD.ZERO)((acc, j) => acc.add(d9(cov((i, j)) * v(j))))
        i -> sum.doubleValue
      }.toMap
      val m = t.values.map(math.abs).max
      v = t.map { case (i, x) => i -> d9(x / m).doubleValue }
    }
    val nrm = math.sqrt(
      dims.foldLeft(JBD.ZERO)((acc, i) => acc.add(d9(v(i) * v(i)))).doubleValue)
    dims.map(i =>
      i -> new JBD(v(i) / nrm).setScale(6, RoundingMode.HALF_UP).doubleValue)
  }

  private val PcaDims: Seq[Long] = (1L to 64L).toSeq

  private def pcaLoadings(
      s: org.apache.spark.sql.SparkSession, dir: String): Seq[(Long, Double)] =
    pcaIterate(pcaCovariance(s, dir), PcaDims)

  /** SQL twin of [[pcaLoadings]]: the full WITH-chain through `nrm`;
    * consumers append their own final select (and a `loadings` CTE for
    * the projection). */
  /** One unrolled power-iteration chain over CTE `covCte`, names
    * prefixed with `pfx` (chain 1 uses "", the deflated chain "d"). */
  private def pcaIterSql(covCte: String, pfx: String): String =
    (1 to PcaIters).map { k =>
      val prev = s"${pfx}v${k - 1}"
      s"""${pfx}t$k AS MATERIALIZED (SELECT c.i AS dim,
                 CAST(CAST(sum(CAST(round(c.c * v.x, 9) AS DECIMAL(28,9))) AS VARCHAR) AS DOUBLE) AS x
               FROM $covCte c JOIN $prev v ON c.j = v.dim GROUP BY c.i),
      ${pfx}v$k AS MATERIALIZED (SELECT dim,
                 CAST(CAST(CAST(round(x / (SELECT max(abs(x)) FROM ${pfx}t$k), 9)
                      AS DECIMAL(28,9)) AS VARCHAR) AS DOUBLE) AS x
               FROM ${pfx}t$k)"""
    }.mkString(",\n      ")

  private def pcaOracleCtes: String = {
      val iters = pcaIterSql("cov", "")
      s"""ex AS (SELECT vec_id, CAST(u.i AS BIGINT) AS dim,
                    CAST(round(CAST(embedding[CAST(u.i AS INT)] AS DOUBLE), 6)
                         AS DECIMAL(12,6)) AS xq
             FROM embeddings, unnest(range(1, len(embedding) + 1)) u(i)),
      nn AS (SELECT CAST(count(DISTINCT vec_id) AS DOUBLE) AS n FROM ex),
      mu AS (SELECT dim,
               CAST(sum(CAST(xq * 1000000 AS BIGINT)) AS DOUBLE) / 1000000.0
                 / (SELECT n FROM nn) AS mu
             FROM ex GROUP BY dim),
      exd AS (SELECT vec_id, dim, CAST(CAST(xq AS VARCHAR) AS DOUBLE) AS xd FROM ex),
      gram AS MATERIALIZED (SELECT a.dim AS i, b.dim AS j,
                 sum(CAST(round(a.xd * b.xd * 1000000000, 0) AS BIGINT)) AS s9
               FROM exd a JOIN exd b USING (vec_id) GROUP BY 1, 2),
      cov AS MATERIALIZED (SELECT g.i, g.j,
                round(CAST(g.s9 AS DOUBLE) / 1000000000.0 / (SELECT n FROM nn)
                      - mi.mu * mj.mu, 9) AS c
              FROM gram g
              JOIN mu mi ON g.i = mi.dim
              JOIN mu mj ON g.j = mj.dim),
      v0 AS (SELECT dim, 1.0 AS x FROM mu),
      $iters,
      nrm AS (SELECT sqrt(CAST(CAST(sum(CAST(round(x * x, 9) AS DECIMAL(28,9))) AS VARCHAR) AS DOUBLE)) AS nrm
              FROM v$PcaIters)"""
  }

  private def pcaFinalCte: String = s"v$PcaIters"

  private val embPca = Q(
    "emb_pca_power",
    (s, dir) => {
      val spark = s
      import spark.implicits._
      pcaLoadings(s, dir).toDF("dim", "loading").orderBy("dim")
    },
    Some(s"""
      WITH $pcaOracleCtes
      SELECT v.dim, round(v.x / (SELECT nrm FROM nrm), 6) AS loading
      FROM $pcaFinalCte v ORDER BY v.dim"""),
  )

  /** Per-vector projection onto the top principal component, bucketed
    * into GLOBAL rank deciles — the semantic-diversity coordinate a
    * curation pass stratifies on (sample uniformly across PC1 deciles
    * and no single embedding cluster dominates the mix). Composes
    * [[pcaLoadings]] (one corpus pass + driver matvecs), a broadcast
    * 64-row loadings join, and [[graft.operators.PrefixSum]]'s
    * two-phase rank — a single "corpus" stratum, exactly the
    * hot-stratum case it bounds; no global rank window anywhere.
    *
    * Exactness: the projection is an order-independent long-nanos sum
    * of per-component products (the [[graft.operators.OuterProductSum]]
    * discipline), so ranking keys are bit-identical cross-engine and
    * the decile boundaries cannot drift. */
  private val embPcaProject = Q(
    "emb_pca_project",
    (s, dir) => {
      val spark = s
      import spark.implicits._
      val loadings = pcaLoadings(s, dir).toDF("dim", "loading")
      val proj = embDimExploded(s, dir)
        .select(col("vec_id"), col("dim"),
          col("xq").cast("string").cast("double").as("xd"))
        .join(broadcast(loadings), Seq("dim"))
        .groupBy("vec_id")
        .agg(sum(round(col("xd") * col("loading") * 1e9).cast("long")).as("nanos"))
        .select(col("vec_id"),
          round(col("nanos").cast("double") / 1e9, 6).as("pc1"))
        .withColumn("corpus", lit("all"))
      val n = proj.groupBy("corpus").agg(count(lit(1)).as("n_vectors"))
      graft.operators.PrefixSum.runningSum(
          proj, Seq("corpus"), Seq(col("pc1").desc, col("vec_id")), lit(1L), "rnk")
        .join(broadcast(n), Seq("corpus"))
        .withColumn("decile", ((col("rnk") - 1) * 10 / col("n_vectors")).cast("long") + 1)
        .select("vec_id", "pc1", "rnk", "n_vectors", "decile")
        .orderBy("vec_id")
    },
    Some(s"""
      WITH $pcaOracleCtes,
      loadings AS (SELECT v.dim, round(v.x / (SELECT nrm FROM nrm), 6) AS loading
                   FROM $pcaFinalCte v),
      pr AS (SELECT e.vec_id,
               round(CAST(sum(CAST(round(e.xd * l.loading * 1000000000.0, 0) AS BIGINT)) AS DOUBLE)
                     / 1000000000.0, 6) AS pc1
             FROM exd e JOIN loadings l USING (dim)
             GROUP BY e.vec_id),
      r AS (SELECT vec_id, pc1,
                   CAST(row_number() OVER (ORDER BY pc1 DESC, vec_id) AS BIGINT) AS rnk,
                   CAST(count(*) OVER () AS BIGINT) AS n_vectors
            FROM pr)
      SELECT vec_id, pc1, rnk, n_vectors,
             CAST((rnk - 1) * 10 // n_vectors + 1 AS BIGINT) AS decile
      FROM r ORDER BY vec_id"""),
  )

  // ---------------------------------------------- PCA second component
  /** Top-2 principal plane via Hotelling deflation: subtract the first
    * component's rank-1 term (λ₁ = its Rayleigh quotient — exact
    * decimal sums of 9-dp-rounded triple products) from the covariance
    * and power-iterate again. Two loadings per dimension give the 2-D
    * diversity grid curation stratifies on (the PC1-only deciles of
    * `emb_pca_project`, squared). Deflation + rounding keep the pair
    * only near-orthogonal — |v₁·v₂| is spec-bounded, not assumed.
    * Everything downstream of the single [[pcaCovariance]] pass is
    * driver-side metadata math, replayed CTE-for-CTE in DuckDB. */
  /** Both plane loadings, shared by `emb_pca_top2` and the 2-D grid
    * sampler: dim → (loading1, loading2). */
  private def pcaTop2Loadings(
      s: org.apache.spark.sql.SparkSession, dir: String): Seq[(Long, Double, Double)] = {
    val cov = pcaCovariance(s, dir)
    val l1 = pcaIterate(cov, PcaDims).toMap
    val q = PcaDims.flatMap(i => PcaDims.map(j =>
      d9(l1(i) * cov((i, j)) * l1(j))))
      .foldLeft(JBD.ZERO)(_.add(_)).doubleValue
    val n2 = PcaDims.foldLeft(JBD.ZERO)((acc, i) => acc.add(d9(l1(i) * l1(i))))
      .doubleValue
    val lam = q / n2
    val cov2 = cov.map { case ((i, j), c) =>
      (i, j) -> d9(c - lam * l1(i) * l1(j)).doubleValue
    }
    val l2 = pcaIterate(cov2, PcaDims).toMap
    PcaDims.map(i => (i, l1(i), l2(i)))
  }

  /** SQL twin of [[pcaTop2Loadings]]: chain-1 CTEs + `l1` + the
    * deflated chain + `l2` (dim, l). */
  private def pcaTop2Ctes: String = s"""$pcaOracleCtes,
      l1 AS (SELECT v.dim, round(v.x / (SELECT nrm FROM nrm), 6) AS l
             FROM $pcaFinalCte v),
      qf AS (SELECT CAST(CAST(sum(CAST(round(a.l * c.c * b.l, 9) AS DECIMAL(28,9))) AS VARCHAR) AS DOUBLE) AS q
             FROM cov c JOIN l1 a ON c.i = a.dim JOIN l1 b ON c.j = b.dim),
      n2 AS (SELECT CAST(CAST(sum(CAST(round(l * l, 9) AS DECIMAL(28,9))) AS VARCHAR) AS DOUBLE) AS n2
             FROM l1),
      dcov AS MATERIALIZED (SELECT c.i, c.j,
               round(c.c - (SELECT q FROM qf) / (SELECT n2 FROM n2) * a.l * b.l, 9) AS c
             FROM cov c JOIN l1 a ON c.i = a.dim JOIN l1 b ON c.j = b.dim),
      dv0 AS (SELECT dim, 1.0 AS x FROM mu),
      ${pcaIterSql("dcov", "d")},
      dnrm AS (SELECT sqrt(CAST(CAST(sum(CAST(round(x * x, 9) AS DECIMAL(28,9))) AS VARCHAR) AS DOUBLE)) AS nrm
               FROM dv$PcaIters),
      l2 AS (SELECT d.dim, round(d.x / (SELECT nrm FROM dnrm), 6) AS l
             FROM dv$PcaIters d)"""

  private val embPcaTop2 = Q(
    "emb_pca_top2",
    (s, dir) => {
      val spark = s
      import spark.implicits._
      pcaTop2Loadings(s, dir).toDF("dim", "loading1", "loading2").orderBy("dim")
    },
    Some(s"""
      WITH $pcaTop2Ctes
      SELECT l1.dim, l1.l AS loading1, l2.l AS loading2
      FROM l1 JOIN l2 ON l1.dim = l2.dim
      ORDER BY l1.dim"""),
  )

  /** 2-D embedding-diversity grid sampling — the top-2 PCA plane cut
    * into per-axis rank quartiles (16 cells) with a deterministic
    * 2-per-cell hash sample: the "cover the semantic space" selection
    * a curation pass uses for eval-set construction and mix
    * balancing, one dimension up from `emb_pca_project`'s deciles.
    *
    * 100 TB design: both projections ride the SAME broadcast-loadings
    * scan as order-independent long-nanos sums; each axis rank is a
    * [[graft.operators.PrefixSum]] two-phase pass; the per-cell pick
    * composes the Knuth hash with [[graft.operators.TopKPerGroup]]'s
    * k-bounded heap — ≤ 2·mappers rows per cell cross the shuffle,
    * the rank-window spelling the oracle uses would shuffle every
    * row. */
  private val mixPcaGrid = Q(
    "mix_pca_grid",
    (s, dir) => {
      import graft.operators.{PrefixSum, TopKPerGroup}
      val spark = s
      import spark.implicits._
      val lds = pcaTop2Loadings(s, dir).toDF("dim", "l1", "l2")
      val proj = embDimExploded(s, dir)
        .select(col("vec_id"), col("dim"),
          col("xq").cast("string").cast("double").as("xd"))
        .join(broadcast(lds), Seq("dim"))
        .groupBy("vec_id")
        .agg(sum(round(col("xd") * col("l1") * 1e9).cast("long")).as("na"),
          sum(round(col("xd") * col("l2") * 1e9).cast("long")).as("nb"))
        .select(col("vec_id"),
          round(col("na").cast("double") / 1e9, 6).as("p1"),
          round(col("nb").cast("double") / 1e9, 6).as("p2"))
        .withColumn("corpus", lit("all"))
      val n = proj.groupBy("corpus").agg(count(lit(1)).as("n_total"))
      val ranked = PrefixSum.runningSum(
        PrefixSum.runningSum(proj, Seq("corpus"),
          Seq(col("p1").desc, col("vec_id")), lit(1L), "r1"),
        Seq("corpus"), Seq(col("p2").desc, col("vec_id")), lit(1L), "r2")
        .join(broadcast(n), Seq("corpus"))
        .withColumn("q1", ((col("r1") - 1) * 4 / col("n_total")).cast("long") + 1)
        .withColumn("q2", ((col("r2") - 1) * 4 / col("n_total")).cast("long") + 1)
      val cells = ranked.groupBy("q1", "q2").agg(count(lit(1)).as("n_cell"))
      val h = CurationQueries.mixBucketHash(col("vec_id"))
      val sampled = ranked
        .select(col("q1"), col("q2"), col("vec_id"), h.as("h"))
        .groupBy("q1", "q2")
        .agg(TopKPerGroup.topK(2)(-col("h"), col("vec_id")).as("top"))
        .select(col("q1"), col("q2"), posexplode(col("top")).as(Seq("p0", "sc")))
        .select(col("q1"), col("q2"),
          (col("p0") + 1).cast("long").as("sample_rank"),
          col("sc").getField("_2").as("vec_id"))
      sampled.join(cells, Seq("q1", "q2"))
        .select("q1", "q2", "n_cell", "sample_rank", "vec_id")
        .orderBy("q1", "q2", "sample_rank")
    },
    Some(s"""
      WITH $pcaTop2Ctes,
      pr AS (SELECT e.vec_id,
               round(CAST(sum(CAST(round(e.xd * a.l * 1000000000.0, 0) AS BIGINT)) AS DOUBLE)
                     / 1000000000.0, 6) AS p1,
               round(CAST(sum(CAST(round(e.xd * b.l * 1000000000.0, 0) AS BIGINT)) AS DOUBLE)
                     / 1000000000.0, 6) AS p2
             FROM exd e JOIN l1 a ON e.dim = a.dim JOIN l2 b ON e.dim = b.dim
             GROUP BY e.vec_id),
      r AS (SELECT vec_id, p1, p2,
              CAST(row_number() OVER (ORDER BY p1 DESC, vec_id) AS BIGINT) AS r1,
              CAST(row_number() OVER (ORDER BY p2 DESC, vec_id) AS BIGINT) AS r2,
              CAST(count(*) OVER () AS BIGINT) AS n_total
            FROM pr),
      g AS (SELECT vec_id, (r1 - 1) * 4 // n_total + 1 AS q1,
                   (r2 - 1) * 4 // n_total + 1 AS q2
            FROM r),
      cells AS (SELECT q1, q2, CAST(count(*) AS BIGINT) AS n_cell
                FROM g GROUP BY 1, 2),
      sm AS (SELECT q1, q2, vec_id,
               CAST(row_number() OVER (PARTITION BY q1, q2
                 ORDER BY ${CurationQueries.mixBucketHashSql("vec_id")}, vec_id)
                 AS BIGINT) AS sample_rank
             FROM g)
      SELECT s.q1, s.q2, c.n_cell, s.sample_rank, s.vec_id
      FROM sm s JOIN cells c USING (q1, q2)
      WHERE s.sample_rank <= 2
      ORDER BY s.q1, s.q2, s.sample_rank"""),
  )

  // ----------------------------------------- embedding drift monitor
  /** Embedding-space drift monitor — centroid-OCCUPANCY KL between a
    * reference batch and a new batch (first vs second half of the
    * corpus by id here; in production, last week's index vs today's
    * ingest): when the encoder or the upstream content shifts, new
    * vectors pile into different centroid buckets and the occupancy
    * distribution moves before any downstream metric does. The
    * embedding twin of `corpus_drift_kl`'s hashed-token monitor.
    *
    * 100 TB design: assignment is the broadcast-centroid pass shared
    * with the IVF index (at scale the assignments are already stored
    * — this query then reads 16-row occupancy counts per batch and
    * never touches vectors); add-one smoothing keeps empty buckets
    * finite; the ln argument is ONE division of exact integer
    * products quantized to 9 dp (the dsir/PMI discipline), so KL
    * terms are bit-identical cross-engine. */
  private val embDrift = Q(
    "emb_drift_centroid_kl",
    (s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val centroids = Similarity.trainCentroidsById(emb, 16)
      val assigned = Similarity.assignToCentroids(emb, centroids)
        .select(col("vec_id"), col("centroid_id"))
      val occ = assigned
        .groupBy("centroid_id")
        .agg(
          sum(when(col("vec_id") < 250, 1L).otherwise(0L)).as("n_ref"),
          sum(when(col("vec_id") >= 250, 1L).otherwise(0L)).as("n_new"))
      val tot = occ.agg(sum(col("n_ref")).as("t_ref"), sum(col("n_new")).as("t_new"),
        count(lit(1)).as("k"))
      occ.crossJoin(broadcast(tot))
        .withColumn("ref_share",
          (col("n_ref") + 1).cast("double") / (col("t_ref") + col("k")).cast("double"))
        .withColumn("new_share",
          (col("n_new") + 1).cast("double") / (col("t_new") + col("k")).cast("double"))
        .withColumn("ln_ratio", round(log(
          ((col("n_new") + 1) * (col("t_ref") + col("k"))).cast("double")
            / ((col("n_ref") + 1) * (col("t_new") + col("k"))).cast("double")), 9))
        .withColumn("kl_term", round(col("new_share") * col("ln_ratio"), 9))
        .select("centroid_id", "n_ref", "n_new", "ref_share", "new_share",
          "ln_ratio", "kl_term")
        .orderBy("centroid_id")
    },
    Some(IVF_ORACLE_PRELUDE + """,
      occ AS (SELECT centroid_id,
                CAST(sum(CASE WHEN vec_id < 250 THEN 1 ELSE 0 END) AS BIGINT) AS n_ref,
                CAST(sum(CASE WHEN vec_id >= 250 THEN 1 ELSE 0 END) AS BIGINT) AS n_new
              FROM assigned GROUP BY 1),
      tot AS (SELECT CAST(sum(n_ref) AS BIGINT) AS t_ref,
                     CAST(sum(n_new) AS BIGINT) AS t_new,
                     CAST(count(*) AS BIGINT) AS k
              FROM occ)
      SELECT o.centroid_id, o.n_ref, o.n_new,
             CAST(o.n_ref + 1 AS DOUBLE) / CAST(t.t_ref + t.k AS DOUBLE) AS ref_share,
             CAST(o.n_new + 1 AS DOUBLE) / CAST(t.t_new + t.k AS DOUBLE) AS new_share,
             round(ln(CAST((o.n_new + 1) * (t.t_ref + t.k) AS DOUBLE)
                      / CAST((o.n_ref + 1) * (t.t_new + t.k) AS DOUBLE)), 9) AS ln_ratio,
             round(CAST(o.n_new + 1 AS DOUBLE) / CAST(t.t_new + t.k AS DOUBLE)
                   * round(ln(CAST((o.n_new + 1) * (t.t_ref + t.k) AS DOUBLE)
                              / CAST((o.n_ref + 1) * (t.t_new + t.k) AS DOUBLE)), 9), 9)
               AS kl_term
      FROM occ o, tot t ORDER BY o.centroid_id"""),
  )

  // ------------------------------------------------ ANN recall harness
  /** Batched ANN self-evaluation — recall@10 / recall@20 /
    * nearest-found of the IVF probe against brute-force ground truth
    * for a query SET, in one plan. This is the eval harness a vector
    * store runs after every index build: the recall numbers, not the
    * index, are the deliverable.
    *
    * 100 TB design: the query set (10 rows) broadcasts against the
    * corpus for ground truth, and both candidate lists collapse
    * through the k-bounded [[TopKPerGroup]] packed heap — only
    * k·(map partitions) rows per query cross any shuffle, never a
    * rank window over the corpus partitioned by query. The IVF side
    * scores probed buckets only (nprobe/16 of the corpus), exactly
    * the production probe shape, and the per-query probe pick is a
    * 16-row metadata window. Ground truth IS a full corpus scan by
    * definition — that is what makes it ground truth — so eval runs
    * on a sampled query set, not per user query. */
  private val annEvalK = 20
  private val annEval = Q(
    "ann_eval_recall",
    (s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val centroids = Similarity.trainCentroidsById(emb, 16)
      val assigned = Similarity.assignToCentroids(emb, centroids)
      val queries = emb.filter(col("vec_id") < 10)
        .select(col("vec_id").as("q_id"), col("embedding").as("qv"))
      def topIds(scored: org.apache.spark.sql.DataFrame) = scored
        .groupBy("q_id")
        .agg(graft.operators.TopKPerGroup.topK(annEvalK)(col("cosine"), col("vec_id")).as("top"))
        .select(col("q_id"), posexplode(col("top")).as(Seq("rnk0", "sc")))
        .select(col("q_id"), (col("rnk0") + 1).cast("long").as("rnk"),
          col("sc").getField("_2").as("vec_id"))
      val brute = topIds(
        emb.crossJoin(broadcast(queries))
          .filter(col("vec_id") =!= col("q_id")) // self-match excluded: rank 1 must be a NEIGHBOR
          .select(col("q_id"), col("vec_id"),
            Similarity.cosine(col("embedding"), col("qv")).as("cosine")))
      val cpairs = centroids.crossJoin(broadcast(queries))
        .select(col("q_id"), col("centroid_id"),
          Similarity.cosine(col("centroid"), col("qv")).as("sim"))
      val wprobe = org.apache.spark.sql.expressions.Window
        .partitionBy("q_id").orderBy(col("sim").desc, col("centroid_id"))
      val probed = cpairs.withColumn("rn", row_number().over(wprobe))
        .filter(col("rn") <= 4).select("q_id", "centroid_id")
      val ivf = topIds(
        assigned.join(broadcast(probed), Seq("centroid_id"))
          .join(broadcast(queries), Seq("q_id"))
          .filter(col("vec_id") =!= col("q_id"))
          .select(col("q_id"), col("vec_id"),
            Similarity.cosine(col("embedding"), col("qv")).as("cosine")))
      ivf.as("i").join(brute.as("b"), Seq("q_id", "vec_id"))
        .groupBy("q_id")
        .agg(
          (sum(when(col("b.rnk") <= 10 && col("i.rnk") <= 10, 1L).otherwise(0L))
            .cast("double") / 10.0).as("recall_at_10"),
          (count(lit(1)).cast("double") / annEvalK).as("recall_at_20"),
          (max(when(col("b.rnk") === 1, 1L).otherwise(0L)) === 1L).as("nearest_found"))
        .orderBy("q_id")
    },
    Some(IVF_ORACLE_PRELUDE + s""",
      q AS (SELECT vec_id AS q_id, embedding AS qv FROM embeddings WHERE vec_id < 10),
      bs AS (SELECT q.q_id, e.vec_id,
               list_sum(list_transform(range(1, len(e.embedding)+1),
                 i -> CAST(e.embedding[i] AS DOUBLE) * CAST(q.qv[i] AS DOUBLE)))
                 / (sqrt(list_sum(list_transform(e.embedding, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE))))
                    * sqrt(list_sum(list_transform(q.qv, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE))))) AS cos
             FROM e, q WHERE e.vec_id <> q.q_id),
      brute AS (SELECT q_id, vec_id, rnk FROM (
                  SELECT q_id, vec_id,
                         row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, vec_id) AS rnk
                  FROM bs) WHERE rnk <= $annEvalK),
      cp AS (SELECT q.q_id, c.centroid_id,
               list_sum(list_transform(range(1, len(c.centroid)+1),
                 i -> CAST(c.centroid[i] AS DOUBLE) * CAST(q.qv[i] AS DOUBLE)))
                 / (sqrt(list_sum(list_transform(c.centroid, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE))))
                    * sqrt(list_sum(list_transform(q.qv, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE))))) AS sim
             FROM c, q),
      probed AS (SELECT q_id, centroid_id FROM (
                   SELECT q_id, centroid_id,
                          row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, centroid_id) AS rn
                   FROM cp) WHERE rn <= 4),
      iscored AS (SELECT p.q_id, a.vec_id,
               list_sum(list_transform(range(1, len(a.embedding)+1),
                 i -> CAST(a.embedding[i] AS DOUBLE) * CAST(q.qv[i] AS DOUBLE)))
                 / (sqrt(list_sum(list_transform(a.embedding, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE))))
                    * sqrt(list_sum(list_transform(q.qv, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE))))) AS cos
             FROM assigned a JOIN probed p USING (centroid_id) JOIN q USING (q_id)
             WHERE a.vec_id <> q_id),
      ivf AS (SELECT q_id, vec_id, rnk FROM (
                SELECT q_id, vec_id,
                       row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, vec_id) AS rnk
                FROM iscored) WHERE rnk <= $annEvalK)
      SELECT i.q_id,
             CAST(sum(CASE WHEN b.rnk <= 10 AND i.rnk <= 10 THEN 1 ELSE 0 END) AS DOUBLE) / 10.0
               AS recall_at_10,
             CAST(count(*) AS DOUBLE) / $annEvalK AS recall_at_20,
             max(CASE WHEN b.rnk = 1 THEN 1 ELSE 0 END) = 1 AS nearest_found
      FROM ivf i JOIN brute b USING (q_id, vec_id)
      GROUP BY i.q_id ORDER BY i.q_id"""),
  )

  // -------------------------------------------- recall-vs-nprobe curve
  /** The IVF tuning CURVE — average recall@20 and nearest-found count
    * at nprobe ∈ {1, 2, 4, 8}, from ONE scored pass: candidates are
    * scored once against the nprobe=8 superset carrying the rank of
    * the bucket that admitted them, and each smaller nprobe's result
    * is a filter + re-rank of that superset (a bucket probed at
    * nprobe=2 is the same bucket at nprobe=8 — probe sets are nested
    * by construction). The per-point sibling of `ann_eval_recall`:
    * that query grades ONE operating point, this one prices the
    * latency/recall trade before picking it.
    *
    * Scale shape: identical to the recall harness (k-bounded heaps
    * per (nprobe, query) — 40 tiny groups — never a corpus rank
    * window); the np dimension multiplies the CANDIDATE rows (≤ half
    * the corpus) by 4 before the heap collapse, not the corpus. */
  /** Matryoshka TRUNCATION curve — recall@20 of prefix-truncated
    * cosine (dims 8/16/32) against the full-64-dim ground truth, the
    * tuning artifact behind Matryoshka-style embeddings (Kusupati et
    * al. 2022: nested prefixes are usable embeddings; serving picks the
    * shortest prefix whose recall clears the bar — a 8× memory/compute
    * cut when dim 8 suffices). One scored pass: every (query,
    * candidate) pair explodes over the dim ladder, scores the PREFIX
    * slice, and collapses through the same k-bounded heaps as the
    * recall harness; dim 64 rides along as the self-checking identity
    * row (recall exactly 1). Recall averages as matched-count / 200 —
    * one integer division, no order-dependent double sums. */
  private val annMatryoshka = Q(
    "ann_matryoshka_curve",
    (s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val queries = emb.filter(col("vec_id") < 10)
        .select(col("vec_id").as("q_id"), col("embedding").as("qv"))
      val dims = Seq(8, 16, 32, 64)
      val scored = emb.crossJoin(broadcast(queries))
        .filter(col("vec_id") =!= col("q_id"))
        .select(explode(array(dims.map(d => lit(d)): _*)).as("dim"),
          col("q_id"), col("vec_id"), col("embedding"), col("qv"))
        .select(col("dim").cast("long").as("dim"), col("q_id"), col("vec_id"),
          Similarity.cosine(
            slice(col("embedding"), lit(1), col("dim").cast("int")),
            slice(col("qv"), lit(1), col("dim").cast("int"))).as("cosine"))
      val top = scored.groupBy("dim", "q_id")
        .agg(graft.operators.TopKPerGroup.topK(annEvalK)(col("cosine"), col("vec_id")).as("top"))
        .select(col("dim"), col("q_id"), posexplode(col("top")).as(Seq("rnk0", "sc")))
        .select(col("dim"), col("q_id"), (col("rnk0") + 1).cast("long").as("rnk"),
          col("sc").getField("_2").as("vec_id"))
      val brute = top.filter(col("dim") === 64)
        .select(col("q_id"), col("vec_id"), col("rnk").as("b_rnk"))
      top.join(brute, Seq("q_id", "vec_id"))
        .groupBy("dim")
        .agg(round(count(lit(1)).cast("double") / (10.0 * annEvalK), 4)
            .as("recall_at_20"),
          countDistinct(when(col("b_rnk") === 1, col("q_id"))).as("n_nearest_found"))
        .orderBy("dim")
    },
    Some(s"""
      WITH e AS MATERIALIZED (SELECT vec_id, embedding FROM embeddings),
      q AS MATERIALIZED (SELECT vec_id AS q_id, embedding AS qv
                         FROM embeddings WHERE vec_id < 10),
      dm AS (SELECT unnest([8, 16, 32, 64]) AS dim),
      scored AS (SELECT CAST(dm.dim AS BIGINT) AS dim, q.q_id, e.vec_id,
          list_sum(list_transform(range(1, dm.dim + 1),
            i -> CAST(e.embedding[i] AS DOUBLE) * CAST(q.qv[i] AS DOUBLE)))
            / (sqrt(list_sum(list_transform(range(1, dm.dim + 1),
                 i -> CAST(e.embedding[i] AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE))))
               * sqrt(list_sum(list_transform(range(1, dm.dim + 1),
                 i -> CAST(q.qv[i] AS DOUBLE) * CAST(q.qv[i] AS DOUBLE))))) AS cos
        FROM e, q, dm WHERE e.vec_id <> q.q_id),
      top AS (SELECT dim, q_id, vec_id, rnk FROM (
                SELECT dim, q_id, vec_id,
                       row_number() OVER (PARTITION BY dim, q_id
                                          ORDER BY cos DESC, vec_id) AS rnk
                FROM scored) WHERE rnk <= $annEvalK),
      brute AS (SELECT q_id, vec_id, rnk AS b_rnk FROM top WHERE dim = 64)
      SELECT t.dim,
             round(CAST(count(*) AS DOUBLE) / ${10.0 * annEvalK}, 4) AS recall_at_20,
             CAST(count(DISTINCT CASE WHEN b.b_rnk = 1 THEN t.q_id END) AS BIGINT)
               AS n_nearest_found
      FROM top t JOIN brute b USING (q_id, vec_id)
      GROUP BY t.dim ORDER BY t.dim"""),
  )

  private val annNprobe = Q(
    "ann_nprobe_curve",
    (s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val centroids = Similarity.trainCentroidsById(emb, 16)
      val assigned = Similarity.assignToCentroids(emb, centroids)
      val queries = emb.filter(col("vec_id") < 10)
        .select(col("vec_id").as("q_id"), col("embedding").as("qv"))
      def topIds(scored: org.apache.spark.sql.DataFrame, keys: Seq[String]) = scored
        .groupBy(keys.map(col): _*)
        .agg(graft.operators.TopKPerGroup.topK(annEvalK)(col("cosine"), col("vec_id")).as("top"))
        .select(keys.map(col) :+ posexplode(col("top")).as(Seq("rnk0", "sc")): _*)
        .select(keys.map(col) :+ (col("rnk0") + 1).cast("long").as("rnk")
          :+ col("sc").getField("_2").as("vec_id"): _*)
      val brute = topIds(
        emb.crossJoin(broadcast(queries))
          .filter(col("vec_id") =!= col("q_id"))
          .select(col("q_id"), col("vec_id"),
            Similarity.cosine(col("embedding"), col("qv")).as("cosine")),
        Seq("q_id"))
        .withColumnRenamed("rnk", "brnk")
      val cpairs = centroids.crossJoin(broadcast(queries))
        .select(col("q_id"), col("centroid_id"),
          Similarity.cosine(col("centroid"), col("qv")).as("sim"))
      val wprobe = org.apache.spark.sql.expressions.Window
        .partitionBy("q_id").orderBy(col("sim").desc, col("centroid_id"))
      val probed = cpairs.withColumn("bucket_rn", row_number().over(wprobe))
        .filter(col("bucket_rn") <= 8).select("q_id", "centroid_id", "bucket_rn")
      val cands = assigned.join(broadcast(probed), Seq("centroid_id"))
        .join(broadcast(queries), Seq("q_id"))
        .filter(col("vec_id") =!= col("q_id"))
        .select(col("q_id"), col("vec_id"), col("bucket_rn"),
          Similarity.cosine(col("embedding"), col("qv")).as("cosine"))
      val spark = s
      import spark.implicits._
      val nps = Seq(1, 2, 4, 8).toDF("nprobe")
      val ivf = topIds(
        cands.crossJoin(broadcast(nps)).filter(col("bucket_rn") <= col("nprobe"))
          .select(col("nprobe"), col("q_id"), col("vec_id"), col("cosine")),
        Seq("nprobe", "q_id"))
      ivf.join(brute.select("q_id", "vec_id", "brnk"), Seq("q_id", "vec_id"))
        .groupBy("nprobe")
        .agg(
          (count(lit(1)).cast("double") / (10.0 * annEvalK)).as("avg_recall_at_20"),
          sum(when(col("brnk") === 1, 1L).otherwise(0L)).as("n_nearest_found"))
        .orderBy("nprobe")
    },
    Some(IVF_ORACLE_PRELUDE + s""",
      q AS (SELECT vec_id AS q_id, embedding AS qv FROM embeddings WHERE vec_id < 10),
      bs AS (SELECT q.q_id, e.vec_id,
               list_sum(list_transform(range(1, len(e.embedding)+1),
                 i -> CAST(e.embedding[i] AS DOUBLE) * CAST(q.qv[i] AS DOUBLE)))
                 / (sqrt(list_sum(list_transform(e.embedding, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE))))
                    * sqrt(list_sum(list_transform(q.qv, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE))))) AS cos
             FROM e, q WHERE e.vec_id <> q.q_id),
      brute AS (SELECT q_id, vec_id, rnk AS brnk FROM (
                  SELECT q_id, vec_id,
                         row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, vec_id) AS rnk
                  FROM bs) WHERE rnk <= $annEvalK),
      cp AS (SELECT q.q_id, c.centroid_id,
               list_sum(list_transform(range(1, len(c.centroid)+1),
                 i -> CAST(c.centroid[i] AS DOUBLE) * CAST(q.qv[i] AS DOUBLE)))
                 / (sqrt(list_sum(list_transform(c.centroid, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE))))
                    * sqrt(list_sum(list_transform(q.qv, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE))))) AS sim
             FROM c, q),
      probed AS (SELECT q_id, centroid_id, bucket_rn FROM (
                   SELECT q_id, centroid_id,
                          row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, centroid_id) AS bucket_rn
                   FROM cp) WHERE bucket_rn <= 8),
      cands AS (SELECT p.q_id, a.vec_id, p.bucket_rn,
               list_sum(list_transform(range(1, len(a.embedding)+1),
                 i -> CAST(a.embedding[i] AS DOUBLE) * CAST(q.qv[i] AS DOUBLE)))
                 / (sqrt(list_sum(list_transform(a.embedding, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE))))
                    * sqrt(list_sum(list_transform(q.qv, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE))))) AS cos
             FROM assigned a JOIN probed p USING (centroid_id) JOIN q USING (q_id)
             WHERE a.vec_id <> q_id),
      np AS (SELECT unnest([1, 2, 4, 8]) AS nprobe),
      ivf AS (SELECT nprobe, q_id, vec_id FROM (
                SELECT n.nprobe, cd.q_id, cd.vec_id,
                       row_number() OVER (PARTITION BY n.nprobe, cd.q_id
                         ORDER BY cd.cos DESC, cd.vec_id) AS rnk
                FROM cands cd JOIN np n ON cd.bucket_rn <= n.nprobe)
              WHERE rnk <= $annEvalK)
      SELECT i.nprobe,
             CAST(count(*) AS DOUBLE) / (10.0 * $annEvalK) AS avg_recall_at_20,
             CAST(sum(CASE WHEN b.brnk = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_nearest_found
      FROM ivf i JOIN brute b USING (q_id, vec_id)
      GROUP BY i.nprobe ORDER BY i.nprobe"""),
  )

  val all: Seq[Q] = Seq(
    o1, o5, j2, j6, fArr, fLike, fStr, a9, st7, u4, u5, annIvf, annServed, annServedBatch, annServedUpdate, annServedRecall, annServedQ, annServedQBatch, annServedIngest, annPq, annIvfPq, annInt8, annHamming, embKmeans,
    embNearDup, embNearDupQ, embLsh, embSemDedup, streamScreen, streamLsh, mmFeatures,
    mmFrames, mmDecode, mmResize, mmPhash, mmAudio, a10, keySkew,
    embDimStats, embStandardize, embPca, embPcaProject, embPcaTop2, mixPcaGrid,
    embDrift, annEval, annNprobe, annMatryoshka)
}
