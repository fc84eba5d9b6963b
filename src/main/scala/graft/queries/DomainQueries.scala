package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.Cleansing
import graft.views.Customer360

/** Correctness entries for the six customer-360 views (reference
  * `sql/customer_360_views.sql:23-742`).
  *
  * The testdata lake is TPC-H-shaped, so a deterministic, SQL-expressible
  * mapping synthesizes `customer_master` / `vehicle_sales`-shaped inputs
  * from `orders ⋈ customer` (dirty emails/phones, soft-delete flags,
  * duplicate record versions, multi-branch activity). The REAL view code
  * (`views.Customer360`) then runs over those inputs, and the DuckDB
  * oracle replicates mapping + view semantics — so every view is
  * exercised end-to-end through the differential gate.
  *
  * Output types are pinned via [[DomainQueries.pin]] (decimal→double,
  * date→ISO string, int→long) per the determinism rules in [[Q]].
  */
object DomainQueries {

  private[graft] val asOf = lit("2024-06-01").cast("date")

  /** Oracle-unambiguous output types; see Q's determinism rules. */
  private[queries] def pinTypes(df: DataFrame): DataFrame = pin(df)

  private def pin(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.types._
    df.select(df.schema.fields.map { f =>
      f.dataType match {
        case _: DecimalType => col(f.name).cast("double").as(f.name)
        case DateType       => date_format(col(f.name), "yyyy-MM-dd").as(f.name)
        case IntegerType    => col(f.name).cast("long").as(f.name)
        case _              => col(f.name)
      }
    }.toSeq: _*)
  }

  // ------------------------------------------------------------------
  // Spark-side synthetic sources (mirrored 1:1 by the SQL CTEs below)
  // ------------------------------------------------------------------

  /** customer_master-shaped rows: one version per order (dedup fodder),
    * dirty contact data, soft-delete flags. Also feeds PipelineQueries. */
  private[graft] def customerMaster(s: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(s, dir)
    val c = Tables.customer(s, dir)
    val k = col("o_custkey")
    o.join(c, o("o_custkey") === c("c_custkey"))
      .select(
        k.cast("string").as("custno"),
        when(k % 19 === 0, lit(""))
          .when(k % 23 === 0, lit(null).cast("string"))
          .otherwise(concat(lit("First"), (k % 50).cast("string"))).as("firstname"),
        col("c_name").as("lastname"),
        when(k % 10 === 0, lit("none@x.com"))
          .when(k % 10 === 1, concat(lit("USER"), k.cast("string"), lit("@Example.COM")))
          .when(k % 10 === 2, lit(null).cast("string"))
          .when(k % 10 === 3, lit("bad-email"))
          .otherwise(concat(lit("Cust"), k.cast("string"), lit("@Shop.Net"))).as("email"),
        when(k % 5 === 0, lit("555-01"))
          .when(k % 5 === 1, lit(null).cast("string"))
          .otherwise(concat(lit("+1 (555) 010-"),
            lpad((k % 10000).cast("string"), 4, "0"))).as("telephone"),
        lit(" 12 Main St ").as("address"),
        lit(null).cast("string").as("addresssecondline"),
        lit(" Springfield").as("city"),
        lit(" tx ").as("state"),
        concat(lit("750"), lpad((k % 100).cast("string"), 2, "0"), lit("-ab"))
          .as("ziporpostalcode"),
        when(k % 8 === 0, "M").when(k % 8 === 1, "m").when(k % 8 === 2, "Male")
          .when(k % 8 === 3, "F").when(k % 8 === 4, "f").when(k % 8 === 5, "FEMALE")
          .when(k % 8 === 6, "x").otherwise(lit(null).cast("string")).as("gender"),
        when(k % 11 === 0, lit(null).cast("date"))
          .otherwise(date_add(lit("1950-01-01").cast("date"),
            (k * 137 % 20000).cast("int"))).as("birthdate"),
        when(k % 13 === 0, lit("Spanish")).otherwise(lit(null).cast("string"))
          .as("preferredlanguage"),
        (k % 4 === 0).as("blockemail"),
        (k % 6 === 0).as("blockphone"),
        (k % 7 === 0).as("blockmail"),
        (k % 9 === 0).as("optoutflag"),
        when(k % 9 === 0, lit("2024-01-15").cast("date")).otherwise(lit(null).cast("date"))
          .as("optoutdate"),
        (k % 41 === 0).as("deletedataflag"),
        when(k % 31 === 0, lit(true)).otherwise(lit(null).cast("boolean")).as("isdeleted"),
        when(k % 8 === 0, lit(null).cast("date"))
          .otherwise(date_sub(lit("2024-06-01").cast("date"),
            (k * 7 % 600).cast("int"))).as("lastservicedate"),
        col("o_totalprice").cast("decimal(18,2)").as("ytdpurchases"),
        when(k % 8 === 0, lit(null).cast("decimal(18,2)"))
          .otherwise((k % 3000).cast("decimal(18,2)")).as("totallabor"),
        when(k % 12 === 0, lit(null).cast("decimal(18,2)"))
          .otherwise((k % 2000).cast("decimal(18,2)")).as("totalparts"),
        expr("timestampadd(SECOND, CAST(o_orderkey % 86400 AS INT), o_orderdate)")
          .as("lastupdated"),
        expr("CAST(date_sub(CAST(o_orderdate AS DATE), 1000) AS TIMESTAMP)")
          .as("dateadded"),
        // unique CDC-style source row id: the dedup window's tiebreak —
        // (lastupdated, dateadded) alone is not a total order (same-day
        // versions collide), and rank-1 under ties is engine-arbitrary
        col("o_orderkey").as("sourcerowid"))
  }

  /** vehicle_sales-shaped rows: one deal per order plus a modified later
    * version for every 4th deal (latest-version-wins fodder). */
  private[graft] def vehicleSales(s: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(s, dir)
    val k = col("o_orderkey")
    val base = o.select(
      k.as("okey"),
      concat(lit("D"), k.cast("string")).as("dealno"),
      when((col("o_custkey") + k) % 4 === 0, "FORD-MAIN")
        .when((col("o_custkey") + k) % 4 === 1, "TOYOTA-NORTH")
        .when((col("o_custkey") + k) % 4 === 2, "CHEV-SOUTH")
        .otherwise("WEST-LOT").as("branch"),
      col("o_custkey").cast("string").as("custno"),
      when(k % 29 === 0, lit(null).cast("string"))
        .otherwise(concat(lit("VIN"), lpad(k.cast("string"), 9, "0"))).as("vin"),
      concat(lit("S"), k.cast("string")).as("stockno"),
      (k % 30 + 1995).cast("string").as("year"),
      when(k % 5 === 0, "Ford").when(k % 5 === 1, "Toyota").when(k % 5 === 2, "Chevrolet")
        .when(k % 5 === 3, "Honda").otherwise("BMW").as("makename"),
      concat(lit("Model-"), (k % 7).cast("string")).as("modelname"),
      when(k % 3 === 0, "Sedan").when(k % 3 === 1, "SUV").otherwise("Truck").as("bodystyle"),
      when(k % 6 === 0, "White").when(k % 6 === 1, "Black").when(k % 6 === 2, "Silver")
        .when(k % 6 === 3, "Blue").when(k % 6 === 4, "Red").otherwise("Green").as("color"),
      (k % 100000).cast("decimal(18,2)").as("vehiclemileage"),
      when(k % 4 === 0, "NEW CAR").when(k % 4 === 1, "used vehicle")
        .when(k % 4 === 2, "Certified pre-owned").otherwise("DEMO").as("modeltype"),
      when(k % 3 === 0, "CASH DEAL").when(k % 3 === 1, "Retail Finance")
        .otherwise("Smart Lease").as("saletype"),
      when(k % 2 === 0, "Retail").otherwise("Wholesale").as("dealtype"),
      col("o_totalprice").cast("decimal(18,2)").as("cashprice"),
      (col("o_totalprice").cast("decimal(18,2)") - 500).as("costprice"),
      (col("o_totalprice").cast("decimal(18,2)") + 250).as("outthedoorprice"),
      (k % 5000).cast("decimal(18,2)").as("totalgross"),
      (k % 3000).cast("decimal(18,2)").as("frontgross"),
      (k % 1500).cast("decimal(18,2)").as("backgross"),
      when(k % 6 === 0, lit(null).cast("decimal(18,2)"))
        .otherwise((k % 2000).cast("decimal(18,2)")).as("customercashdown"),
      (k % 2500).cast("decimal(18,2)").as("totaldown"),
      when(k % 3 === 1, lit("Big Bank")).otherwise(lit(null).cast("string"))
        .as("financesource"),
      when(k % 3 === 1, col("o_totalprice").cast("decimal(18,2)") - 250)
        .otherwise(lit(null).cast("decimal(19,2)")).as("financeamt"),
      (k % 25).cast("decimal(18,2)").as("apr"),
      ((k % 6 + 1) * 12).cast("decimal(18,0)").as("term"),
      (k % 900).cast("decimal(18,2)").as("paymentamt"),
      when(k % 3 === 0, concat(lit("TVIN"), k.cast("string")))
        .otherwise(lit(null).cast("string")).as("trade1vin"),
      when(k % 3 === 0, (k % 5000 + 500).cast("decimal(18,2)"))
        .otherwise(lit(null).cast("decimal(18,2)")).as("trade1acv"),
      when(k % 3 === 0, (k % 3500).cast("decimal(18,2)"))
        .otherwise(lit(null).cast("decimal(18,2)")).as("trade1payoff"),
      when(k % 3 === 0, (k % 4000 - 2000).cast("decimal(18,2)"))
        .otherwise(lit(null).cast("decimal(18,2)")).as("nettrade1"),
      when(k % 3 === 0, (k % 25 + 1990).cast("string"))
        .otherwise(lit(null).cast("string")).as("trade1year"),
      when(k % 3 === 0, lit("Mazda")).otherwise(lit(null).cast("string"))
        .as("trade1makename"),
      when(k % 3 === 0, concat(lit("M"), (k % 5).cast("string")))
        .otherwise(lit(null).cast("string")).as("trade1modelname"),
      when(k % 3 === 2, lit("Closed")).otherwise(lit(null).cast("string")).as("leasetype"),
      when(k % 3 === 2, (k % 700).cast("decimal(18,2)"))
        .otherwise(lit(null).cast("decimal(18,2)")).as("leasepayment"),
      when(k % 3 === 2, (k % 3 * 2500 + 10000).cast("decimal(18,2)"))
        .otherwise(lit(null).cast("decimal(18,2)")).as("leasemileageallowance"),
      when(k % 3 === 2, col("o_totalprice").cast("decimal(18,2)") - 1000)
        .otherwise(lit(null).cast("decimal(19,2)")).as("leaseendvalue"),
      concat(lit("Mgr"), (k % 10).cast("string")).as("crmsalesmgrname"),
      concat(lit("SP"), (k % 25).cast("string")).as("crmsp1name"),
      (col("o_orderdate") + expr("INTERVAL 2 DAYS")).as("salesdate"),
      col("o_orderdate").as("contractdate"),
      expr("timestampadd(SECOND, CAST(o_orderkey % 86400 AS INT), o_orderdate)")
        .as("rowlastupdatedutc"))
    val updated = base.filter(col("okey") % 4 === 0)
      .withColumn("color", lit("UPDATED"))
      .withColumn("outthedoorprice", col("outthedoorprice") + 1000)
      .withColumn("rowlastupdatedutc", col("rowlastupdatedutc") + expr("INTERVAL 1 DAY"))
    base.unionByName(updated)
  }

  // ------------------------------------------------------------------
  // Shared DuckDB CTE prelude mirroring the mapping + profile/history
  // views; each entry's oracle is WITH <prelude> <body>.
  // ------------------------------------------------------------------

  private val CM_SQL = """
    SELECT CAST(o_custkey AS VARCHAR) AS custno,
      CASE WHEN o_custkey % 19 = 0 THEN '' WHEN o_custkey % 23 = 0 THEN NULL
           ELSE 'First' || CAST(o_custkey % 50 AS VARCHAR) END AS firstname,
      c_name AS lastname,
      CASE WHEN o_custkey % 10 = 0 THEN 'none@x.com'
           WHEN o_custkey % 10 = 1 THEN 'USER' || CAST(o_custkey AS VARCHAR) || '@Example.COM'
           WHEN o_custkey % 10 = 2 THEN NULL
           WHEN o_custkey % 10 = 3 THEN 'bad-email'
           ELSE 'Cust' || CAST(o_custkey AS VARCHAR) || '@Shop.Net' END AS email,
      CASE WHEN o_custkey % 5 = 0 THEN '555-01'
           WHEN o_custkey % 5 = 1 THEN NULL
           ELSE '+1 (555) 010-' || lpad(CAST(o_custkey % 10000 AS VARCHAR), 4, '0') END AS telephone,
      ' 12 Main St ' AS address, CAST(NULL AS VARCHAR) AS addresssecondline,
      ' Springfield' AS city, ' tx ' AS state,
      '750' || lpad(CAST(o_custkey % 100 AS VARCHAR), 2, '0') || '-ab' AS ziporpostalcode,
      CASE o_custkey % 8 WHEN 0 THEN 'M' WHEN 1 THEN 'm' WHEN 2 THEN 'Male'
           WHEN 3 THEN 'F' WHEN 4 THEN 'f' WHEN 5 THEN 'FEMALE' WHEN 6 THEN 'x'
           ELSE NULL END AS gender,
      CASE WHEN o_custkey % 11 = 0 THEN NULL
           ELSE DATE '1950-01-01' + CAST(o_custkey * 137 % 20000 AS INT) END AS birthdate,
      CASE WHEN o_custkey % 13 = 0 THEN 'Spanish' END AS preferredlanguage,
      o_custkey % 4 = 0 AS blockemail, o_custkey % 6 = 0 AS blockphone,
      o_custkey % 7 = 0 AS blockmail, o_custkey % 9 = 0 AS optoutflag,
      CASE WHEN o_custkey % 9 = 0 THEN DATE '2024-01-15' END AS optoutdate,
      o_custkey % 41 = 0 AS deletedataflag,
      CASE WHEN o_custkey % 31 = 0 THEN TRUE END AS isdeleted,
      CASE WHEN o_custkey % 8 = 0 THEN NULL
           ELSE DATE '2024-06-01' - CAST(o_custkey * 7 % 600 AS INT) END AS lastservicedate,
      CAST(o_totalprice AS DECIMAL(18,2)) AS ytdpurchases,
      CASE WHEN o_custkey % 8 = 0 THEN NULL
           ELSE CAST(o_custkey % 3000 AS DECIMAL(18,2)) END AS totallabor,
      CASE WHEN o_custkey % 12 = 0 THEN NULL
           ELSE CAST(o_custkey % 2000 AS DECIMAL(18,2)) END AS totalparts,
      o_orderdate + INTERVAL (o_orderkey % 86400) SECOND AS lastupdated,
      CAST((CAST(o_orderdate AS DATE) - 1000) AS TIMESTAMP) AS dateadded,
      o_orderkey AS sourcerowid
    FROM orders JOIN customer ON o_custkey = c_custkey"""

  private val VSBASE_SQL = """
    SELECT o_orderkey AS okey,
      'D' || CAST(o_orderkey AS VARCHAR) AS dealno,
      CASE (o_custkey + o_orderkey) % 4 WHEN 0 THEN 'FORD-MAIN' WHEN 1 THEN 'TOYOTA-NORTH'
           WHEN 2 THEN 'CHEV-SOUTH' ELSE 'WEST-LOT' END AS branch,
      CAST(o_custkey AS VARCHAR) AS custno,
      CASE WHEN o_orderkey % 29 = 0 THEN NULL
           ELSE 'VIN' || lpad(CAST(o_orderkey AS VARCHAR), 9, '0') END AS vin,
      'S' || CAST(o_orderkey AS VARCHAR) AS stockno,
      CAST(o_orderkey % 30 + 1995 AS VARCHAR) AS "year",
      CASE o_orderkey % 5 WHEN 0 THEN 'Ford' WHEN 1 THEN 'Toyota' WHEN 2 THEN 'Chevrolet'
           WHEN 3 THEN 'Honda' ELSE 'BMW' END AS makename,
      'Model-' || CAST(o_orderkey % 7 AS VARCHAR) AS modelname,
      CASE o_orderkey % 3 WHEN 0 THEN 'Sedan' WHEN 1 THEN 'SUV' ELSE 'Truck' END AS bodystyle,
      CASE o_orderkey % 6 WHEN 0 THEN 'White' WHEN 1 THEN 'Black' WHEN 2 THEN 'Silver'
           WHEN 3 THEN 'Blue' WHEN 4 THEN 'Red' ELSE 'Green' END AS color,
      CAST(o_orderkey % 100000 AS DECIMAL(18,2)) AS vehiclemileage,
      CASE o_orderkey % 4 WHEN 0 THEN 'NEW CAR' WHEN 1 THEN 'used vehicle'
           WHEN 2 THEN 'Certified pre-owned' ELSE 'DEMO' END AS modeltype,
      CASE o_orderkey % 3 WHEN 0 THEN 'CASH DEAL' WHEN 1 THEN 'Retail Finance'
           ELSE 'Smart Lease' END AS saletype,
      CASE o_orderkey % 2 WHEN 0 THEN 'Retail' ELSE 'Wholesale' END AS dealtype,
      CAST(o_totalprice AS DECIMAL(18,2)) AS cashprice,
      CAST(o_totalprice AS DECIMAL(18,2)) - 500 AS costprice,
      CAST(o_totalprice AS DECIMAL(18,2)) + 250 AS outthedoorprice,
      CAST(o_orderkey % 5000 AS DECIMAL(18,2)) AS totalgross,
      CAST(o_orderkey % 3000 AS DECIMAL(18,2)) AS frontgross,
      CAST(o_orderkey % 1500 AS DECIMAL(18,2)) AS backgross,
      CASE WHEN o_orderkey % 6 = 0 THEN NULL
           ELSE CAST(o_orderkey % 2000 AS DECIMAL(18,2)) END AS customercashdown,
      CAST(o_orderkey % 2500 AS DECIMAL(18,2)) AS totaldown,
      CASE WHEN o_orderkey % 3 = 1 THEN 'Big Bank' END AS financesource,
      CASE WHEN o_orderkey % 3 = 1 THEN CAST(o_totalprice AS DECIMAL(18,2)) - 250 END AS financeamt,
      CAST(o_orderkey % 25 AS DECIMAL(18,2)) AS apr,
      CAST((o_orderkey % 6 + 1) * 12 AS DECIMAL(18,0)) AS term,
      CAST(o_orderkey % 900 AS DECIMAL(18,2)) AS paymentamt,
      CASE WHEN o_orderkey % 3 = 0 THEN 'TVIN' || CAST(o_orderkey AS VARCHAR) END AS trade1vin,
      CASE WHEN o_orderkey % 3 = 0 THEN CAST(o_orderkey % 5000 + 500 AS DECIMAL(18,2)) END AS trade1acv,
      CASE WHEN o_orderkey % 3 = 0 THEN CAST(o_orderkey % 3500 AS DECIMAL(18,2)) END AS trade1payoff,
      CASE WHEN o_orderkey % 3 = 0 THEN CAST(o_orderkey % 4000 - 2000 AS DECIMAL(18,2)) END AS nettrade1,
      CASE WHEN o_orderkey % 3 = 0 THEN CAST(o_orderkey % 25 + 1990 AS VARCHAR) END AS trade1year,
      CASE WHEN o_orderkey % 3 = 0 THEN 'Mazda' END AS trade1makename,
      CASE WHEN o_orderkey % 3 = 0 THEN 'M' || CAST(o_orderkey % 5 AS VARCHAR) END AS trade1modelname,
      CASE WHEN o_orderkey % 3 = 2 THEN 'Closed' END AS leasetype,
      CASE WHEN o_orderkey % 3 = 2 THEN CAST(o_orderkey % 700 AS DECIMAL(18,2)) END AS leasepayment,
      CASE WHEN o_orderkey % 3 = 2 THEN CAST(o_orderkey % 3 * 2500 + 10000 AS DECIMAL(18,2)) END AS leasemileageallowance,
      CASE WHEN o_orderkey % 3 = 2 THEN CAST(o_totalprice AS DECIMAL(18,2)) - 1000 END AS leaseendvalue,
      'Mgr' || CAST(o_orderkey % 10 AS VARCHAR) AS crmsalesmgrname,
      'SP' || CAST(o_orderkey % 25 AS VARCHAR) AS crmsp1name,
      o_orderdate + INTERVAL 2 DAY AS salesdate,
      o_orderdate AS contractdate,
      o_orderdate + INTERVAL (o_orderkey % 86400) SECOND AS rowlastupdatedutc
    FROM orders"""

  private val VSM_SQL = """
    SELECT * FROM vsbase
    UNION ALL
    SELECT okey, dealno, branch, custno, vin, stockno, "year", makename, modelname,
      bodystyle, 'UPDATED' AS color, vehiclemileage, modeltype, saletype, dealtype,
      cashprice, costprice, outthedoorprice + 1000 AS outthedoorprice, totalgross,
      frontgross, backgross, customercashdown, totaldown, financesource, financeamt,
      apr, term, paymentamt, trade1vin, trade1acv, trade1payoff, nettrade1,
      trade1year, trade1makename, trade1modelname, leasetype, leasepayment,
      leasemileageallowance, leaseendvalue, crmsalesmgrname, crmsp1name,
      salesdate, contractdate, rowlastupdatedutc + INTERVAL 1 DAY AS rowlastupdatedutc
    FROM vsbase WHERE okey % 4 = 0"""

  private val CP_SQL = """
    SELECT 'AUTO-' || custno AS user_id, custno, firstname, lastname,
      CASE WHEN email IS NOT NULL AND email <> ''
                AND NOT regexp_matches(email, '^(no|nothanks|none|noemail|no.email|na)@', 'i')
                AND NOT regexp_matches(email, '(@example.com|@test.com|@invalid.com)', 'i')
                AND regexp_matches(email, '@.+\..+', 'i')
           THEN lower(trim(email)) END AS email,
      CASE WHEN telephone IS NOT NULL AND telephone <> ''
                AND length(regexp_replace(telephone, '[^0-9]', '', 'g')) >= 10
           THEN regexp_replace(telephone, '[^0-9]', '', 'g') END AS phone,
      trim(address) AS address, trim(addresssecondline) AS address2,
      trim(city) AS city, upper(trim(state)) AS state,
      regexp_replace(ziporpostalcode, '[^0-9-]', '', 'g') AS zip,
      CASE WHEN gender IN ('M','Male','MALE','m') THEN 'Male'
           WHEN gender IN ('F','Female','FEMALE','f') THEN 'Female'
           ELSE 'Unknown' END AS gender,
      birthdate,
      CASE WHEN birthdate IS NOT NULL
           THEN year(DATE '2024-06-01') - year(birthdate) END AS age,
      CASE WHEN birthdate IS NULL THEN 'Unknown'
           WHEN year(DATE '2024-06-01') - year(birthdate) < 25 THEN 'Gen Z (Under 25)'
           WHEN year(DATE '2024-06-01') - year(birthdate) < 40 THEN 'Millennial (25-39)'
           WHEN year(DATE '2024-06-01') - year(birthdate) < 55 THEN 'Gen X (40-54)'
           WHEN year(DATE '2024-06-01') - year(birthdate) < 75 THEN 'Boomer (55-74)'
           ELSE 'Silent (75+)' END AS generation,
      coalesce(preferredlanguage, 'English') AS preferred_language,
      coalesce(blockemail, false) AS email_opt_out,
      coalesce(blockphone, false) AS phone_opt_out,
      coalesce(blockmail, false) AS mail_opt_out,
      coalesce(optoutflag, false) AS marketing_opt_out,
      optoutdate AS opt_out_date,
      coalesce(ytdpurchases, 0) AS ytd_purchases,
      coalesce(totallabor + totalparts, 0) AS lifetime_service_value,
      lastservicedate AS last_service_date,
      CASE WHEN lastservicedate IS NULL THEN 'Never Serviced'
           WHEN lastservicedate >= (DATE '2024-06-01' - 90) THEN 'Recent (0-90 days)'
           WHEN lastservicedate >= (DATE '2024-06-01' - 180) THEN 'Moderate (91-180 days)'
           WHEN lastservicedate >= (DATE '2024-06-01' - 365) THEN 'Distant (181-365 days)'
           ELSE 'Inactive (365+ days)' END AS service_recency,
      dateadded AS customer_since,
      year(DATE '2024-06-01') - year(dateadded) AS customer_tenure_years,
      lastupdated AS last_updated
    FROM (SELECT cm.*, row_number() OVER (PARTITION BY custno
                  ORDER BY lastupdated DESC, dateadded DESC, sourcerowid DESC) AS customer_rank
          FROM cm
          WHERE (isdeleted IS NULL OR isdeleted = false)
            AND (deletedataflag IS NULL OR deletedataflag = false)) t
    WHERE customer_rank = 1
      AND firstname IS NOT NULL AND firstname <> ''
      AND lastname IS NOT NULL AND lastname <> ''
      AND ((email IS NOT NULL AND email <> '' AND regexp_matches(email, '@.+\..+', 'i'))
           OR (telephone IS NOT NULL AND telephone <> ''
               AND length(regexp_replace(telephone, '[^0-9]', '', 'g')) >= 10))"""

  private val VH_SQL = """
    SELECT 'AUTO-' || custno AS user_id, custno, dealno AS deal_number, vin,
      stockno AS stock_number, makename AS make, modelname AS model, "year",
      bodystyle AS body_style, color,
      CASE WHEN modeltype ILIKE '%new%' THEN 'New'
           WHEN modeltype ILIKE '%used%' THEN 'Used'
           WHEN modeltype ILIKE '%certified%' THEN 'Certified Pre-Owned'
           ELSE modeltype END AS vehicle_condition,
      vehiclemileage AS odometer_reading,
      CASE WHEN saletype ILIKE '%cash%' THEN 'Cash'
           WHEN saletype ILIKE '%finance%' THEN 'Financed'
           WHEN saletype ILIKE '%lease%' THEN 'Lease'
           ELSE saletype END AS transaction_type,
      dealtype AS deal_category, branch AS dealership_location,
      cashprice AS vehicle_price, outthedoorprice AS total_price,
      costprice AS dealer_cost, totalgross AS total_gross_profit,
      frontgross AS vehicle_gross_profit, backgross AS finance_insurance_profit,
      customercashdown AS cash_down, totaldown AS total_down_payment,
      financesource AS lender, financeamt AS amount_financed,
      apr AS interest_rate, term AS finance_term_months, paymentamt AS monthly_payment,
      trade1vin AS trade_vin, trade1acv AS trade_actual_value,
      trade1payoff AS trade_payoff, nettrade1 AS trade_equity,
      trade1year || ' ' || trade1makename || ' ' || trade1modelname AS trade_vehicle_description,
      leasetype AS lease_type, leasepayment AS lease_payment,
      leasemileageallowance AS lease_mile_allowance, leaseendvalue AS lease_residual_value,
      crmsalesmgrname AS sales_manager, crmsp1name AS salesperson,
      contractdate AS purchase_date, salesdate AS delivery_date,
      row_number() OVER (PARTITION BY custno ORDER BY contractdate, dealno) AS purchase_sequence,
      date_diff('day', CAST(contractdate AS DATE), DATE '2024-06-01') AS days_since_purchase,
      CASE WHEN contractdate >= (DATE '2024-06-01' - 30) THEN 'Recent (0-30 days)'
           WHEN contractdate >= (DATE '2024-06-01' - 90) THEN 'Moderate (31-90 days)'
           WHEN contractdate >= (DATE '2024-06-01' - 365) THEN 'Past Year (91-365 days)'
           WHEN contractdate >= (DATE '2024-06-01' - 1095) THEN 'Historical (1-3 years)'
           ELSE 'Legacy (3+ years)' END AS purchase_recency,
      rowlastupdatedutc AS last_updated
    FROM (SELECT vsm.*, row_number() OVER (PARTITION BY dealno
                  ORDER BY rowlastupdatedutc DESC, vin DESC) AS deal_rank
          FROM vsm
          WHERE custno IS NOT NULL AND vin IS NOT NULL AND contractdate IS NOT NULL) r
    WHERE deal_rank = 1"""

  /** The cleansed + deduped profiles frame shared by five views —
    * memoized per session via [[graft.SharedFrames]] (build once,
    * every later consumer reuses the materialized blocks; see the
    * 100 TB rationale there). Semantically identical to calling
    * `Customer360.customerProfiles` inline. */
  private[graft] def sharedProfiles(s: SparkSession, dir: String): DataFrame =
    graft.SharedFrames.cached(s, s"customer_profiles:$dir") {
      Customer360.customerProfiles(customerMaster(s, dir), asOf,
        Seq(col("sourcerowid").desc))
    }

  /** The deduped vehicle-history frame (W2 dedup + normalization +
    * purchase-sequence windows), shared the same way — consumers:
    * `v_vehicle_history`, `v_customer_segments`, the activation feed. */
  private[graft] def sharedVehicleHistory(s: SparkSession, dir: String): DataFrame =
    graft.SharedFrames.cached(s, s"vehicle_history:$dir") {
      Customer360.vehicleHistory(vehicleSales(s, dir), asOf)
    }

  private[queries] def withPrelude(body: String): String =
    s"""WITH cm AS ($CM_SQL),
        vsbase AS ($VSBASE_SQL),
        vsm AS ($VSM_SQL),
        cp AS ($CP_SQL),
        vh AS ($VH_SQL)
        $body"""

  // ------------------------------------------------------------------ entries

  private val vProfiles = Q(
    "v_customer_profiles",
    (s, dir) => pin(sharedProfiles(s, dir))
      .orderBy("custno"),
    Some(withPrelude("""
      SELECT user_id, custno, firstname, lastname, email, phone, address, address2,
             city, state, zip, gender,
             strftime(birthdate, '%Y-%m-%d') AS birthdate,
             CAST(age AS BIGINT) AS age, generation, preferred_language,
             email_opt_out, phone_opt_out, mail_opt_out, marketing_opt_out,
             strftime(opt_out_date, '%Y-%m-%d') AS opt_out_date,
             CAST(ytd_purchases AS DOUBLE) AS ytd_purchases,
             CAST(lifetime_service_value AS DOUBLE) AS lifetime_service_value,
             strftime(last_service_date, '%Y-%m-%d') AS last_service_date,
             service_recency, customer_since,
             CAST(customer_tenure_years AS BIGINT) AS customer_tenure_years,
             last_updated
      FROM cp ORDER BY custno""")),
  )

  private val vHistory = Q(
    "v_vehicle_history",
    (s, dir) => pin(sharedVehicleHistory(s, dir))
      .orderBy("deal_number"),
    Some(withPrelude("""
      SELECT user_id, custno, deal_number, vin, stock_number, make, model, "year",
             body_style, color, vehicle_condition,
             CAST(odometer_reading AS DOUBLE) AS odometer_reading,
             transaction_type, deal_category, dealership_location,
             CAST(vehicle_price AS DOUBLE) AS vehicle_price,
             CAST(total_price AS DOUBLE) AS total_price,
             CAST(dealer_cost AS DOUBLE) AS dealer_cost,
             CAST(total_gross_profit AS DOUBLE) AS total_gross_profit,
             CAST(vehicle_gross_profit AS DOUBLE) AS vehicle_gross_profit,
             CAST(finance_insurance_profit AS DOUBLE) AS finance_insurance_profit,
             CAST(cash_down AS DOUBLE) AS cash_down,
             CAST(total_down_payment AS DOUBLE) AS total_down_payment,
             lender, CAST(amount_financed AS DOUBLE) AS amount_financed,
             CAST(interest_rate AS DOUBLE) AS interest_rate,
             CAST(finance_term_months AS DOUBLE) AS finance_term_months,
             CAST(monthly_payment AS DOUBLE) AS monthly_payment,
             trade_vin, CAST(trade_actual_value AS DOUBLE) AS trade_actual_value,
             CAST(trade_payoff AS DOUBLE) AS trade_payoff,
             CAST(trade_equity AS DOUBLE) AS trade_equity,
             trade_vehicle_description, lease_type,
             CAST(lease_payment AS DOUBLE) AS lease_payment,
             CAST(lease_mile_allowance AS DOUBLE) AS lease_mile_allowance,
             CAST(lease_residual_value AS DOUBLE) AS lease_residual_value,
             sales_manager, salesperson, purchase_date, delivery_date,
             CAST(purchase_sequence AS BIGINT) AS purchase_sequence,
             CAST(days_since_purchase AS BIGINT) AS days_since_purchase,
             purchase_recency, last_updated
      FROM vh ORDER BY deal_number""")),
  )

  private val vSegments = Q(
    "v_customer_segments",
    // The two ARRAY_AGG columns cross the driver boundary '|'-joined:
    // the differential harness hashes scalar columns only.
    (s, dir) => pin(Customer360.customerSegments(
      sharedProfiles(s, dir),
      sharedVehicleHistory(s, dir), asOf)
      .withColumn("preferred_makes", array_join(col("preferred_makes"), "|"))
      .withColumn("purchase_patterns", array_join(col("purchase_patterns"), "|")))
      .orderBy("custno"),
    Some(withPrelude("""
      , sbase AS (
        SELECT cp.user_id, cp.custno, cp.firstname, cp.lastname, cp.email, cp.phone,
               cp.state, cp.zip, cp.age, cp.generation, cp.customer_tenure_years,
               cp.last_service_date, cp.lifetime_service_value,
               vh.deal_number, vh.total_price, vh.purchase_date, vh.make,
               vh.vehicle_condition, vh.cash_down, vh.transaction_type,
               vh.trade_vin, vh.trade_equity
        FROM cp LEFT JOIN vh ON cp.user_id = vh.user_id),
      m AS (
        SELECT user_id, custno, firstname, lastname, email, phone, state, zip, age,
               generation, customer_tenure_years, last_service_date, lifetime_service_value,
               count(deal_number) AS total_purchases,
               sum(total_price) AS lifetime_purchase_value,
               CAST(sum(total_price) AS DOUBLE) / count(total_price) AS avg_purchase_value,
               max(purchase_date) AS last_purchase_date,
               min(purchase_date) AS first_purchase_date,
               CAST(sum(cash_down) AS DOUBLE) / count(cash_down) AS avg_down_payment,
               count(*) FILTER (WHERE transaction_type = 'Cash') AS cash_purchases,
               count(*) FILTER (WHERE transaction_type = 'Financed') AS financed_purchases,
               count(*) FILTER (WHERE transaction_type = 'Lease') AS lease_purchases,
               count(*) FILTER (WHERE trade_vin IS NOT NULL) AS trades_made,
               CAST(sum(trade_equity) AS DOUBLE) / count(trade_equity) AS avg_trade_equity
        FROM sbase
        GROUP BY user_id, custno, firstname, lastname, email, phone, state, zip, age,
                 generation, customer_tenure_years, last_service_date, lifetime_service_value),
      mk AS (SELECT user_id, make, max(purchase_date) AS md FROM sbase
             WHERE make IS NOT NULL GROUP BY user_id, make),
      mka AS (SELECT user_id, string_agg(make, '|' ORDER BY md DESC, make) AS preferred_makes
              FROM mk GROUP BY user_id),
      vc AS (SELECT user_id, vehicle_condition, max(purchase_date) AS md FROM sbase
             WHERE vehicle_condition IS NOT NULL GROUP BY user_id, vehicle_condition),
      vca AS (SELECT user_id, string_agg(vehicle_condition, '|' ORDER BY md DESC, vehicle_condition)
                AS purchase_patterns FROM vc GROUP BY user_id)
      SELECT m.user_id, m.custno, m.firstname, m.lastname, m.email, m.phone, m.state,
             m.zip, CAST(m.age AS BIGINT) AS age, m.generation,
             m.total_purchases,
             CAST(m.lifetime_purchase_value AS DOUBLE) AS lifetime_purchase_value,
             CAST(m.lifetime_service_value AS DOUBLE) AS lifetime_service_value,
             CAST(m.lifetime_purchase_value + m.lifetime_service_value AS DOUBLE)
               AS total_lifetime_value,
             m.avg_purchase_value,
             coalesce(mka.preferred_makes, '') AS preferred_makes,
             coalesce(vca.purchase_patterns, '') AS purchase_patterns,
             m.avg_down_payment, m.cash_purchases, m.financed_purchases,
             m.lease_purchases, m.trades_made, m.avg_trade_equity,
             m.last_purchase_date, m.first_purchase_date,
             strftime(m.last_service_date, '%Y-%m-%d') AS last_service_date,
             CAST(coalesce(date_diff('day', CAST(m.last_purchase_date AS DATE),
               DATE '2024-06-01'), 999999) AS BIGINT) AS days_since_last_purchase,
             CAST(coalesce(date_diff('day', m.last_service_date,
               DATE '2024-06-01'), 999999) AS BIGINT) AS days_since_last_service,
             CASE WHEN m.lifetime_purchase_value + m.lifetime_service_value >= 100000 THEN 'VIP'
                  WHEN m.lifetime_purchase_value + m.lifetime_service_value >= 50000
                       AND m.total_purchases >= 2 THEN 'High Value Repeat'
                  WHEN m.lifetime_purchase_value + m.lifetime_service_value >= 25000 THEN 'High Value'
                  WHEN m.total_purchases >= 2 THEN 'Repeat Customer'
                  WHEN m.total_purchases = 1 AND date_diff('day',
                       CAST(m.last_purchase_date AS DATE), DATE '2024-06-01') <= 365
                    THEN 'Recent First-Time'
                  WHEN m.total_purchases = 1 THEN 'Historical First-Time'
                  WHEN m.lifetime_service_value > 0 THEN 'Service Only'
                  ELSE 'Prospect' END AS customer_segment,
             coalesce(m.last_purchase_date >= (DATE '2024-06-01' - 30), false) AS recent_buyer,
             coalesce(m.total_purchases >= 2 AND date_diff('day',
               CAST(m.last_purchase_date AS DATE), DATE '2024-06-01') BETWEEN 1095 AND 1460,
               false) AS trade_up_candidate,
             coalesce(m.last_service_date IS NOT NULL AND date_diff('day',
               m.last_service_date, DATE '2024-06-01') BETWEEN 90 AND 180,
               false) AS service_due_candidate,
             coalesce(m.lifetime_service_value = 0 AND m.last_purchase_date IS NOT NULL
               AND date_diff('day', CAST(m.last_purchase_date AS DATE),
                 DATE '2024-06-01') >= 90, false) AS service_acquisition_target,
             CAST(m.customer_tenure_years AS BIGINT) AS customer_tenure_years
      FROM m
      LEFT JOIN mka ON m.user_id = mka.user_id
      LEFT JOIN vca ON m.user_id = vca.user_id
      WHERE m.email IS NOT NULL OR m.phone IS NOT NULL
      ORDER BY m.custno""")),
  )

  private val vDealership = Q(
    "v_dealership_profiles",
    (s, dir) => pin(Customer360.dealershipProfiles(
      sharedProfiles(s, dir),
      vehicleSales(s, dir)))
      .orderBy("custno"),
    Some(withPrelude("""
      , lc AS (
        SELECT custno, branch AS primary_dealership, count(*) AS transaction_count,
               max(contractdate) AS last_transaction_date,
               row_number() OVER (PARTITION BY custno
                 ORDER BY count(*) DESC, max(contractdate) DESC, branch) AS dealership_rank
        FROM vsm WHERE custno IS NOT NULL AND branch IS NOT NULL
        GROUP BY custno, branch)
      SELECT CASE WHEN lc.primary_dealership = 'FORD-MAIN' THEN 'FORD-MAIN-' || cp.custno
                  WHEN lc.primary_dealership = 'TOYOTA-NORTH' THEN 'TOY-NORTH-' || cp.custno
                  WHEN lc.primary_dealership = 'CHEV-SOUTH' THEN 'CHEV-SOUTH-' || cp.custno
                  ELSE 'AUTO-' || lc.primary_dealership || '-' || cp.custno END AS user_id,
             cp.custno,
             cp.firstname AS first_name, cp.lastname AS last_name,
             cp.email, cp.phone, cp.address, cp.address2, cp.city, cp.state, cp.zip,
             CASE WHEN lc.primary_dealership = 'FORD-MAIN' THEN 'Downtown Ford'
                  WHEN lc.primary_dealership = 'TOYOTA-NORTH' THEN 'North Toyota'
                  WHEN lc.primary_dealership = 'CHEV-SOUTH' THEN 'South Chevrolet'
                  ELSE lc.primary_dealership END AS dealership,
             lc.primary_dealership AS dealership_code,
             lc.transaction_count, lc.last_transaction_date,
             cp.gender, CAST(cp.age AS BIGINT) AS age, cp.generation,
             cp.preferred_language,
             cp.email_opt_out, cp.phone_opt_out, cp.mail_opt_out, cp.marketing_opt_out,
             strftime(cp.opt_out_date, '%Y-%m-%d') AS opt_out_date,
             CAST(cp.ytd_purchases AS DOUBLE) AS ytd_purchases,
             CAST(cp.lifetime_service_value AS DOUBLE) AS lifetime_service_value,
             strftime(cp.last_service_date, '%Y-%m-%d') AS last_service_date,
             cp.service_recency, cp.customer_since,
             CAST(cp.customer_tenure_years AS BIGINT) AS customer_tenure_years,
             cp.last_updated
      FROM cp JOIN lc ON cp.custno = lc.custno
      WHERE lc.dealership_rank = 1 AND cp.email IS NOT NULL
        AND cp.email_opt_out = false AND cp.marketing_opt_out = false
        AND lc.primary_dealership IS NOT NULL
      ORDER BY cp.custno""")),
  )

  private val vValidated = Q(
    "v_validated_sales",
    (s, dir) => pin(Customer360.validatedSales(
      vehicleSales(s, dir),
      sharedProfiles(s, dir)))
      .orderBy("deal_number"),
    Some(withPrelude("""
      , vs0 AS (
        SELECT vsm.* FROM vsm JOIN cp ON vsm.custno = cp.custno
        WHERE vsm.custno IS NOT NULL AND vsm.vin IS NOT NULL
          AND vsm.contractdate IS NOT NULL
          AND cp.email IS NOT NULL AND cp.email_opt_out = false),
      vr AS (SELECT vs0.*, row_number() OVER (PARTITION BY dealno
               ORDER BY rowlastupdatedutc DESC, vin DESC) AS sale_rank FROM vs0)
      SELECT dealno AS deal_number, 'AUTO-' || custno AS user_id, custno, vin,
             stockno AS stock_number, makename AS make, modelname AS model, "year",
             bodystyle AS body_style, color, modeltype AS vehicle_type,
             CAST(vehiclemileage AS DOUBLE) AS mileage,
             saletype AS sale_type, dealtype AS deal_type, branch AS dealership_code,
             contractdate AS sale_date, salesdate AS delivery_date,
             CAST(cashprice AS DOUBLE) AS vehicle_price,
             CAST(outthedoorprice AS DOUBLE) AS total_price,
             CAST(totalgross AS DOUBLE) AS gross_profit,
             CAST(customercashdown AS DOUBLE) AS customer_down,
             financesource AS lender,
             CAST(financeamt AS DOUBLE) AS amount_financed,
             CAST(apr AS DOUBLE) AS interest_rate,
             CAST(term AS DOUBLE) AS finance_term,
             CAST(paymentamt AS DOUBLE) AS monthly_payment,
             trade1vin AS trade_vin,
             CAST(trade1acv AS DOUBLE) AS trade_value,
             CAST(nettrade1 AS DOUBLE) AS trade_equity,
             trade1year || ' ' || trade1makename || ' ' || trade1modelname AS trade_description,
             crmsalesmgrname AS sales_manager, crmsp1name AS salesperson,
             rowlastupdatedutc AS last_updated,
             'Vehicle Sale' AS data_source,
             row_number() OVER (PARTITION BY custno ORDER BY contractdate, dealno)
               AS customer_purchase_sequence
      FROM vr WHERE sale_rank = 1
      ORDER BY deal_number""")),
  )

  private val vPrivacy = Q(
    "v_privacy_status",
    (s, dir) => pin(Customer360.privacyStatus(
      sharedProfiles(s, dir)))
      .orderBy("custno"),
    Some(withPrelude("""
      SELECT user_id, custno, firstname, lastname, email,
             email_opt_out, phone_opt_out, mail_opt_out,
             marketing_opt_out AS general_opt_out,
             strftime(opt_out_date, '%Y-%m-%d') AS opt_out_date,
             CASE WHEN marketing_opt_out = true THEN 'Opted Out - No Marketing'
                  WHEN email_opt_out = true AND phone_opt_out = true THEN 'Limited Contact Only'
                  WHEN email_opt_out = true THEN 'Phone/Mail Only'
                  WHEN phone_opt_out = true THEN 'Email/Mail Only'
                  ELSE 'Full Marketing Consent' END AS marketing_status,
             NOT coalesce(marketing_opt_out, false) AS can_market,
             NOT coalesce(email_opt_out, false) AS can_email,
             NOT coalesce(phone_opt_out, false) AS can_call,
             NOT coalesce(mail_opt_out, false) AS can_mail,
             last_updated AS preferences_last_updated
      FROM cp WHERE email IS NOT NULL OR phone IS NOT NULL
      ORDER BY custno""")),
  )

  /** RFM customer segmentation — recency/frequency/monetary quintile
    * scores and the marketing segment ladder over them: the classic
    * CDP segmentation the reference's customer-360 layer feeds
    * (`sql/customer_360_views.sql:473-482`'s value ladder is the M
    * axis; this adds R and F and the standard 5×5×5 coding).
    *
    * Scale shape — the reason this is NOT a global ntile: `ntile(5)
    * OVER (ORDER BY …)` serializes every customer into ONE task AND
    * couples every row to the global sort. Here only the quintile
    * BOUNDARY stage reads the whole customer aggregate (via
    * [[graft.operators.ExactQuantiles]] with a constant group — one
    * sorter over customer-level rows; at billions of customers swap
    * that 12-number stage for `approx_percentile` or the two-phase
    * PrefixSum without touching the scoring contract), and the
    * SCORING — the part that touches every row — is closed-form
    * comparison arithmetic against a broadcast 1-row threshold frame:
    * zero windows, fully codegen, embarrassingly parallel. As-of date
    * is the lake's max order date, so the query is deterministic with
    * no wall clock.
    *
    * Determinism: metrics are exact (datediff days, counts, decimal
    * spend); thresholds are 4-dp quantiles; scores use strict `>`
    * comparisons — identical on both sides. */
  private val rfm = Q(
    "rfm_segments",
    (s, dir) => {
      val o = Tables.orders(s, dir).select(col("o_custkey"),
        col("o_orderdate"), col("o_totalprice").cast("decimal(18,2)").as("p"))
      val asof = o.agg(max(col("o_orderdate")).as("asof"))
      val m = o.groupBy("o_custkey").agg(
        max(col("o_orderdate")).as("last_order"),
        count(lit(1)).as("f_orders"),
        sum(col("p")).cast("double").as("m_spend"))
        .crossJoin(broadcast(asof))
        .select(col("o_custkey"),
          datediff(col("asof"), col("last_order")).cast("long").as("r_days"),
          col("f_orders"), col("m_spend"), lit(1).as("g"))
      val qs = Seq(0.2 -> "q20", 0.4 -> "q40", 0.6 -> "q60", 0.8 -> "q80")
      def th(colName: String, prefix: String) =
        graft.operators.ExactQuantiles
          .perGroup(m, Seq("g"), colName, qs.map { case (q, n) => (q, s"$prefix$n") })
          .drop(s"n_$colName")
      val thresholds =
        th("r_days", "r_").join(th("f_orders", "f_"), "g").join(th("m_spend", "m_"), "g")
      def rank(v: Column, p: String) =
        lit(1) + qs.map { case (_, n) =>
          when(v > col(s"$p$n"), 1).otherwise(0) }.reduce(_ + _)
      val scored = m.join(broadcast(thresholds), "g")
        .select(col("o_custkey"), col("r_days"), col("f_orders"), col("m_spend"),
          (lit(6) - rank(col("r_days").cast("double"), "r_")).as("r_score"),
          rank(col("f_orders").cast("double"), "f_").as("f_score"),
          rank(col("m_spend"), "m_").as("m_score"))
      scored
        .withColumn("rfm_code",
          concat(col("r_score"), col("f_score"), col("m_score")))
        .withColumn("segment",
          when(col("r_score") >= 4 && col("f_score") >= 4 && col("m_score") >= 4,
            "champion")
            .when(col("r_score") >= 4 && col("f_score") >= 3, "loyal")
            .when(col("r_score") <= 2 && col("m_score") >= 4, "at_risk_high_value")
            .when(col("r_score") <= 2, "lapsed")
            .otherwise("regular"))
        .select("o_custkey", "r_days", "f_orders", "m_spend",
          "r_score", "f_score", "m_score", "rfm_code", "segment")
        .orderBy("o_custkey")
    },
    Some {
      def qCte(src: String, valExpr: String, prefix: String) = {
        val terms = Seq(0.2 -> "q20", 0.4 -> "q40", 0.6 -> "q60", 0.8 -> "q80")
          .map { case (q, n) =>
            s"""round(sum(CASE WHEN rn = CAST(floor((cnt-1) * $q) AS BIGINT)
                     THEN val * (1.0 - ((cnt-1) * $q - floor((cnt-1) * $q)))
                   WHEN rn = CAST(floor((cnt-1) * $q) AS BIGINT) + 1
                        AND (cnt-1) * $q - floor((cnt-1) * $q) > 0
                     THEN val * ((cnt-1) * $q - floor((cnt-1) * $q))
                   ELSE 0.0 END), 4) AS $prefix$n"""
          }.mkString(",\n               ")
        s"""${prefix}r AS (
          SELECT CAST($valExpr AS DOUBLE) AS val,
                 CAST(row_number() OVER (ORDER BY CAST($valExpr AS DOUBLE)) - 1
                      AS BIGINT) AS rn,
                 CAST(count(*) OVER () AS BIGINT) AS cnt
          FROM $src),
        ${prefix}t AS (SELECT $terms FROM ${prefix}r)"""
      }
      def rankSql(v: String, p: String) =
        s"(1 + ${Seq("q20", "q40", "q60", "q80")
          .map(n => s"(CASE WHEN $v > $p$n THEN 1 ELSE 0 END)").mkString(" + ")})"
      s"""
      WITH o AS (SELECT o_custkey, CAST(o_orderdate AS DATE) AS od,
                        CAST(o_totalprice AS DECIMAL(18,2)) AS p
                 FROM orders),
      ao AS (SELECT max(od) AS ad FROM o),
      m AS (SELECT o_custkey,
                   CAST(ad - max(od) AS BIGINT) AS r_days,
                   CAST(count(*) AS BIGINT) AS f_orders,
                   CAST(CAST(sum(p) AS VARCHAR) AS DOUBLE) AS m_spend
            FROM o, ao GROUP BY o_custkey, ad),
      ${qCte("m", "r_days", "r_")},
      ${qCte("m", "f_orders", "f_")},
      ${qCte("m", "m_spend", "m_")},
      sc AS (SELECT o_custkey, r_days, f_orders, m_spend,
                    6 - ${rankSql("CAST(r_days AS DOUBLE)", "r_")} AS r_score,
                    ${rankSql("CAST(f_orders AS DOUBLE)", "f_")} AS f_score,
                    ${rankSql("m_spend", "m_")} AS m_score
             FROM m, r_t, f_t, m_t)
      SELECT o_custkey, r_days, f_orders, m_spend,
             r_score, f_score, m_score,
             CAST(r_score AS VARCHAR) || CAST(f_score AS VARCHAR)
               || CAST(m_score AS VARCHAR) AS rfm_code,
             CASE WHEN r_score >= 4 AND f_score >= 4 AND m_score >= 4
                    THEN 'champion'
                  WHEN r_score >= 4 AND f_score >= 3 THEN 'loyal'
                  WHEN r_score <= 2 AND m_score >= 4 THEN 'at_risk_high_value'
                  WHEN r_score <= 2 THEN 'lapsed'
                  ELSE 'regular' END AS segment
      FROM sc ORDER BY o_custkey"""
    },
  )

  /** Incremental materialized-view maintenance differentially proved
    * against the FULL-rebuild oracle: the source is split 3 ways, the
    * profiles view is built from the first slice and refreshed with the
    * other two as CDC batches, and the published view must equal
    * `v_customer_profiles` over the whole source — same oracle SQL.
    *
    * The batches are pre-filtered by the soft-delete predicate because
    * the reference view drops deleted ROWS before picking the latest
    * version (an older live version outranks a newer deleted one), and
    * filter-then-latest is associative across batches while
    * latest-then-filter is not. The quality gates stay inside `derive`.
    */
  private val mvProfiles = Q(
    "mv_profiles_refresh",
    (s, dir) => {
      val root = java.nio.file.Files.createTempDirectory("graft_mv_q").toString
      val order = Seq(col("lastupdated").desc, col("dateadded").desc,
        col("sourcerowid").desc)
      // the derive SKIPS the view's dedup window: state is latest-per-
      // custno by construction (the store's version order replicates the
      // view's rank order, tiebroken total), so ranking one-row
      // partitions would be a pure exchange tax on every refresh
      val mv = new graft.etl.MaterializedView(
        root, Seq("custno"), order,
        derive = df => Customer360.customerProfilesOfLatest(df, asOf),
        nBuckets = 16)
      // ONE feed synthesis per differential (guide §2.4): the build and
      // both CDC batches are slices of the same synthesized master, and
      // each used to re-run the wide synthesis + join for its own scan.
      // Materialize the feed once, slice blocks, release at the end —
      // identical rows reach every fold, so the view == full-rebuild
      // oracle contract is untouched.
      val (src, release) = graft.Lineage.checkpointed(
        customerMaster(s, dir)
          .filter(Cleansing.notSoftDeleted(col("isdeleted"), col("deletedataflag"))))
      try {
        val k = col("sourcerowid")
        mv.build(src.filter(k % 4 =!= 0))
        mv.refresh(src.filter(k % 8 === 0))
        mv.refresh(src.filter(k % 8 === 4))
      } finally release()
      pin(mv.view(s)).orderBy("custno") // reads the published store, not src
    },
    vProfiles.oracle, // identical result contract: view == full rebuild
  )

  /** Incremental AGGREGATE-view maintenance differentially proved
    * against the FULL-rebuild oracle: the segments view (profiles ⟕
    * history → 13-key aggregate — the reference's expensive nightly
    * rebuild) is built from a slice of both sides, then refreshed with
    * a FACT CDC batch (new/updated deals re-aggregate only their
    * custno buckets) and a DIMENSION CDC batch (profile changes
    * propagate into the aggregates the same bucket-pruned way), and
    * the published view must equal `v_customer_segments` over the
    * whole source — same oracle SQL.
    *
    * Pre-filter doctrine as `mv_profiles_refresh`: the master batches
    * drop soft-deleted rows (the view filters BEFORE its rank) and the
    * sales batches drop rows failing the validity predicate that
    * precedes the deal rank; each store's version order replicates its
    * view's rank order exactly, tiebroken to a total order. */
  private val mvSegments = Q(
    "mv_segments_refresh",
    (s, dir) => {
      val root = java.nio.file.Files.createTempDirectory("graft_mv_seg").toString
      val av = new graft.etl.AggregateView(
        root, bucketKeys = Seq("custno"),
        dimKeys = Seq("custno"),
        dimOrder = Seq(col("lastupdated").desc, col("dateadded").desc,
          col("sourcerowid").desc),
        factKeys = Seq("dealno"),
        factOrder = Seq(col("rowlastupdatedutc").desc, col("vin").desc),
        // state-fed derive: both dedup windows skipped (states are
        // latest-per-key by each store's fold; ranking one-row
        // partitions costs an exchange per side per refresh), and both
        // sides read SEGMENT-SLICED state (guide §2.3 — project before
        // the exchange): the dim fold/write/rescan carries 16 of the
        // master's 26 columns, the fact side 12 of the feed's ~45 —
        // the same narrow-state doctrine mv_validated_refresh already
        // applies, proven complete by this query's full-rebuild oracle
        derive = (dimState, factState) =>
          Customer360.customerSegments(
            Customer360.segmentProfilesOfLatest(dimState, asOf),
            Customer360.segmentHistoryOfLatest(factState), asOf)
            .withColumn("preferred_makes", array_join(col("preferred_makes"), "|"))
            .withColumn("purchase_patterns", array_join(col("purchase_patterns"), "|")),
        nBuckets = 16)
      // ONE feed synthesis per side per differential (guide §2.4, same
      // as mv_profiles_refresh): build + CDC batches slice materialized
      // blocks instead of re-running the wide synthesized feeds.
      val (dims, releaseD) = graft.Lineage.checkpointed(
        customerMaster(s, dir)
          .filter(Cleansing.notSoftDeleted(col("isdeleted"), col("deletedataflag")))
          .select(Customer360.SegmentProfileSourceCols.map(col): _*))
      val (facts, releaseF) = graft.Lineage.checkpointed(
        vehicleSales(s, dir)
          .filter(col("custno").isNotNull && col("vin").isNotNull &&
            col("contractdate").isNotNull)
          .select(Customer360.SegmentHistorySourceCols.map(col): _*))
      // CDC batches are NARROW custno slices — this is what incremental
      // maintenance is for: the refresh re-derives only the handful of
      // buckets those customers hash into (a quarter-of-the-table batch
      // would dirty every bucket and cost a full rebuild). The dim
      // slice additionally splits its customers' VERSIONS across
      // build/refresh (sourcerowid parity), so late-arrival latest-wins
      // interplay crosses the batch boundary at scale; slices are empty
      // at sf0.001 (no matching custno) and non-empty from sf0.01 up.
      try {
        val custL = col("custno").cast("long")
        val dimSlice = custL % 1499 === 0
        val factSlice = custL % 1499 === 500
        av.build(
          dims.filter(!dimSlice || col("sourcerowid") % 2 === 0),
          facts.filter(!factSlice))
        av.refreshFacts(facts.filter(factSlice))
        av.refreshDims(dims.filter(dimSlice && col("sourcerowid") % 2 =!= 0))
      } finally { releaseD(); releaseF() }
      pin(av.view(s)).orderBy("custno")
    },
    vSegments.oracle, // identical result contract: view == full rebuild
  )

  /** Incremental maintenance of `validated_vehicle_sales` — THE view the
    * reference's activation feed reads incrementally
    * (`scripts/lambda_redshift_to_segment.py:137-209` over
    * `sql/customer_360_views.sql:614-697`) — differentially proved
    * against the full-rebuild oracle, closing the operational loop the
    * r12 continuous-maintenance work left open (profiles/segments only).
    *
    * An [[graft.etl.AggregateView]] bucketed on custno, NOT a per-dealno
    * MaterializedView: the view's customer_purchase_sequence window
    * makes each row depend on its customer's whole deal set, so derive
    * is bucket-closed on custno and nothing smaller (same shape as
    * segments: dims = customer master latest-per-custno, facts = deals
    * latest-per-dealno, marketability gates reapplied in derive over
    * profile state). Pre-filter doctrine as `mv_segments_refresh`. The
    * streamed form of this loop — CDC → Streams.maintain →
    * incremental activation with processed-ID dedup — is pinned
    * end-to-end in `ActivationLoopSpec`. */
  private val mvValidated = Q(
    "mv_validated_refresh",
    (s, dir) => {
      val root = java.nio.file.Files.createTempDirectory("graft_mv_val").toString
      val av = validatedSalesAggregateView(root)
      // dim state stores only the marketable-contact slice (plus the
      // fold's order/tiebreak columns): the derive reads nothing else,
      // and an 11-column state folds, writes and rescans at a fraction
      // of the 26-column master's width
      // ONE feed synthesis per side per differential (guide §2.4, same
      // as mv_profiles_refresh): build + CDC batches slice materialized
      // blocks instead of re-running the wide synthesized feeds.
      val (dims, releaseD) = graft.Lineage.checkpointed(
        customerMaster(s, dir)
          .filter(Cleansing.notSoftDeleted(col("isdeleted"), col("deletedataflag")))
          .select(Customer360.MarketableContactCols.map(col): _*))
      // fact state narrowed the same way: the 34 columns the view reads
      val (facts, releaseF) = graft.Lineage.checkpointed(
        vehicleSales(s, dir)
          .filter(col("custno").isNotNull && col("vin").isNotNull &&
            col("contractdate").isNotNull)
          .select(Customer360.ValidatedSalesSourceCols.map(col): _*))
      // same narrow-slice CDC shape as mv_segments_refresh (bucket-
      // pruned refresh is the point), offset so this query exercises
      // DIFFERENT customers' buckets than the segments entry
      try {
        val custL = col("custno").cast("long")
        val dimSlice = custL % 1499 === 1
        val factSlice = custL % 1499 === 501
        av.build(
          dims.filter(!dimSlice || col("sourcerowid") % 2 === 0),
          facts.filter(!factSlice))
        av.refreshFacts(facts.filter(factSlice))
        av.refreshDims(dims.filter(dimSlice && col("sourcerowid") % 2 =!= 0))
      } finally { releaseD(); releaseF() }
      pin(av.view(s)).orderBy("deal_number")
    },
    vValidated.oracle, // identical result contract: view == full rebuild
  )

  /** The validated-sales [[graft.etl.AggregateView]] — shared by the
    * `mv_validated_refresh` differential and the end-to-end activation
    * loop spec, so both drive the identical store shape.
    * `keepVersions = 2` when the store joins a
    * [[graft.etl.SnapshotCatalog]] (the activation loop); the
    * standalone differential keeps the default single-version
    * retention. */
  private[graft] def validatedSalesAggregateView(
      root: String, keepVersions: Int = 1): graft.etl.AggregateView =
    new graft.etl.AggregateView(
      root, bucketKeys = Seq("custno"),
      dimKeys = Seq("custno"),
      dimOrder = Seq(col("lastupdated").desc, col("dateadded").desc,
        col("sourcerowid").desc),
      factKeys = Seq("dealno"),
      factOrder = Seq(col("rowlastupdatedutc").desc, col("vin").desc),
      // state-fed derive: the W1/W2 dedup windows are skipped (states
      // are latest-per-key by the folds); quality + marketability gates
      // reapplied inside over the narrow contact slice
      derive = (dimState, factState) =>
        Customer360.validatedSalesOfLatest(factState,
          Customer360.marketableContactsOfLatest(dimState)),
      nBuckets = 16, keepVersions = keepVersions)

  /** The marketable-contacts [[graft.etl.MaterializedView]] — the
    * activation feed's OTHER input (email/phone per user), maintained
    * from the same customer-master CDC as the validated-sales view's
    * dimension side so the two can be pinned together in one
    * [[graft.etl.SnapshotCatalog]] cycle: the reference's lambda reads
    * both off ONE warehouse snapshot
    * (`scripts/lambda_redshift_to_segment.py:137-209`), and a feed that
    * joined the pinned sales view to LIVE contact state would
    * re-introduce exactly the torn read the catalog exists to prevent
    * (pinned deals next to a mid-cycle contact/opt-out change). */
  private[graft] def marketableContactsView(root: String): graft.etl.MaterializedView =
    new graft.etl.MaterializedView(
      root, keys = Seq("custno"),
      order = Seq(col("lastupdated").desc, col("dateadded").desc,
        col("sourcerowid").desc),
      derive = Customer360.marketableContactsOfLatest,
      nBuckets = 16, keepVersions = 2)

  /** Per-column completeness profile — the data-profiling "describe"
    * every warehouse onboarding runs before trusting a feed: for each
    * contact/identity column of the CDP master, row count, NULLs,
    * blanks, distinct values and the fill rate. The complement of
    * `dq_audit`'s rule-based checks: rules test what you EXPECTED to
    * go wrong, the profile shows the shape of what actually arrived
    * (a column suddenly 40% blank is visible here before any rule
    * names it).
    *
    * One scan: columns melt through a compiled `stack` into
    * (column, value) rows — k× the row count BEFORE the map-side
    * collapse to k profile rows; count(DISTINCT) per column is the
    * only full-width aggregate, and at 100 TB the HLL sketch swaps in
    * per column without changing the output contract. */
  private val dqProfile = Q(
    "dq_null_profile",
    (s, dir) => {
      val cols = Seq("custno", "firstname", "email", "telephone", "gender",
        "preferredlanguage", "ziporpostalcode")
      val stackExpr = s"stack(${cols.length}, " +
        cols.map(c => s"'$c', CAST($c AS STRING)").mkString(", ") + ") AS (col_name, v)"
      customerMaster(s, dir)
        .selectExpr(stackExpr)
        .groupBy("col_name")
        .agg(count(lit(1)).as("n_rows"),
          sum(when(col("v").isNull, 1L).otherwise(0L)).as("n_null"),
          sum(when(col("v") === "", 1L).otherwise(0L)).as("n_blank"),
          countDistinct(col("v")).as("n_distinct"))
        .withColumn("fill_rate",
          round((col("n_rows") - col("n_null") - col("n_blank")).cast("double")
            / col("n_rows").cast("double"), 6))
        .orderBy("col_name")
    },
    Some {
      val cols = Seq("custno", "firstname", "email", "telephone", "gender",
        "preferredlanguage", "ziporpostalcode")
      val branches = cols.map(c =>
        s"SELECT '$c' AS col_name, CAST($c AS VARCHAR) AS v FROM m").mkString("\n      UNION ALL ")
      s"""
      WITH m AS ($CM_SQL),
      melted AS ($branches)
      SELECT col_name,
             CAST(count(*) AS BIGINT) AS n_rows,
             CAST(sum(CASE WHEN v IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null,
             CAST(sum(CASE WHEN v = '' THEN 1 ELSE 0 END) AS BIGINT) AS n_blank,
             CAST(count(DISTINCT v) AS BIGINT) AS n_distinct,
             round(CAST(count(*) - sum(CASE WHEN v IS NULL THEN 1 ELSE 0 END)
                        - sum(CASE WHEN v = '' THEN 1 ELSE 0 END) AS DOUBLE)
                   / CAST(count(*) AS DOUBLE), 6) AS fill_rate
      FROM melted GROUP BY col_name ORDER BY col_name"""
    },
  )

  /** SCD Type-2 dimension history — the warehouse-standard "what did
    * this customer's record say on date X" table the latest-wins views
    * throw away: every master version becomes a row with its validity
    * interval `[valid_from, valid_to)` (the next version's timestamp
    * closes it; the current version stays open) and a dense version
    * sequence. Interval arithmetic is one `lead` over the SAME total
    * version order the dedup views rank by, so SCD2 and latest-wins can
    * never disagree about which row is current.
    *
    * 100 TB design: one hash exchange on custno; window groups are
    * version chains (tens of rows), never a stratum — the single-task
    * window hazard does not apply. Timestamps cross the oracle
    * boundary formatted (the driver compare takes strings). */
  private val scd2History = Q(
    "scd2_customer_history",
    (s, dir) => {
      val w = Window.partitionBy("custno")
        .orderBy(col("lastupdated"), col("dateadded"), col("sourcerowid"))
      val next = lead(col("lastupdated"), 1).over(w)
      customerMaster(s, dir)
        .select(col("custno"), col("sourcerowid"), col("email"),
          col("ziporpostalcode"), col("lastupdated"), col("dateadded"))
        .withColumn("version_seq", row_number().over(w).cast("long"))
        .withColumn("valid_from",
          date_format(col("lastupdated"), "yyyy-MM-dd HH:mm:ss"))
        .withColumn("valid_to", date_format(next, "yyyy-MM-dd HH:mm:ss"))
        .withColumn("is_current", next.isNull)
        .select("custno", "sourcerowid", "version_seq", "email",
          "ziporpostalcode", "valid_from", "valid_to", "is_current")
        .orderBy("custno", "version_seq")
    },
    Some(withPrelude("""
      SELECT custno, sourcerowid,
             CAST(row_number() OVER won AS BIGINT) AS version_seq,
             email, ziporpostalcode,
             strftime(lastupdated, '%Y-%m-%d %H:%M:%S') AS valid_from,
             strftime(lead(lastupdated, 1) OVER won, '%Y-%m-%d %H:%M:%S') AS valid_to,
             (lead(lastupdated, 1) OVER won IS NULL) AS is_current
      FROM cm
      WINDOW won AS (PARTITION BY custno ORDER BY lastupdated, dateadded, sourcerowid)
      ORDER BY custno, version_seq""")),
  )

  /** J11 — point-in-interval attribution: each order lands on the SCD2
    * customer version whose validity interval contains the order
    * timestamp — "which version of the customer record placed this
    * order", the temporal-join backbone of any as-was reporting layer
    * (the reference's warehouse answers this with nightly snapshots;
    * SCD2 + interval join answers it exactly). Orders that predate the
    * customer's first version keep a NULL version — the left join
    * surfaces coverage gaps instead of silently dropping them.
    *
    * Plan shape: an equi-join on custno with the interval bounds as a
    * residual range predicate — SortMergeJoin/shuffle on the customer
    * key, never a cartesian; version chains are per-customer and
    * bounded, so the residual scan inside each key is tiny at any
    * corpus size. Intervals are half-open [valid_from, next valid_from)
    * and therefore disjoint by construction — at most one version
    * matches, no post-join dedup needed. */
  private val j11Interval = Q(
    "j11_interval_attribution",
    (s, dir) => {
      val w = Window.partitionBy("custno")
        .orderBy(col("lastupdated"), col("dateadded"), col("sourcerowid"))
      val versions = customerMaster(s, dir)
        .select(col("custno"), col("lastupdated"), col("dateadded"), col("sourcerowid"))
        .withColumn("version_seq", row_number().over(w).cast("long"))
        .withColumn("valid_to", lead(col("lastupdated"), 1).over(w))
        .select(col("custno").as("v_custno"), col("version_seq"),
          col("lastupdated").as("valid_from"), col("valid_to"))
      val facts = Tables.orders(s, dir).select(
        col("o_orderkey"), col("o_custkey").cast("string").as("custno"),
        col("o_orderdate").cast("timestamp").as("ots"))
      facts.join(versions,
          facts("custno") === versions("v_custno") &&
            facts("ots") >= versions("valid_from") &&
            (versions("valid_to").isNull || facts("ots") < versions("valid_to")),
          "left")
        .select(col("o_orderkey"), col("custno"),
          date_format(col("ots"), "yyyy-MM-dd").as("order_date"),
          col("version_seq"))
        .orderBy("o_orderkey")
    },
    Some(withPrelude("""
      , versioned AS (
        SELECT custno,
               CAST(row_number() OVER won AS BIGINT) AS version_seq,
               lastupdated AS valid_from,
               lead(lastupdated, 1) OVER won AS valid_to
        FROM cm
        WINDOW won AS (PARTITION BY custno ORDER BY lastupdated, dateadded, sourcerowid))
      SELECT o.o_orderkey, CAST(o.o_custkey AS VARCHAR) AS custno,
             strftime(CAST(o.o_orderdate AS TIMESTAMP), '%Y-%m-%d') AS order_date,
             v.version_seq
      FROM orders o LEFT JOIN versioned v
        ON CAST(o.o_custkey AS VARCHAR) = v.custno
       AND CAST(o.o_orderdate AS TIMESTAMP) >= v.valid_from
       AND (v.valid_to IS NULL OR CAST(o.o_orderdate AS TIMESTAMP) < v.valid_to)
      ORDER BY o.o_orderkey""")),
  )

  /** Data-quality audit — the pipeline-health dashboard row counts a
    * production lake job publishes every run (missing/invalid contact
    * data, soft-deletes, version fan-out, referential orphans). The
    * reference does this ad hoc in validation SQL; here it is ONE
    * query with a fixed (dq_check, failing_rows) contract.
    *
    * Scale shape: every master-side check is a conditional aggregate
    * in a SINGLE scan — partials collapse map-side to one row, then
    * explode to the metric rows (N checks never cost N scans). The
    * referential check is a key-only anti-join aggregated to one row.
    * All checks but the orphan count are non-vacuous by construction
    * on the dirty master fixture. */
  private val dqAudit = Q(
    "dq_audit",
    (s, dir) => {
      val cm = customerMaster(s, dir)
      def cnt(p: Column): Column = sum(when(p, 1L).otherwise(0L))
      val agg = cm.agg(
        count(lit(1)).as("total_rows"),
        cnt(col("email").isNull || col("email") === "").as("missing_email"),
        cnt(col("email").isNotNull && col("email") =!= "" &&
          !col("email").contains("@")).as("invalid_email"),
        cnt(col("email") === "none@x.com").as("placeholder_email"),
        cnt(col("telephone").isNull).as("missing_phone"),
        cnt(col("isdeleted") === true || col("deletedataflag") === true)
          .as("soft_deleted"),
        cnt(col("optoutflag") === true).as("opted_out"),
        (count(lit(1)) - countDistinct(col("custno"))).as("extra_versions"))
      val names = Seq("total_rows", "missing_email", "invalid_email",
        "placeholder_email", "missing_phone", "soft_deleted", "opted_out",
        "extra_versions")
      val checks = agg.select(explode(array(
          names.map(n => struct(lit(n).as("dq_check"), col(n).as("failing_rows"))): _*))
          .as("kv"))
        .select(col("kv.dq_check").as("dq_check"), col("kv.failing_rows").as("failing_rows"))
      val orphans = Tables.lineitem(s, dir).select("l_orderkey")
        .join(Tables.orders(s, dir).select("o_orderkey"),
          col("l_orderkey") === col("o_orderkey"), "left_anti")
        .agg(count(lit(1)).as("failing_rows"))
        .select(lit("orphan_lineitems").as("dq_check"), col("failing_rows"))
      checks.unionByName(orphans).orderBy("dq_check")
    },
    Some(withPrelude("""
      SELECT dq_check, failing_rows FROM (
        SELECT 'total_rows' AS dq_check, CAST(count(*) AS BIGINT) AS failing_rows FROM cm
        UNION ALL
        SELECT 'missing_email', CAST(count(*) FILTER (WHERE email IS NULL OR email = '') AS BIGINT) FROM cm
        UNION ALL
        SELECT 'invalid_email', CAST(count(*) FILTER (WHERE email IS NOT NULL AND email <> '' AND email NOT LIKE '%@%') AS BIGINT) FROM cm
        UNION ALL
        SELECT 'placeholder_email', CAST(count(*) FILTER (WHERE email = 'none@x.com') AS BIGINT) FROM cm
        UNION ALL
        SELECT 'missing_phone', CAST(count(*) FILTER (WHERE telephone IS NULL) AS BIGINT) FROM cm
        UNION ALL
        SELECT 'soft_deleted', CAST(count(*) FILTER (WHERE isdeleted = TRUE OR deletedataflag = TRUE) AS BIGINT) FROM cm
        UNION ALL
        SELECT 'opted_out', CAST(count(*) FILTER (WHERE optoutflag = TRUE) AS BIGINT) FROM cm
        UNION ALL
        SELECT 'extra_versions', CAST(count(*) - count(DISTINCT custno) AS BIGINT) FROM cm
        UNION ALL
        SELECT 'orphan_lineitems', CAST(count(*) AS BIGINT)
        FROM lineitem WHERE l_orderkey NOT IN (SELECT o_orderkey FROM orders)
      ) t ORDER BY dq_check""")),
  )

  /** Order-independent TABLE CHECKSUM — the migration/replication
    * reconciliation primitive: prove two engines (or two pipeline
    * versions) produced the IDENTICAL table without sorting it, moving
    * it, or comparing row-by-row. Each row serializes canonically
    * (pipe-joined pinned-format fields — decimals at fixed scale,
    * timestamps formatted; float repr is never serialized raw), hashes
    * to a 60-bit md5 prefix, and the checksums are exact SUMS of those
    * hashes as DECIMAL — commutative, so no global sort exists anywhere
    * and partials combine map-side to ONE row per table. A derived
    * frame (per-customer order rollup) is checksummed alongside the two
    * base tables: reconciliation of pipeline OUTPUT, not just inputs.
    *
    * The complement of `j12_reconcile` (row-level full-outer diff):
    * checksum first at O(1) output cost; reconcile row-level only the
    * tables whose checksums disagree. The DuckDB oracle recomputes the
    * identical serialization + hash sums — this differential check IS
    * the cross-engine reconciliation the operator exists for. */
  private val dqChecksum = Q(
    "dq_table_checksum",
    (s, dir) => {
      def h(sCol: Column): Column =
        conv(substring(md5(sCol), 1, 15), 16, 10).cast("long")
      def sums(df: DataFrame, name: String, ser: Column): DataFrame =
        df.agg(count(lit(1)).as("n_rows"),
            sum(h(ser).cast("decimal(20,0)")).cast("string").as("checksum"))
          .select(lit(name).as("table_name"), col("n_rows"), col("checksum"))
      val o = Tables.orders(s, dir)
      val c = Tables.customer(s, dir)
      val serO = concat_ws("|",
        col("o_orderkey").cast("string"), col("o_custkey").cast("string"),
        col("o_orderstatus"),
        col("o_totalprice").cast("decimal(18,2)").cast("string"),
        date_format(col("o_orderdate"), "yyyy-MM-dd HH:mm:ss"),
        col("o_orderpriority"))
      val serC = concat_ws("|",
        col("c_custkey").cast("string"), col("c_name"),
        col("c_nationkey").cast("string"),
        col("c_acctbal").cast("decimal(18,2)").cast("string"),
        col("c_mktsegment"))
      val derived = o.groupBy("o_custkey")
        .agg(count(lit(1)).as("cnt"),
          sum(col("o_totalprice").cast("decimal(18,2)")).as("spend"))
      val serD = concat_ws("|", col("o_custkey").cast("string"),
        col("cnt").cast("string"), col("spend").cast("string"))
      sums(o, "orders", serO)
        .unionByName(sums(c, "customer", serC))
        .unionByName(sums(derived, "orders_by_customer", serD))
        .orderBy("table_name")
    },
    Some("""
      WITH so AS (SELECT CAST(concat('0x', substring(md5(
                    CAST(o_orderkey AS VARCHAR) || '|' ||
                    CAST(o_custkey AS VARCHAR) || '|' ||
                    o_orderstatus || '|' ||
                    CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS VARCHAR) || '|' ||
                    strftime(o_orderdate, '%Y-%m-%d %H:%M:%S') || '|' ||
                    o_orderpriority), 1, 15)) AS BIGINT) AS h
                  FROM orders),
      sc AS (SELECT CAST(concat('0x', substring(md5(
                    CAST(c_custkey AS VARCHAR) || '|' ||
                    c_name || '|' ||
                    CAST(c_nationkey AS VARCHAR) || '|' ||
                    CAST(CAST(c_acctbal AS DECIMAL(18,2)) AS VARCHAR) || '|' ||
                    c_mktsegment), 1, 15)) AS BIGINT) AS h
             FROM customer),
      d AS (SELECT o_custkey, count(*) AS cnt,
                   sum(CAST(o_totalprice AS DECIMAL(18,2))) AS spend
            FROM orders GROUP BY 1),
      sd AS (SELECT CAST(concat('0x', substring(md5(
                    CAST(o_custkey AS VARCHAR) || '|' ||
                    CAST(cnt AS VARCHAR) || '|' ||
                    CAST(spend AS VARCHAR)), 1, 15)) AS BIGINT) AS h
             FROM d)
      SELECT table_name, n_rows, checksum FROM (
        SELECT 'orders' AS table_name, CAST(count(*) AS BIGINT) AS n_rows,
               CAST(sum(h) AS VARCHAR) AS checksum FROM so
        UNION ALL
        SELECT 'customer', CAST(count(*) AS BIGINT), CAST(sum(h) AS VARCHAR) FROM sc
        UNION ALL
        SELECT 'orders_by_customer', CAST(count(*) AS BIGINT),
               CAST(sum(h) AS VARCHAR) FROM sd
      ) t ORDER BY table_name"""),
  )

  val all: Seq[Q] = Seq(vProfiles, vHistory, vSegments, vDealership, vValidated,
    vPrivacy, mvProfiles, mvSegments, mvValidated, scd2History, j11Interval, dqAudit,
    dqChecksum, dqProfile, rfm)
}
