package graft.activation

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.operators.Incremental

/** Incremental activation feed — re-expression of the reference Lambda
  * (`scripts/lambda_redshift_to_segment.py:51-589`): date-range
  * incremental read of the validated-sales feed, exclusion of already
  * processed deals, per-row validation/coercion and Segment-track event
  * shaping. The processed-key state lives in
  * [[graft.sinks.EventSink.ProcessedIds]].
  *
  * Scale design: the processed-ID set is a DataFrame anti-join (never
  * the reference's string-interpolated `NOT IN (…)`, `lambda:159-163`);
  * the top-1000 batch compiles to TakeOrderedAndProject; event shaping
  * is one codegen'd projection (`to_json(struct(...))`).
  *
  * Note: the reference Lambda SELECTs history-shaped columns from
  * `marketing.validated_vehicle_sales` that the view doesn't define
  * (e.g. `vehicle_condition`, `purchase_sequence` — `lambda:166-203` vs
  * `customer_360_views.sql:638-693`); we implement against the SELECT
  * list, i.e. a history-shaped feed joined to profile contact columns.
  */
object Activation {

  /** The Lambda's feed read off the `validated_vehicle_sales` view
    * itself (`lambda_redshift_to_segment.py:137-209` queries exactly
    * that view) — the OPERATIONAL composition: a maintained
    * validated-sales store serves this continuously, with profile
    * contact columns joined in (the view carries no email/phone).
    * Column mapping normalizes the view's event-ready names to the
    * SELECT-list shape [[cleanAndValidate]] expects (the reference
    * Lambda's own list is history-shaped — see the object scaladoc). */
  def feedFromValidatedSales(validated: DataFrame, contacts: DataFrame): DataFrame =
    validated
      .join(contacts.select(col("user_id"), col("email"), col("phone")), Seq("user_id"))
      .select(
        col("deal_number"), col("user_id"), col("vin"), col("stock_number"),
        col("email"), col("phone"),
        col("make"), col("model"), col("year"), col("body_style"), col("color"),
        col("vehicle_type").as("vehicle_condition"),
        col("mileage").as("odometer_reading"),
        col("sale_date").as("purchase_date"),
        col("sale_type").as("transaction_type"),
        col("deal_type").as("deal_category"),
        col("dealership_code").as("dealership_location"),
        col("vehicle_price"), col("total_price"),
        col("gross_profit").as("total_gross_profit"),
        col("customer_down").as("cash_down"),
        col("lender"), col("amount_financed"), col("interest_rate"),
        col("finance_term").as("finance_term_months"),
        col("monthly_payment"), col("trade_equity"),
        col("trade_description").as("trade_vehicle_description"),
        col("sales_manager"), col("salesperson"),
        col("customer_purchase_sequence").as("purchase_sequence"))

  /** [[feedFromValidatedSales]] with BOTH inputs resolved from ONE
    * [[graft.etl.SnapshotCatalog]] read — the operational form. The
    * reference's lambda queries `marketing.validated_vehicle_sales`
    * and the profile contact columns off one warehouse snapshot
    * (`lambda_redshift_to_segment.py:137-209`): the view's
    * marketability gate (`customer_360_views.sql:603-608,634-635`) and
    * the contact state it gates on are transactionally consistent.
    * Joining the PINNED sales view to LIVE contact state (or reading
    * each view's live manifest separately) re-opens the torn window
    * mid-refresh-cycle: a deal insert and its customer's opt-out
    * arriving in the same CDC cut can be observed half-applied — the
    * deal visible, the opt-out not — shipping an event no consistent
    * snapshot would emit (pinned end-to-end in `ActivationLoopSpec`).
    * None = the catalog has never committed, a member's pin is
    * unreadable, or either requested view NAME is not registered in
    * the catalog — the caller skips the run rather than activating off
    * a torn or partial set (a misspelled view name is the same "not a
    * consistent feed" outcome, not an exception). */
  def feedFromCatalog(
      catalog: graft.etl.SnapshotCatalog,
      spark: org.apache.spark.sql.SparkSession,
      validatedView: String = "validated_sales",
      contactsView: String = "marketable_contacts"): Option[DataFrame] =
    for {
      views <- catalog.readAll(spark)
      validated <- views.get(validatedView)
      contacts <- views.get(contactsView)
    } yield feedFromValidatedSales(validated, contacts)

  /** S8/J9: one incremental batch — [start, end] on purchase_date,
    * minus processed deal_numbers, newest-first top-`limit`. */
  def nextBatch(
      feed: DataFrame,
      processed: DataFrame,
      startDate: Column,
      endDate: Column,
      limit: Int = 1000): DataFrame =
    Incremental.nextBatch(feed, processed, "deal_number", "purchase_date",
      startDate, endDate,
      Seq(col("purchase_date").desc, col("deal_number").desc), limit)

  private def cleanString(c: Column): Column = {
    val t = trim(c.cast("string"))
    when(t.isNotNull && t =!= "", t).otherwise(lit(null).cast("string"))
  }

  /** Python float()-with-null coercion (`lambda:248-254`): '' and
    * unparseable → NULL, else double. */
  private def cleanNumeric(c: Column): Column =
    c.cast("string").try_cast("double")

  /** P9: required-field validation + per-field coercion
    * (`lambda:232-314`). Drops rows missing deal/user/vin. */
  def cleanAndValidate(batch: DataFrame): DataFrame = {
    val stringCols = Seq("stock_number", "email", "phone", "make", "model",
      "body_style", "color", "vehicle_condition", "transaction_type",
      "deal_category", "dealership_location", "trade_vehicle_description",
      "sales_manager", "salesperson", "lender")
    val numericCols = Seq("year", "odometer_reading", "vehicle_price",
      "total_price", "total_gross_profit", "cash_down", "amount_financed",
      "interest_rate", "finance_term_months", "monthly_payment",
      "trade_equity", "purchase_sequence")
    val passthrough = Seq("purchase_date")
    batch
      .filter(col("deal_number").isNotNull && col("user_id").isNotNull &&
        col("vin").isNotNull)
      .select(
        Seq(col("deal_number").cast("string").as("deal_number"),
          col("user_id").cast("string").as("user_id"),
          col("vin").cast("string").as("vin")) ++
          stringCols.map(c => cleanString(col(c)).as(c)) ++
          numericCols.map(c => cleanNumeric(col(c)).as(c)) ++
          passthrough.map(col): _*)
  }

  /** U6: deterministic Segment messageId —
    * `"vp_" + md5("vehicle_purchase_<deal>_<vin>")`, capped at 50 chars
    * (`lambda:316-325`). */
  def segmentMessageId(dealNumber: Column, vin: Column): Column =
    substring(concat(lit("vp_"),
      md5(concat(lit("vehicle_purchase_"), dealNumber, lit("_"), vin))), 1, 50)

  /** P10: Segment Track event shaping (`lambda:327-424`). Returns
    * (deal_number, message_id, event_json); timestamps render as the
    * reference's `YYYY-MM-DDT12:00:00Z` attribution-day form. */
  def toSegmentTrackEvents(cleaned: DataFrame): DataFrame = {
    val ts = date_format(col("purchase_date"), "yyyy-MM-dd'T'12:00:00'Z'")
    // ignoreNullFields=false: Segment consumers (and the differential
    // oracle) see explicit nulls, like the reference's Python dicts did
    val jsonOpts = Map("ignoreNullFields" -> "false")
    cleaned.select(
      col("deal_number"),
      segmentMessageId(col("deal_number"), col("vin")).as("message_id"),
      to_json(struct(
        lit("track").as("type"),
        segmentMessageId(col("deal_number"), col("vin")).as("messageId"),
        col("user_id").as("userId"),
        lit("Vehicle Purchased").as("event"),
        ts.as("timestamp"),
        struct(
          col("deal_number"),
          col("vin"),
          col("stock_number"),
          col("make").as("vehicle_make"),
          col("model").as("vehicle_model"),
          col("year").as("vehicle_year"),
          col("body_style"),
          col("color").as("vehicle_color"),
          col("vehicle_condition"),
          col("odometer_reading"),
          col("transaction_type"),
          col("deal_category"),
          col("dealership_location").as("dealership"),
          col("vehicle_price"),
          col("total_price"),
          col("total_price").as("revenue"),
          col("total_gross_profit").as("gross_profit"),
          col("cash_down").as("down_payment"),
          col("amount_financed"),
          col("interest_rate"),
          col("finance_term_months").as("finance_term"),
          col("monthly_payment"),
          col("lender"),
          // Python bool(None)=bool(0.0)=False — both map to false here
          coalesce(col("trade_equity") =!= 0, lit(false)).as("had_trade"),
          col("trade_equity"),
          col("trade_vehicle_description").as("trade_description"),
          col("sales_manager"),
          col("salesperson"),
          col("purchase_sequence").as("customer_purchase_number"),
          col("email").as("customer_email"),
          col("phone").as("customer_phone")).as("properties"),
        struct(
          struct(
            lit("graft-activation").as("name"),
            lit("2.0.0").as("version")).as("library"),
          lit("data_warehouse").as("source")).as("context")),
        jsonOpts).as("event_json"))
  }
}
