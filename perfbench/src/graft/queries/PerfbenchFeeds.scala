package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The synthesized dealer feeds the Customer-360 views are built from,
  * and the registry's output-type pinning, for the benchmark's CDC
  * workload (they are package-private to the query registry). */
object PerfbenchFeeds {
  def customerMaster(s: SparkSession, dir: String): DataFrame = DomainQueries.customerMaster(s, dir)
  def vehicleSales(s: SparkSession, dir: String): DataFrame = DomainQueries.vehicleSales(s, dir)
  def pinTypes(df: DataFrame): DataFrame = DomainQueries.pinTypes(df)
}
