package graft.ops

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Wallet clustering by transfer count (reference:
  * src/main/scala/etl/BaseEnricher.scala:391-462): count both legs of every
  * transfer per wallet, bucket into LOW (<10) / MEDIUM ([10,20)) / HIGH
  * (>=20) (reference: constants/Common.scala:14-15), pivot the buckets into
  * columns with explicit values (avoids Spark's extra distinct-scan job),
  * and assemble the nested per-timestamp cluster struct.
  */
object Clusters {
  import Num._

  /** F8 bucketing expression (3-way chained CASE, reference :412-423). */
  def clusterOf(n: Column): Column =
    when(n < Tables.ClusterLow, "LOW")
      .when(n < Tables.ClusterHigh, "MEDIUM")
      .otherwise("HIGH")

  /** Both legs of every transfer as (contract_address, t, address) rows. */
  private def legAddresses(spark: SparkSession, sfDir: String): DataFrame =
    Tables.transfers(spark, sfDir).select(
      col("contract_address"),
      hourBucket(col("transact_at")).as("t"),
      explode(array(col("from_address"), col("to_address"))).as("address"))

  /** Reference-parity clustering: transfer count per (hour, wallet), bucketed
    * (reference :396-423). Emitted exploded (t, cluster, address, n) for the
    * oracle. */
  def hourlyClusters(spark: SparkSession, sfDir: String): DataFrame =
    legAddresses(spark, sfDir)
      .filter(col("contract_address") === Tables.FocusToken)
      .groupBy("t", "address")
      .agg(count(lit(1)).as("n"))
      .withColumn("cluster", clusterOf(col("n")))
      .select("t", "cluster", "address", "n")
      .orderBy("t", "address")

  /** Clustering on whole-window per-wallet totals, pivoted to one row per
    * token with LOW/MEDIUM/HIGH counts (A8 with explicit pivot values +
    * C10 zero-coalesce for empty buckets). */
  def clusterPivot(spark: SparkSession, sfDir: String): DataFrame =
    legAddresses(spark, sfDir)
      .groupBy("contract_address", "address")
      .agg(count(lit(1)).as("n"))
      .withColumn("cluster", clusterOf(col("n")))
      .groupBy("contract_address")
      .pivot("cluster", Seq("LOW", "MEDIUM", "HIGH"))
      .agg(count(lit(1)))
      .select(
        col("contract_address"),
        coalesce(col("LOW"), lit(0L)).as("LOW"),
        coalesce(col("MEDIUM"), lit(0L)).as("MEDIUM"),
        coalesce(col("HIGH"), lit(0L)).as("HIGH"))
      .orderBy("contract_address")

  /** The reference's full nested output shape: per timestamp, a struct of
    * LOW/MEDIUM/HIGH each holding the (sorted — determinism, SURVEY §7.4.1)
    * wallet list, missing clusters coalesced to empty arrays
    * (A8+C7+C10, reference :425-456). Map/struct-typed ⇒ rows-only check;
    * [[hourlyClusters]] is the exploded oracle witness. */
  def clusterMap(spark: SparkSession, sfDir: String): DataFrame = {
    val empty = array().cast("array<string>")
    hourlyClusters(spark, sfDir)
      .groupBy("t")
      .pivot("cluster", Seq("LOW", "MEDIUM", "HIGH"))
      .agg(sort_array(collect_list(col("address"))))
      .select(col("t"), struct(
        struct(coalesce(col("LOW"), empty).as("addresses")).as("LOW"),
        struct(coalesce(col("MEDIUM"), empty).as("addresses")).as("MEDIUM"),
        struct(coalesce(col("HIGH"), empty).as("addresses")).as("HIGH"))
        .as("clusters"))
      .groupBy()
      .agg(map_from_entries(array_sort(collect_list(struct(col("t"), col("clusters")))))
        .as("walletClusterByNumberOfTransfer"))
  }

  /** [[clusterMap]] rendered as one sorted-JSON string — the driver-
    * verifiable twin of the map-typed library form (the same [[ChangeLogs]]
    * JSON helpers render `Pipelines.tokenDocumentsJson`): per timestamp a
    * `{"LOW":[…],"MEDIUM":[…],"HIGH":[…]}` object with sorted wallet
    * arrays, timestamps sorted, byte-identical to a DuckDB string_agg
    * oracle. */
  def clusterMapJson(spark: SparkSession, sfDir: String): DataFrame = {
    val empty = array().cast("array<string>")
    hourlyClusters(spark, sfDir)
      .groupBy("t")
      .pivot("cluster", Seq("LOW", "MEDIUM", "HIGH"))
      .agg(sort_array(collect_list(col("address"))))
      .select(col("t"), concat(
        lit("{\"LOW\":{\"addresses\":"),
        ChangeLogs.jsonStrArray(coalesce(col("LOW"), empty)),
        lit("},\"MEDIUM\":{\"addresses\":"),
        ChangeLogs.jsonStrArray(coalesce(col("MEDIUM"), empty)),
        lit("},\"HIGH\":{\"addresses\":"),
        ChangeLogs.jsonStrArray(coalesce(col("HIGH"), empty)),
        lit("}}")).as("j"))
      .groupBy()
      .agg(ChangeLogs.jsonLog(col("t"), col("j"))
        .as("walletClusterByNumberOfTransfer"))
  }
}
