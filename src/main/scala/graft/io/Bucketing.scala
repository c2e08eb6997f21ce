package graft.io

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Co-located joins via bucketed tables — the pre-shuffle investment.
  *
  * A join that repeats (fact-to-fact on the same key, every hour, at
  * 100 TB) should not pay its shuffle every run: write both sides
  * `bucketBy(n, key).sortBy(key)` once, and every subsequent sort-merge
  * join on that key reads co-located buckets with NO exchange on either
  * side — the bucket layout IS the hash partitioning, persisted. This
  * module stages the orders/lineitem pair as external bucketed tables
  * (explicit `path`, so no dependence on the session's warehouse dir) and
  * runs the canonical orderkey join over them.
  *
  * The no-shuffle plan property is asserted in BucketingSpec (AQE-final
  * plan: `SortMergeJoin` over `Bucketed: true` scans, zero
  * `Exchange hashpartitioning` in the join subtree); the catalog entry
  * proves the RESULT is right (bucket pruning or layout bugs would
  * corrupt the join, not just slow it).
  */
object Bucketing {

  val NumBuckets = 8

  /** Stage both sides as external bucketed tables (idempotent overwrite),
    * then join-and-aggregate. Broadcast is disabled for the join so the
    * plan actually exercises the bucket layout — with the default
    * threshold a test-scale orders side would broadcast and the bucketed
    * scan would prove nothing; the conf is restored in `finally`. */
  def ordersLineitemJoin(spark: SparkSession, sfDir: String): DataFrame = {
    val dir = graft.util.TempDirs.staging("graft_buckets")
    graft.Tables.orders(spark, sfDir)
      .select("o_orderkey", "o_orderstatus")
      .write.bucketBy(NumBuckets, "o_orderkey").sortBy("o_orderkey")
      .option("path", s"$dir/orders")
      .mode("overwrite").saveAsTable("graft_bjoin_orders")
    graft.Tables.lineitem(spark, sfDir)
      .select("l_orderkey", "l_quantity")
      .write.bucketBy(NumBuckets, "l_orderkey").sortBy("l_orderkey")
      .option("path", s"$dir/lineitem")
      .mode("overwrite").saveAsTable("graft_bjoin_lineitem")
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold",
      "10485760")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      // the aggregate groups on a non-bucket key, so ONLY the final
      // groupBy exchanges; the join itself reads co-located buckets
      spark.table("graft_bjoin_lineitem")
        .join(spark.table("graft_bjoin_orders"),
          col("l_orderkey") === col("o_orderkey"))
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n_items"),
          graft.ops.Num.dsum(col("l_quantity")).as("total_qty"))
        .orderBy("o_orderstatus")
        // materialize INSIDE the conf scope: a lazy frame would plan the
        // join after `finally` restored the broadcast threshold
        .localCheckpoint(true)
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }
}
