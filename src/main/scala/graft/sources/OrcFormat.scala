package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** ORC format parity: partitioned ORC staging + pruned read-back.
  *
  * Completes the file-format matrix (parquet / CSV / JSON / raw text /
  * ORC) for pipelines that exchange data with Hive-era warehouses, where
  * ORC is the incumbent columnar format. The reference engine has no ORC
  * surface (its intakes are Arango/Postgres/JSON — reference:
  * src/main/scala/etl/BaseEnricher.scala:27-59); this is engine-extension
  * coverage like [[CsvIntake]].
  *
  * Scale shape: the stage writes `partitionBy(event_type)` so a
  * type-filtered consumer reads ONLY that partition's directory —
  * partition pruning at the file listing, before any I/O. Within a
  * partition the filter and projection push into the ORC reader the same
  * way as parquet (asserted in PlanAuditSpec: the scan shows the pushed
  * filter and the pruned read schema). Timestamps travel as the canonical
  * epoch-nanos LONG (`ts` from [[graft.Tables.events]]) — integer-exact
  * through any columnar encoding, no timestamp-zone semantics to
  * round-trip.
  */
object OrcFormat {

  /** Stage the canonical events frame as ORC, partitioned by event type.
    * Returns the staging directory. */
  def stage(spark: SparkSession, sfDir: String): String = {
    val dir = graft.util.TempDirs.staging("graft_orc_stage")
    graft.Tables.events(spark, sfDir)
      .select("event_id", "ts", "user_id", "event_type", "value")
      .write.mode("overwrite")
      .partitionBy("event_type")
      .orc(s"$dir/events")
    s"$dir/events"
  }

  /** Read a staged directory back; `event_type` comes from the partition
    * directories, the rest from ORC stripes. */
  def read(spark: SparkSession, stageDir: String): DataFrame =
    spark.read.orc(stageDir)

  /** Catalog witness: stage → pruned read of ONE partition (`purchase`) →
    * hourly rollup. Counts are exact; the double `value` sum accumulates
    * in DECIMAL (house rule for float sums) and renders back to DOUBLE —
    * identical arithmetic to the oracle running on the original parquet,
    * so a hash match proves the ORC round trip lost nothing. */
  def purchaseHourly(spark: SparkSession, sfDir: String): DataFrame =
    read(spark, stage(spark, sfDir))
      .filter(col("event_type") === "purchase")
      .filter(col("value").isNotNull)
      .groupBy(expr("ts div 3600000000000").as("hour"))
      .agg(count(lit(1)).as("n_events"),
        expr("CAST(SUM(CAST(value AS DECIMAL(38,6))) AS DOUBLE)")
          .as("total_value"))
      .orderBy("hour")
}
