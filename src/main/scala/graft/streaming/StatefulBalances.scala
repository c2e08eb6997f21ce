package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, StatefulProcessor, TTLConfig,
  TimeMode, TimerValues, ValueState}

/** Streaming running balances via Spark 4's `transformWithState` — the
  * arbitrary-state API that supersedes `mapGroupsWithState` (typed state
  * cells, TTL, timers; requires the RocksDB state store provider, which is
  * what bounds state off-heap at cluster scale).
  *
  * The reference recomputes wallet balances by re-reading the whole transfer
  * history per run (src/main/scala/etl/WalletEnricher.scala); the streaming
  * form holds one small state cell per (token, wallet) and folds only new
  * legs — at 100 TB of history that is the difference between an
  * ever-growing batch job and a constant-cost incremental one.
  */
object StatefulBalances {

  /** One double-entry leg: `account` is "contract|address". Amounts ride as
    * Long micro-units, not Double — state that survives millions of folds
    * must not accumulate float error (SURVEY §7.4's decimal-sums rule,
    * applied to streaming state). */
  final case class Leg(account: String, ts_sec: Long, delta_micro: Long)

  /** Post-batch snapshot per account: running balance and legs folded. */
  final case class BalanceSnapshot(account: String, balance_micro: Long,
      n_legs: Long, last_ts: Long)

  /** The per-account state cell (public: encoder codegen instantiates it
    * from generated Java, which cannot touch a private member). */
  final case class BalState(balance_micro: Long, n_legs: Long, last_ts: Long)

  /** Folds each key's new legs into a ValueState cell; emits one snapshot
    * per key per micro-batch (Update mode). Legs fold in (ts, delta) order
    * so a batch's result is independent of arrival order within the batch. */
  final class BalanceProcessor
      extends StatefulProcessor[String, Leg, BalanceSnapshot] {
    @transient private var state: ValueState[BalState] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      state = getHandle.getValueState[BalState]("bal",
        Encoders.product[BalState], TTLConfig.NONE)

    override def handleInputRows(key: String, rows: Iterator[Leg],
        timers: TimerValues): Iterator[BalanceSnapshot] = {
      val prev = if (state.exists()) state.get() else BalState(0L, 0L, 0L)
      val next = rows.toSeq.sortBy(l => (l.ts_sec, l.delta_micro))
        .foldLeft(prev) { (s, l) =>
          BalState(s.balance_micro + l.delta_micro, s.n_legs + 1,
            math.max(s.last_ts, l.ts_sec))
        }
      state.update(next)
      Iterator.single(
        BalanceSnapshot(key, next.balance_micro, next.n_legs, next.last_ts))
    }
  }

  /** The transformWithState pipeline over a (possibly streaming) leg set.
    * TimeMode.None: pure data-driven state, no timers — idle accounts cost
    * one state cell, nothing else. */
  def runningBalances(spark: SparkSession,
      legs: Dataset[Leg]): Dataset[BalanceSnapshot] = {
    import spark.implicits._
    legs.groupByKey(_.account)
      .transformWithState(new BalanceProcessor,
        TimeMode.None(), OutputMode.Update())
  }

  /** Catalog form: the transformWithState balance engine driven by the
    * real event stream — double-entry legs per transfer (token|wallet
    * accounts, micro-unit integer deltas), folded through the custom
    * stateful processor, final per-account snapshot read back from the
    * Update-mode drain (max n_legs = the last snapshot each account
    * emitted). Oracle = the batch net sums, so the custom processor's
    * arithmetic is hash-verified end to end, not just spec-asserted.
    * The RocksDB provider transformWithState requires is pinned with the
    * state shards for the drain and restored after.
    *
    * Concurrency: every call drains into the one memory table
    * `graft_stream_balances`, so the drain and the read of the table run
    * under the object lock. The read resolves the table to the call's
    * own sink, so the returned frame keeps its rows when a later call
    * replaces the table. */
  def streamTokenBalances(spark: SparkSession, sfDir: String): DataFrame =
    lock.synchronized {
      val tableName = "graft_stream_balances"
      StreamingMetrics.withStatePartitions(spark, RocksDb) {
        StreamingMetrics.drainToMemory(
          runningBalances(spark, legStream(spark, sfDir)).toDF(), tableName,
          "update")
      }
      compacted(spark.table(tableName))
    }

  private[this] val lock = new Object

  /** The double-entry leg stream over the events file-source (token|wallet
    * accounts, micro-unit integer deltas) — shared by the memory-sink and
    * changelog-sink catalog forms. */
  private def legStream(spark: SparkSession,
      sfDir: String): Dataset[Leg] = {
    import spark.implicits._
    val base = graft.Tables.eventsStream(spark, sfDir).select(
      col("event_type").as("tok"),
      col("user_id").cast("string").as("from_a"),
      ((col("user_id") * 7 + col("event_id")) % 1000).cast("string")
        .as("to_a"),
      (col("value").cast(org.apache.spark.sql.types.DecimalType(25, 2))
        * 1000000).cast("long").as("vm"),
      col("ts_sec").cast("long").as("ts"))
    base.select(
        concat(col("tok"), lit("|"), col("from_a")).as("account"),
        col("ts").as("ts_sec"), (-col("vm")).as("delta_micro"))
      .unionByName(base.select(
        concat(col("tok"), lit("|"), col("to_a")).as("account"),
        col("ts").as("ts_sec"), col("vm").as("delta_micro")))
      .as[Leg]
  }

  /** The RocksDB state-store provider conf transformWithState requires,
    * pinned for a drain by [[StreamingMetrics.withStatePartitions]]. */
  private val RocksDb = Seq("spark.sql.streaming.stateStore.providerClass" ->
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")

  /** Changelog compaction: the LAST snapshot each account emitted (max
    * n_legs — strictly increasing per account) is its current state. */
  private def compacted(changelog: DataFrame): DataFrame =
    changelog
      .groupBy("account")
      .agg(max(struct(col("n_legs"), col("balance_micro"),
        col("last_ts"))).as("f"))
      .select(col("account"), col("f.balance_micro").as("balance_micro"),
        col("f.n_legs").as("n_legs"), col("f.last_ts").as("last_ts"))
      .orderBy("account")

  /** PRODUCTION-sink form of [[streamTokenBalances]]: Update-mode snapshot
    * rows land in a parquet CHANGELOG via foreachBatch (update output has
    * no native file-sink; changelog-append + compacted read-out is the
    * deployable pattern — the same contract a Delta MERGE or a compacted
    * Kafka topic materializes), and the result is the compaction over the
    * changelog. Same oracle as the memory-sink form, so the file-sink
    * path's arithmetic is hash-verified too. */
  def streamTokenBalancesChangelog(spark: SparkSession,
      sfDir: String): DataFrame = lock.synchronized {
    val out = graft.util.TempDirs.scratch("graft_balchg_sink")
    StreamingMetrics.withStatePartitions(spark, RocksDb) {
      StreamingMetrics.drainBatches(
        runningBalances(spark, legStream(spark, sfDir)).toDF(), "update",
        "graft_balchg")(_.write.mode("append").parquet(out))
    }
    compacted(graft.Tables.parquet(spark, out))
  }
}
