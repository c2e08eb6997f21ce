package graft.pipelines

import graft.Tables
import graft.io.Sinks
import graft.ops._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** The reference's four executable pipelines as library entry points — a
  * user of the reference can call these instead of its `App` objects
  * (reference: src/main/scala/etl/{TransferEnricher,WalletEnricher,
  * DappEnricher,EnhanceTokenEnricher}.scala).
  *
  * Key structural change (SURVEY §7.4.6): no driver-side token loops — every
  * stage keeps `contract_address` as a grouping column and computes ALL
  * tokens in one distributed pass; per-token whale thresholds come from a
  * market lookup built on the driver instead of per-token HTTP fetches
  * (reference: common/Coingecko.scala). Where the reference re-scans its
  * source once per metric (SURVEY §4), the token documents here are one
  * linear chain over one scan of the transfers: both legs of each transfer
  * → per (token, wallet, hour) → per (token, hour) → per (token, day) → per
  * token, with the map and JSON renderings reading the same per-token row.
  * Sinks are upsert-by-key parquet (idempotent under retry — the property
  * the reference's wall-clock keys break, SURVEY §4.6).
  */
object Pipelines {

  private val Dec = DecimalType(25, 2)
  val HolderThreshold = 100.0
  /** Whale ratio applied to each token's circulating supply (reference:
    * src/main/scala/etl/WalletEnricher.scala:24-25 semantics). */
  val WhaleRatio = 0.001

  /** Raw load (TransferEnricher): deterministic edge rows, upserted by
    * `_key` — re-running the load is a no-op. */
  def rawLoad(spark: SparkSession, sfDir: String, outDir: String): Unit =
    Sinks.upsertParquet(spark, Keys.transferEdges(spark, sfDir),
      "_key", "block_number", s"$outDir/transfers")

  private val tok = col("contract_address")
  private val ClusterNames = Seq("LOW", "MEDIUM", "HIGH")

  /** Both legs of every transfer from ONE scan of the transfers: (token,
    * address, hour, signed delta, received value, incoming). The sender's
    * leg carries -value, the receiver's +value and the received value, so
    * each transfer has exactly one incoming leg. */
  private def legsAll(spark: SparkSession, sfDir: String): DataFrame =
    Tables.transfers(spark, sfDir)
      .select(tok, Num.hourBucket(col("transact_at")).as("t"), explode(array(
        struct(col("from_address").as("address"), negate(col("value")).as("delta"),
          lit(null).cast("double").as("received"), lit(false).as("incoming")),
        struct(col("to_address").as("address"), col("value").as("delta"),
          col("value").as("received"), lit(true).as("incoming")))).as("leg"))
      .select(tok, col("t"), col("leg.*"))

  /** Per-(token, wallet, hour) running balance with holder/whale flags —
    * the all-token generalization of [[graft.ops.Balances]]. The same
    * aggregate also carries the wallet's leg count `n`, its exact-decimal
    * received `volume` and received-transfer count `received_n`, which the
    * token documents roll up per hour. */
  def walletStates(spark: SparkSession, sfDir: String): DataFrame = {
    val w = Window.partitionBy("contract_address", "address").orderBy("t")
    val supply = typedLit(Skew.TokenMarket.toMap)
    legsAll(spark, sfDir)
      .repartition(tok, col("address")) // one exchange serves agg and window
      .groupBy("contract_address", "address", "t")
      .agg(sum(col("delta").cast(Dec)).as("ddelta"), count(lit(1)).as("n"),
        Num.dsumDec(col("received")).as("volume"),
        count(when(col("incoming"), 1)).as("received_n"))
      .withColumn("balance",
        sum(col("ddelta")).over(w.rowsBetween(Window.unboundedPreceding, 0))
          .cast("double"))
      .withColumn("prev_balance", lag(col("balance"), 1).over(w))
      // tokens without market data drop out, as an inner join would
      .withColumn("whale_threshold", supply(tok) * WhaleRatio)
      .filter(col("whale_threshold").isNotNull)
      .withColumn("is_holder",
        when(col("balance") > HolderThreshold
          || (col("prev_balance") > HolderThreshold && col("balance").isNull), true)
          .otherwise(false))
      .withColumn("is_whale", col("balance") >= col("whale_threshold"))
  }

  /** Wallet enrichment (WalletEnricher): one document per (token, wallet)
    * with the `map<t, struct(is_whale, balance)>` change log, grouped in the
    * states' own (token, wallet) partitioning. */
  def walletDocuments(spark: SparkSession, sfDir: String): DataFrame =
    walletStates(spark, sfDir)
      .groupBy(tok, col("address"))
      .agg(ChangeLogs.mapLog(col("t"), struct(col("is_whale"), col("balance")))
        .as("balanceChangeLogs"))
      .withColumn("_key", concat_ws("_", tok, col("address")))
      // a null wallet keeps the key's last segment, so the column stays
      // non-nullable
      .select(col("_key"), col("balanceChangeLogs"),
        coalesce(col("address"), substring_index(col("_key"), "_", -1))
          .as("address"))

  def enrichWallets(spark: SparkSession, sfDir: String, outDir: String): Unit =
    Sinks.upsertParquet(spark,
      walletDocuments(spark, sfDir).withColumn("ver", lit(1L)),
      "_key", "ver", s"$outDir/wallets")

  /** Address → ids of the registry dapps listing it, built on the driver. */
  private def dappIdsOf(address: Column): Column = {
    val ids = typedLit(Tables.DappRegistry
      .flatMap { case (id, _, addrs) => addrs.map(_ -> id) }
      .groupMap(_._1)(_._2))
    ids(address)
  }

  /** Dapp enrichment (DappEnricher): one document per (token, dapp) with the
    * sorted counterparty wallet list (deterministic; the reference's
    * collect_list order is run-dependent). */
  def dappDocuments(spark: SparkSession, sfDir: String): DataFrame = {
    val names = typedLit(Tables.DappRegistry.map { case (id, name, _) =>
      id -> name }.toMap)
    legsAll(spark, sfDir)
      .select(tok, col("address"),
        explode(dappIdsOf(col("address"))).as("dapp_id"))
      .groupBy(tok, col("dapp_id"))
      .agg(sort_array(collect_set(col("address"))).as("address"),
        count(lit(1)).as("n_interactions"))
      .select(
        concat_ws("_", tok, col("dapp_id")).as("_key"),
        col("dapp_id").as("idCMC"), names(col("dapp_id")).as("name"),
        col("address"), col("n_interactions"))
  }

  def enrichDapps(spark: SparkSession, sfDir: String, outDir: String): Unit =
    Sinks.upsertParquet(spark,
      dappDocuments(spark, sfDir).withColumn("ver", lit(1L)),
      "_key", "ver", s"$outDir/dapps")

  // ── Token documents: one linear chain over the wallet states ──────────
  // (token, address, hour) → (token, hour) → (token, day) → token; both
  // document renderings read the same per-token row.

  /** One row per token: `hours`, the key-sorted per-hour metrics (volume,
    * transfer count n, distinct wallets u, holders h, whales w, distinct
    * dapps nd, LOW/MEDIUM/HIGH wallet lists), and `days`, the key-sorted
    * per-day transfer averages (n/24.0 — the reference's /24 quirk, C3).
    * Every hourly metric is one aggregate over the wallet states; the day
    * regroup carries its hours along instead of re-aggregating the legs. */
  private def tokenLogs(spark: SparkSession, sfDir: String): DataFrame = {
    def wallets(cluster: String) = sort_array(collect_list(
      when(Clusters.clusterOf(col("n")) === cluster, col("address")))).as(cluster)
    val hour = walletStates(spark, sfDir)
      .groupBy(tok, col("t"))
      .agg(sum("volume").as("volume"), Seq(
        // non-null like a count, so the map type has valueContainsNull=false
        coalesce(sum("received_n"), lit(0L)).as("n"), count(lit(1)).as("u"),
        sum(col("is_holder").cast("int")).as("h"),
        sum(col("is_whale").cast("int")).as("w"),
        size(array_distinct(flatten(collect_list(dappIdsOf(col("address"))))))
          .cast("long").as("nd")) ++ ClusterNames.map(wallets): _*)
    hour.repartition(tok) // one exchange serves the day and token regroups
      .groupBy(tok, Num.dayBucket(col("t")).as("d"))
      .agg(sum("n").as("day_n"),
        collect_list(struct(hour.columns.tail.map(col): _*)).as("hours"))
      .groupBy(tok)
      .agg(array_sort(flatten(collect_list(col("hours")))).as("hours"),
        array_sort(collect_list(struct(col("d"),
          (col("day_n").cast("double") / 24.0).as("avg")))).as("days"))
  }

  /** Per-token market/info scalars, joined on the driver (5 rows). */
  private def infoFrame(spark: SparkSession): DataFrame = {
    import spark.implicits._
    val supply = Skew.TokenMarket.toMap
    Skew.TokenInfo
      .collect { case (t, name, symbol, decimals, logo) if supply.contains(t) =>
        (t, t, supply(t), name, symbol, decimals, logo) }
      .toDF("contract_address", "address", "circulating_supply", "name",
        "symbol", "decimals", "logo")
  }

  /** Every token of [[infoFrame]] with its eight change logs, rendered from
    * the per-token row by `logs` (in the reference's column order) and
    * completed by `absent` (which sees null for a token without transfers),
    * keyed by token. */
  private def documents(spark: SparkSession, sfDir: String,
      absent: Column => Column)(logs: Column*): DataFrame = {
    val names = Seq("tradingVolumeChangeLogs", "numberOfTransferChangeLogs",
      "numberOfAddressChangeLogs", "averageNumberOfTransactionPerDay",
      "numberOfDappChangeLogs", "numberOfHolderChangeLogs",
      "numberOfWhaleWalletChangeLogs", "walletClusterByNumberOfTransfer")
    val info = infoFrame(spark)
    info.join(tokenLogs(spark, sfDir)
        .select(tok +: logs.zip(names).map { case (l, n) => l.as(n) }: _*),
        Seq("contract_address"), "left")
      .select(info.columns.map(col) ++ names.map(n => absent(col(n)).as(n)): _*)
      .withColumn("_key", tok)
  }

  /** Token enrichment (EnhanceTokenEnricher): one document per token holding
    * every change-log map the reference stores, each map's entries sorted
    * by key — not the reference's 9-frame monotonically_increasing_id
    * reduce-join. A token with no dapp hour has a null dapp map. */
  def tokenDocuments(spark: SparkSession, sfDir: String): DataFrame =
    byToken(tokenMapDocuments(spark, sfDir))

  /** The presentation sort of the token documents: at most one row per
    * [[infoFrame]] token, so one partition sorts them — a range
    * `orderBy` would pay a sampling job and an exchange on every call. */
  private def byToken(docs: DataFrame): DataFrame =
    docs.coalesce(1).sortWithinPartitions("contract_address")

  /** [[tokenDocuments]] without its presentation sort, for the upsert,
    * whose key shuffle would discard the order anyway. */
  private def tokenMapDocuments(spark: SparkSession,
      sfDir: String): DataFrame = {
    def log(entries: Column, key: String)(value: Column => Column) =
      ChangeLogs.mapOf(entries, _(key), value)
    val hours = col("hours")
    val dappHours = filter(hours, _("nd") > 0)
    documents(spark, sfDir, identity)(
      log(hours, "t")(_("volume").cast("double")),
      log(hours, "t")(_("n")),
      log(hours, "t")(_("u")),
      log(col("days"), "d")(_("avg")),
      when(size(dappHours) > 0, log(dappHours, "t")(_("nd"))),
      log(hours, "t")(_("h")),
      log(hours, "t")(_("w")),
      log(hours, "t")(e => struct(ClusterNames.map(c =>
        struct(e(c).cast("array<string>").as("addresses")).as(c)): _*)))
  }

  /** [[tokenDocuments]] with every change-log map rendered as a sorted JSON
    * string — the driver-verifiable form of the flagship document (reference
    * EnhanceTokenEnricher shape): byte-identical to a DuckDB string_agg
    * oracle. Rendering rules: volumes stay DECIMAL into the string, counts
    * are integers, the /24 average renders through fixed `%.6f` (raw double
    * toString differs across engines), cluster lists are sorted JSON string
    * arrays. A missing log (no transfers, or no dapp hour) is `{}`. */
  def tokenDocumentsJson(spark: SparkSession, sfDir: String): DataFrame = {
    def log(entries: Column, key: String)(value: Column => Column) =
      ChangeLogs.jsonObject(entries, _(key), value)
    val hours = col("hours")
    byToken(documents(spark, sfDir, coalesce(_, lit("{}")))(
      log(hours, "t")(_("volume").cast("string")),
      log(hours, "t")(_("n").cast("string")),
      log(hours, "t")(_("u").cast("string")),
      log(col("days"), "d")(e => format_string("%.6f", e("avg"))),
      log(filter(hours, _("nd") > 0), "t")(_("nd").cast("string")),
      log(hours, "t")(_("h").cast("string")),
      log(hours, "t")(_("w").cast("string")),
      log(hours, "t")(e => concat(lit("{"), concat_ws(",", ClusterNames.map(c =>
        concat(lit(s"\"$c\":{\"addresses\":"), ChangeLogs.jsonStrArray(e(c)),
          lit("}"))): _*), lit("}")))))
  }

  def enrichTokens(spark: SparkSession, sfDir: String, outDir: String): Unit =
    Sinks.upsertParquet(spark,
      tokenMapDocuments(spark, sfDir).withColumn("ver", lit(1L)),
      "_key", "ver", s"$outDir/tokens")

  /** Fifth pipeline — the training-corpus store: the applied dedup decision
    * ([[graft.ops.Dedup.dedupedCorpus]]: exact-dup keepers minus near-dup
    * cluster losers) joined back to the document text and written
    * lang/source-partitioned. Partition values prune at scan time (a reader
    * of one language touches only its directories), and dynamic partition
    * overwrite makes re-runs idempotent: unchanged partitions rewrite to
    * identical content, partitions absent from the batch are left alone.
    *
    * Returns write metrics collected via `Dataset.observe` — counts and
    * text mass ride along on the write job itself (observed aggregates
    * accumulate per task, no second scan of the pipeline), the pattern a
    * production run uses to alert on empty/shrunken batches. */
  def enrichCorpus(spark: SparkSession, sfDir: String,
      outDir: String): Map[String, Long] = {
    val obs = org.apache.spark.sql.Observation("corpus_write")
    Sinks.writePartitioned(
      Dedup.dedupedCorpus(spark, sfDir)
        .join(Tables.documents(spark, sfDir).select("doc_id", "text"),
          Seq("doc_id"))
        .observe(obs,
          count(lit(1)).as("rows_written"),
          sum(length(col("text")).cast("long")).as("chars_written"),
          min(col("doc_id")).as("min_doc_id"),
          max(col("doc_id")).as("max_doc_id")),
      s"$outDir/corpus", Seq("lang", "source"))
    obs.get.map { case (k, v) => k -> v.asInstanceOf[Long] }
  }
}
