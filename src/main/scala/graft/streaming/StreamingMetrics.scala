package graft.streaming

import graft.util.TempDirs
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types._

/** Structured Streaming twins of the batch change-log metrics.
  *
  * The reference has no streaming layer — its "incremental" mode is a
  * driver-side loop over 5,000-block ranges with sleeps and manual retries
  * (reference: src/main/scala/etl/TransferEnricher.scala:33,112-150). The
  * idiomatic Spark equivalent is a file-source stream + event-time windowed
  * aggregation: new parquet files are discovered per micro-batch, hourly
  * tumbling windows replace the integer-division bucketing, and state lives
  * in the checkpointed state store instead of ad-hoc driver futures.
  *
  * Every catalog stream runs BOUNDED over the static testdata and returns
  * a batch frame that a DuckDB oracle checks, so each runs one of three
  * drains, chosen by its sink:
  *  - [[drainToMemory]]: a memory sink drained by `processAllAvailable`,
  *    read back with `spark.table` — the oracle harness for complete-mode
  *    aggregations (it holds every group on the driver);
  *  - [[drainToParquet]]: an AvailableNow append into a fresh scratch
  *    parquet sink — the production shape of the watermarked twins,
  *    read back with [[graft.Tables.parquet]];
  *  - [[drainBatches]]: an AvailableNow `foreachBatch` — Update-mode
  *    changelogs (no native file sink takes update output) and
  *    multi-sink routing.
  * The caller wraps the drain in [[withStatePartitions]] or
  * [[withStatePartitionsNoFlush]], which pin the state shards (and the
  * no-data batch) for the drain, and builds the read-back after the
  * wrapper returns.
  */
object StreamingMetrics {

  /** Hourly volume per token, computed by a streaming windowed aggregation
    * over the events parquet and drained synchronously. Output matches
    * [[graft.ops.Metrics.hourlyVolume]] exactly. The source is
    * [[graft.Tables.eventsStream]] — the encoding-robust file-stream twin of
    * the batch loader, so event time here is the SAME `ts_t` every batch
    * query reads (a previous per-file LongType schema silently read
    * micros-as-nanos and compressed event time 1000×). */
  def hourlyVolumeStreaming(spark: SparkSession, sfDir: String): DataFrame = {
    val tableName = "graft_stream_hourly_volume"

    val stream = graft.Tables.eventsStream(spark, sfDir)
      .select(col("event_type").as("contract_address"), col("ts_t"), col("value"))
      // Event-time tumbling window — epoch-aligned, so window.start equals
      // the batch engine's integer-division hour bucket.
      .groupBy(col("contract_address"), window(col("ts_t"), "1 hour"))
      .agg(sum(col("value").cast(DecimalType(25, 2))).as("dvolume"))

    withStatePartitions(spark) { drainToMemory(stream, tableName, "complete") }

    spark.table(tableName)
      .select(
        col("contract_address"),
        unix_timestamp(col("window.start")).as("t"),
        col("dvolume").cast("double").as("volume"))
      .orderBy("contract_address", "t")
  }

  /** PRODUCTION shape of the hourly-volume stream: bounded state, append
    * output. The complete-mode/memory-sink drain above is the ORACLE
    * HARNESS — it holds every window ever seen and materializes results on
    * the driver, acceptable only for verification at small SF. This is the
    * deployable plan: a watermark bounds the state store to the windows
    * still inside the lateness horizon (closed windows are emitted once and
    * their state EVICTED), and append mode feeds an idempotent file sink —
    * at 100 TB/day the state size tracks tokens × open hours, not stream
    * lifetime. Takes the already-normalized events stream
    * ([[graft.Tables.eventsStream]] or any frame with
    * `event_type`/`ts_t`/`value`) so tests can drive it from MemoryStream.
    * StreamingSpec asserts the eviction (state rows drop back to the open
    * windows after a closed window flushes). */
  def hourlyVolumeBounded(events: DataFrame,
      lateness: String = "10 minutes"): DataFrame =
    events
      .select(col("event_type").as("contract_address"), col("ts_t"), col("value"))
      .withWatermark("ts_t", lateness)
      .groupBy(col("contract_address"), window(col("ts_t"), "1 hour"))
      .agg(sum(col("value").cast(DecimalType(25, 2))).as("dvolume"))
      .select(col("contract_address"),
        unix_timestamp(col("window.start")).as("t"),
        col("dvolume").cast("double").as("volume"))

  /** Number of state-store shards for the catalog's stateful streaming
    * runs. A stateful operator gets ONE state store per shuffle partition,
    * each checkpointing and committing per micro-batch (a stream-stream
    * join runs FOUR stores per partition per side), so the partition
    * count is a capacity knob that should track STATE VOLUME, not the
    * session's batch-shuffle width: the posture runs measure ~10⁴ live
    * state rows at sf0.1, where 32 shards mean 32× per-batch commit/
    * checkpoint fixed costs for ~300 rows each. 4 shards (r13: measured
    * 5–15% off the stream-join walls vs 8, with ~2,500 rows per shard
    * still ~25,000× under the ~64 MB/store comfort line) carry that state
    * comfortably and cut the fixed cost 4×; at production state volumes
    * the SAME knob scales up (state_rows × row_size / ~64 MB per store),
    * which is how a 1000-executor deployment sizes it. Set per streaming
    * query via [[withStatePartitions]] — the count is captured into the
    * query's checkpoint at first start, so it is a per-query property,
    * not a session one. */
  val StateShufflePartitions = 4

  /** Run `f` (which must START and DRAIN its streaming query — the first
    * micro-batch captures the count into the checkpoint, so the conf must
    * stay pinned through the drain) with the session's shuffle-partition
    * conf at [[StateShufflePartitions]] and any further `confs` set,
    * restoring the prior values after.
    * Batch plans built after this returns are unaffected. The session
    * conf is shared state, so pin-run-restore is serialized PER SESSION
    * ([[withSessionConfs]]) — catalog runs are sequential anyway; a
    * caller wanting genuinely concurrent streams gives each its own
    * `spark.newSession()`, whose conf (and lock) is independent, so
    * independent sessions never block each other here. */
  private[streaming] def withStatePartitions[T](spark: SparkSession,
      confs: Seq[(String, String)] = Nil)(f: => T): T =
    withSessionConfs(spark,
      ("spark.sql.shuffle.partitions" -> StateShufflePartitions.toString) +:
        confs)(f)

  /** Pin-run-restore a set of session confs around a streaming
    * build+start+drain, serialized per session (see [[withStatePartitions]]
    * — this is its generalization; the lock IS the session's SQLConf, the
    * exact object being mutated, unique per session, held by nothing else
    * in this codebase). A conf unset before the call is restored to unset,
    * also when `f` throws. "Unset" is read from the session's settings,
    * not from `spark.conf.getOption`, which answers a registered conf's
    * default for an unset key. */
  private[graft] def withSessionConfs[T](spark: SparkSession,
      confs: Seq[(String, String)])(f: => T): T = {
    val sql = spark.sessionState.conf
    sql.synchronized {
      val prev = confs.map { case (k, _) =>
        k -> Option.when(sql.contains(k))(sql.getConfString(k)) }
      confs.foreach { case (k, v) => spark.conf.set(k, v) }
      try f finally prev.foreach {
        case (k, Some(v)) => spark.conf.set(k, v)
        case (k, None) => spark.conf.unset(k)
      }
    }
  }

  /** State shards + NO no-data micro-batch, for bounded drains whose
    * DECLARED OUTPUT is complete after the data batch: inner and semi
    * stream-stream joins emit each result row the moment both sides are
    * present (the watermark only EVICTS state, it never gates their
    * output), and streaming dedup admits first-seen rows immediately. For
    * those shapes the engine's extra watermark-advance batch does nothing
    * but evict state that a bounded run discards with its checkpoint
    * anyway — while costing a full per-batch fixed round (incremental
    * re-plan, offset/commit WAL writes, and a state-store commit that
    * re-serializes every eviction; measured ~35–45% of the inner/semi
    * join walls at sf0.1). A CONTINUOUS deployment of the same plan keeps
    * the default (no-data batches on) so state is evicted promptly during
    * idle periods — this wrapper exists for the drain-then-discard
    * harness shape only, which is why the conf is pinned per query here
    * and not set session-wide. NEVER use it for watermark-GATED output
    * (outer/anti joins, append-mode windowed aggregations): their final
    * rows emit IN the no-data batch and would be silently withheld. */
  private[streaming] def withStatePartitionsNoFlush[T](
      spark: SparkSession)(f: => T): T =
    withStatePartitions(spark,
      Seq("spark.sql.streaming.noDataMicroBatches.enabled" -> "false"))(f)

  /** Start `df` into the memory table `name` in output `mode`,
    * checkpointed at a fresh scratch `<name>_ckpt`, and drain everything
    * available; read the result back with `spark.table(name)`. */
  private[streaming] def drainToMemory(df: DataFrame, name: String,
      mode: String): Unit = {
    val q = df.writeStream.outputMode(mode).format("memory")
      .queryName(name)
      .option("checkpointLocation", TempDirs.scratch(s"${name}_ckpt"))
      .start()
    try q.processAllAvailable()
    finally q.stop()
  }

  /** AvailableNow append of `df` into the parquet sink `sink`, checkpointed
    * at `ckpt`; returns `sink`. */
  private[streaming] def drainToParquet(df: DataFrame, sink: String,
      ckpt: String): String = {
    df.writeStream.outputMode("append").format("parquet")
      .option("path", sink).option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow()).start().awaitTermination()
    sink
  }

  /** [[drainToParquet]] into a fresh scratch pair `<prefix>_sink` /
    * `<prefix>_ckpt` (fresh dirs make each run deterministic and
    * re-runnable); returns the sink path. */
  private[streaming] def drainToParquet(df: DataFrame,
      prefix: String): String =
    drainToParquet(df, TempDirs.scratch(s"${prefix}_sink"),
      TempDirs.scratch(s"${prefix}_ckpt"))

  /** AvailableNow drain of `df` in output `mode` through `write`, called
    * once per micro-batch, checkpointed at a fresh scratch
    * `<prefix>_ckpt`. */
  private[streaming] def drainBatches(df: DataFrame, mode: String,
      prefix: String)(write: DataFrame => Unit): Unit =
    df.writeStream.outputMode(mode)
      .foreachBatch((batch: DataFrame, _: Long) => write(batch))
      .option("checkpointLocation", TempDirs.scratch(s"${prefix}_ckpt"))
      .trigger(Trigger.AvailableNow()).start().awaitTermination()

  /** Run [[hourlyVolumeBounded]] over the static testdata into a PARQUET
    * sink (AvailableNow trigger) and return the sink's contents. Windows
    * still open when the source drains stay in state — append emits only
    * watermark-closed windows, which is the contract (a live deployment
    * keeps running; the final partial hour is not final data). */
  def runHourlyVolumeBounded(spark: SparkSession, sfDir: String,
      outDir: String, checkpointDir: String): DataFrame = {
    withStatePartitions(spark) {
      drainToParquet(
        hourlyVolumeBounded(graft.Tables.eventsStream(spark, sfDir)),
        outDir, checkpointDir)
    }
    graft.Tables.parquet(spark, outDir).orderBy("contract_address", "t")
  }

  /** Catalog form of the bounded stream: fresh sink/checkpoint dirs per
    * invocation, result = whatever the append sink holds after the
    * AvailableNow drain. DETERMINISTIC: the single source file yields one
    * data batch, so the final watermark is exactly `max(event time in ms) -
    * lateness`, and the emitted set is every window whose end ≤ that — a
    * plain SQL predicate the DuckDB oracle states verbatim (q_volume_hourly
    * restricted to watermark-closed windows). The tail windows the
    * deployment would emit later are exactly the rows withheld. */
  def streamBoundedHourly(spark: SparkSession, sfDir: String): DataFrame =
    runHourlyVolumeBounded(spark, sfDir,
      TempDirs.scratch("graft_hvb_sink"), TempDirs.scratch("graft_hvb_ckpt"))

  /** PRODUCTION shape of the hourly top-K leaderboard: the per-(window,
    * token) volume/count aggregate streams with watermark + append into a
    * file sink — the [[hourlyVolumeBounded]] bounded-state contract — and
    * the per-window RANK runs as a batch query over the sink. A global
    * per-window rank is not an append-mode streaming operator (it would
    * re-order a window every late row); the deployable pattern is
    * stream-aggregate → closed-window sink → reporting rank, which is what
    * this models end to end. */
  def topTokensBounded(events: DataFrame,
      lateness: String = "10 minutes"): DataFrame =
    events
      .select(col("event_type").as("token"), col("ts_t"), col("value"))
      .withWatermark("ts_t", lateness)
      .groupBy(window(col("ts_t"), "1 hour"), col("token"))
      .agg(sum(col("value").cast(DecimalType(25, 2))).as("dvol"),
        count(lit(1)).as("n"))
      .select(unix_timestamp(col("window.start")).as("t"), col("token"),
        col("dvol"), col("n"))

  /** Catalog form: drain [[topTokensBounded]] over the events file-stream
    * into a parquet sink (AvailableNow), then rank each closed window.
    * Emitted set = windows with end ≤ final watermark (max event-time ms −
    * lateness) — the DuckDB oracle states that predicate verbatim on the
    * batch leaderboard. */
  def streamBoundedTopk(spark: SparkSession, sfDir: String): DataFrame = {
    val outDir = withStatePartitions(spark) {
      drainToParquet(topTokensBounded(graft.Tables.eventsStream(spark, sfDir)),
        "graft_topk")
    }
    val w = org.apache.spark.sql.expressions.Window.partitionBy("t")
      .orderBy(col("dvol").desc, col("token").asc)
    graft.Tables.parquet(spark, outDir)
      .withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= TopTokensK)
      .select(col("t"), col("rnk"), col("token"),
        col("dvol").cast("double").as("volume"), col("n"))
      .orderBy("t", "rnk")
  }

  /** Bounded-state SESSIONIZATION, production shape: `session_window` +
    * watermark + append mode. Session state merges while events can still
    * arrive inside the gap; once the watermark passes a session's end
    * (last event + gap), it is emitted once and its state evicted. Same
    * determinism argument as [[hourlyVolumeBounded]]: one data batch →
    * final watermark = max event-time ms − lateness → emitted set =
    * sessions with end ≤ watermark, stated verbatim by the oracle. */
  def sessionVolumeBounded(events: DataFrame,
      lateness: String = "10 minutes"): DataFrame =
    events
      .select(col("event_type").as("contract_address"), col("ts_t"), col("value"))
      .withWatermark("ts_t", lateness)
      .groupBy(col("contract_address"),
        session_window(col("ts_t"), "30 minutes"))
      .agg(sum(col("value").cast(DecimalType(25, 2))).as("dvolume"),
        count(lit(1)).as("n"))
      .select(col("contract_address"),
        unix_timestamp(col("session_window.start")).as("s_start"),
        unix_timestamp(col("session_window.end")).as("s_end"),
        col("dvolume").cast("double").as("volume"), col("n"))

  /** Catalog form of [[sessionVolumeBounded]] over the events file-stream:
    * parquet sink, AvailableNow drain, fresh dirs per invocation. */
  def streamBoundedSessions(spark: SparkSession, sfDir: String): DataFrame = {
    val out = withStatePartitions(spark) {
      drainToParquet(sessionVolumeBounded(
        graft.Tables.eventsStream(spark, sfDir)), "graft_svb")
    }
    graft.Tables.parquet(spark, out).orderBy("contract_address", "s_start")
  }

  /** PRODUCTION shape of the sliding-window volume: overlapping 2h/1h
    * event-time windows with watermark + append into a file sink — each
    * event lands in two window states, and a closed window (end ≤
    * watermark) is emitted once and evicted, so state tracks tokens ×
    * open overlapping windows, not stream lifetime. Same determinism
    * contract as [[hourlyVolumeBounded]]: one data batch → final
    * watermark = max event-time ms − lateness → emitted set = windows
    * with end ≤ watermark, stated verbatim by the oracle. */
  def slidingVolumeBounded(events: DataFrame,
      lateness: String = "10 minutes"): DataFrame =
    events
      .select(col("event_type").as("contract_address"), col("ts_t"), col("value"))
      .withWatermark("ts_t", lateness)
      .groupBy(col("contract_address"),
        window(col("ts_t"), "2 hours", "1 hour"))
      .agg(sum(col("value").cast(DecimalType(25, 2))).as("dvolume"),
        count(lit(1)).as("n"))
      .select(col("contract_address"),
        unix_timestamp(col("window.start")).as("w_start"),
        unix_timestamp(col("window.end")).as("w_end"),
        col("dvolume").cast("double").as("volume"), col("n"))

  /** Catalog form of [[slidingVolumeBounded]] over the events file-stream:
    * parquet sink, AvailableNow drain, fresh dirs per invocation. */
  def streamBoundedSliding(spark: SparkSession, sfDir: String): DataFrame = {
    val out = withStatePartitions(spark) {
      drainToParquet(slidingVolumeBounded(
        graft.Tables.eventsStream(spark, sfDir)), "graft_slb")
    }
    graft.Tables.parquet(spark, out).orderBy("contract_address", "w_start")
  }

  /** Streaming sliding-window twin of [[graft.ops.Metrics.slidingVolume]]:
    * overlapping 2h/1h event-time windows — each event lands in two window
    * states — drained synchronously in complete mode and verified by the
    * batch double-bucket oracle. */
  def slidingVolumeStreaming(spark: SparkSession, sfDir: String): DataFrame = {
    val tableName = "graft_stream_sliding_volume"

    val stream = graft.Tables.eventsStream(spark, sfDir)
      .groupBy(col("event_type").as("contract_address"),
        window(col("ts_t"), "2 hours", "1 hour"))
      .agg(sum(col("value").cast(DecimalType(25, 2))).as("dvolume"),
        count(lit(1)).as("n"))

    withStatePartitions(spark) { drainToMemory(stream, tableName, "complete") }

    spark.table(tableName)
      .select(col("contract_address"),
        unix_timestamp(col("window.start")).as("w_start"),
        unix_timestamp(col("window.end")).as("w_end"),
        col("dvolume").cast("double").as("volume"), col("n"))
      .orderBy("contract_address", "w_start")
  }

  /** Streaming sessionization twin of [[graft.ops.Metrics.sessionVolume]]:
    * event-time `session_window` (30-min gap) over the events file-stream,
    * drained synchronously in complete mode — no watermark, so no session
    * is held back unemitted and the single-batch result equals the batch
    * engine's sessions exactly (the gaps-and-islands oracle of
    * `q_session_volume` verifies the streaming session-merge state). */
  def sessionVolumeStreaming(spark: SparkSession, sfDir: String): DataFrame = {
    val tableName = "graft_stream_session_volume"

    val stream = graft.Tables.eventsStream(spark, sfDir)
      .groupBy(col("event_type").as("contract_address"),
        session_window(col("ts_t"), "30 minutes"))
      .agg(sum(col("value").cast(DecimalType(25, 2))).as("dvolume"),
        count(lit(1)).as("n"))

    withStatePartitions(spark) { drainToMemory(stream, tableName, "complete") }

    spark.table(tableName)
      .select(col("contract_address"),
        unix_timestamp(col("session_window.start")).as("s_start"),
        unix_timestamp(col("session_window.end")).as("s_end"),
        col("dvolume").cast("double").as("volume"), col("n"))
      .orderBy("contract_address", "s_start")
  }

  /** Stream-STATIC dimension enrichment, end-to-end: the events
    * file-stream is projected to transfer legs, joined per micro-batch
    * against the broadcast BATCH dapp registry
    * ([[StreamJoins.enrichWithDapps]]'s pattern — zero join state, the
    * static side hash-probes locally on every executor), then aggregated
    * to hourly dapp counts. Drained synchronously in complete mode, so the
    * result equals batch [[graft.ops.Dapps.hourlyDappCounts]] and shares
    * its oracle.
    *
    * `countDistinct` is unsupported in streaming aggregations; the
    * per-hour distinct-dapp count is `size(collect_set(dapp_id))` — the
    * set is bounded by the registry size, so the state stays O(1) per
    * window. */
  def streamDappHourly(spark: SparkSession, sfDir: String): DataFrame = {
    val tableName = "graft_stream_dapp_hourly"
    val enriched = dappLegs(spark, graft.Tables.eventsStream(spark, sfDir)
        .withColumn("t_sec", col("ts_sec")), "t_sec")
      .groupBy(graft.ops.Num.hourBucket(col("t_sec")).as("t"))
      .agg(collect_set(col("dapp_id")).as("dapps"),
        count(lit(1)).as("n_interactions"))
    withStatePartitions(spark) {
      drainToMemory(enriched, tableName, "complete")
    }
    spark.table(tableName)
      .select(col("t"), size(col("dapps")).cast("long").as("n_dapps"),
        col("n_interactions"))
      .orderBy("t")
  }

  /** PRODUCTION shape of the stream-static dapp enrichment: the
    * broadcast-join enrichment itself carries NO state (the static
    * registry hash-probes locally per micro-batch, exactly as in
    * [[streamDappHourly]]); what the watermark bounds is the hourly
    * rollup after it — event-time windows in append mode, closed hours
    * emitted once to a file sink and evicted. `collect_set(dapp_id)`
    * state is bounded by the registry size per open window. The watermark
    * is planted on the events stream BEFORE the leg union/join, so it
    * propagates to the aggregation. Same determinism contract as the
    * other bounded twins: emitted set = hours with window end ≤ (max
    * event-time ms − lateness). */
  def dappHourlyBounded(spark: SparkSession, sfDir: String,
      lateness: String = "10 minutes"): DataFrame = {
    dappLegs(spark, graft.Tables.eventsStream(spark, sfDir)
        .withWatermark("ts_t", lateness), "ts_t")
      .groupBy(window(col("ts_t"), "1 hour"))
      .agg(collect_set(col("dapp_id")).as("dapps"),
        count(lit(1)).as("n_interactions"))
      .select(unix_timestamp(col("window.start")).as("t"),
        size(col("dapps")).cast("long").as("n_dapps"),
        col("n_interactions"))
  }

  /** Both transfer legs of the events stream `ev` (same derivation as
    * [[graft.Tables.transfers]]), each with its `time` column, joined to
    * the broadcast dapp registry: one row per (leg, dapp) membership. */
  private def dappLegs(spark: SparkSession, ev: DataFrame,
      time: String): DataFrame = {
    val legs = ev
      .select(col(time), col("user_id").cast("string").as("address"))
      .unionByName(ev.select(col(time),
        ((col("user_id") * 7 + col("event_id")) % 1000).cast("string")
          .as("address")))
    val reg = graft.Tables.dapps(spark).select(col("dapp_id"),
      explode(col("addresses")).as("address"))
    legs.join(broadcast(reg), Seq("address"))
  }

  /** Catalog form of [[dappHourlyBounded]]: parquet sink, AvailableNow
    * drain, fresh dirs per invocation. */
  def streamBoundedEnrich(spark: SparkSession, sfDir: String): DataFrame = {
    val out = withStatePartitions(spark) {
      drainToParquet(dappHourlyBounded(spark, sfDir), "graft_enb")
    }
    graft.Tables.parquet(spark, out).orderBy("t")
  }

  /** documents schema for the streaming dedup source. */
  val DocumentsSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("text", StringType),
    StructField("lang", StringType),
    StructField("source", StringType),
    StructField("n_chars", LongType)))

  /** Streaming exact dedup over a documents file-stream, drained
    * synchronously: [[StreamDedup.dedupedStream]] admits exactly ONE row
    * per content hash within the watermark horizon, so the admitted hash
    * SET equals batch `SELECT DISTINCT md5(text)` — which is the oracle.
    * (The kept row per hash depends on arrival order, so only the
    * order-independent hash set is the contract; ingest time is synthesized
    * from doc_id to carry the mandatory watermark.) */
  def streamingDedupHashes(spark: SparkSession, sfDir: String): DataFrame = {
    val tableName = "graft_stream_dedup"
    val stream = spark.readStream
      .schema(DocumentsSchema)
      .parquet(s"$sfDir/{documents}.parquet")
      .withColumn("h", md5(col("text")))
      // strictly AFTER the initial watermark (epoch 0): doc_id 0 at epoch 0
      // exactly would be discarded as late before reaching the dedup state
      .withColumn("ts_t", timestamp_micros((col("doc_id") + 1L) * 1000000L))
    val deduped = StreamDedup
      .dedupedStream(stream, "ts_t", "1 hour", Seq("h"))
      .select("h")

    // dedup admits first-seen rows in the data batch (the watermark only
    // evicts state); the no-data batch adds no output — skip it
    withStatePartitionsNoFlush(spark) {
      drainToMemory(deduped, tableName, "append")
    }

    spark.table(tableName)
      .select(col("h").as("content_hash"))
      .orderBy("content_hash")
  }

  /** Streaming twin of [[graft.ops.Keys.cdcApply]]: the CDC state table
    * maintained as a streaming aggregation — per key, `max(struct(version,
    * op, value))` keeps the LAST op in version order inside the state
    * store (version is unique per key, so the struct max IS last-wins),
    * and tombstones drop on read-out exactly like a compacted changelog
    * topic materializes. Complete-mode drain over the static data; the
    * batch q_cdc_apply oracle verifies the streaming state machine
    * end-to-end. */
  def streamingCdcState(spark: SparkSession, sfDir: String): DataFrame = {
    val tableName = "graft_stream_cdc"
    withStatePartitions(spark) {
      drainToMemory(cdcState(spark, sfDir), tableName, "complete")
    }
    liveCdcRows(spark.table(tableName))
  }

  /** The CDC state aggregate over the events stream: per (token, wallet),
    * the last op in version order and the op count. */
  private def cdcState(spark: SparkSession, sfDir: String): DataFrame =
    graft.Tables.eventsStream(spark, sfDir)
      .select(col("event_type").as("contract_address"),
        col("user_id").cast("string").as("wallet"),
        col("event_id").as("version"), col("value"),
        when(col("event_id") % 10 === 0, "D").otherwise("U").as("op"))
      .groupBy("contract_address", "wallet")
      .agg(max(struct(col("version"), col("op"), col("value"))).as("last"),
        count(lit(1)).as("n_ops"))

  /** The CDC read-out: tombstoned keys dropped, last version and value
    * per live key. */
  private def liveCdcRows(state: DataFrame): DataFrame =
    state
      .filter(col("last.op") =!= "D")
      .select(col("contract_address"), col("wallet"),
        col("last.version").as("last_version"),
        col("last.value").as("last_value"), col("n_ops"))
      .orderBy("contract_address", "wallet")

  /** PRODUCTION-sink form of [[streamingCdcState]]: the Update-mode CDC
    * aggregation streams into a parquet CHANGELOG via foreachBatch (update
    * output has no native file sink; changelog-append + compacted read-out
    * is the deployable shape — what a compacted topic or a MERGE INTO
    * target materializes). Read-out compacts by the latest snapshot per
    * key (max n_ops — strictly increasing per key) and drops tombstones,
    * exactly like the memory-sink drain; same batch q_cdc_apply oracle. */
  def streamingCdcChangelog(spark: SparkSession, sfDir: String): DataFrame = {
    val out = TempDirs.scratch("graft_cdcchg_sink")
    withStatePartitions(spark) {
      drainBatches(cdcState(spark, sfDir), "update", "graft_cdcchg")(
        _.write.mode("append").parquet(out))
    }
    liveCdcRows(graft.Tables.parquet(spark, out)
      .groupBy("contract_address", "wallet")
      .agg(max(struct(col("n_ops"), col("last"))).as("m"))
      .select(col("contract_address"), col("wallet"),
        col("m.last").as("last"), col("m.n_ops").as("n_ops")))
  }

  /** Event type of the far-future sentinel rows: a token no real row
    * carries. */
  private val Sentinel = "__sentinel__"

  /** The interval joins' two sides over the events stream, as
    * `(transfers, ticks)`: every 5th event is a price tick
    * `(p_contract, price, p_ts)`, the rest are transfers
    * `(contract_address, value, t_ts)`, with the event id as `p_id`/`t_id`
    * when `ids`. Without `sentinel` each side reads its own file source.
    *
    * With `sentinel`, both sides read one file source and each is UNIONed
    * with a one-row far-future sentinel (2100-01-01, from a memory source;
    * ids −1/−2). Append-mode outer rows become emittable only when the
    * watermark passes the last instant a match could arrive; after the
    * AvailableNow drain the sentinels have pushed the watermark past every
    * real event's horizon, the no-data batch flushes all withheld NULL
    * rows, and the emitted set is EXACTLY the batch outer interval join —
    * which is the oracle, stated on epoch microseconds. Sentinels join
    * nothing and are dropped on read-out. */
  private def joinSides(spark: SparkSession, sfDir: String,
      sentinel: Boolean, ids: Boolean = false): (DataFrame, DataFrame) = {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    def withId(cols: Column*)(id: Column): Seq[Column] =
      if (ids) cols :+ id else cols
    def events() = graft.Tables.eventsStream(spark, sfDir)
    val (tickEv, txEv) =
      if (sentinel) { val ev = events(); (ev, ev) } else (events(), events())
    val ticks = tickEv.filter(col("event_id") % 5 === 0)
      .select(withId(col("event_type").as("p_contract"),
        col("value").as("price"), col("ts_t").as("p_ts"))(
        col("event_id").as("p_id")): _*)
    val txs = txEv.filter(col("event_id") % 5 =!= 0)
      .select(withId(col("event_type").as("contract_address"),
        col("value"), col("ts_t").as("t_ts"))(col("event_id").as("t_id")): _*)
    def closed(side: DataFrame, id: Long): DataFrame = {
      val s = MemoryStream[Long]
      s.addData(4102444800L * 1000000L) // 2100-01-01 epoch micros
      // in the side's column order: token, value, time and, with ids, id
      val row = Seq(lit(Sentinel), lit(0.0), timestamp_micros(col("value")),
        lit(id))
      side.unionByName(s.toDF().select(side.columns.toSeq.zip(row)
        .map { case (name, c) => c.as(name) }: _*))
    }
    if (sentinel) (closed(txs, -2L), closed(ticks, -1L)) else (txs, ticks)
  }

  /** The read-out's hour key `t`: epoch seconds of the hour holding the
    * event-time expression `ts`. */
  private def hourOf(ts: String): Column =
    (expr(s"unix_micros($ts) div 3600000000") * 3600).cast("long").as("t")

  /** LEFT OUTER stream-stream interval join, catalog form: transfers
    * NULL-pad when no price tick landed in their preceding hour
    * ([[StreamJoins.intervalJoin]] `left_outer`, closed by the sentinels
    * of [[joinSides]]); matched and unmatched rows roll up per (token,
    * hour) from the append parquet sink. */
  def streamOuterIntervalJoin(spark: SparkSession, sfDir: String): DataFrame = {
    val (txs, ticks) = joinSides(spark, sfDir, sentinel = true)
    val out = withStatePartitions(spark) {
      drainToParquet(StreamJoins.intervalJoin(txs, ticks, "left_outer"),
        "graft_soj")
    }
    graft.Tables.parquet(spark, out)
      .filter(col("contract_address") =!= Sentinel)
      .groupBy(col("contract_address"), hourOf("t_ts"))
      .agg(sum(when(col("price").isNotNull, 1L).otherwise(0L)).as("n_pairs"),
        sum(when(col("price").isNull, 1L).otherwise(0L)).as("n_unmatched"),
        graft.ops.Num.dsum(col("price")).as("tick_volume"),
        graft.ops.Num.dsum(col("value")).as("tx_volume"))
      .orderBy("contract_address", "t")
  }

  /** FULL OUTER stream-stream interval join, catalog form: the
    * reconciliation stream — matched pairs, unpriced transfers, AND
    * unconsumed ticks, rolled up per (token, hour).
    *
    * Same sentinel-drain determinism recipe as
    * [[streamOuterIntervalJoin]]. The price side's exploded bucket copies
    * make the raw sink a superset ([[StreamJoins.intervalJoin]]
    * `full_outer`); the read-out compacts exactly — NULL-padded price
    * rows are dropped when their `p_id` also appears matched and deduped
    * by `p_id` otherwise (all copies carry identical values, so the dedup
    * is deterministic). The compacted set is EXACTLY the batch FULL
    * interval join, which is the oracle. */
  def streamFullOuterIntervalJoin(spark: SparkSession,
      sfDir: String): DataFrame = {
    val (txs, ticks) = joinSides(spark, sfDir, sentinel = true, ids = true)
    val out = withStatePartitions(spark) {
      drainToParquet(StreamJoins.intervalJoin(txs, ticks, "full_outer"),
        "graft_sfoj")
    }
    val raw = graft.Tables.parquet(spark, out)
      .filter(coalesce(col("contract_address"), col("p_contract"))
        =!= Sentinel)
    StreamJoins.compactFullOuter(raw)
      .groupBy(
        coalesce(col("contract_address"), col("p_contract")).as("token"),
        hourOf("coalesce(t_ts, p_ts)"))
      .agg(
        sum(when(col("t_id").isNotNull && col("p_id").isNotNull, 1L)
          .otherwise(0L)).as("n_pairs"),
        sum(when(col("p_id").isNull, 1L).otherwise(0L)).as("n_unmatched_tx"),
        sum(when(col("t_id").isNull, 1L).otherwise(0L))
          .as("n_unmatched_ticks"),
        graft.ops.Num.dsum(col("value")).as("tx_volume"),
        graft.ops.Num.dsum(col("price")).as("tick_volume"))
      .orderBy("token", "t")
  }

  /** Hourly leaderboard size for [[streamingTopTokens]]. */
  val TopTokensK = 3

  /** Streaming hourly top-K tokens by volume — the live-leaderboard
    * pattern: the STREAMING layer maintains the (token, hour) decimal
    * volume state (complete-mode aggregation, exactly the state a
    * dashboard sink holds); the top-K cut ranks the drained state
    * snapshot — ranking is not a streaming-legal aggregation, and real
    * leaderboards rank at read time for the same reason. Batch
    * equivalence is the oracle: same sums, same window cut. */
  def streamingTopTokens(spark: SparkSession, sfDir: String): DataFrame = {
    val tableName = "graft_stream_top_tokens"
    val stream = graft.Tables.eventsStream(spark, sfDir)
      .select(col("event_type").as("token"), col("value"),
        col("ts_sec").as("t_sec"))
      .groupBy(graft.ops.Num.hourBucket(col("t_sec")).as("t"), col("token"))
      .agg(sum(col("value").cast("decimal(25,2)")).as("dvol"),
        count(lit(1)).as("n"))
    withStatePartitions(spark) { drainToMemory(stream, tableName, "complete") }
    val w = org.apache.spark.sql.expressions.Window.partitionBy("t")
      .orderBy(col("dvol").desc, col("token").asc)
    spark.table(tableName)
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= TopTokensK)
      .select(col("t"), col("rnk").cast("long").as("rnk"), col("token"),
        col("dvol").cast("double").as("volume"), col("n"))
      .orderBy("t", "rnk")
  }

  /** STREAM-STREAM interval join, catalog form: price ticks (every 5th
    * event) joined to transfers (the rest) on token + "tick within the
    * preceding hour of the transfer" via [[StreamJoins.intervalJoin]]
    * `inner` — both sides watermarked, state bounded by the interval
    * horizon. The matched pairs stream append-mode into a parquet sink
    * (AvailableNow); the per-(token, hour) pair rollup runs as a batch
    * reporting query over the sink.
    *
    * Oracle contract: an INNER interval join emits every pair whose two
    * sides coexist in a micro-batch (the watermark only EVICTS state, it
    * never holds back inner matches), and AvailableNow over the static
    * testdata delivers one batch — so the emitted set is exactly the batch
    * interval join, which the DuckDB mirror states directly on epoch
    * microseconds. */
  def streamIntervalJoin(spark: SparkSession, sfDir: String): DataFrame = {
    val (txs, ticks) = joinSides(spark, sfDir, sentinel = false)
    // inner join: every pair emits in the data batch; the no-data batch
    // would only evict state this bounded run discards — skip it
    val out = withStatePartitionsNoFlush(spark) {
      drainToParquet(StreamJoins.intervalJoin(txs, ticks, "inner"), "graft_ssj")
    }
    graft.Tables.parquet(spark, out)
      .groupBy(col("contract_address"), hourOf("t_ts"))
      .agg(count(lit(1)).as("n_pairs"),
        graft.ops.Num.dsum(col("price")).as("tick_volume"),
        graft.ops.Num.dsum(col("value")).as("tx_volume"))
      .orderBy("contract_address", "t")
  }

  /** LEFT ANTI stream-stream interval join, DERIVED: Spark's stream-stream
    * engine supports inner/outer/semi but not anti, so anti is the LEFT
    * OUTER join filtered to its NULL-padded rows — semantically exact
    * (each unmatched transfer NULL-pads exactly once after the watermark
    * passes its match horizon; sentinel-closed like the outer twin) and
    * the composition costs nothing beyond the outer join it derives from.
    * Output: transfers with NO price tick in the preceding hour, rolled
    * up per (token, hour); oracle = the batch NOT EXISTS. */
  def streamAntiJoin(spark: SparkSession, sfDir: String): DataFrame = {
    val (txs, ticks) = joinSides(spark, sfDir, sentinel = true)
    val out = withStatePartitions(spark) {
      // the anti set IS the NULL-padded rows: filter in-stream (a filter on
      // the outer join's appended output, batch by batch), so matched pairs
      // never hit the sink — same emitted set, a fraction of the sink
      // write/read bytes (§2.3 project-before-the-exchange, applied to the
      // sink boundary). ONLY the null-tolerant `price.isNull` may sit here:
      // it cannot be pushed below the join (right-side predicate of a LEFT
      // OUTER) nor converted to inner (IsNull is satisfied by the padding),
      // so the join's state/watermark machinery is untouched. The sentinel
      // filter must NOT move in-stream — it would be pushed below the left
      // side's EventTimeWatermark and the sentinel would stop advancing
      // the watermark (measured: one boundary group withheld at sf0.001).
      drainToParquet(StreamJoins.intervalJoin(txs, ticks, "left_outer")
        .filter(col("price").isNull), "graft_saj")
    }
    graft.Tables.parquet(spark, out)
      .filter(col("contract_address") =!= Sentinel)
      .groupBy(col("contract_address"), hourOf("t_ts"))
      .agg(count(lit(1)).as("n_unmatched"),
        graft.ops.Num.dsum(col("value")).as("tx_volume"))
      .orderBy("contract_address", "t")
  }

  /** LEFT SEMI stream-stream interval join, drained through a real file
    * sink: transfers that saw at least one price tick in the preceding
    * hour, rolled up per (token, hour). Matched rows emit on match — no
    * watermark wait and no sentinel needed (unmatched rows are DROPPED,
    * not emitted, so nothing depends on end-of-stream declaration) — and
    * each transfer appears exactly once however many ticks matched, so
    * the appended set equals the batch semi join, which the oracle states
    * as an EXISTS on epoch microseconds. */
  def streamSemiJoin(spark: SparkSession, sfDir: String): DataFrame = {
    val (txs, ticks) = joinSides(spark, sfDir, sentinel = false)
    // semi join: matched left rows emit on match, in the data batch; the
    // no-data batch would only evict discarded state — skip it
    val out = withStatePartitionsNoFlush(spark) {
      drainToParquet(StreamJoins.intervalJoin(txs, ticks, "left_semi"),
        "graft_ssemi")
    }
    graft.Tables.parquet(spark, out)
      .groupBy(col("contract_address"), hourOf("t_ts"))
      .agg(count(lit(1)).as("n_matched"),
        graft.ops.Num.dsum(col("value")).as("tx_volume"))
      .orderBy("contract_address", "t")
  }
}
