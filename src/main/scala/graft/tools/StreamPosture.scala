package graft.tools

import org.apache.spark.sql.functions._

/** Scale-posture evidence for the STREAMING spine: state is bounded by the
  * watermark horizon, not by stream length.
  *
  * The claim every watermarked design in `graft.streaming` rests on is
  * that a continuously-running query holds state only for windows the
  * watermark has not yet closed — so a 10× longer stream over the same
  * time density moves 10× the rows through a state store whose PEAK SIZE
  * stays flat. Wall-clock alone cannot falsify that (a leaking store is
  * fast until it isn't); the state-operator metrics can, so this tool
  * records them.
  *
  * Method: re-shard the canonical events frame into `shards` time-range
  * files written in time order (mod-times increase with event time), then
  * run the bounded hourly windowed aggregate (watermark 600 s, 1 h
  * windows — the q_stream_bounded_hourly shape) with
  * `maxFilesPerTrigger=1`, so the watermark advances batch by batch and
  * closed windows evict between batches exactly as they would against a
  * live source. Per run it prints one JSON line with total input rows,
  * the MAX `numRowsTotal` any batch held (the falsifiable number), rows
  * dropped as late, and the appended output count.
  *
  * Usage: runMain graft.tools.StreamPosture <sfDir> [shards]
  * [agg|join|fullouter]
  * Compare sf0.1 against a ScaleGen sf1.0: input_rows ×10,
  * max_state_rows ≈ flat (agg) / ∝ rows-in-horizon, not stream length
  * (join — finer shards shrink it at ANY corpus size).
  */
object StreamPosture {

  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val shards = args.lift(1).map(_.toInt).getOrElse(12)
    val mode = args.lift(2).getOrElse("agg")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8").toInt
    val spark = graft.Session.local(cpus)

    // time-range shards, written sequentially so file mod-times follow
    // event time and the FileStreamSource replays them in order
    val evAll = graft.Tables.events(spark, sfDir)
      .select(col("event_id"), col("event_type"), col("value"), col("ts_t"))
    def stageShards(df: org.apache.spark.sql.DataFrame): String = {
      val bounds = df.agg(min(unix_micros(col("ts_t"))).as("mn"),
        max(unix_micros(col("ts_t"))).as("mx"))
      val sharded = df.crossJoin(broadcast(bounds))
        .withColumn("sh", expr(
          s"CAST((unix_micros(ts_t) - mn) * $shards" +
            " div greatest(mx - mn + 1, 1) AS INT)"))
      val stage = graft.util.TempDirs.staging("graft_sposture").toString
      for (k <- 0 until shards) {
        sharded.filter(col("sh") === k).drop("sh", "mn", "mx")
          .coalesce(1).write.mode("append").parquet(stage)
      }
      stage
    }
    def readShards(stage: String, cols: String): org.apache.spark.sql.DataFrame =
      spark.readStream.schema(cols)
        .option("maxFilesPerTrigger", "1")
        .parquet(stage)

    val agg = mode match {
      case "join" =>
        // the stream-stream interval-join shape (q_stream_interval_join):
        // both sides sharded by time, state keyed (token, bucket)
        val ticks = readShards(
          stageShards(evAll.filter(col("event_id") % 5 === 0)),
          "event_id LONG, event_type STRING, value DOUBLE, ts_t TIMESTAMP")
          .select(col("event_type").as("p_contract"),
            col("value").as("price"), col("ts_t").as("p_ts"))
        val txs = readShards(
          stageShards(evAll.filter(col("event_id") % 5 =!= 0)),
          "event_id LONG, event_type STRING, value DOUBLE, ts_t TIMESTAMP")
          .select(col("event_type").as("contract_address"),
            col("value"), col("ts_t").as("t_ts"))
        graft.streaming.StreamJoins.intervalJoin(txs, ticks, "inner")
      case "fullouter" =>
        // the stream-stream FULL OUTER interval-join shape
        // (q_stream_full_outer_join): same (token, bucket)-keyed state as
        // the inner variant plus the unmatched-row declarations both sides
        // hold until their watermark closes — the claim under test is
        // that peak state still tracks the rows inside the watermark
        // horizon, not stream length
        val ticks = readShards(
          stageShards(evAll.filter(col("event_id") % 5 === 0)),
          "event_id LONG, event_type STRING, value DOUBLE, ts_t TIMESTAMP")
          .select(col("event_id").as("p_id"),
            col("event_type").as("p_contract"),
            col("value").as("price"), col("ts_t").as("p_ts"))
        val txs = readShards(
          stageShards(evAll.filter(col("event_id") % 5 =!= 0)),
          "event_id LONG, event_type STRING, value DOUBLE, ts_t TIMESTAMP")
          .select(col("event_id").as("t_id"),
            col("event_type").as("contract_address"),
            col("value"), col("ts_t").as("t_ts"))
        graft.streaming.StreamJoins.intervalJoin(txs, ticks, "full_outer")
      case _ =>
        val stage = stageShards(evAll.drop("event_id"))
        readShards(stage, "event_type STRING, value DOUBLE, ts_t TIMESTAMP")
          .withWatermark("ts_t", "600 seconds")
          .groupBy(window(col("ts_t"), "3600 seconds"), col("event_type"))
          .agg(count(lit(1)).as("n"),
            sum(col("value").cast("decimal(25,2)")).as("v"))
    }
    val sink = graft.util.TempDirs.staging("graft_sposture_sink").toString
    val ckpt = graft.util.TempDirs.staging("graft_sposture_ckpt").toString
    val t0 = System.nanoTime()
    val q = agg.writeStream
      .outputMode("append")
      .format("parquet")
      .option("path", sink)
      .option("checkpointLocation", ckpt)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val sec = (System.nanoTime() - t0) / 1e9
    val progs = q.recentProgress.toSeq
    val states = progs.flatMap(_.stateOperators.toSeq)
    val maxState =
      if (states.isEmpty) 0L else states.map(_.numRowsTotal).max
    val dropped = states.map(_.numRowsDroppedByWatermark).sum
    val inputRows = progs.map(_.numInputRows).sum
    val outRows = graft.Tables.parquet(spark, sink).count()
    println(f"""{"dir":"$sfDir","mode":"$mode","shards":$shards,""" +
      f""""batches":${progs.count(_.numInputRows > 0)},""" +
      f""""input_rows":$inputRows,"max_state_rows":$maxState,""" +
      f""""rows_dropped_late":$dropped,"out_rows":$outRows,""" +
      f""""sec":$sec%.1f}""")
    spark.stop()
  }
}
