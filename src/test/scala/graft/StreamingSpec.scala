package graft

import graft.streaming.{Sessionize, StreamingMetrics}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.OutputMode
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite

class StreamingSpec extends AnyFunSuite {
  lazy val spark = GraftSpark.spark

  test("streaming hourly volume equals the batch metric") {
    val streamed = StreamingMetrics.hourlyVolumeStreaming(spark, GraftSpark.Sf)
      .collect()
    val batch = graft.ops.Metrics.hourlyVolume(spark, GraftSpark.Sf).collect()
    assert(streamed.toSeq == batch.toSeq)
  }

  test("stream-static dapp enrichment equals the batch membership join") {
    val streamed = StreamingMetrics.streamDappHourly(spark, GraftSpark.Sf)
      .collect()
    val batch = graft.ops.Dapps.hourlyDappCounts(spark, GraftSpark.Sf).collect()
    assert(streamed.toSeq == batch.toSeq)
  }

  test("streaming CDC state equals the batch MERGE result") {
    val streamed = StreamingMetrics.streamingCdcState(spark, GraftSpark.Sf)
      .collect()
    val batch = graft.ops.Keys.cdcApply(spark, GraftSpark.Sf).collect()
    assert(streamed.toSeq == batch.toSeq)
  }

  test("streaming top-K leaderboard equals the batch rank over hourly sums") {
    val streamed = StreamingMetrics.streamingTopTokens(spark, GraftSpark.Sf)
      .collect()
    assert(streamed.nonEmpty)
    // per hour: at most K rows, ranks contiguous from 1, volumes descending
    for ((_, rs) <- streamed.groupBy(_.getAs[Long]("t"))) {
      val ordered = rs.sortBy(_.getAs[Long]("rnk"))
      assert(ordered.length <= StreamingMetrics.TopTokensK)
      assert(ordered.map(_.getAs[Long]("rnk")).toSeq ==
        (1L to ordered.length).toSeq)
      val vols = ordered.map(_.getAs[Double]("volume"))
      assert(vols.zip(vols.tail).forall { case (a, b) => a >= b })
    }
    // batch parity on the state itself: hourly sums match the batch metric
    import org.apache.spark.sql.functions.col
    val batch = graft.Tables.transfers(spark, GraftSpark.Sf)
      .groupBy(col("contract_address"),
        graft.ops.Num.hourBucket(col("transact_at")).cast("long").as("t"))
      .agg(graft.ops.Num.dsum(col("value")).as("volume"))
      .collect()
      .map(r => (r.getString(0), r.getLong(1)) -> r.getDouble(2)).toMap
    for (r <- streamed)
      assert(r.getAs[Double]("volume") ==
        batch((r.getAs[String]("token"), r.getAs[Long]("t"))))
  }

  test("sessionize fold closes sessions on gap and keeps state open") {
    import Sessionize._
    // events 10s apart, then a >30min gap, then two more
    val evs = Iterator(
      Event(7L, 1000L, 1.0), Event(7L, 1010L, 2.0),
      Event(7L, 9000L, 3.0), Event(7L, 9100L, 4.0))
    val state = new TestGroupState[SessionState]
    val closed = fold(7L, evs, state).toSeq
    assert(closed == Seq(Session(7L, 1000L, 1010L, 2, 3.0)))
    assert(state.getOption.contains(SessionState(9000L, 9100L, 2, 7.0)))
  }

  test("flatMapGroupsWithState emits closed sessions across micro-batches") {
    import Sessionize._
    import spark.implicits._
    implicit val sc = spark.sqlContext
    val input = MemoryStream[Event]
    val q = sessions(spark, input.toDS())
      .writeStream.outputMode(OutputMode.Append)
      .format("memory").queryName("graft_sessions_test").start()
    try {
      input.addData(Event(1L, 100L, 1.0), Event(1L, 200L, 1.0))
      q.processAllAvailable()
      // second batch: gap > 30 min closes the first session
      input.addData(Event(1L, 100000L, 5.0))
      q.processAllAvailable()
      val out = spark.table("graft_sessions_test").as[Session].collect().toSeq
      assert(out == Seq(Session(1L, 100L, 200L, 2, 2.0)))
    } finally q.stop()
  }
  test("sessionize event-time timeout closes idle sessions and evicts state") {
    import Sessionize._
    import spark.implicits._
    implicit val sc = spark.sqlContext
    val input = MemoryStream[Event]
    val q = sessions(spark, input.toDS())
      .writeStream.outputMode(OutputMode.Append)
      .format("memory").queryName("graft_sessions_timeout_test").start()
    try {
      input.addData(Event(1L, 100000L, 5.0))         // opens user 1's session
      q.processAllAvailable()
      // a DIFFERENT user's events drive the watermark far past user 1's
      // timeout (last + gap); user 1 itself stays idle
      input.addData(Event(2L, 200000L, 1.0))
      q.processAllAvailable()
      input.addData(Event(2L, 200100L, 1.0))         // timeout fires this batch
      q.processAllAvailable()
      val out = spark.table("graft_sessions_timeout_test")
        .as[Session].collect().toSeq
      // user 1's idle session was emitted by the timeout path, not withheld
      assert(out.contains(Session(1L, 100000L, 100000L, 1, 5.0)), out.toString)
    } finally q.stop()
  }

  test("watermark + append emits only finalized windows, drops late data") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    import org.apache.spark.sql.functions._
    val input = MemoryStream[(Long, Double)] // (epoch_sec, value)
    val agg = input.toDS().toDF("sec", "value")
      .withColumn("ts", timestamp_seconds(col("sec")))
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "1 hour"))
      .agg(sum("value").as("v"))
    val q = agg.writeStream.outputMode(OutputMode.Append)
      .format("memory").queryName("graft_wm_test").start()
    try {
      input.addData((100L, 1.0), (200L, 2.0))   // window [0, 3600)
      q.processAllAvailable()
      // nothing finalized yet: watermark = 200s - 10min < 3600
      assert(spark.table("graft_wm_test").count() == 0)
      input.addData((8000L, 5.0))               // advances watermark past 3600
      q.processAllAvailable()
      val out = spark.table("graft_wm_test")
        .select(unix_timestamp(col("window.start")).as("t"), col("v"))
        .as[(Long, Double)].collect().toSeq
      assert(out == Seq((0L, 3.0)))             // first window emitted once
      input.addData((300L, 99.0))               // late beyond watermark
      q.processAllAvailable()
      assert(spark.table("graft_wm_test").count() == 1) // late row dropped
    } finally q.stop()
  }

  test("stream-stream join matches prices within the event-time window") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    import org.apache.spark.sql.functions._
    val tIn = MemoryStream[(String, Double, Long)] // (token, value, sec)
    val pIn = MemoryStream[(String, Double, Long)] // (token, price, sec)
    val joined = graft.streaming.StreamJoins.intervalJoin(
      tIn.toDS().toDF("contract_address", "value", "sec")
        .withColumn("t_ts", timestamp_seconds(col("sec"))).drop("sec"),
      pIn.toDS().toDF("p_contract", "price", "sec")
        .withColumn("p_ts", timestamp_seconds(col("sec"))).drop("sec"),
      "inner")
    val q = joined.writeStream.outputMode(OutputMode.Append)
      .format("memory").queryName("graft_ssjoin_test").start()
    try {
      pIn.addData(("click", 10.0, 1000L), ("click", 11.0, 3000L),
        ("view", 7.0, 2000L))
      tIn.addData(("click", 99.0, 3500L))  // both click prices within 1h
      q.processAllAvailable()
      tIn.addData(("click", 50.0, 9000L))  // 3000 is >1h before 9000: no match
      q.processAllAvailable()
      val out = spark.table("graft_ssjoin_test")
        .select("value", "price").as[(Double, Double)].collect().toSet
      assert(out == Set((99.0, 10.0), (99.0, 11.0)), out.toString)
    } finally q.stop()
  }

  test("stream-stream LEFT SEMI join: emits once per matched transfer, " +
      "drops unmatched") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    import org.apache.spark.sql.functions._
    val tIn = MemoryStream[(String, Double, Long)]
    val pIn = MemoryStream[(String, Double, Long)]
    val semi = graft.streaming.StreamJoins.intervalJoin(
      tIn.toDS().toDF("contract_address", "value", "sec")
        .withColumn("t_ts", timestamp_seconds(col("sec"))).drop("sec"),
      pIn.toDS().toDF("p_contract", "price", "sec")
        .withColumn("p_ts", timestamp_seconds(col("sec"))).drop("sec"),
      "left_semi")
    val q = semi.writeStream.outputMode(OutputMode.Append)
      .format("memory").queryName("graft_ssemi_test").start()
    try {
      pIn.addData(("click", 10.0, 1000L), ("click", 11.0, 3000L),
        ("view", 7.0, 2000L))
      // two qualifying ticks -> still exactly ONE emitted row
      tIn.addData(("click", 99.0, 3500L))
      // no tick within the preceding hour -> dropped, not emitted
      tIn.addData(("click", 50.0, 9000L))
      q.processAllAvailable()
      val out = spark.table("graft_ssemi_test")
        .select("contract_address", "value")
        .as[(String, Double)].collect().toSeq
      assert(out == Seq(("click", 99.0)), out.toString)
    } finally q.stop()
  }

  test("stream-static join enriches against the broadcast dapp registry") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    val in = MemoryStream[(String, Double)] // (address, value)
    val enriched = graft.streaming.StreamJoins.enrichWithDapps(
      in.toDS().toDF("address", "value"), Tables.dapps(spark))
    val q = enriched.writeStream.outputMode(OutputMode.Append)
      .format("memory").queryName("graft_ss_static_test").start()
    try {
      in.addData(("1", 5.0), ("22", 7.0), ("9999", 1.0))
      q.processAllAvailable()
      val out = spark.table("graft_ss_static_test")
        .select("address", "dapp_id").collect()
        .map(r => (r.getString(0), Option(r.getString(1)))).toSet
      // "1" belongs to AlphaSwap, "22" to BetaLend, "9999" to no dapp
      assert(out == Set(("1", Some("d01")), ("22", Some("d02")),
        ("9999", None)))
    } finally q.stop()
  }

  test("streaming dedup: watermarked dropDuplicates suppresses replays") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    import org.apache.spark.sql.functions._
    val input = MemoryStream[(String, Long)] // (doc_key, epoch_sec)
    val deduped = graft.streaming.StreamDedup.dedupedStream(
      input.toDS().toDF("doc_key", "sec")
        .withColumn("ts", timestamp_seconds(col("sec"))),
      "ts", "1 hour", Seq("doc_key"))
    val q = deduped.writeStream.outputMode(OutputMode.Append)
      .format("memory").queryName("graft_dedup_test").start()
    try {
      input.addData(("d1", 100L), ("d2", 200L), ("d1", 300L)) // d1 replayed in-batch
      q.processAllAvailable()
      input.addData(("d1", 400L), ("d3", 500L))               // d1 replayed cross-batch
      q.processAllAvailable()
      val keys = spark.table("graft_dedup_test")
        .select("doc_key").as[String].collect().sorted.toSeq
      assert(keys == Seq("d1", "d2", "d3"))
    } finally q.stop()
  }

  test("streaming corpus ingest: foreachBatch into the partitioned sink") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    import org.apache.spark.sql.functions._
    val dir = util.TempDirs.staging("graft_stream_corpus").toString
    val input = MemoryStream[(Long, String, String)] // (doc_id, lang, text)
    val q = input.toDS().toDF("doc_id", "lang", "text")
      .writeStream.outputMode(OutputMode.Append)
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        graft.io.Sinks.writePartitioned(batch, s"$dir/corpus", Seq("lang"))
      }
      .start()
    try {
      input.addData((1L, "en", "hello"), (2L, "de", "hallo"))
      q.processAllAvailable()
      input.addData((3L, "en", "world")) // dynamic overwrite: replaces only lang=en
      q.processAllAvailable()
      val back = spark.read.parquet(s"$dir/corpus")
      assert(back.filter(col("lang") === "de").count() == 1) // survived batch 2
      assert(back.filter(col("lang") === "en").select("doc_id")
        .as[Long].collect().toSeq == Seq(3L))
    } finally q.stop()
  }

  test("foreachBatch drives the upsert sink incrementally (K1 streaming form)") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    val dir = util.TempDirs.staging("graft_stream_upsert").toString
    val path = s"$dir/t"
    val input = MemoryStream[(String, Long, String)]
    val q = input.toDS().toDF("key", "ver", "payload")
      .writeStream
      .outputMode(OutputMode.Append)
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        graft.io.Sinks.upsertParquet(spark, batch, "key", "ver", path)
      }
      .start()
    try {
      input.addData(("k1", 1L, "a"), ("k2", 1L, "b"))
      q.processAllAvailable()
      input.addData(("k2", 2L, "b2"), ("k3", 1L, "c")) // k2 upgraded
      q.processAllAvailable()
      val got = spark.read.parquet(path).orderBy("key")
        .collect().map(r => (r.getString(0), r.getLong(1), r.getString(2)))
      assert(got.toSeq == Seq(("k1", 1L, "a"), ("k2", 2L, "b2"), ("k3", 1L, "c")))
    } finally q.stop()
  }

  test("transformWithState running balances accumulate across micro-batches") {
    import graft.streaming.StatefulBalances._
    import spark.implicits._
    implicit val sc = spark.sqlContext
    // transformWithState requires the RocksDB state store provider
    val providerKey = "spark.sql.streaming.stateStore.providerClass"
    val prevProvider = spark.conf.getOption(providerKey)
    spark.conf.set(providerKey,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val input = MemoryStream[Leg]
    val q = runningBalances(spark, input.toDS())
      .writeStream.outputMode(OutputMode.Update)
      .format("memory").queryName("graft_tws_balances").start()
    try {
      input.addData(Leg("tokA|w1", 100L, 5_000_000L),
        Leg("tokA|w1", 90L, 1_000_000L), Leg("tokB|w2", 100L, -250_000L))
      q.processAllAvailable()
      val afterB1 = spark.table("graft_tws_balances").as[BalanceSnapshot]
        .collect().map(s => s.account -> s).toMap
      assert(afterB1("tokA|w1") == BalanceSnapshot("tokA|w1", 6_000_000L, 2L, 100L))
      assert(afterB1("tokB|w2") == BalanceSnapshot("tokB|w2", -250_000L, 1L, 100L))
      // batch 2: state persists — w1 folds on top of its cell, w2 untouched
      input.addData(Leg("tokA|w1", 200L, -4_000_000L))
      q.processAllAvailable()
      val snaps = spark.table("graft_tws_balances").as[BalanceSnapshot]
        .collect().filter(_.account == "tokA|w1")
      assert(snaps.maxBy(_.n_legs) ==
        BalanceSnapshot("tokA|w1", 2_000_000L, 3L, 200L))
    } finally {
      q.stop()
      prevProvider match {
        case Some(p) => spark.conf.set(providerKey, p)
        case None => spark.conf.unset(providerKey)
      }
    }
  }

  test("catalog stream balances equal the batch double-entry net sums") {
    val got = graft.streaming.StatefulBalances
      .streamTokenBalances(spark, GraftSpark.Sf).collect()
      .map(r => r.getString(0) -> (r.getAs[Long]("balance_micro"),
        r.getAs[Long]("n_legs"), r.getAs[Long]("last_ts"))).toMap
    val t = Tables.transfers(spark, GraftSpark.Sf)
      .select("contract_address", "from_address", "to_address",
        "transact_at", "value").collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2),
        r.getLong(3), (BigDecimal(r.getDouble(4)).setScale(2,
          BigDecimal.RoundingMode.HALF_UP) * 1000000).toLongExact))
    val legs = t.flatMap(x => Seq((s"${x._1}|${x._2}", x._4, -x._5),
      (s"${x._1}|${x._3}", x._4, x._5)))
    val expect = legs.groupBy(_._1).view.mapValues(ls =>
      (ls.map(_._3).sum, ls.length.toLong, ls.map(_._2).max)).toMap
    assert(got == expect)
  }

  test("bounded hourly volume: append emits closed windows, state is evicted") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    import org.apache.spark.sql.functions._
    val input = MemoryStream[(String, Long, Double)] // (token, sec, value)
    val agg = StreamingMetrics.hourlyVolumeBounded(
      input.toDS().toDF("event_type", "sec", "value")
        .withColumn("ts_t", timestamp_seconds(col("sec"))))
    val out = util.TempDirs.staging("graft_hvb_out").toString
    val ckpt = util.TempDirs.staging("graft_hvb_ck").toString
    val q = agg.writeStream.outputMode(OutputMode.Append)
      .format("parquet").option("path", out)
      .option("checkpointLocation", ckpt).start()
    try {
      // two tokens, both in hour [0, 3600)
      input.addData(("tokA", 100L, 1.5), ("tokA", 200L, 2.5), ("tokB", 300L, 7.0))
      q.processAllAvailable()
      // hour 0 not closed (watermark 300s-10min < 3600): nothing emitted,
      // two (token, window) state rows held
      assert(spark.read.schema("contract_address STRING, t LONG, volume DOUBLE")
        .parquet(out).count() == 0)
      val held = q.lastProgress.stateOperators(0).numRowsTotal
      assert(held == 2L, s"expected 2 open state rows, got $held")
      // an event far past hour 0 closes it for both tokens
      input.addData(("tokA", 50000L, 9.0))
      q.processAllAvailable()
      val emitted = spark.read.parquet(out)
        .as[(String, Long, Double)].collect().toSeq.sorted
      assert(emitted == Seq(("tokA", 0L, 4.0), ("tokB", 0L, 7.0)), emitted.toString)
      // EVICTION: only tokA's open hour-13 window remains in state
      val left = q.lastProgress.stateOperators(0).numRowsTotal
      assert(left == 1L, s"expected 1 open state row after eviction, got $left")
    } finally q.stop()
  }

  test("bounded sessions: gap-merge in state, close on watermark, evict") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    import org.apache.spark.sql.functions._
    val input = MemoryStream[(String, Long, Double)] // (token, sec, value)
    val agg = StreamingMetrics.sessionVolumeBounded(
      input.toDS().toDF("event_type", "sec", "value")
        .withColumn("ts_t", timestamp_seconds(col("sec"))))
    val out = util.TempDirs.staging("graft_svb_out").toString
    val ckpt = util.TempDirs.staging("graft_svb_ck").toString
    val q = agg.writeStream.outputMode(OutputMode.Append)
      .format("parquet").option("path", out)
      .option("checkpointLocation", ckpt).start()
    try {
      // two events 10 min apart MERGE into one session [100, 700+1800)
      input.addData(("tokA", 100L, 1.0), ("tokA", 700L, 2.0))
      q.processAllAvailable()
      assert(q.lastProgress.stateOperators(0).numRowsTotal == 1L)
      // far-future event closes tokA's session and opens its own
      input.addData(("tokA", 90000L, 5.0))
      q.processAllAvailable()
      val emitted = spark.read
        .schema("contract_address STRING, s_start LONG, s_end LONG, volume DOUBLE, n LONG")
        .parquet(out).as[(String, Long, Long, Double, Long)].collect().toSeq
      assert(emitted == Seq(("tokA", 100L, 2500L, 3.0, 2L)), emitted.toString)
      val left = q.lastProgress.stateOperators(0).numRowsTotal
      assert(left == 1L, s"expected only the open session in state, got $left")
    } finally q.stop()
  }

  test("bounded hourly volume over testdata: file sink holds exactly the " +
    "watermark-closed prefix of the batch metric") {
    import spark.implicits._
    val out = util.TempDirs.staging("graft_hvb2_out").toString
    val ckpt = util.TempDirs.staging("graft_hvb2_ck").toString
    val streamed = StreamingMetrics
      .runHourlyVolumeBounded(spark, GraftSpark.Sf, out, ckpt)
      .as[(String, Long, Double)].collect().toSeq
    val batch = graft.ops.Metrics.hourlyVolume(spark, GraftSpark.Sf)
      .as[(String, Long, Double)].collect().toSeq
    // append emits only windows the final watermark closed: every emitted
    // row must equal its batch twin, and the only rows missing are the
    // tail windows still open at drain (watermark = max ts - lateness)
    val emitted = streamed.toSet
    assert(emitted.subsetOf(batch.toSet), "streamed row disagrees with batch")
    val horizon = Tables.events(spark, GraftSpark.Sf)
      .agg(org.apache.spark.sql.functions.max("ts_sec")).as[Long].head() - 600L
    val missing = batch.filterNot(emitted)
    assert(missing.forall(_._2 >= (horizon / 3600L) * 3600L - 3600L),
      s"non-tail window missing from append output: ${missing.take(3)}")
    assert(streamed.nonEmpty, "append sink is empty")
  }

  test("bounded top-k: per-window leaderboard over only closed windows, " +
    "rank bounded by K with deterministic tie-break") {
    import spark.implicits._
    val t = StreamingMetrics.streamBoundedTopk(spark, GraftSpark.Sf)
      .as[(Long, Long, String, Double, Long)].collect().toSeq
    assert(t.nonEmpty)
    // ranks are 1..<=K per window, ordered by volume desc then token asc
    t.groupBy(_._1).foreach { case (win, rows) =>
      val ranks = rows.map(_._2).sorted
      assert(ranks == (1L to ranks.length.toLong).toSeq, s"window $win")
      assert(ranks.length <= StreamingMetrics.TopTokensK)
      val ordered = rows.sortBy(_._2)
      ordered.sliding(2).foreach {
        case Seq(a, b) =>
          assert(a._4 > b._4 || (a._4 == b._4 && a._3 < b._3), s"window $win")
        case _ => ()
      }
    }
    // every emitted window is watermark-closed (end <= max ts - lateness)
    val horizon = Tables.events(spark, GraftSpark.Sf)
      .agg(org.apache.spark.sql.functions.max("ts_sec")).as[Long].head() - 600L
    assert(t.forall(_._1 + 3600L <= horizon + 1))
  }

  test("bounded sliding windows: each event in two window states, close " +
    "on watermark, evict") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    import org.apache.spark.sql.functions._
    val input = MemoryStream[(String, Long, Double)] // (token, sec, value)
    val agg = StreamingMetrics.slidingVolumeBounded(
      input.toDS().toDF("event_type", "sec", "value")
        .withColumn("ts_t", timestamp_seconds(col("sec"))))
    val out = util.TempDirs.staging("graft_slb_out").toString
    val ckpt = util.TempDirs.staging("graft_slb_ck").toString
    val q = agg.writeStream.outputMode(OutputMode.Append)
      .format("parquet").option("path", out)
      .option("checkpointLocation", ckpt).start()
    try {
      // one event → TWO overlapping 2h windows in state, nothing closed
      input.addData(("tokA", 100L, 1.0))
      q.processAllAvailable()
      assert(q.lastProgress.stateOperators(0).numRowsTotal == 2L)
      // far-future event closes both of tokA's early windows and opens two
      input.addData(("tokA", 50000L, 9.0))
      q.processAllAvailable()
      val emitted = spark.read
        .schema("contract_address STRING, w_start LONG, w_end LONG, " +
          "volume DOUBLE, n LONG")
        .parquet(out).as[(String, Long, Long, Double, Long)]
        .collect().toSeq.sorted
      assert(emitted == Seq(("tokA", -3600L, 3600L, 1.0, 1L),
        ("tokA", 0L, 7200L, 1.0, 1L)), emitted.toString)
      val left = q.lastProgress.stateOperators(0).numRowsTotal
      assert(left == 2L, s"expected 2 open overlapping windows, got $left")
    } finally q.stop()
  }

  test("bounded enrich over testdata: file sink holds exactly the " +
    "watermark-closed prefix of the batch dapp-hourly metric") {
    import spark.implicits._
    val streamed = StreamingMetrics.streamBoundedEnrich(spark, GraftSpark.Sf)
      .as[(Long, Long, Long)].collect().toSeq
    assert(streamed.nonEmpty, "append sink is empty")
    val batch = SparkEntry.queries("q_stream_enrich")(spark, GraftSpark.Sf)
      .as[(Long, Long, Long)].collect().toSeq
    val emitted = streamed.toSet
    assert(emitted.subsetOf(batch.toSet), "streamed row disagrees with batch")
    // the only rows missing are hours not closed by the final watermark
    val horizon = Tables.events(spark, GraftSpark.Sf)
      .agg(org.apache.spark.sql.functions.max("ts_sec")).as[Long].head() - 600L
    val missing = batch.filterNot(emitted)
    assert(missing.forall(_._1 + 3600L > horizon),
      s"non-tail hour missing from append output: ${missing.take(3)}")
  }

  test("outer interval join: matches emit immediately, NULL rows only " +
    "after the watermark passes the match horizon") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    import org.apache.spark.sql.functions._
    val tx = MemoryStream[(String, Long, Double)] // (token, sec, value)
    val pr = MemoryStream[(String, Long, Double)] // (token, sec, price)
    val joined = graft.streaming.StreamJoins.intervalJoin(
      tx.toDS().toDF("contract_address", "sec", "value")
        .withColumn("t_ts", timestamp_seconds(col("sec"))).drop("sec"),
      pr.toDS().toDF("p_contract", "sec", "price")
        .withColumn("p_ts", timestamp_seconds(col("sec"))).drop("sec"),
      "left_outer")
    val out = util.TempDirs.staging("graft_soj_out").toString
    val ckpt = util.TempDirs.staging("graft_soj_ck").toString
    val q = joined.writeStream.outputMode(OutputMode.Append)
      .format("parquet").option("path", out)
      .option("checkpointLocation", ckpt).start()
    try {
      // tokA has a tick in its preceding hour -> INNER match, emits now;
      // tokB has none -> held back as a potential match, nothing emitted
      tx.addData(("tokA", 1000L, 5.0), ("tokB", 1200L, 7.0))
      pr.addData(("tokA", 500L, 2.0))
      q.processAllAvailable()
      def rows() = spark.read
        .schema("contract_address STRING, value DOUBLE, t_ts TIMESTAMP, " +
          "price DOUBLE, p_ts TIMESTAMP")
        .parquet(out)
        .select("contract_address", "value", "price")
        .as[(String, Double, Option[Double])].collect().toSeq.sortBy(_._1)
      assert(rows() == Seq(("tokA", 5.0, Some(2.0))), rows().toString)
      // far-future rows push both watermarks past tokB's horizon: its
      // NULL-padded row flushes exactly once
      tx.addData(("tokZ", 100000L, 1.0))
      pr.addData(("tokZ", 100000L, 1.0))
      q.processAllAvailable()
      assert(rows().take(2) ==
        Seq(("tokA", 5.0, Some(2.0)), ("tokB", 7.0, None)), rows().toString)
    } finally q.stop()
  }

  test("full outer interval join: raw sink is a superset on the price " +
    "side; compaction restores exactly-once") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    import org.apache.spark.sql.functions._
    val tx = MemoryStream[(String, Long, Double, Long)] // (token, sec, value, id)
    val pr = MemoryStream[(String, Long, Double, Long)] // (token, sec, price, id)
    val joined =
      graft.streaming.StreamJoins.intervalJoin(
        tx.toDS().toDF("contract_address", "sec", "value", "t_id")
          .withColumn("t_ts", timestamp_seconds(col("sec"))).drop("sec"),
        pr.toDS().toDF("p_contract", "sec", "price", "p_id")
          .withColumn("p_ts", timestamp_seconds(col("sec"))).drop("sec"),
        "full_outer")
    val out = util.TempDirs.staging("graft_sfoj_out").toString
    val ckpt = util.TempDirs.staging("graft_sfoj_ck").toString
    val q = joined.writeStream.outputMode(OutputMode.Append)
      .format("parquet").option("path", out)
      .option("checkpointLocation", ckpt).start()
    try {
      // tokA: price in bucket 0 (sec 3500) matched by a transfer in
      // bucket 1 (sec 3700) — the match rides the price's b+1 copy, so
      // its b copy NULL-pads into the raw sink (the documented superset);
      // tokB: transfer with no tick (one NULL row, not exploded);
      // tokC: tick with no transfer (TWO raw NULL-pads — both copies)
      tx.addData(("tokA", 3700L, 5.0, 1L), ("tokB", 1200L, 7.0, 2L))
      pr.addData(("tokA", 3500L, 2.0, 11L), ("tokC", 2000L, 3.0, 12L))
      q.processAllAvailable()
      // far-future rows push both watermarks past every real horizon
      tx.addData(("tokZ", 100000L, 1.0, 99L))
      pr.addData(("tokZ", 100000L, 1.0, 98L))
      q.processAllAvailable()
      val raw = spark.read
        .schema("contract_address STRING, value DOUBLE, t_ts TIMESTAMP, " +
          "t_id BIGINT, p_contract STRING, price DOUBLE, p_ts TIMESTAMP, " +
          "p_id BIGINT")
        .parquet(out)
        .filter(coalesce(col("contract_address"), col("p_contract"))
          =!= "tokZ")
      // superset: tokA's spurious NULL-pad + tokC's double NULL-pad
      assert(raw.filter(col("t_id").isNull && col("p_id") === 11L)
        .count() == 1, "expected tokA's b-copy NULL-pad in the raw sink")
      assert(raw.filter(col("t_id").isNull && col("p_id") === 12L)
        .count() == 2, "expected both tokC copies NULL-padded")
      val got = graft.streaming.StreamJoins.compactFullOuter(raw)
        .select(col("t_id"), col("p_id"))
        .as[(Option[Long], Option[Long])].collect().toSeq.sorted
      assert(got == Seq(
        (None, Some(12L)),          // tokC tick, exactly once
        (Some(1L), Some(11L)),      // tokA matched pair only
        (Some(2L), None)),          // tokB transfer NULL row
        got.toString)
    } finally q.stop()
  }

  test("stream-stream interval join catalog form equals its batch twin") {
    import org.apache.spark.sql.functions._
    val got = graft.streaming.StreamingMetrics
      .streamIntervalJoin(spark, GraftSpark.Sf)
    val ev = Tables.events(spark, GraftSpark.Sf)
      .select(col("event_id"), col("event_type"), col("value"),
        expr("ts div 1000").as("us"))
    val tk = ev.filter(col("event_id") % 5 === 0)
      .select(col("event_type").as("c"), col("value").as("price"), col("us").as("pus"))
    val tx = ev.filter(col("event_id") % 5 =!= 0)
      .select(col("event_type").as("c"), col("value"), col("us").as("tus"))
    val batch = tx.join(tk,
        tk("c") === tx("c") && col("pus") >= col("tus") - 3600000000L &&
          col("pus") <= col("tus"))
      .groupBy(tx("c").as("contract_address"),
        (expr("tus div 3600000000") * 3600).cast("long").as("t"))
      .agg(count(lit(1)).as("n_pairs"),
        graft.ops.Num.dsum(col("price")).as("tick_volume"),
        graft.ops.Num.dsum(col("value")).as("tx_volume"))
    assert(got.count() > 0)
    assert(got.exceptAll(batch).isEmpty && batch.exceptAll(got).isEmpty)
  }

  test("withSessionConfs restores a set conf and re-unsets an unset one " +
      "when the body throws") {
    // set by Session.local, and a registered conf left at its default
    val setKey = "spark.sql.shuffle.partitions"
    val unsetKey = "spark.sql.streaming.noDataMicroBatches.enabled"
    spark.conf.unset(unsetKey)
    val before = spark.conf.get(setKey)
    val e = intercept[IllegalStateException] {
      StreamingMetrics.withSessionConfs(spark,
          Seq(setKey -> "7", unsetKey -> "false")) {
        assert(spark.conf.get(setKey) == "7")
        assert(spark.conf.get(unsetKey) == "false")
        throw new IllegalStateException("body failed")
      }
    }
    assert(e.getMessage == "body failed")
    assert(spark.conf.get(setKey) == before)
    assert(!spark.sessionState.conf.contains(unsetKey))
  }

  test("streamTokenBalances leaves the state-store provider conf as it " +
      "found it") {
    // found unset, and found set to a provider other than RocksDB
    val key = "spark.sql.streaming.stateStore.providerClass"
    def explicit =
      Option.when(spark.sessionState.conf.contains(key))(spark.conf.get(key))
    def pin(v: Option[String]) =
      v.fold(spark.conf.unset(key))(spark.conf.set(key, _))
    val saved = explicit
    try for (found <- Seq(None, Some("org.apache.spark.sql.execution" +
        ".streaming.state.HDFSBackedStateStoreProvider"))) {
      pin(found)
      assert(graft.streaming.StatefulBalances
        .streamTokenBalances(spark, GraftSpark.Sf).count() > 0)
      assert(explicit == found)
    } finally pin(saved)
  }

  test("anti join: the sentinel filter stays on the sink read-out") {
    // in-stream, the filter would sit below the transfer side's watermark
    // and the sentinel would stop closing the last group (see
    // streamAntiJoin): it must reach the sink scan as a pushed filter
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    val plan = StreamingMetrics.streamAntiJoin(spark, GraftSpark.Sf)
      .queryExecution.executedPlan
    val scans = new AdaptiveSparkPlanHelper {}.collect(plan) {
      case s: FileSourceScanExec => s }
    assert(scans.size == 1, plan.toString)
    val scan = scans.head
    assert(scan.relation.location.rootPaths
      .exists(_.toString.contains("graft_saj_sink")), scan.toString)
    assert(scan.metadata("PushedFilters").contains("__sentinel__"),
      scan.metadata("PushedFilters"))
  }

  test("no-flush drains are exactly the dedup, inner-join and semi-join") {
    // withStatePartitionsNoFlush turns the no-data micro-batch off, which
    // withholds a watermark-GATED shape's final rows (outer/anti joins,
    // append windows) without an error: pin the defs that call it, read
    // as source text, so a new caller is a reviewed edit of this set
    val call = "withStatePartitionsNoFlush("
    val defLine = """^\s*(?:private(?:\[\w+\])?\s+)?def\s+(\w+)""".r.unanchored
    val dir = java.nio.file.Paths.get("src/main/scala/graft/streaming")
    val walk = java.nio.file.Files.walk(dir)
    val sources = try walk.iterator().asScala
      .filter(_.toString.endsWith(".scala")).toList finally walk.close()
    val callers = sources.flatMap { f =>
      val lines = java.nio.file.Files.readAllLines(f).asScala.toList
      lines.indices.filter(i => lines(i).contains(call)).map { i =>
        val owner = (i to 0 by -1).iterator.map(lines(_)).collectFirst {
          case defLine(name) => name }
        s"${f.getFileName}:${owner.getOrElse("?")}"
      }
    }
    assert(callers.sorted == Seq(
      "StreamingMetrics.scala:streamIntervalJoin",
      "StreamingMetrics.scala:streamSemiJoin",
      "StreamingMetrics.scala:streamingDedupHashes"))
  }

  test("streamTokenBalances keeps at most one memory table, and every " +
      "returned frame keeps its rows") {
    val frames = (1 to 3).map(_ => graft.streaming.StatefulBalances
      .streamTokenBalances(spark, GraftSpark.Sf))
    val tables = spark.catalog.listTables().collect().map(_.name)
      .filter(_.startsWith("graft_stream_balances"))
    assert(tables.length <= 1, tables.mkString(", "))
    assert(frames.map(_.count()) == Seq(975L, 975L, 975L))
  }

  test("a memory-sink drain checkpoints in scratch, not in a Spark " +
      "temporary-* dir") {
    // Spark creates its temporary checkpoint while start() resolves the
    // query and deletes it at a clean stop, so look while the query runs:
    // onQueryStarted is called before start() returns
    import org.apache.spark.sql.streaming.StreamingQueryListener
    import org.apache.spark.sql.streaming.StreamingQueryListener._
    val tmp = new java.io.File(System.getProperty("java.io.tmpdir"))
    def temps() = tmp.list().filter(_.startsWith("temporary-")).toSet
    val before = temps()
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val l = new StreamingQueryListener {
      override def onQueryStarted(e: QueryStartedEvent): Unit =
        (temps() -- before).foreach(seen.add)
      override def onQueryProgress(e: QueryProgressEvent): Unit = ()
      override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
    }
    val pending = util.TempDirs.pending()
    spark.streams.addListener(l)
    try assert(SparkEntry.queries("q_stream_dedup")(spark, GraftSpark.Sf)
      .count() > 0)
    finally spark.streams.removeListener(l)
    assert(seen.isEmpty, seen)
    assert(util.TempDirs.pending() > pending) // the scratch checkpoint
  }
}

/** Minimal in-memory GroupState for unit-testing fold functions. */
class TestGroupState[S] extends org.apache.spark.sql.streaming.GroupState[S] {
  private var state: Option[S] = None
  private var removed = false
  override def exists: Boolean = state.isDefined
  override def get: S = state.get
  override def getOption: Option[S] = state
  override def update(newState: S): Unit = { state = Some(newState); removed = false }
  override def remove(): Unit = { state = None; removed = true }
  override def hasTimedOut: Boolean = false
  override def setTimeoutDuration(durationMs: Long): Unit = ()
  override def setTimeoutDuration(duration: String): Unit = ()
  override def setTimeoutTimestamp(timestampMs: Long): Unit = ()
  override def setTimeoutTimestamp(timestampMs: Long, additionalDuration: String): Unit = ()
  override def setTimeoutTimestamp(timestamp: java.sql.Date): Unit = ()
  override def setTimeoutTimestamp(timestamp: java.sql.Date, additionalDuration: String): Unit = ()
  override def getCurrentWatermarkMs(): Long = 0L
  override def getCurrentProcessingTimeMs(): Long = 0L
}
