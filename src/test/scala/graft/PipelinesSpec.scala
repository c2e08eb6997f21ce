package graft

import graft.pipelines.Pipelines
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import org.scalatest.funsuite.AnyFunSuite

/** End-to-end runs of the four reference-pipeline equivalents. */
class PipelinesSpec extends AnyFunSuite {
  lazy val spark = GraftSpark.spark

  private lazy val out =
    java.nio.file.Files.createTempDirectory("graft_pipe").toString

  test("raw load is idempotent under re-run") {
    Pipelines.rawLoad(spark, GraftSpark.Sf, out)
    val n1 = spark.read.parquet(s"$out/transfers").count()
    Pipelines.rawLoad(spark, GraftSpark.Sf, out)
    val n2 = spark.read.parquet(s"$out/transfers").count()
    assert(n1 == n2 && n1 == 1000)
  }

  test("wallet documents: one per (token, wallet), map keys sorted") {
    Pipelines.enrichWallets(spark, GraftSpark.Sf, out)
    val w = spark.read.parquet(s"$out/wallets")
    assert(w.count() > 0)
    assert(w.select("_key").distinct().count() == w.count())
    val keysSorted = w.select(map_keys(col("balanceChangeLogs")).as("ks"))
      .filter(expr("ks != array_sort(ks)")).count()
    assert(keysSorted == 0)
  }

  test("dapp documents keyed token_dapp with sorted wallet arrays") {
    Pipelines.enrichDapps(spark, GraftSpark.Sf, out)
    val d = spark.read.parquet(s"$out/dapps")
    assert(d.count() > 0)
    assert(d.filter(expr("address != array_sort(address)")).count() == 0)
  }

  test("token documents carry all 8 change-log maps for every token") {
    val docs = Pipelines.tokenDocuments(spark, GraftSpark.Sf)
    assert(docs.count() == 5)
    val cols = docs.columns.toSet
    val expected = Set("tradingVolumeChangeLogs", "numberOfTransferChangeLogs",
      "numberOfAddressChangeLogs", "averageNumberOfTransactionPerDay",
      "numberOfDappChangeLogs", "numberOfHolderChangeLogs",
      "numberOfWhaleWalletChangeLogs", "walletClusterByNumberOfTransfer")
    assert(expected.subsetOf(cols), s"missing: ${expected.diff(cols)}")
    // volume map totals must equal the flat metric
    val fromMap = docs.select(explode(col("tradingVolumeChangeLogs")))
      .agg(sum("value")).head().getDouble(0)
    val flat = graft.ops.Metrics.hourlyVolume(spark, GraftSpark.Sf)
      .agg(sum("volume")).head().getDouble(0)
    assert(math.abs(fromMap - flat) < 1e-6)
  }

  private val LogNames = Seq("tradingVolumeChangeLogs",
    "numberOfTransferChangeLogs", "numberOfAddressChangeLogs",
    "averageNumberOfTransactionPerDay", "numberOfDappChangeLogs",
    "numberOfHolderChangeLogs", "numberOfWhaleWalletChangeLogs",
    "walletClusterByNumberOfTransfer")

  /** Driver-side JSON rendering of one map-form change log, by the JSON
    * form's documented rules: keys sorted, DECIMAL(…,2) volumes, `%.6f`
    * averages, integer counts, sorted cluster arrays; a null value drops its
    * entry and a null map is `{}`. */
  private def renderLog(log: String, m: scala.collection.Map[Any, Any]): String = {
    def strs(a: scala.collection.Seq[String]) =
      a.map(x => "\"" + x + "\"").mkString("[", ",", "]")
    def value(v: Any): String = (log, v) match {
      case ("tradingVolumeChangeLogs", d: Double) =>
        BigDecimal(d).setScale(2, BigDecimal.RoundingMode.HALF_UP)
          .bigDecimal.toPlainString
      case ("averageNumberOfTransactionPerDay", d: Double) =>
        "%.6f".formatLocal(java.util.Locale.US, d)
      case (_, r: Row) => Seq("LOW", "MEDIUM", "HIGH").map(c =>
        s"\"$c\":{\"addresses\":" +
          strs(r.getAs[Row](c).getSeq[String](0)) + "}").mkString("{", ",", "}")
      case (_, n) => n.toString
    }
    Option(m).fold(Seq.empty[(Long, Any)])(_.toSeq
        .map { case (k, v) => k.asInstanceOf[Long] -> v }.sortBy(_._1))
      .collect { case (k, v) if v != null => s"\"$k\":" + value(v) }
      .mkString("{", ",", "}")
  }

  /** The fixture events with every event of `dropped` removed, and every
    * `noDapp` event whose transfer touches a registry wallet removed: in
    * this dir `dropped` has no transfers and `noDapp` has no dapp hour. */
  private def sfWithout(dropped: String, noDapp: String): String = {
    val dir = java.nio.file.Files.createTempDirectory("graft_sf").toString
    val reg = Tables.DappRegistry.flatMap(_._3)
    val touching = Tables.transfers(spark, GraftSpark.Sf)
      .filter(col("contract_address") === noDapp &&
        (col("from_address").isin(reg: _*) || col("to_address").isin(reg: _*)))
      .select(col("block_number").as("event_id"))
    // copied raw, so the file keeps the fixture's ts encoding; the
    // pipelines then read it through Tables.events
    spark.read.parquet(s"${GraftSpark.Sf}/events.parquet")
      .filter(col("event_type") =!= dropped)
      .join(touching, Seq("event_id"), "left_anti")
      .write.parquet(s"$dir/events.parquet")
    dir
  }

  test("map-form token documents render to the JSON form, log by log") {
    for (sf <- Seq(GraftSpark.Sf, sfWithout("signup", "view"))) {
      val maps = Pipelines.tokenDocuments(spark, sf).collect()
        .map(r => r.getAs[String]("_key") -> r).toMap
      val jsons = Pipelines.tokenDocumentsJson(spark, sf).collect()
        .map(r => r.getAs[String]("_key") -> r).toMap
      assert(maps.keySet == jsons.keySet && maps.size == 5)
      for ((token, m) <- maps; log <- LogNames)
        assert(renderLog(log, m.getAs(log)) == jsons(token).getAs[String](log),
          s"$sf $token $log")
      if (sf != GraftSpark.Sf) {
        assert(LogNames.forall(l => maps("signup").isNullAt(maps("signup").fieldIndex(l))))
        assert(LogNames.forall(l => jsons("signup").getAs[String](l) == "{}"))
        val dapp = "numberOfDappChangeLogs"
        assert(maps("view").isNullAt(maps("view").fieldIndex(dapp)))
        assert(jsons("view").getAs[String](dapp) == "{}")
        assert(maps("view").getAs[Any]("numberOfHolderChangeLogs") != null)
      } else
        assert(maps.values.forall(_.getAs[Any]("numberOfDappChangeLogs") != null))
    }
  }

  test("wallet balances end at the signed decimal sum of their transfers") {
    val t = Tables.transfers(spark, GraftSpark.Sf)
    val dec = (c: org.apache.spark.sql.Column) => c.cast(DecimalType(25, 2))
    val direct = t.select(col("contract_address"), col("from_address").as("address"),
        dec(-col("value")).as("v"))
      .unionByName(t.select(col("contract_address"), col("to_address").as("address"),
        dec(col("value")).as("v")))
      .groupBy(concat_ws("_", col("contract_address"), col("address")).as("_key"))
      .agg(sum("v").cast("double").as("expected"))
    val last = Pipelines.walletDocuments(spark, GraftSpark.Sf)
      .select(col("_key"),
        element_at(map_values(col("balanceChangeLogs")), -1)("balance").as("last"))
    val joined = direct.join(last, Seq("_key"), "full_outer")
    assert(joined.count() == direct.count())
    val bad = joined.filter(!(col("expected") <=> col("last")))
    assert(bad.isEmpty, bad.limit(5).collect().mkString("\n"))
  }

  test("dapp interactions count every leg that lands on a registry wallet") {
    val reg = Tables.DappRegistry.flatMap(_._3).toSet
    val legs = Tables.transfers(spark, GraftSpark.Sf)
      .select("from_address", "to_address").collect()
      .iterator.flatMap(r => Seq(r.getString(0), r.getString(1)))
      .count(reg.contains)
    val total = Pipelines.dappDocuments(spark, GraftSpark.Sf)
      .agg(sum("n_interactions")).head().getLong(0)
    assert(legs > 0 && total == legs)
  }

  test("token enrichment writes and re-reads through the upsert sink") {
    Pipelines.enrichTokens(spark, GraftSpark.Sf, out)
    assert(spark.read.parquet(s"$out/tokens").count() == 5)
  }

  test("corpus pipeline: partitioned write matches the dedup decision and " +
      "re-runs are no-ops") {
    val metrics = Pipelines.enrichCorpus(spark, GraftSpark.Sf, out)
    val first = spark.read.parquet(s"$out/corpus")
    // observed write metrics (collected ON the write job, no extra scan)
    // agree with what actually landed on disk
    assert(metrics("rows_written") == first.count())
    assert(metrics("chars_written") ==
      first.agg(org.apache.spark.sql.functions.sum(
        org.apache.spark.sql.functions.length(col("text")).cast("long")))
        .head().getLong(0))
    assert(metrics("min_doc_id") ==
      first.agg(org.apache.spark.sql.functions.min("doc_id")).head().getLong(0))
    val expected = graft.ops.Dedup.dedupedCorpus(spark, GraftSpark.Sf)
    assert(first.count() == expected.count())
    // lang/source are partition columns: pruning applies, values round-trip
    assert(first.select("doc_id", "lang", "source")
      .exceptAll(expected.select("doc_id", "lang", "source")).isEmpty)
    val partitions = first.select("lang", "source").distinct().count()
    assert(partitions > 1, "expected a multi-partition layout")
    // materialize before the re-run: the overwrite replaces the files the
    // first frame's scan listed, so a lazy re-scan of `first` would fail
    val firstIds = first.select("doc_id").collect().map(_.getLong(0)).sorted
    // idempotent re-run: identical doc set, no duplicated rows appended
    Pipelines.enrichCorpus(spark, GraftSpark.Sf, out)
    val second = spark.read.parquet(s"$out/corpus")
    val secondIds = second.select("doc_id").collect().map(_.getLong(0)).sorted
    assert(firstIds.sameElements(secondIds))
  }
}
