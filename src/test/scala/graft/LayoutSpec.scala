package graft

import graft.ops.Layout
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Z-order layout: bit-ladder correctness and the data-skipping payoff —
  * per-file min/max extents (what parquet footer pruning consults) must
  * tighten on the NON-leading dimension versus a linear-sorted layout. */
class LayoutSpec extends AnyFunSuite {
  private lazy val spark = GraftSpark.spark
  private val sf = GraftSpark.Sf
  import spark.implicits._

  test("morton interleave: known bit patterns") {
    val got = Seq((0L, 0L), (1L, 0L), (0L, 1L), (65535L, 0L), (0L, 65535L),
      (3L, 5L))
      .toDF("a", "b")
      .withColumn("z", expr(Layout.sparkZ("a", "b")))
      .as[(Long, Long, Long)].collect().map(t => (t._1, t._2) -> t._3).toMap
    assert(got((0L, 0L)) == 0L)
    assert(got((1L, 0L)) == 1L)
    assert(got((0L, 1L)) == 2L)
    assert(got((65535L, 0L)) == 0x55555555L)
    assert(got((0L, 65535L)) == 0xAAAAAAAAL)
    // a=3 (bits 0,1 -> 0,2), b=5 (bits 0,2 -> 1,5): z = 1+4+2+32 = 39
    assert(got((3L, 5L)) == 39L)
  }

  test("z-clustered files tighten the non-leading dimension's extents") {
    val tmp = util.TempDirs.staging("graft_zorder")
    val zPath = s"$tmp/z"
    val linPath = s"$tmp/lin"
    val files = 8
    Layout.writeZClustered(spark, sf, zPath, files)
    Layout.writeLinear(spark, sf, linPath, files)

    def meanExtent(path: String, mn: String, mx: String): Double = {
      val rows = Layout.fileExtents(spark, path)
        .select((col(mx) - col(mn)).cast("double").as("e"))
        .as[Double].collect()
      rows.sum / rows.length
    }
    // the linear layout sorts by ka only: its files carry near-full-range
    // kb extents and pruning on kb skips nothing; the z layout must cut
    // the mean kb extent substantially while keeping ka far below full
    val zB = meanExtent(zPath, "bmin", "bmax")
    val linB = meanExtent(linPath, "bmin", "bmax")
    assert(zB < linB * 0.8,
      s"z-order mean kb extent $zB not < 0.8 * linear $linB")

    // both layouts hold identical data
    val a = spark.read.parquet(zPath).agg(
      count(lit(1)), sum("o_orderkey"), sum("zval")).as[(Long, Long, Long)]
      .head()
    val b = spark.read.parquet(linPath).agg(
      count(lit(1)), sum("o_orderkey"), sum("zval")).as[(Long, Long, Long)]
      .head()
    assert(a == b)
  }

  test("hilbert-clustered files tighten extents like the z layout") {
    val tmp = util.TempDirs.staging("graft_hilbert")
    val hPath = s"$tmp/h"
    val linPath = s"$tmp/lin"
    val files = 8
    Layout.writeHilbertClustered(spark, sf, hPath, files)
    Layout.writeLinear(spark, sf, linPath, files)
    def meanExtent(path: String, mn: String, mx: String): Double = {
      val rows = Layout.fileExtents(spark, path)
        .select((col(mx) - col(mn)).cast("double").as("e"))
        .as[Double].collect()
      rows.sum / rows.length
    }
    // the Hilbert walk is grid-adjacent, so range-partitioned files cover
    // compact 2-D cells: the non-leading dimension's extents must shrink
    // well below the linear layout's near-full-range ones
    val hB = meanExtent(hPath, "bmin", "bmax")
    val linB = meanExtent(linPath, "bmin", "bmax")
    assert(hB < linB * 0.8,
      s"hilbert mean kb extent $hB not < 0.8 * linear $linB")
    // identical data either way
    val a = spark.read.parquet(hPath).agg(
      count(lit(1)), sum("o_orderkey"), sum("hval")).as[(Long, Long, Long)]
      .head()
    val b = spark.read.parquet(linPath)
      .transform(graft.ops.Layout.withHilbert(_, "ka", "kb"))
      .agg(count(lit(1)), sum("o_orderkey"), sum("hval"))
      .as[(Long, Long, Long)].head()
    assert(a == b)
  }

  /** Textbook iterative Hilbert encode (the algorithm the SQL chain
    * unrolls), used as the independent reference. */
  private def xy2d(n: Long, x0: Long, y0: Long): Long = {
    var x = x0; var y = y0; var d = 0L; var s = n / 2
    while (s > 0) {
      val rx = if ((x & s) > 0) 1L else 0L
      val ry = if ((y & s) > 0) 1L else 0L
      d += s * s * ((3 * rx) ^ ry)
      if (ry == 0) {
        if (rx == 1) { x = n - 1 - x; y = n - 1 - y }
        val t = x; x = y; y = t
      }
      s /= 2
    }
    d
  }

  /** Reference decode — validates [[xy2d]] is a true Hilbert curve. */
  private def d2xy(n: Long, d0: Long): (Long, Long) = {
    var x = 0L; var y = 0L; var t = d0; var s = 1L
    while (s < n) {
      val rx = 1L & (t / 2); val ry = 1L & (t ^ rx)
      if (ry == 0) {
        if (rx == 1) { x = s - 1 - x; y = s - 1 - y }
        val tmp = x; x = y; y = tmp
      }
      x += s * rx; y += s * ry; t /= 4; s *= 2
    }
    (x, y)
  }

  test("hilbert reference: bijective round-trip and grid-adjacent walk") {
    val n = 64L
    val cells = (0L until n * n).map(d2xy(n, _))
    assert(cells.distinct.size == (n * n).toInt) // bijection
    cells.zipWithIndex.foreach { case ((x, y), d) =>
      assert(xy2d(n, x, y) == d.toLong) // encode inverts decode
    }
    cells.sliding(2).foreach { case Seq((x1, y1), (x2, y2)) =>
      // every step of the walk moves to a grid-adjacent cell — the
      // locality property Morton lacks at power-of-two seams
      assert(math.abs(x1 - x2) + math.abs(y1 - y2) == 1)
    }
  }

  test("hilbert SQL chain equals the reference on edge and grid points") {
    import spark.implicits._
    val pts = (for {
      x <- Seq(0L, 1L, 2L, 32767L, 32768L, 65534L, 65535L, 12345L)
      y <- Seq(0L, 1L, 2L, 32767L, 32768L, 65534L, 65535L, 54321L)
    } yield (x, y)) ++ (0 until 200).map(i => ((i * 331L) % 65536, (i * 7919L) % 65536))
    val got = graft.ops.Layout
      .withHilbert(pts.toDF("x", "y"), "x", "y")
      .select("x", "y", "hval")
      .as[(Long, Long, Long)].collect().toSeq
    assert(got.nonEmpty)
    got.foreach { case (x, y, h) =>
      assert(h == xy2d(graft.ops.Layout.HilbertN, x, y), s"($x,$y)")
      assert(h >= 0L && h < graft.ops.Layout.HilbertN * graft.ops.Layout.HilbertN)
    }
  }

  test("skipping stats: exact local recount of every layout's skip rate") {
    import org.apache.spark.sql.functions._
    val got = graft.ops.Layout.skippingStats(spark, sf)
      .as[(String, String, Long, Long, Long)].collect().toSeq
      .map(r => (r._1, r._2) -> (r._3, r._4, r._5)).toMap
    // recompute the whole model from the raw (key, day) pairs
    val kd = Tables.orders(spark, sf)
      .select(col("o_orderkey"),
        expr("CAST(datediff(CAST(o_orderdate AS DATE), DATE'1970-01-01')" +
          " AS BIGINT)"))
      .as[(Long, Long)].collect().toSeq
    val (kmn, kmx) = (kd.map(_._1).min, kd.map(_._1).max)
    val (dmn, dmx) = (kd.map(_._2).min, kd.map(_._2).max)
    def spread(x: Long): Long = (0 until 16)
      .map(i => ((x >> i) & 1L) << (2 * i)).sum
    val rows = kd.map { case (k, d) =>
      val ka = (k - kmn) * 65535 / math.max(kmx - kmn, 1)
      val da = (d - dmn) * 65535 / math.max(dmx - dmn, 1)
      (k, d, spread(ka) | (spread(da) << 1),
        xy2d(graft.ops.Layout.HilbertN, ka, da))
    }
    val F = graft.ops.Layout.SkippingFiles
    def wins(n: Int, mn: Long, mx: Long): Seq[(Long, Long)] = {
      val w = (mx - mn + n) / n
      (0 until n).map(i => (mn + i * w, mn + (i + 1) * w))
    }
    for ((layout, pick, lmn, lmx) <- Seq(
      ("by_key", (r: (Long, Long, Long, Long)) => r._1, kmn, kmx),
      ("by_date", (r: (Long, Long, Long, Long)) => r._2, dmn, dmx),
      ("zorder", (r: (Long, Long, Long, Long)) => r._3, 0L, 4294967295L),
      ("hilbert", (r: (Long, Long, Long, Long)) => r._4, 0L, 4294967295L))) {
      val files = rows.groupBy(r =>
        math.min((pick(r) - lmn) * F / math.max(lmx - lmn + 1, 1), F - 1L))
      val exts = files.values.map(rs =>
        (rs.map(_._1).min, rs.map(_._1).max,
          rs.map(_._2).min, rs.map(_._2).max)).toSeq
      for ((dim, ws, loHi) <- Seq(
        ("date", wins(graft.ops.Layout.DateWindows, dmn, dmx),
          (e: (Long, Long, Long, Long)) => (e._3, e._4)),
        ("key", wins(graft.ops.Layout.KeyWindows, kmn, kmx),
          (e: (Long, Long, Long, Long)) => (e._1, e._2)))) {
        val skips = (for (e <- exts; (lo, hi) <- ws) yield {
          val (fmn, fmx) = loHi(e); if (fmx < lo || fmn >= hi) 1L else 0L
        }).sum
        val total = exts.size.toLong * ws.size
        assert(got((layout, dim)) ==
          (exts.size.toLong, ws.size.toLong, skips * 1000000L / total),
          s"$layout/$dim")
      }
    }
  }

  test("batch padding: length-sorting never loses, token totals invariant") {
    val rows = graft.ops.Layout.batchPaddingAudit(spark, GraftSpark.Sf)
      .collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getDouble(5))).toMap
    val sources = rows.keySet.map(_._1)
    assert(sources.nonEmpty)
    sources.foreach { s =>
      val (abn, atok, apad, afrac) = rows((s, "arrival"))
      val (sbn, stok, spad, sfrac) = rows((s, "length_sorted"))
      // reordering the same rows: batch count and true token mass invariant
      assert(abn == sbn && atok == stok, s"$s totals drifted")
      // sorting by length can only reduce per-batch max spread
      assert(spad <= apad, s"$s: sorted padding $spad > arrival $apad")
      assert(sfrac <= afrac)
      // fraction arithmetic consistent with the integer counts
      assert(math.abs(afrac -
        apad.toDouble / (apad + atok).toDouble) < 1e-6)
    }
    // a hand-built skewed shard where the win MUST materialize: one long
    // doc per batch of shorts costs arrival dearly, sorting isolates it
    locally {
      import spark.implicits._
      val dir = util.TempDirs.staging("graft_pad").toString
      val docs = (0L until 64L).map { i =>
        val len = if (i % 2 == 0) 1 else 100
        (i, Seq.fill(len.toInt)("w").mkString(" "), "en", "s0")
      }
      docs.toDF("doc_id", "text", "lang", "source").selectExpr("doc_id", "text", "lang", "source", "CAST(length(text) AS BIGINT) AS n_chars")
        .write.mode("overwrite").parquet(s"$dir/documents.parquet")
      val r = graft.ops.Layout.batchPaddingAudit(spark, dir).collect()
        .map(x => x.getString(1) -> x.getLong(4)).toMap
      assert(r("length_sorted") < r("arrival"),
        s"skewed shard showed no sorting win: $r")
    }
  }
}
