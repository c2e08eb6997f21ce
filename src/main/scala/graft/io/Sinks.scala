package graft.io

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, DataFrameWriter, Row, SaveMode, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Sink surface: CSV/JSON writers and the upsert-by-key parquet sink.
  *
  * The reference's sinks are an ArangoDB writer with `overwrite.mode=update`
  * (upsert by `_key`; K1, reference: common/Spark.scala:71-88), a CSV dump
  * (K2, reference: utils/WriteToFile.scala:6-12) and a driver-side JSON
  * writer (K3, reference: utils/Extract0x38Dapp.scala:40-43). Offline
  * equivalents: columnar parquet with merge-on-key semantics, and
  * distributed CSV/JSON writers.
  *
  * Every data write goes through [[writer]], which puts its local paths
  * on [[LocalFs]] (no `chmod` process per created file).
  */
object Sinks {

  /** `df.write` on the engine's local write path: the options reach the
    * job's Hadoop conf (committer and tasks) and nothing else. */
  private def writer(df: DataFrame): DataFrameWriter[Row] =
    df.write.options(LocalFs.HadoopConfs)

  /** K2: header'd CSV, overwrite. */
  def writeCsv(df: DataFrame, path: String): Unit =
    writer(df).format("csv").option("header", "true")
      .mode(SaveMode.Overwrite).save(path)

  /** K3: distributed JSON lines (replaces the reference's driver-side
    * PrintWriter). */
  def writeJson(df: DataFrame, path: String): Unit =
    writer(df).mode(SaveMode.Overwrite).json(path)

  /** Columnar ORC sibling of the parquet surface — format parity for
    * stores that standardize on ORC (same distributed writer, predicate
    * pushdown and column pruning apply on read). */
  def writeOrc(df: DataFrame, path: String): Unit =
    writer(df).mode(SaveMode.Overwrite).orc(path)

  /** Partitioned corpus sink with DYNAMIC partition overwrite: rewriting a
    * subset of partitions (one language, one day) leaves the rest of the
    * table untouched, and partition values prune at scan time — the standard
    * layout for a 100 TB corpus store. */
  def writePartitioned(df: DataFrame, path: String,
      partitionCols: Seq[String]): Unit =
    writer(df)
      .partitionBy(partitionCols: _*)
      .option("partitionOverwriteMode", "dynamic")
      .mode(SaveMode.Overwrite)
      .parquet(path)

  /** K1: upsert-by-key parquet merge. New rows win over existing rows with
    * the same key; within a batch the highest `versionCol` wins, and full
    * (key, version) ties resolve by whole-row hash so the survivor is
    * deterministic at any partitioning. One shuffle on the key; at cluster
    * scale the same shape works over partitioned table dirs with dynamic
    * partition overwrite.
    *
    * Crash safety: the merge stages to `__staged`, moves the live dir aside
    * to `__old`, promotes the stage, then drops `__old`. Every rename is
    * checked, and a read that finds no live dir falls back to `__old`
    * (a crash between the two renames leaves the previous table intact
    * there) — so a died-and-retried upsert never loses earlier keys. */
  def upsertParquet(spark: SparkSession, incoming: DataFrame, keyCol: String,
      versionCol: String, path: String): Unit = {
    val fs = FileSystem.get(spark.sparkContext.hadoopConfiguration)
    val dst = new Path(path)
    val old = new Path(path + "__old")

    // recover from a crash that promoted nothing after moving the live dir
    val liveDir =
      if (fs.exists(dst)) Some(path)
      else if (fs.exists(old)) Some(path + "__old")
      else None
    val existing = liveDir.map(p =>
      graft.Tables.parquet(spark, p).withColumn("_is_new", lit(0)))

    val merged = existing match {
      case Some(prev) => prev.unionByName(incoming.withColumn("_is_new", lit(1)))
      case None => incoming.withColumn("_is_new", lit(1))
    }
    // whole-row tie-break via JSON (hash() rejects MAP-typed columns)
    val tieBreak = xxhash64(to_json(struct(
      merged.columns.filterNot(_ == "_is_new").map(col): _*)))
    val w = Window.partitionBy(keyCol)
      .orderBy(col("_is_new").desc, col(versionCol).desc, tieBreak.asc)
    val winner = merged
      .withColumn("_rn", row_number().over(w))
      .filter(col("_rn") === 1)
      .drop("_rn", "_is_new")

    // parquet can't overwrite its own input in place — stage, then swap.
    // __old is only rotated when dst exists: when recovering from a crash
    // that already moved the live table to __old, deleting __old here would
    // leave a window with NO live copy on disk (a second crash before the
    // staged promote would silently drop every earlier key on the next
    // retry). Leaving __old in place until the promote keeps a live copy at
    // every instant.
    writer(winner).mode(SaveMode.Overwrite).parquet(path + "__staged")
    promote(fs, path, fs.exists(dst), "upsertParquet")
  }

  /** Swap `path__staged` in as `path`: when `rotate`, drop any `__old` and
    * move the live dir there; then promote the stage and drop `__old`.
    * Every rename is checked and a failure names `caller`. */
  private def promote(fs: FileSystem, path: String, rotate: Boolean,
      caller: String): Unit = {
    val dst = new Path(path)
    val old = new Path(path + "__old")
    def mustRename(from: Path, to: Path): Unit =
      if (!fs.rename(from, to))
        throw new java.io.IOException(s"$caller: rename $from -> $to failed")
    if (rotate) {
      fs.delete(old, true)
      mustRename(dst, old)
    }
    mustRename(new Path(path + "__staged"), dst)
    fs.delete(old, true)
  }

  /** Versioned snapshot writes: each write lands in an immutable
    * `v=NNNNNN` directory and a `_LATEST` pointer file is swapped last —
    * minimal snapshot isolation (readers holding version k never see
    * their files rewritten; a crash mid-write leaves `_LATEST` on the
    * previous good version) and time travel (any retained version stays
    * readable). The same commit-pointer discipline every table format
    * (Delta log, Iceberg metadata pointer) builds on. Returns the new
    * version number. */
  def writeVersioned(spark: SparkSession, df: DataFrame, path: String): Long = {
    val fs = FileSystem.get(spark.sparkContext.hadoopConfiguration)
    val root = new Path(path)
    fs.mkdirs(root)
    // next = 1 + max over BOTH the pointer and every v= dir on disk
    // (committed or not): a crash can leave a half-written max dir with no
    // pointer, and ErrorIfExists below must never collide with it
    val next = (latestVersion(spark, path).getOrElse(-1L) +:
      versionDirs(fs, root).map(_._1)).max + 1L
    val vdir = new Path(root, f"v=$next%06d")
    writer(df).mode(SaveMode.ErrorIfExists).parquet(vdir.toString)
    // pointer swap is the commit: write sidecar, then OVERWRITE-rename over
    // _LATEST (FileContext supports atomic overwrite where FileSystem.rename
    // would need a delete first — a delete→rename pair has a crash window
    // with no pointer on disk at all)
    val tmp = new Path(root, "_LATEST.tmp")
    val ptr = new Path(root, "_LATEST")
    val out = fs.create(tmp, true)
    out.write(next.toString.getBytes("UTF-8")); out.close()
    org.apache.hadoop.fs.FileContext.getFileContext(fs.getUri,
        spark.sparkContext.hadoopConfiguration)
      .rename(tmp, ptr, org.apache.hadoop.fs.Options.Rename.OVERWRITE)
    next
  }

  /** All `v=NNNNNN` children of `root` with their version numbers. */
  private def versionDirs(fs: FileSystem, root: Path): Seq[(Long, Path)] =
    if (!fs.exists(root)) Seq.empty
    else fs.listStatus(root).toSeq
      .filter(_.isDirectory)
      .flatMap { st =>
        val n = st.getPath.getName
        if (n.startsWith("v=")) n.drop(2).toLongOption.map(_ -> st.getPath)
        else None
      }

  /** The committed version: `_LATEST` if present; otherwise the highest
    * `v=N` directory whose Spark `_SUCCESS` marker proves a completed
    * write. With [[writeVersioned]]'s atomic overwrite-rename the pointer
    * can only be absent before the first commit or after external damage —
    * and in that state the fallback may surface a version whose parquet
    * job finished but whose pointer swap never ran (best effort by design:
    * the data is complete, only the commit record is lost). */
  def latestVersion(spark: SparkSession, path: String): Option[Long] = {
    val fs = FileSystem.get(spark.sparkContext.hadoopConfiguration)
    val ptr = new Path(path, "_LATEST")
    if (!fs.exists(ptr)) {
      val committed = versionDirs(fs, new Path(path))
        .filter { case (_, p) => fs.exists(new Path(p, "_SUCCESS")) }
      if (committed.isEmpty) None else Some(committed.map(_._1).max)
    } else {
      val in = fs.open(ptr)
      try {
        val buf = new java.io.ByteArrayOutputStream()
        val arr = new Array[Byte](64)
        var n = in.read(arr)
        while (n > 0) { buf.write(arr, 0, n); n = in.read(arr) }
        Some(new String(buf.toByteArray, "UTF-8").trim.toLong)
      } finally in.close()
    }
  }

  /** Read the committed snapshot (`version` = None → `_LATEST`). */
  def readVersioned(spark: SparkSession, path: String,
      version: Option[Long] = None): DataFrame = {
    val v = version.orElse(latestVersion(spark, path)).getOrElse(
      throw new java.util.NoSuchElementException(
        s"readVersioned: no committed version under $path"))
    graft.Tables.parquet(spark, s"$path/v=${"%06d".format(v)}")
  }

  /** Small-files compaction: rewrite a parquet table into
    * ⌈rows / targetRecordsPerFile⌉ files via the same staged-swap dance as
    * [[upsertParquet]] (a crash never leaves the table missing). Streaming
    * ingest and dynamic partition overwrites accrete small files; scans
    * then pay one task + one footer per file, and at 100 TB the file
    * listing alone dominates planning — periodic compaction is the
    * maintenance op every table format (Delta OPTIMIZE, Iceberg rewrite)
    * schedules. The count job is the price of sizing output files
    * deterministically; `repartition` (round-robin) balances them. */
  def compact(spark: SparkSession, path: String,
      targetRecordsPerFile: Long): Int = {
    require(targetRecordsPerFile > 0, "targetRecordsPerFile must be > 0")
    val df = graft.Tables.parquet(spark, path)
    val n = df.count()
    val files = math.max(1L,
      (n + targetRecordsPerFile - 1) / targetRecordsPerFile).toInt
    writer(df.repartition(files))
      .mode(SaveMode.Overwrite).parquet(path + "__staged")
    promote(FileSystem.get(spark.sparkContext.hadoopConfiguration), path,
      rotate = true, "compact")
    files
  }
}
