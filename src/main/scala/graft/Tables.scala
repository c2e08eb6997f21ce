package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Parquet table loaders and the token-transfer view.
  *
  * The reference engine reads token-transfer edges from ArangoDB through a
  * handwritten AQL filter (reference: src/main/scala/etl/BaseEnricher.scala:27-59)
  * and from Postgres through a JDBC subquery
  * (reference: src/main/scala/etl/TransferEnricher.scala:36-51). Here every
  * source is a columnar parquet scan; plain `.filter`/`.select` on top lets
  * Catalyst push predicates and projected columns down to the parquet reader
  * (row-group skipping), which replaces both handwritten source-side filters
  * and scales to arbitrarily many files/partitions on a real cluster.
  */
object Tables {

  def table(spark: SparkSession, sfDir: String, name: String): DataFrame =
    model.Boundary.conform(name, parquet(spark, s"$sfDir/$name.parquet"))

  /** An engine-owned, unpartitioned parquet path, read with the schema of
    * [[parquetSchema]]. Every read of a table, sink or stream output the
    * engine itself wrote goes through here rather than a bare
    * `spark.read.parquet`, whose schema inference runs a one-task Spark job
    * (`ParquetFileFormat.mergeSchemasInParallel`) on every call. */
  def parquet(spark: SparkSession, path: String): DataFrame =
    spark.read.schema(parquetSchema(spark, path)).parquet(path)

  /** The schema `spark.read.parquet(path)` infers, taken from one footer
    * read on the driver instead of an inference job. It is the same file
    * (the first data file by path) and the same conversion: Spark's
    * `readSchemaFromFooter`, which prefers Spark's own row-metadata key,
    * over a converter with inference's session settings (binary-as-string,
    * INT96, NTZ inference, nanos-as-long, unknown annotations). A path with
    * no data file fails as inference does (see [[parquetDataFiles]]).
    * Summary files (`_metadata`, `_common_metadata`) are not consulted;
    * Spark writes none by default. */
  def parquetSchema(spark: SparkSession, path: String): StructType = {
    import org.apache.spark.sql.execution.datasources.parquet._
    val (hconf, files) = parquetDataFiles(spark, path)
    val conf = spark.sessionState.conf
    val converter = new ParquetToSparkSchemaConverter(
      assumeBinaryIsString = conf.isParquetBinaryAsString,
      assumeInt96IsTimestamp = conf.isParquetINT96AsTimestamp,
      inferTimestampNTZ = conf.parquetInferTimestampNTZEnabled,
      nanosAsLong = conf.legacyParquetNanosAsLong,
      respectUnknownTypeAnnotation =
        conf.parquetReaderRespectUnknownTypeAnnotation)
    val first = files.head
    val footer = ParquetFooterReader.readFooter(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromStatus(first, hconf),
      org.apache.parquet.format.converter.ParquetMetadataConverter.SKIP_ROW_GROUPS)
    ParquetFileFormat.readSchemaFromFooter(
      new org.apache.parquet.hadoop.Footer(first.getPath, footer), converter)
  }

  /** The data files of a parquet path, sorted by path, as Spark's file
    * index lists them: recursive, skipping names that start with `.` or
    * `_` (`_SUCCESS`, `_spark_metadata/`, `_temporary/`) and in-flight
    * `._COPYING_` files. A missing path fails with Spark's
    * `PATH_NOT_FOUND`, a path with no data file with its
    * `UNABLE_TO_INFER_SCHEMA` — the errors `spark.read.parquet` raises. */
  private def parquetDataFiles(spark: SparkSession, path: String)
      : (org.apache.hadoop.conf.Configuration,
         Seq[org.apache.hadoop.fs.FileStatus]) = {
    import org.apache.hadoop.fs.{FileStatus, Path}
    import org.apache.spark.sql.AnalysisException
    val hconf = spark.sessionState.newHadoopConf()
    val root = new Path(path)
    val fs = root.getFileSystem(hconf)
    if (!fs.exists(root))
      throw new AnalysisException("PATH_NOT_FOUND",
        Map("path" -> fs.makeQualified(root).toString))
    def hidden(p: Path) = {
      val n = p.getName
      (n.startsWith("_") && !n.contains("=")) || n.startsWith(".") ||
        n.endsWith("._COPYING_")
    }
    def walk(st: FileStatus): Seq[FileStatus] =
      if (!st.isDirectory) Seq(st)
      else fs.listStatus(st.getPath).toSeq.filterNot(c => hidden(c.getPath))
        .flatMap(walk)
    val files = walk(fs.getFileStatus(root)).sortBy(_.getPath.toString)
    if (files.isEmpty)
      throw new AnalysisException("UNABLE_TO_INFER_SCHEMA",
        Map("format" -> "Parquet"))
    (hconf, files)
  }

  /** Exact row count of a parquet table from file FOOTERS alone — a
    * driver-side metadata read, no Spark job. For sizing decisions made at
    * PLAN-CONSTRUCTION time (the simhash band-layout rule), running
    * `df.count()` is the wrong tool: it launches an eager job while the
    * caller is still composing a lazy plan (round-9 advice flagged exactly
    * that), and on a cluster it schedules a stage for what the footers
    * already know. Footer row counts are exact for parquet regardless of
    * predicate/encoding. Falls back to `count()` only if the footer read
    * fails (corrupt footer, non-parquet layout). */
  def parquetRowCount(spark: SparkSession, sfDir: String,
      name: String): Long =
    try {
      val (hconf, files) =
        parquetDataFiles(spark, s"$sfDir/$name.parquet")
      files.map { st =>
        val r = org.apache.parquet.hadoop.ParquetFileReader.open(
          org.apache.parquet.hadoop.util.HadoopInputFile.fromStatus(st, hconf))
        try r.getRecordCount finally r.close()
      }.sum
    } catch {
      case scala.util.control.NonFatal(_) =>
        table(spark, sfDir, name).count()
    }

  /** Canonical event-time normalization: whatever the on-disk encoding of
    * `events.ts`, every consumer sees the same three columns —
    *  - `ts`     : epoch-NANOS long (what the DuckDB oracle's `epoch_ns(ts)`
    *               computes, and what sequence ops like
    *               [[ops.Behavior.FunnelDeadlineNs]] do arithmetic on),
    *  - `ts_sec` : epoch seconds (exact integer division — a double division
    *               at 1e18 magnitude would lose sub-second precision),
    *  - `ts_t`   : microsecond-precision TIMESTAMP for window/streaming use.
    *
    * Accepts `ts` as epoch-nanos long (parquet TIMESTAMP(NANOS) under the
    * nanos-as-long legacy flag) or as TimestampType (parquet
    * TIMESTAMP(MICROS), either UTC-adjusted or NTZ — see [[events]] for how
    * NTZ is read tz-independently). Any other type fails loudly here at the
    * schema boundary instead of crashing 80 queries downstream. */
  private[graft] def normalizeEventTime(df: DataFrame): DataFrame =
    df.schema("ts").dataType match {
      case LongType =>
        df.withColumn("ts_sec", expr("ts div 1000000000"))
          .withColumn("ts_t", timestamp_micros(expr("ts div 1000")))
      case TimestampType =>
        df.withColumn("ts_t", col("ts"))
          .withColumn("ts", expr("unix_micros(ts) * 1000L"))
          .withColumn("ts_sec", expr("ts div 1000000000"))
      case other =>
        throw new IllegalStateException(
          s"events.ts arrived as $other; expected epoch-nanos LONG or TIMESTAMP. " +
            "Update Tables.events' pinned read schema for the new encoding.")
    }

  /** Events table with [[normalizeEventTime]]'s canonical `ts`/`ts_sec`/`ts_t`.
    *
    * Encoding-robust by inspection, not assumption (a testdata re-encode from
    * TIMESTAMP(NANOS) to TIMESTAMP(MICROS,NTZ) once silently invalidated 40%
    * of the catalog): the footer schema decides the read path.
    *  - TIMESTAMP(NANOS): the legacy flag surfaces it as epoch-nanos long.
    *  - TIMESTAMP(MICROS) NTZ: re-read with a pinned schema forcing
    *    TimestampType — parquet micros are then taken verbatim as epoch
    *    micros with NO session-timezone conversion (a cast from
    *    TIMESTAMP_NTZ would shift by the session zone), matching DuckDB's
    *    naive-as-UTC `epoch_ns`. */
  def events(spark: SparkSession, sfDir: String): DataFrame = {
    val path = s"$sfDir/events.parquet"
    normalizeEventTime(model.Boundary.conform("events",
      spark.read.schema(eventsReadSchema(spark, path)).parquet(path)))
  }

  /** The read schema of the events file at `path`: its footer schema
    * (under the nanos-as-long flag), with an NTZ `ts` pinned to
    * TimestampType (see [[events]]). */
  private def eventsReadSchema(spark: SparkSession, path: String): StructType = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val fileSchema = parquetSchema(spark, path)
    if (fileSchema("ts").dataType == TimestampNTZType) pinTsAsInstant(fileSchema)
    else fileSchema
  }

  /** The file schema with `ts` re-typed TimestampType (see [[events]]). */
  private def pinTsAsInstant(fileSchema: StructType): StructType =
    StructType(fileSchema.map(f =>
      if (f.name == "ts") f.copy(dataType = TimestampType) else f))

  /** File-stream twin of [[events]]: same canonical `ts`/`ts_sec`/`ts_t`, fed
    * by a FileStreamSource. Streams require an explicit schema, so the
    * encoding is sniffed from the static footer first (a one-footer read) and
    * the stream schema pinned to match — long for nanos files, TimestampType
    * for micros files (tz-independent, as in [[events]]).
    *
    * The path is spelled `{events}.parquet` — a GLOB, not a literal:
    * FileStreamSource forces `basePath` to the source path itself and errors
    * when that path is a plain file, while a glob infers basePath from the
    * non-glob prefix. One spelling reads BOTH layouts: the driver's
    * single-file `events.parquet` and a cluster writer's
    * `events.parquet/part-*` directory. */
  def eventsStream(spark: SparkSession, sfDir: String): DataFrame =
    // raw FILE schema (not the conformed one — the stream's explicit schema
    // must match what's on disk; Boundary coercions happen after the read)
    normalizeEventTime(model.Boundary.conform("events", spark.readStream
      .schema(eventsReadSchema(spark, s"$sfDir/events.parquet"))
      .parquet(s"$sfDir/{events}.parquet")))
  def lineitem(spark: SparkSession, sfDir: String): DataFrame  = table(spark, sfDir, "lineitem")
  def orders(spark: SparkSession, sfDir: String): DataFrame    = table(spark, sfDir, "orders")
  def customer(spark: SparkSession, sfDir: String): DataFrame  = table(spark, sfDir, "customer")
  def supplier(spark: SparkSession, sfDir: String): DataFrame  = table(spark, sfDir, "supplier")
  def part(spark: SparkSession, sfDir: String): DataFrame      = table(spark, sfDir, "part")
  def nation(spark: SparkSession, sfDir: String): DataFrame    = table(spark, sfDir, "nation")
  def region(spark: SparkSession, sfDir: String): DataFrame    = table(spark, sfDir, "region")
  def documents(spark: SparkSession, sfDir: String): DataFrame = table(spark, sfDir, "documents")
  def embeddings(spark: SparkSession, sfDir: String): DataFrame = table(spark, sfDir, "embeddings")

  /** Fan a COMPUTE-DENSE frame out to the session's core count when its
    * current plan yields fewer partitions. A single-row-group parquet file
    * (the embeddings table at test SFs) pins its scan to ONE task no matter
    * the byte-range splits, serializing downstream per-row kernels — the
    * ANN family's decimal dot products ran 3–4 s on one core with 31 idle
    * (round-10 stage audit, PERF.md). Strictly widen-only: it never lowers an
    * existing partition count — including on the ≤[[FanOutForceBytes]]
    * hollow-split insurance path, which repartitions to max(cores,
    * reported splits) — so a properly split production source passes
    * through shuffle-free (past the size ceiling) or keeps its real split
    * count, and the round-robin shuffle fanOut does add is bounded by the
    * (small, scan-bound) frame that needed widening. */
  def fanOut(df: DataFrame): DataFrame = {
    val cores = df.sparkSession.sparkContext.defaultParallelism
    if (df.rdd.getNumPartitions < cores) return df.repartition(cores)
    // The partition count can LIE for a scan-rooted plan: Spark byte-range
    // splits a parquet file into ~cores read tasks, but a split cannot
    // cross a row group, so a single-row-group file reports >= cores
    // partitions while every row lands in ONE of them (measured: the 100×
    // documents corpus, 77 MB / 1 row group / 16 "partitions", ran the
    // whole signature build in one 209 s task). When no partition-defining
    // operator (shuffle/join/agg/sort/window) sits between df and its
    // leaves, the reported count is only a byte-split guess — spend one
    // bounded round-robin pass as insurance. Past [[FanOutForceBytes]] the
    // guess is trusted: a production-scale source has many row groups, and
    // the insurance pass would no longer be cheap.
    import org.apache.spark.sql.catalyst.plans.logical._
    val partitionDefining = df.queryExecution.optimizedPlan.find {
      case _: Join | _: Aggregate | _: RepartitionOperation | _: Sort => true
      case _: org.apache.spark.sql.catalyst.plans.logical.Window => true
      case _ => false
    }.isDefined
    val bytes = leafFileBytes(df)
      .getOrElse(df.queryExecution.optimizedPlan.stats.sizeInBytes)
    // Insurance repartition keeps the LARGER of (cores, reported splits):
    // the reported count may be hollow, but it may also be real (a
    // multi-row-group file legitimately splitting past the core count) —
    // forcing exactly `cores` there would NARROW real parallelism, the
    // one thing this widen-only helper promises never to do.
    if (!partitionDefining && bytes <= FanOutForceBytes)
      df.repartition(math.max(cores, df.rdd.getNumPartitions))
    else df
  }

  /** Sum of the plan's LEAF file-relation sizes (raw file bytes from the
    * scan's `FileIndex`), or None when any leaf is not file-backed.
    *
    * Used by [[fanOut]]'s hollow-split gate instead of
    * `optimizedPlan.stats.sizeInBytes`, whose failure modes would bite
    * here: without CBO stats a stat-less relation reports
    * `spark.sql.defaultSizeInBytes` (Long.Max-ish — silently DISABLING
    * the insurance), and for compressed parquet the plan stat is raw
    * bytes scaled by `fileCompressionFactor` — while the row-group
    * argument behind [[FanOutForceBytes]] is about raw FILE bytes
    * (writers cap row groups by on-disk size). Non-file leaves
    * (LocalRelation, in-memory scans) fall back to the plan estimate —
    * for those the reported partition count is not a byte-split guess in
    * the first place, so the gate matters less. */
  private def leafFileBytes(df: DataFrame): Option[BigInt] = {
    import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
    val sizes = df.queryExecution.optimizedPlan.collectLeaves().map {
      case l: LogicalRelation => l.relation match {
        case fs: HadoopFsRelation => Some(BigInt(fs.location.sizeInBytes))
        case _ => None
      }
      case _ => None
    }
    if (sizes.nonEmpty && sizes.forall(_.isDefined)) Some(sizes.flatten.sum)
    else None
  }

  /** Size ceiling for [[fanOut]]'s hollow-split insurance repartition: one
    * extra pass of ≤ 1 GiB is noise anywhere, and a bigger file-backed
    * frame has many row groups (writers cap row groups well below this),
    * so its split count is real. */
  val FanOutForceBytes: Long = 1L << 30

  /** [[documents]] routed through [[fanOut]] — for COMPUTE-DENSE consumers
    * only (tokenize, shingle, per-token md5, winnowing): the test-SF
    * documents file is a single parquet row group, so its scan is ONE task
    * and every per-row kernel fused into that stage runs on one core with
    * the rest idle (the same round-10 stage-audit finding as the embeddings
    * table, PERF.md). Widen-only, so a properly split production corpus passes
    * through shuffle-free. Cheap metadata selects and anything whose
    * output depends on file layout (Layout's `input_file_name` queries)
    * keep reading [[documents]] directly. */
  def documentsWide(spark: SparkSession, sfDir: String): DataFrame =
    fanOut(documents(spark, sfDir))

  /** Deterministic token-transfer fact view over `events` (FIXTURES.md §C).
    *
    * Mirrors the reference's transfer schema
    * (reference: databases/Arango.scala:27-39): sender, receiver, token
    * contract, block, log index, amount, epoch-second timestamp. The mapping
    * is pure arithmetic so the DuckDB oracle can derive the identical view
    * (see [[Oracle.transfersCte]]).
    */
  def transfers(spark: SparkSession, sfDir: String): DataFrame =
    events(spark, sfDir).select(
      col("user_id").cast("string").as("from_address"),
      ((col("user_id") * 7 + col("event_id")) % 1000).cast("string").as("to_address"),
      col("event_type").as("contract_address"),
      col("event_id").as("block_number"),
      (col("event_id") % 100).as("log_index"),
      col("value"),
      col("ts_sec").as("transact_at"))

  /** Token whose analytics the per-token queries compute (the reference loops
    * over a hard-coded token list, reference: constants/Common.scala:4-10;
    * our grouped queries instead keep `contract_address` as a grouping column
    * — scale note SURVEY.md §7.4.6 — but single-token variants exercise
    * predicate pushdown). */
  val FocusToken = "purchase"

  /** Whale balance threshold: stands in for circulatingSupply × threshold the
    * reference fetches from Coingecko per token
    * (reference: common/Coingecko.scala:50-55,
    * src/main/scala/etl/WalletEnricher.scala:24-25). Modeled as a constant
    * lookup so the oracle can repeat it. */
  val WhaleThreshold = 150.0

  /** Holder threshold (reference: constants, holder flag
    * src/main/scala/etl/BaseEnricher.scala:141-155). */
  val HolderThreshold = 100.0

  /** Wallet-cluster bucket bounds (reference: constants/Common.scala:14-15:
    * <10 LOW, [10,20) MEDIUM, >=20 HIGH). */
  val ClusterLow = 10
  val ClusterHigh = 20

  /** Literal dapp registry: stands in for the reference's multiline-JSON dapp
    * source (reference: src/main/scala/etl/DappEnricher.scala:29,
    * utils/Extract0x38Dapp.scala:12-43). Each dapp owns a set of contract
    * addresses; transfers whose counterparty is in the set count as dapp
    * interactions. Mirrored verbatim in [[Oracle.dappsCte]]. */
  val DappRegistry: Seq[(String, String, Seq[String])] = Seq(
    ("d01", "AlphaSwap", Seq("1", "8", "15", "103", "204", "305", "406")),
    ("d02", "BetaLend",  Seq("22", "33", "44", "155", "266", "377", "488")),
    ("d03", "GammaNft",  Seq("5", "55", "505", "550", "555")),
    ("d04", "DeltaDao",  Seq("7", "77", "177", "277", "777", "877", "977")),
    ("d05", "EpsBridge", Seq("12", "120", "212", "312", "412", "512", "612", "712")))

  def dapps(spark: SparkSession): DataFrame = {
    import spark.implicits._
    DappRegistry.toDF("dapp_id", "dapp_name", "addresses")
  }

  /** Dapp images with gaps — exercises null-fill defaulting (reference:
    * src/main/scala/etl/DappEnricher.scala:47-48). Mirrored in oracle SQL. */
  val DappImages: Seq[(String, Option[String])] = Seq(
    ("d01", Some("alpha.png")),
    ("d02", None),
    ("d03", Some("gamma.png")),
    ("d04", None),
    ("d05", Some("eps.png")))
}
