package graft

import graft.sources.{OrcFormat, TextIntake}
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

/** ORC + raw-text format parity: round trips are lossless (including the
  * adversarial escape corners no synthetic corpus contains), and the ORC
  * stage really partitions by event type. */
class SourcesFormatSpec extends AnyFunSuite {
  private lazy val spark = GraftSpark.spark
  import spark.implicits._

  test("text shards round-trip the documents table exactly") {
    val back = TextIntake.docsRoundTrip(spark, GraftSpark.Sf)
      .as[(Long, String, String, String)].collect().toSeq
    val orig = Tables.documents(spark, GraftSpark.Sf)
      .select("doc_id", "lang", "source", "text").orderBy("doc_id")
      .as[(Long, String, String, String)].collect().toSeq
    assert(back == orig)
  }

  test("escape discipline survives adversarial field content") {
    // the corner the chained-replace decoder gets wrong: a literal
    // backslash before 't' must NOT come back as a tab — plus embedded
    // tab/newline/CR (which would misframe or split lines), runs of
    // backslashes, and escape-lookalike sequences
    val nasty = Seq(
      (1L, "en", "web", "a\\tb"),            // literal backslash then 't'
      (2L, "en", "web", "tab\there"),        // real tab
      (3L, "en", "web", "line\nbreak"),      // real newline
      (4L, "en", "web", "cr\rhere"),         // lone CR (Hadoop line split)
      (5L, "en", "web", "back\\\\slash\\"),  // backslash runs, trailing
      (6L, "en", "web", "\\n\\t\\r\\\\"),    // lookalikes, all escapes
      (7L, "e\tn", "w\nb", ""),              // metadata fields + empty text
      (8L, "en", "web", "plain"))
    val dir = util.TempDirs.staging("graft_text_spec")
    val df = nasty.toDF("doc_id", "lang", "source", "text")
      .withColumn("n_chars", length(col("text")).cast("long"))
    // stage() reads Tables.documents; drive the same esc/frame path by
    // writing through a staged parquet layout that Tables can read
    df.write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val shards = TextIntake.stage(spark, dir.toString)
    val back = TextIntake.parsed(spark, shards).orderBy("doc_id")
      .as[(Long, String, String, String)].collect().toSeq
    assert(back == nasty, back.mkString("\n"))
  }

  test("orc stage partitions by event type and round-trips values") {
    val stage = OrcFormat.stage(spark, GraftSpark.Sf)
    // partition pruning surface: one subdirectory per event type
    val dirs = new java.io.File(stage).listFiles()
      .filter(_.isDirectory).map(_.getName).sorted
    assert(dirs.toSeq == Seq("event_type=click", "event_type=error",
      "event_type=purchase", "event_type=signup", "event_type=view"))
    // full-table round trip (all partitions, not just the pruned witness)
    val back = OrcFormat.read(spark, stage)
      .select("event_id", "ts", "user_id", "event_type", "value")
      .orderBy("event_id")
      .as[(Long, Long, Long, String, Option[Double])].collect().toSeq
    val orig = Tables.events(spark, GraftSpark.Sf)
      .select("event_id", "ts", "user_id", "event_type", "value")
      .orderBy("event_id")
      .as[(Long, Long, Long, String, Option[Double])].collect().toSeq
    assert(back == orig)
  }

  test("schema-evolution merge: union schema, NULLs exactly on v1 rows") {
    val merged = graft.sources.SchemaEvolution.mergedDocs(spark, GraftSpark.Sf)
    assert(merged.columns.toSeq ==
      Seq("doc_id", "text", "lang", "source", "n_chars"))
    val rows = merged
      .select(col("doc_id"), col("source").isNull.as("s_null"),
        col("n_chars").isNull.as("n_null"))
      .as[(Long, Boolean, Boolean)].collect()
    assert(rows.nonEmpty)
    // v1 batch (even ids) predates source/n_chars → NULL there, and ONLY there
    assert(rows.forall { case (id, sNull, nNull) =>
      (sNull == (id % 2 == 0)) && (nNull == (id % 2 == 0)) })
    // shared columns round-trip for every row of both generations
    val back = merged.select("doc_id", "text", "lang").orderBy("doc_id")
      .as[(Long, String, String)].collect().toSeq
    val orig = Tables.documents(spark, GraftSpark.Sf)
      .select("doc_id", "text", "lang").orderBy("doc_id")
      .as[(Long, String, String)].collect().toSeq
    assert(back == orig)
  }

  test("pruned orc read keeps only the filtered partition") {
    val stage = OrcFormat.stage(spark, GraftSpark.Sf)
    val pruned = OrcFormat.read(spark, stage)
      .filter(col("event_type") === "purchase")
    assert(pruned.select("event_type").distinct().as[String]
      .collect().toSeq == Seq("purchase"))
    // the physical plan's scan must carry the partition filter (pruning
    // happens at file listing, before any I/O)
    val plan = pruned.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") &&
      plan.contains("event_type"), plan)
  }

  test("binaryFile intake round-trips every document payload byte-exactly") {
    val got = graft.sources.BinaryIntake.intake(spark, GraftSpark.Sf)
      .as[(Long, Long, String)].collect().toSeq
    val expect = Tables.documents(spark, GraftSpark.Sf)
      .select("doc_id", "text").as[(Long, String)].collect().toSeq
      .map { case (id, text) =>
        val bytes = Option(text).getOrElse("").getBytes("UTF-8")
        (id, bytes.length.toLong,
          java.security.MessageDigest.getInstance("MD5")
            .digest(bytes).map("%02x".format(_)).mkString)
      }.sortBy(_._1)
    assert(got == expect)
    assert(got.nonEmpty)
    // the read really is the binaryFile source, not a parquet shortcut
    val frame = graft.sources.BinaryIntake.read(spark,
      graft.sources.BinaryIntake.stage(spark, GraftSpark.Sf))
    assert(frame.schema.fieldNames.toSet ==
      Set("path", "modificationTime", "length", "content"))
  }
}
