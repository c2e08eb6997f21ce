package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    // driver contract: (sfDir, outDir). Optional third arg (dev only): a
    // regex — only matching query names run (oracle_sql.json still gets
    // every entry, so selfcheck.py can compare the subset that was dumped).
    // The sentinel `@core` expands to SparkEntry.CoreQueries (one witness
    // per operator family — fast iteration; round closes run the full set).
    val sfDir = args(0); val outDir = args(1)
    val only = args.lift(2)
      .map {
        case "@core" => SparkEntry.CoreQueries.mkString("^(", "|", ")$")
        case re => re
      }.map(_.r)
    val spark = Session.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt)
    new java.io.File(outDir).mkdirs()
    var ok = 0
    val failed = scala.collection.mutable.ArrayBuffer.empty[String]
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.findFirstIn(name).isDefined) }
      .foreach { case (name, fn) =>
      try {
        fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        ok += 1
      } catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        failed += name
      }
      // drop this query's query-local caches before the next one runs —
      // over 288 queries the dead entries' eviction pressure measurably
      // slows later queries (Shared frames stay) — and unload the dead
      // state-store providers bounded stream runs leave registered
      ops.QueryLocal.release(spark)
      streaming.StreamState.unloadQuietly()
      // the result parquet is already written, so the query's stream
      // scratch dirs (sink + checkpoint) are garbage — sweep them
      util.TempDirs.sweep()
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
    // one summary line naming every query that threw (stdout, last line)
    println(s"""{"ok":$ok,"failed":${failed.size},"failed_names":""" +
      failed.map(q).mkString("[", ",", "]") + "}")
  }
}
