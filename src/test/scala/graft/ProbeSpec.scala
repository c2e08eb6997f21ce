package graft

import org.apache.spark.ListenerBusAccess
import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}
import org.scalatest.funsuite.AnyFunSuite

/** [[tools.Probe]] on the fixture: one record per pass, whose stage
  * totals are exactly the [[tools.StageAudit]] rows under the pass's
  * label and whose rounds are the pass's actions, the `--plans` file,
  * and micro-batch phases for a bounded stream query. */
class ProbeSpec extends AnyFunSuite {
  lazy val spark = GraftSpark.spark

  /** Actions of one q_coreness pass on the fixture: the initial cut, 2
    * h-index rounds (the state fits one partition, so the first settles
    * it and the second confirms) and the final count. */
  private val CorenessActions = 4

  private def probed(q: String, opts: tools.Probe.Opts = tools.Probe.Opts())(
      check: (tools.Probe, Seq[tools.Probe.Record]) => Unit): Unit = {
    val probe = new tools.Probe(spark, GraftSpark.Sf, opts)
    try check(probe, probe.query(q, SparkEntry.queries(q)))
    finally probe.close()
  }

  test("q_coreness: each pass's record totals exactly its label's stage rows") {
    val sc = spark.sparkContext
    val stages = new java.util.concurrent.atomic.AtomicInteger
    val counter = new SparkListener {
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
        stages.incrementAndGet()
    }
    val planDir = util.TempDirs.staging("graft_probe_plans")
    ListenerBusAccess.drain(sc)
    sc.addSparkListener(counter)
    try probed("q_coreness", tools.Probe.Opts(plans = Some(planDir.toString))) {
        (probe, recs) =>
      ListenerBusAccess.drain(sc)
      assert(recs.map(_.pass) == Seq("cold", "warm1"))
      recs.foreach { r =>
        assert(r.ok, r.label)
        assert(r.rows.nonEmpty && r.rows.forall(_.label == r.label))
        assert(r.metric("sched.stages") == r.rows.size)
        assert(r.metric("sched.tasks") == r.rows.map(_.tasks).sum)
        assert(r.json.contains(s""""sched.stages":${r.rows.size},"""))
        // one executed plan per action: the cut, every round, the count
        assert(r.actionPlans.size == CorenessActions, r.label)
        assert(r.shapes.map(_._2).sum == CorenessActions, r.label)
        assert(r.json.contains(
          s""""rounds":{"actions":$CorenessActions,"shapes":${r.shapes.size},"""))
        // a round is a hash exchange and a partition sweep: nothing sorts
        assert(r.actionPlans.forall(!_.contains("SortAggregate")), r.label)
      }
      // no row under a pass's label arrived after its record was built,
      // and the records account for every stage the query ran
      assert(!probe.audit.drainRows().exists(row => recs.exists(_.label == row.label)))
      assert(recs.map(_.rows.size).sum == stages.get)
      val plan = java.nio.file.Files.readString(planDir.resolve("q_coreness.txt"))
      assert(plan.contains("== Physical Plan =="), plan.take(200))
    } finally sc.removeSparkListener(counter)
  }

  test("q_stream_dedup: the record carries its micro-batches") {
    probed("q_stream_dedup") { (_, recs) =>
      assert(recs.size == 2)
      recs.foreach { r =>
        assert(r.ok, r.label)
        assert(r.metric("stream.batches") >= 1, r.json)
        assert(r.json.contains("\"stream.state_commit_ms\":"))
        // its checkpoint, state store and memory sink write fork-free; a
        // cloned session's artifact cleanup may `rm -rf` whenever GC runs
        assert(r.json.contains(
          s""""io.process_starts":${r.processStarts.size},"""), r.json)
        assert(LocalIoSpec.fileSystemForks(r.processStarts).isEmpty,
          r.processStarts.mkString("; "))
      }
    }
  }

  test("the command line takes a regex, --plans and repeated --conf only") {
    val (re, opts) = tools.Probe.parse(Seq("^q_(a|b)$", "--plans", "out",
      "--conf", "spark.sql.shuffle.partitions=8", "--conf", "k = v"))
    assert(re.findFirstIn("q_b").isDefined && re.findFirstIn("q_c").isEmpty)
    assert(opts == tools.Probe.Opts(Some("out"),
      Map("spark.sql.shuffle.partitions" -> "8", "k" -> "v")))
    for (bad <- Seq(Seq("--plans", "out"), Seq("^q$", "--passes", "3"),
        Seq("^q$", "--conf", "novalue")))
      intercept[IllegalArgumentException](tools.Probe.parse(bad))
  }
}
