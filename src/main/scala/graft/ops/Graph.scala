package graft.ops

import scala.util.control.NonFatal
import org.apache.spark.sql.{Column, DataFrame, Encoders, Observation, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, StructField, StructType}
import org.apache.spark.storage.StorageLevel

/** How iterative algorithms cut lineage between rounds (a persist alone
  * truncates re-computation but not the logical plan, which otherwise grows
  * exponentially with iterations and OOMs the driver stringifying it).
  *
  * One policy, decided in [[reliable]]: a reliable `checkpoint()` to the
  * SparkContext's checkpoint directory when one is set AND the master is
  * not local; `localCheckpoint` otherwise. A reliable cut survives
  * executor loss, which is what a real cluster (the 100 TB target) needs.
  * A local cut keeps its blocks in executor storage: no extra write, but
  * an executor loss fails the computation. On a local master the
  * executors ARE the driver JVM, so a reliable checkpoint survives nothing
  * a local block doesn't (JVM death kills the query either way) and its
  * per-round write would be pure overhead: measured at sf0.1, the
  * iterative graph queries (MIS, alt-star CC, HITS, PageRank) spent most
  * of their wall time on exactly that. Every graft session is local and
  * sets no checkpoint dir, so it always cuts locally.
  */
object LineageCut {
  private lazy val log = org.slf4j.LoggerFactory.getLogger(getClass)

  private def reliable(df: DataFrame): Boolean = {
    val sc = df.sparkSession.sparkContext
    sc.getCheckpointDir.isDefined && !sc.isLocal
  }

  /** Eager lineage cut of `df`. */
  def cut(df: DataFrame): DataFrame = cutAs(df, reliable(df), Nil)._1

  /** Deterministically drop the storage of a frame previously returned by
    * [[cut]]/[[cutCounted]] once it has been superseded and every consumer
    * has materialized. Local-checkpoint blocks live at RDD level, which
    * `Dataset.unpersist`/the CacheManager never see — without this, every
    * round of every iterative algorithm stays cached until a GC lets the
    * ContextCleaner notice the dead reference. Accumulated over a
    * ~300-query session that is real eviction pressure, and on a long-lived
    * cluster job it is executor-storage leak. Calls only on truly
    * superseded frames: a released local checkpoint CANNOT recompute
    * (lineage is truncated), so a use-after-release fails loudly rather
    * than corrupting results. Reliable-checkpoint frames are file-backed;
    * for them this is a no-op. */
  // RDD.unpersist logs a WARN for every released local checkpoint
  // ("lineage has been truncated and cannot be recomputed") — for this
  // pattern that is the POINT, not a surprise (use-after-release raises,
  // it doesn't limp through the log). One WARN per round per query is
  // pure noise; silence that single logger, once per JVM.
  private lazy val silenceUnpersistWarn: Unit =
    try org.apache.logging.log4j.core.config.Configurator.setLevel(
      "org.apache.spark.rdd.MapPartitionsRDD",
      org.apache.logging.log4j.Level.ERROR)
    catch { case NonFatal(_) => () }

  def release(df: DataFrame): Unit =
    try {
      silenceUnpersistWarn
      df.queryExecution.analyzed.foreach {
        case lr: org.apache.spark.sql.execution.LogicalRDD =>
          try lr.rdd.unpersist(false) catch { case NonFatal(_) => () }
        case _ => ()
      }
    } catch { case NonFatal(_) => () }

  /** [[cut]] plus the frame's row count, computed from the SAME
    * materialization instead of a separate action afterwards — iterative
    * algorithms need the count every round for their convergence test, and
    * a tiny frame's per-round cost is all job-scheduling overhead, so one
    * fewer job per round is a real win (alt-star CC runs 3 actions/round
    * without this, 2 with). A read of [[cutObserved]]'s `n`. */
  def cutCounted(df: DataFrame): (DataFrame, Long) = {
    val (out, m) = cutObserved(df, Seq(count(lit(1)).as("n")))
    (out, m("n").asInstanceOf[Long])
  }

  /** Observation breaker. Tripped by one await timeout (polling 2 s per
    * call on a session where metrics never arrive would cost far more
    * than the saved aggregate jobs) or by three consecutive SLOW
    * (>500 ms) metric awaits (bus lag pricier than the ~30-60 ms
    * aggregate job this replaces). Round 12: the trip is a COOLDOWN, not
    * a JVM-wide kill — on this box the likeliest trip cause is a
    * transient co-tenant burst, and the r11 shape (disable forever) let
    * one early spike silently degrade every later iterative query of a
    * 341-query session to the extra-aggregate-job shape. After
    * [[observeCooldownNanos]] the breaker re-arms automatically (logged),
    * so a burst costs at most one 2 s wait per cooldown window and
    * recovery is self-evidencing in the session log. */
  private[graft] var observeCooldownNanos: Long = 60L * 1000 * 1000 * 1000
  @volatile private var observeDisabledUntil = 0L // 0 = armed
  @volatile private var slowAwaits = 0
  /** Armed state, with the re-arm side effect: first check past the
    * cooldown deadline flips the breaker back on and logs it. */
  private[graft] def observeArmed: Boolean = {
    val until = observeDisabledUntil
    if (until == 0L) true
    else if (System.nanoTime() - until >= 0) { // overflow-safe compare
      observeDisabledUntil = 0L
      slowAwaits = 0
      log.warn("cutObserved: observation RE-ARMED after cooldown — " +
        "convergence metrics ride the materialization again")
      true
    } else false
  }
  private def disableObservation(reason: String): Unit = {
    observeDisabledUntil = System.nanoTime() + observeCooldownNanos
    slowAwaits = 0
    log.warn("cutObserved: observation disabled for " +
      s"${observeCooldownNanos / 1e9} s — $reason (re-arms automatically)")
  }
  private[graft] def tripObservationForTest(): Unit =
    disableObservation("test trip")

  /** [[cut]] plus aggregate `metrics` collected DURING the materialization
    * job via `Dataset.observe` — iterative algorithms read a convergence
    * statistic every round, and computing it as a side effect of the
    * round's one materialization action removes a whole scan job per
    * round (the count job [[cutCounted]] used to run over the
    * just-cached blocks; ~40 driver-scheduled jobs per q_scc pass, each
    * with fixed submission overhead, made that a real tax at small SF —
    * and one fewer action per round is equally free at cluster scale).
    *
    * The returned map always holds every requested key, valued as
    * `df.agg(metrics)` would value it (so null for a max or sum over zero
    * rows). When observation is off or its metrics do not arrive
    * (observation listeners ride the async listener bus; a bounded await
    * covers normal delivery), the metrics are computed by one aggregate
    * job over the cut frame: correct, one job slower. One await timeout,
    * or three consecutive >500 ms awaits (bus lag pricier than the job
    * this saves), disables observation for a cooldown window, after
    * which the breaker re-arms itself (see [[observeArmed]] — a
    * transient co-tenant burst must not tax the rest of the session). */
  def cutObserved(df: DataFrame,
      metrics: Seq[Column]): (DataFrame, Map[String, Any]) =
    cutAs(df, reliable(df), metrics)

  /** The one materialization behind [[cut]] (no `metrics`) and
    * [[cutObserved]], on the branch `reliable` names; the public calls
    * pass the policy's answer, specs pass `true` to drive the reliable
    * branch on a local master. A plain reliable cut is one eager
    * `checkpoint(true)`, whose one write job computes the frame once; an
    * observed one runs the cache-fill count first, so it persists before
    * checkpointing and the writer reads the cache that count filled,
    * never the frame's subtree a second time. */
  private[graft] def cutAs(df: DataFrame, reliable: Boolean,
      metrics: Seq[Column]): (DataFrame, Map[String, Any]) = {
    val obs =
      if (metrics.nonEmpty && observeArmed) Some(Observation()) else None
    val in = obs.fold(df)(df.observe(_, metrics.head, metrics.tail: _*))
    val out =
      if (!reliable) in.localCheckpoint(true)
      else if (obs.isEmpty) in.checkpoint(true)
      else {
        val cached = in.persist(StorageLevel.MEMORY_AND_DISK)
        cached.count()
        val o = cached.checkpoint(true)
        cached.unpersist(false)
        o
      }
    val m = obs.flatMap(awaitMetrics).getOrElse(
      if (metrics.isEmpty) Map.empty[String, Any]
      else valuesOf(out.agg(metrics.head, metrics.tail: _*).first()))
    (out, m)
  }

  private def valuesOf(row: Row): Map[String, Any] =
    row.getValuesMap[Any](row.schema.fieldNames.toIndexedSeq)

  private def awaitMetrics(obs: Observation): Option[Map[String, Any]] = {
    val t0 = System.nanoTime()
    try {
      val row = scala.concurrent.Await.result(obs.future,
        scala.concurrent.duration.Duration(2, "s"))
      val awaitMs = (System.nanoTime() - t0) / 1000000
      if (awaitMs > 500) { slowAwaits += 1; if (slowAwaits >= 3)
        disableObservation(s"$slowAwaits consecutive slow metric awaits " +
          s"(last ${awaitMs}ms) — listener bus lag exceeds the cost of " +
          "the aggregate job this replaces")
      } else slowAwaits = 0
      Some(valuesOf(row))
    } catch { case _: java.util.concurrent.TimeoutException =>
      disableObservation("metric await timed out after 2 s")
      None
    }
  }
}

/** Distributed connected components by iterative min-label propagation —
  * the "last mile" of near-duplicate removal: candidate pairs (MinHash/
  * SimHash/embedding) form an undirected graph; each component keeps one
  * canonical document (its minimum id) and drops the rest.
  *
  * Each iteration is one equi-join + min-aggregation (both map-side
  * combinable), so a round costs O(|E|) shuffled bytes and the loop runs
  * `diameter` rounds — near-dup graphs are overwhelmingly tiny cliques, so
  * 2-3 rounds converge. The driver-side loop holds only the convergence
  * COUNT (a scalar per round), never data — the same legitimate iterative
  * shape as the k-means trainer. Deterministic: min() labels make the
  * result independent of partitioning and join order, so the whole
  * computation is reproducible in a DuckDB recursive CTE.
  */
object Graph {

  /** Component label (= minimum reachable id) for every vertex of `edges`
    * (columns `src`, `dst`; undirected). Vertices only appear if they have
    * at least one edge — isolated documents are their own keeper by
    * definition and never enter the graph.
    *
    * Every round's result is lineage-cut eagerly (see [[LineageCut]]): a
    * persist alone truncates RE-COMPUTATION but not the LOGICAL plan, and
    * each round references the previous one several times, so the
    * un-checkpointed plan tree grows exponentially with iterations (the
    * standard failure mode of iterative DataFrame algorithms; driver OOMs
    * stringifying the plan long before any data moves). Cluster sessions
    * that set a checkpoint dir get reliable `checkpoint()` and survive
    * executor loss; local-master sessions use `localCheckpoint` (identical
    * failure domain, none of the per-round write cost). */
  def connectedComponents(edges: DataFrame, maxIter: Int = 20): DataFrame = {
    // checkpoint the edge list before symmetrizing: the union references it
    // twice, and the caller's edge plan (an LSH candidate generation, say)
    // is usually the most expensive subtree in sight
    val e = LineageCut.cut(edges.select(col("src"), col("dst")))
    val sym = e
      .unionByName(e.select(col("dst").as("src"), col("src").as("dst")))
      .distinct()
      .persist(StorageLevel.MEMORY_AND_DISK)
    try {
      var labels = LineageCut.cut(
        sym.select(col("src").as("id")).distinct()
          .withColumn("label", col("id")))
      var converged = false
      var i = 0
      val lType = labels.schema("label").dataType
      while (!converged && i < maxIter) {
        // One union-agg pass per round (the SCC coloring shape): new
        // label = min over (self ∪ neighbor labels) with the PREVIOUS
        // label riding through the agg as `old` (each id contributes
        // exactly one self row — sym's src set IS the label universe),
        // so the round runs one join + one aggregation and the change
        // flag needs no second join. The convergence statistic rides the
        // materialization action itself (cutObserved) — zero extra jobs.
        val prop = sym
          .join(labels.withColumnRenamed("id", "dst"), Seq("dst"))
          .select(col("src").as("id"), col("label"),
            lit(null).cast(lType).as("old"))
        val self = labels.select(col("id"), col("label"),
          col("label").as("old"))
        val (updated, m) = LineageCut.cutObserved(
          prop.unionByName(self).groupBy("id")
            .agg(min(col("label")).as("label"), max(col("old")).as("old")),
          Seq(max(when(col("label") < col("old"), lit(1)).otherwise(lit(0)))
            .as("chg")))
        LineageCut.release(labels) // superseded round (the cut above consumed it)
        labels = updated.select("id", "label")
        converged = m("chg") == null || m("chg") == 0
        i += 1
      }
      // an unconverged result is silently WRONG (multiple keepers inside
      // one duplicate cluster) — fail loudly instead
      if (!converged) throw new IllegalStateException(
        s"connectedComponents: not converged after $maxIter iterations — " +
          "a component's diameter exceeds maxIter; raise it")
      labels
    } finally sym.unpersist()
  }

  /** K-core decomposition (fixed k): iteratively peel vertices of degree
    * < k until the remaining subgraph — the k-core — is stable; returns
    * each surviving vertex with its within-core degree. The density filter
    * graph pipelines run before expensive per-vertex work (a vertex outside
    * the 3-core cannot sit in a dense fraud/community structure).
    *
    * The loop maintains the LIVE EDGE set (edges with both endpoints still
    * alive) and shrinks it monotonically — each round is one
    * map-side-combinable degree count plus two semi-joins on the pruned
    * vertex set, O(|live edges|) per round, with [[LineageCut]] cutting the
    * growing plan exactly like the CC loop. Convergence is an edge-count
    * equality (a scalar per round, data never reaches the driver).
    *
    * `maxIter` doubles as the ORACLE CONTRACT: the DuckDB mirror unrolls
    * exactly `maxIter` peel rounds, which are no-op filters once the loop
    * has converged — so a converged result matches the oracle bit-for-bit,
    * and an unconverged one fails loudly. `symmetricInput`: `edges` is
    * already symmetric and distinct (skips a full union-distinct shuffle). */
  def kCore(edges: DataFrame, k: Int = 3, maxIter: Int = 8,
      symmetricInput: Boolean = false): DataFrame = {
    val e = LineageCut.cut(
      edges.select(col("src"), col("dst")).filter(col("src") =!= col("dst")))
    val sym =
      (if (symmetricInput) e
       else e.unionByName(e.select(col("dst").as("src"), col("src").as("dst")))
         .distinct())
        .persist(StorageLevel.MEMORY_AND_DISK)
    try {
      var (live, nLive) = LineageCut.cutCounted(sym)
      var converged = false
      var i = 0
      while (!converged && i < maxIter) {
        val keep = live.groupBy(col("src").as("v"))
          .agg(count(lit(1)).as("deg"))
          .filter(col("deg") >= k)
          .select("v")
        val (pruned, nPruned) = LineageCut.cutCounted(
          live
            .join(keep.select(col("v").as("src")), Seq("src"), "left_semi")
            .join(keep.select(col("v").as("dst")), Seq("dst"), "left_semi")
            .select("src", "dst"))
        converged = nPruned == nLive
        LineageCut.release(live) // superseded round
        live = pruned
        nLive = nPruned
        i += 1
      }
      if (!converged) throw new IllegalStateException(
        s"kCore: peeling not stable after $maxIter rounds — raise maxIter " +
          "AND the oracle's unroll count together")
      live.groupBy(col("src").as("v"))
        .agg(count(lit(1)).as("core_degree"))
        .orderBy("v")
    } finally sym.unpersist()
  }

  /** Highest core number [[coreness]] resolves exactly. */
  val CorenessMax = 4

  /** Round bound of [[coreness]]'s h-index loop and the peel-round
    * unroll count per tier of its oracle. A path loses one vertex per end
    * per round (in both), so this is deliberately above [[kCore]]'s. */
  val CorenessPeelRounds = 24

  /** Per-vertex core numbers capped at [[CorenessMax]] (the oracle
    * contract: its DuckDB mirror unrolls the peel of tiers 2..4), 1 for
    * any vertex with a non-loop edge. The capped h-index iteration
    * (Montresor et al., IEEE TPDS 2013; Lü et al., Nature Comms 2016):
    * est starts at min(degree, [[CorenessMax]]); an update sets est(v) =
    * min(est(v), h), h = the largest j such that ≥ j neighbours have
    * est ≥ j. Capping commutes with the h-operator (h_K(min(x, K)) =
    * min(K, h(x))), and the operator reaches the same fixpoint under any
    * asynchronous update order, so the loop settles at exactly
    * min(coreness, [[CorenessMax]]) at any partitioning.
    *
    * A round is a block Gauss-Seidel step: one hash exchange on v builds
    * every vertex's inbox (each neighbour's est, plus its own under
    * u = v; no aggregate, so nothing sorts: an object hash aggregate
    * falls back to sorting past 128 keys per task), then each partition
    * applies the update to its own vertices until none drops
    * ([[settleCoreness]]) — a neighbour in the partition is read from the
    * sweep's current values, any other from the inbox. Estimates only
    * fall, so an inbox value is an upper bound and every estimate is at
    * or below its Jacobi value at the same round: the loop never runs
    * more rounds than one update per vertex per round would, and a round
    * in which nothing drops is the global fixpoint. Rounds fall only as
    * far as partitions are local: a graph that fits one partition settles
    * in the first round (the second confirms it), while hash-scattered
    * vertices read mostly stale inbox values and take nearly the Jacobi
    * count. The change count is observed on the round's one cut. Memory:
    * a task holds its partition's vertex rows with their inboxes, O(the
    * partition's edges). */
  def coreness(edges: DataFrame,
      symmetricInput: Boolean = false): DataFrame = {
    val e = edges.select("src", "dst").filter(col("src") =!= col("dst"))
    val sym = if (symmetricInput) e
      else e.unionByName(e.select(col("dst").as("src"), col("src").as("dst")))
        .distinct()
    var state = LineageCut.cut(sym.groupBy(col("src").as("v"))
      .agg(collect_list(col("dst")).as("nbrs"))
      .withColumn("est", least(size(col("nbrs")), lit(CorenessMax))))
    val out = StructType(state.schema.fields :+
      StructField("old", IntegerType, false))
    var converged = false
    var i = 0
    while (!converged && i < CorenessPeelRounds) {
      // every neighbour's est to v, and v's own under u = v
      val inbox = state
        .select(explode(col("nbrs")).as("v"), col("v").as("u"), col("est"))
        .unionByName(state.select(col("v"), col("v").as("u"), col("est")))
        .repartition(col("v"))
      val (next, m) = LineageCut.cutObserved(
        inbox.mapPartitions(settleCoreness _)(Encoders.row(out)),
        Seq(sum(when(col("est") < col("old"), 1).otherwise(0)).as("chg")))
      LineageCut.release(state) // superseded round (the cut above consumed it)
      state = next.select("v", "nbrs", "est")
      converged = m("chg") == null || m("chg") == 0L
      i += 1
    }
    if (!converged) throw new IllegalStateException(
      s"coreness: not stable after $CorenessPeelRounds rounds — raise " +
        "CorenessPeelRounds AND the oracle's unroll count together")
    state.select(col("v"), col("est").cast("bigint").as("coreness"))
      .orderBy("v")
  }

  /** One [[coreness]] round over a partition of inbox rows (v, u, est)
    * to its local fixpoint: a worklist applies est(v) = min(est(v), h)
    * and re-queues a dropped vertex's neighbours in the partition. Emits
    * (v, nbrs, est, old), old = the vertex's own (u = v) entry. */
  private def settleCoreness(rows: Iterator[Row]): Iterator[Row] = {
    import scala.collection.mutable.ArrayBuffer
    val at = new java.util.HashMap[Any, Int]
    val ids = ArrayBuffer.empty[Any]
    val old = ArrayBuffer.empty[Int]
    val inbox = ArrayBuffer.empty[ArrayBuffer[(Any, Int)]]
    rows.foreach { r =>
      val v = r.get(0)
      var i = at.getOrDefault(v, -1)
      if (i < 0) {
        i = ids.size; at.put(v, i)
        ids += v; old += -1; inbox += ArrayBuffer.empty
      }
      if (r.get(1) == v) old(i) = r.getInt(2)
      else inbox(i) += r.get(1) -> r.getInt(2)
    }
    val n = ids.size
    // neighbour k of vertex i: its index in this partition, or -1 (remote)
    val local = Array.tabulate(n)(i =>
      inbox(i).map(e => at.getOrDefault(e._1, -1)).toArray)
    val est = old.toArray
    val queued = Array.fill(n)(true)
    val work = new java.util.ArrayDeque[Int](n)
    (0 until n).foreach(i => work.add(i))
    val atLeast = new Array[Int](CorenessMax + 1)
    while (!work.isEmpty) {
      val i = work.poll()
      queued(i) = false
      java.util.Arrays.fill(atLeast, 0)
      for (k <- local(i).indices) {
        val x = if (local(i)(k) >= 0) est(local(i)(k)) else inbox(i)(k)._2
        for (j <- 2 to math.min(x, CorenessMax)) atLeast(j) += 1
      }
      val h = 1 + (2 to CorenessMax).count(j => atLeast(j) >= j)
      if (h < est(i)) {
        est(i) = h
        local(i).foreach(k => if (k >= 0 && !queued(k)) {
          queued(k) = true; work.add(k) })
      }
    }
    Iterator.tabulate(n)(i =>
      Row(ids(i), inbox(i).map(_._1).toSeq, est(i), old(i)))
  }

  /** Per-vertex triangle counts by the ordered-join formulation: orient
    * every undirected edge small→large, join wedges (a<b, b<c) with closing
    * edges (a<c), credit each triangle to its three corners. Ordering makes
    * each triangle appear exactly once — no 6× duplication to dedup — and
    * caps join fan-out by out-degree under the orientation (the classic
    * MapReduce triangle trick: high-degree hubs become join TARGETS, not
    * sources). Both joins are equi-joins; work scales with wedge count. */
  def triangleCounts(edges: DataFrame): DataFrame = {
    // persisted, NOT unpersisted here: the returned frame is lazy and
    // references the oriented edge set three times — Spark's CacheManager
    // matches the canonicalized plan, so repeated calls share one copy
    val e = edges.filter(col("src") =!= col("dst"))
      .select(least(col("src"), col("dst")).as("a"),
        greatest(col("src"), col("dst")).as("b"))
      .distinct()
      .persist(StorageLevel.MEMORY_AND_DISK) // session-shared: several catalog queries build this same canonical edge frame (CacheManager dedupes); NOT QueryLocal — releasing after one query would cold-start the others
    val tri = e.select(col("a"), col("b"))
      .join(e.select(col("a").as("b"), col("b").as("c")), Seq("b"))
      .join(e.select(col("a"), col("b").as("c")), Seq("a", "c"))
    val corners = tri.select(col("a").as("v"))
      .unionByName(tri.select(col("b").as("v")))
      .unionByName(tri.select(col("c").as("v")))
    corners.groupBy("v").agg(count(lit(1)).as("n_triangles"))
  }

  /** PageRank by fixed-iteration power method over the directed edge set —
    * wallet importance on the transfer graph (who receives value from many
    * important senders), the classic whole-graph analytic the reference's
    * per-wallet aggregates cannot express.
    *
    * One iteration = one equi-join of ranks onto edges + one grouped sum —
    * O(|E|) shuffled bytes, the same per-round cost envelope as
    * [[connectedComponents]] — plus a one-row dangling-mass aggregate that
    * is broadcast, never a driver collect. Every round is lineage-cut
    * ([[LineageCut]]), so plans stay flat at any iteration count.
    *
    * Deterministic across engines and partitionings: per-vertex
    * contribution sums accumulate in DECIMAL(38,18) (order-independent),
    * and every scalar constant (1/N, teleport, damping) is a single
    * IEEE-double operation chain spelled identically in the DuckDB oracle.
    * Fixed iteration count rather than an epsilon stop: convergence
    * tolerance would compare doubles across engines; a fixed power-method
    * prefix is exactly reproducible.
    *
    * Returns (v, rank) for every vertex (union of srcs and dsts). */
  def pageRank(edges: DataFrame, iterations: Int = 3,
      alpha: Double = 0.85): DataFrame = {
    val e = LineageCut.cut(
      edges.select(col("src"), col("dst")).distinct())
    val deg = e.groupBy(col("src").as("v")).agg(count(lit(1)).as("deg"))
    // base carries each vertex's out-degree (null = dangling) so the loop
    // never re-joins the degree table; the vertex count rides base's one
    // materialization (cutCounted) instead of a second scan job
    val (base, n) = LineageCut.cutCounted(
      e.select(col("src").as("v"))
        .unionByName(e.select(col("dst").as("v")))
        .distinct()
        .join(deg, Seq("v"), "left"))
    powerIterate(base, "deg", lit(1.0 / n), iterations)(
      live => e.join(live.select(col("v").as("src"),
        (col("r") / col("deg")).as("c")), Seq("src")),
      dang => lit((1.0 - alpha) / n) +
        lit(alpha) * (coalesce(col("contrib"), lit(0.0)) + lit(dang / n)))
  }

  /** The power loop of [[pageRank]], [[pageRankWeighted]] and
    * [[pageRankPersonalized]]. `base` holds v, the out-degree or
    * out-weight column `deg` (null = dangling) and any column `rank`
    * reads; the initial ranks are `base` with `r = r0`. A round joins the
    * non-dangling ranks onto the edges (`share`: rows of dst and the
    * edge's contribution `c`), re-sums contributions in DECIMAL(38,18)
    * as `contrib`, and sets `r = rank(dang)` over `base`, where `dang` is
    * the previous round's dangling mass.
    *
    * The dangling mass is a DRIVER SCALAR: round k+1 needs the
    * decimal-exact dangling-rank sum of round k's output, which rides
    * round k's one cut as an observed metric (an earlier spelling
    * attached it as a one-row aggregate via crossJoin(broadcast(...)),
    * paying a SinglePartition exchange, an IdentityBroadcast, a
    * BroadcastNestedLoopJoin and a second scan of the ranks frame every
    * round). The literal is the same decimal-summed double folded
    * through the same IEEE ops, so ranks are bit-identical (the unrolled
    * oracle re-checks them). Round 1's mass is one aggregate over the
    * base-backed initial ranks; the final round's mass is never
    * consumed, so that round is not observed. */
  private def powerIterate(base: DataFrame, deg: String, r0: Column,
      iterations: Int)(share: DataFrame => DataFrame,
      rank: Double => Column): DataFrame = {
    val dangMass = expr(s"CAST(SUM(CASE WHEN $deg IS NULL THEN " +
      "CAST(r AS DECIMAL(38,18)) END) AS DOUBLE)").as("dang")
    val massOf = (v: Any) => if (v == null) 0.0 else v.asInstanceOf[Double]
    var ranks = base.withColumn("r", r0)
    var dang = massOf(ranks.agg(dangMass).first().get(0))
    for (it <- 1 to iterations) {
      val contribs = share(ranks.filter(col(deg).isNotNull))
        .groupBy(col("dst").as("v"))
        .agg(expr("CAST(SUM(CAST(c AS DECIMAL(38,18))) AS DOUBLE)")
          .as("contrib"))
      val updated = base.join(contribs, Seq("v"), "left")
        .select(base.columns.map(col) :+ rank(dang).as("r"): _*)
      val (next, m) =
        if (it < iterations) LineageCut.cutObserved(updated, Seq(dangMass))
        else (LineageCut.cut(updated), Map.empty[String, Any])
      // the initial ranks are base-backed: releasing them would drop base
      if (it > 1) LineageCut.release(ranks)
      ranks = next
      if (it < iterations) dang = massOf(m("dang"))
    }
    ranks.select(col("v"), col("r").as("rank"))
  }

  /** Bounded BFS: minimum hop distance from a seed set along directed
    * edges, up to `maxHops` rounds — "how many transfers separate each
    * wallet from a dapp contract", the reachability primitive next to
    * rank ([[pageRankPersonalized]]) and membership ([[connectedComponents]]).
    * Each round is one equi-join + grouped min + a `least` merge (all
    * map-side combinable, O(|E|)); rounds are lineage-cut. Returns only
    * vertices reached within the bound: (v, hops), hops ∈ [0, maxHops].
    * Pure integer min-plus arithmetic — deterministic everywhere. */
  def bfsHops(edges: DataFrame, seeds: DataFrame,
      maxHops: Int = 4): DataFrame = {
    val e = LineageCut.cut(
      edges.select(col("src"), col("dst")).distinct())
    relaxFromSeeds(e, seeds, lit(0), maxHops, "hops")(col("dist") + 1)
  }

  /** The seeded min-plus relaxation of [[bfsHops]],
    * [[weightedShortestPaths]] and [[temporalReachability]]: `dist` starts
    * at `seed` on the seeds of `seeds` (column `v`) and null elsewhere;
    * each of `rounds` rounds takes, per dst, the min `candidate` over the
    * edges of `e` whose src has a dist and which `admit`, and merges it
    * with `least` (which skips nulls). One equi-join + a map-side-
    * combinable grouped min + a left join back per round, O(|E|)
    * shuffled bytes; rounds lineage-cut. Returns the reached vertices as
    * (v, `out`). */
  private def relaxFromSeeds(e: DataFrame, seeds: DataFrame, seed: Column,
      rounds: Int, out: String)(candidate: Column,
      admit: Column = lit(true)): DataFrame = {
    val verts = e.select(col("src").as("v"))
      .unionByName(e.select(col("dst").as("v"))).distinct()
    var dist = LineageCut.cut(
      verts.join(broadcast(seeds.select(col("v")).distinct()
          .withColumn("d0", seed)), Seq("v"), "left")
        .select(col("v"), col("d0").as("dist")))
    for (_ <- 1 to rounds) {
      val nbr = e
        .join(dist.filter(col("dist").isNotNull)
          .select(col("v").as("src"), col("dist")), Seq("src"))
        .filter(admit)
        .groupBy(col("dst").as("v"))
        .agg(min(candidate).as("nd"))
      val next = LineageCut.cut(
        dist.join(nbr, Seq("v"), "left")
          .select(col("v"), least(col("dist"), col("nd")).as("dist")))
      LineageCut.release(dist) // superseded round (initial dist is its own cut)
      dist = next
    }
    dist.filter(col("dist").isNotNull).select(col("v"), col("dist").as(out))
  }

  /** Bounded-round WEIGHTED shortest paths — Bellman-Ford relaxation in
    * the min-plus semiring over integer edge weights. After round k,
    * `dist(v)` is the exact cheapest cost over paths of ≤ k edges; that
    * bounded-depth trajectory is the oracle contract (the same move as
    * [[bfsHops]], which this generalizes from weight≡1). Integer costs
    * mean every distance is exact BIGINT arithmetic — no float, ever.
    *
    * Per round: one equi-join keyed by src, one min-aggregation keyed by
    * dst, one left join back — O(|E|) shuffled bytes per round with
    * map-side-combining mins, rounds lineage-cut like every iterative op
    * in this module. `edges` must carry (src, dst, w≥0). */
  def weightedShortestPaths(edges: DataFrame, seeds: DataFrame,
      rounds: Int = 4): DataFrame = {
    val e = LineageCut.cut(edges.select(col("src"), col("dst"), col("w")))
    relaxFromSeeds(e, seeds, lit(0L), rounds, "cost")(col("dist") + col("w"))
  }

  /** Seed-based harmonic centrality: per vertex, Σ_seeds ⌊10⁶/d(seed, v)⌋
    * over the seeds that reach it within `rounds` directed hops (self
    * excluded). Harmonic — not closeness — because unreached seeds
    * contribute 0 instead of forcing an ∞/undefined sum, which is exactly
    * what makes the SAMPLED estimator well-defined; with md5-chosen seeds
    * it is the standard linear-time stand-in for exact closeness (O(V·E),
    * hopeless at scale). Per-seed contributions are integer `div` — exact
    * everywhere.
    *
    * The per-seed labeled BFS carries (v, seed) keyed state — |seeds|× the
    * [[bfsHops]] state, each round one equi-join + grouped min, rounds
    * lineage-cut. Seed count is the precision/cost knob. */
  def harmonicCentrality(edges: DataFrame, seeds: DataFrame,
      rounds: Int = 4): DataFrame = {
    val e = LineageCut.cut(
      edges.filter(col("src") =!= col("dst"))
        .select(col("src"), col("dst")).distinct())
    var dist = LineageCut.cut(
      seeds.select(col("v"), col("v").as("seed"), lit(0).cast("int").as("d")))
    for (_ <- 1 to rounds) {
      val nbr = e
        .join(dist.select(col("v").as("src"), col("seed"), col("d")),
          Seq("src"))
        .groupBy(col("dst").as("v"), col("seed"))
        .agg((min(col("d")) + 1).cast("int").as("d"))
      val next = LineageCut.cut(
        dist.unionByName(nbr)
          .groupBy("v", "seed").agg(min(col("d")).cast("int").as("d"))
          .select("v", "seed", "d"))
      LineageCut.release(dist) // superseded round
      dist = next
    }
    dist.filter(col("v") =!= col("seed"))
      .groupBy(col("v").as("address"))
      .agg(count(lit(1)).as("n_reached"),
        sum(expr("1000000 div d")).as("harmonic_ppm"))
      .orderBy("address")
  }

  /** Fixed-point scale for [[betweenness]] credits (ppm). */
  val BetweennessScale = 1000000L

  /** Seed-sampled, bounded-depth betweenness centrality — Brandes'
    * dependency accumulation restricted to shortest paths of ≤ `rounds`
    * hops from the seed set, with path-credit ratios QUANTIZED to integer
    * [[BetweennessScale]]-ppm at every accumulation step. Three standard
    * concessions make the O(V·E) exact algorithm scale-shaped and
    * oracle-checkable: sampled sources (the Brandes–Pich estimator),
    * bounded depth (like [[bfsHops]]), and fixed-point credits (float
    * `σᵤ/σ_w` sums are order-dependent; integer `div` at each step defines
    * a deterministic recursion both engines reproduce bit-exactly).
    *
    * Forward pass: per round, one equi-join + grouped σ-sum + an anti-join
    * (first-reached level wins, σ sums over all shortest parents).
    * Backward pass: per level, one DAG-edge join + grouped credit sum.
    * All joins keyed on (vertex, seed); rounds lineage-cut. */
  def betweenness(edges: DataFrame, seeds: DataFrame,
      rounds: Int = 4): DataFrame = {
    val dec = org.apache.spark.sql.types.DecimalType(38, 0)
    val e = LineageCut.cut(
      edges.filter(col("src") =!= col("dst"))
        .select(col("src"), col("dst")).distinct())
    var dist = LineageCut.cut(
      seeds.select(col("v"), col("v").as("seed"), lit(0).cast("int").as("d"),
        lit(1L).cast(dec).as("sigma")))
    for (i <- 1 to rounds) {
      val cand = e
        .join(dist.filter(col("d") === i - 1)
          .select(col("v").as("src"), col("seed"), col("sigma")), Seq("src"))
        .groupBy(col("dst").as("v"), col("seed"))
        .agg(sum(col("sigma")).cast(dec).as("sig"))
      val fresh = cand
        .join(dist.select("v", "seed"), Seq("v", "seed"), "left_anti")
        .select(col("v"), col("seed"), lit(i).cast("int").as("d"),
          col("sig").as("sigma"))
      val next = LineageCut.cut(dist.unionByName(fresh))
      LineageCut.release(dist) // superseded forward round
      dist = next
    }
    var prevQd = dist.filter(col("d") === rounds)
      .select(col("v"), col("seed"), lit(0L).cast(dec).as("qd"))
    var acc = prevQd
    for (l <- rounds - 1 to 1 by -1) {
      val u = dist.filter(col("d") === l)
        .select(col("v").as("src"), col("seed"), col("sigma").as("sig_u"))
      val wlev = dist.filter(col("d") === l + 1)
        .select(col("v").as("dst"), col("seed"), col("sigma").as("sig_w"))
      val qdw = prevQd.select(col("v").as("dst"), col("seed"),
        col("qd").as("qd_w"))
      val contrib = e
        .join(u, Seq("src"))
        .join(wlev, Seq("dst", "seed"))
        .join(qdw, Seq("dst", "seed"), "left")
        .select(col("src").as("v"), col("seed"),
          expr(s"CAST(sig_u * ($BetweennessScale + coalesce(qd_w, 0))" +
            " div sig_w AS DECIMAL(38,0))").as("term"))
      val lvl = dist.filter(col("d") === l).select("v", "seed")
        .join(contrib.groupBy("v", "seed").agg(sum(col("term")).as("s")),
          Seq("v", "seed"), "left")
        .select(col("v"), col("seed"),
          coalesce(col("s"), lit(0L)).cast(dec).as("qd"))
      prevQd = LineageCut.cut(lvl)
      acc = acc.unionByName(prevQd)
    }
    dist.filter(col("d") >= 1).select("v", "seed")
      .join(acc, Seq("v", "seed"), "left")
      .groupBy(col("v").as("address"))
      .agg(sum(coalesce(col("qd"), lit(0L).cast(dec))).cast("long")
        .as("betweenness_ppm"))
      .orderBy("address")
  }

  /** Ego-network density for a seed set: each seed's directed ego graph
    * (seed + out-neighbors), the edge count among its members, and the
    * density in exact ppm of the n·(n−1) possible directed edges. Dense
    * ego networks around high-throughput wallets are the "clique of
    * mutual traders" signature; sparse ones mark pure distributors. Cost:
    * two equi-joins keyed by (seed, member) — linear in the seeds'
    * neighborhood sizes, never |V|². */
  def egoDensity(edges: DataFrame, seeds: DataFrame): DataFrame = {
    val e = edges.filter(col("src") =!= col("dst"))
      .select(col("src"), col("dst")).distinct()
    val nbrs = seeds.select(col("v").as("seed"))
      .join(e, col("seed") === col("src"))
      .select(col("seed"), col("dst").as("m"))
      .unionByName(seeds.select(col("v").as("seed"), col("v").as("m")))
      .distinct()
    val sizes = nbrs.groupBy("seed").agg(count(lit(1)).as("n_nodes"))
    val within = e
      .join(nbrs.select(col("seed"), col("m").as("src")), Seq("src"))
      .join(nbrs.select(col("seed"), col("m").as("dst")), Seq("seed", "dst"))
      .groupBy("seed").agg(count(lit(1)).as("n_edges"))
    sizes.join(within, Seq("seed"), "left")
      .select(col("seed").as("address"), col("n_nodes"),
        coalesce(col("n_edges"), lit(0L)).as("n_edges"),
        when(col("n_nodes") <= 1, lit(null).cast("long"))
          .otherwise(expr(
            "coalesce(n_edges, 0L) * 1000000 div (n_nodes * (n_nodes - 1))"))
          .as("density_ppm"))
      .orderBy("address")
  }

  /** Degree distribution of the directed edge set: how many vertices have
    * each (out_degree, in_degree)-summed total degree — the first
    * diagnostic of any graph workload (a heavy tail says "salt your joins
    * and expect skew"; see [[graft.ops.Skew]]). Two map-side-combinable
    * aggregations, O(|E|) then O(|V|). */
  def degreeDistribution(edges: DataFrame): DataFrame = {
    val ends = edges.select(col("src").as("v"))
      .unionByName(edges.select(col("dst").as("v")))
    ends.groupBy("v").agg(count(lit(1)).as("degree"))
      .groupBy("degree").agg(count(lit(1)).as("n_vertices"))
      .orderBy("degree")
  }

  /** Per-vertex local clustering coefficient — `2·tri(v) / (deg(v)·
    * (deg(v)−1))`, "how close is v's neighborhood to a clique", the
    * per-vertex refinement of [[triangleCounts]] (wallet rings score high;
    * exchange hubs, whose counterparties never transact together, score
    * near zero). Rendered as an exact integer per-mille
    * (`2000·tri ÷ deg·(deg−1)`, integer division) so no float ratio has
    * to cross engines.
    *
    * Cost envelope: the triangle subtree (wedge equi-joins, fan-out capped
    * by orientation) + one degree aggregate over the undirected edge set +
    * one left join — everything keyed by vertex. Vertices need deg ≥ 2 to
    * have a defined coefficient; triangle-free ones report 0. */
  def clusteringCoefficients(edges: DataFrame): DataFrame = {
    val und = edges.filter(col("src") =!= col("dst"))
      .select(least(col("src"), col("dst")).as("a"),
        greatest(col("src"), col("dst")).as("b"))
      .distinct()
    val deg = und.select(col("a").as("v"))
      .unionByName(und.select(col("b").as("v")))
      .groupBy("v").agg(count(lit(1)).as("degree"))
    deg.filter(col("degree") >= 2)
      .join(triangleCounts(edges), Seq("v"), "left")
      .select(col("v"), col("degree"),
        coalesce(col("n_triangles"), lit(0L)).as("n_triangles"))
      .withColumn("coeff_pml",
        expr("CAST((2000 * n_triangles) DIV (degree * (degree - 1)) AS BIGINT)"))
      .orderBy("v")
  }

  /** Degree cap for link-prediction wedge centers: a common neighbor of
    * degree d generates d·(d−1)/2 candidate pairs, so one hub makes its
    * wedge bucket quadratic in graph size — the same skewed-key killer as
    * [[graft.ops.Dedup.MaxShingleDf]] hot shingles, capped the same way.
    * High-degree commons are also the least informative (resource
    * allocation weights them 1/d → ≈0), so the cap tracks the score's own
    * discounting rather than fighting it. */
  val LinkPredDegCap = 64

  /** Link prediction by the resource-allocation index (Zhou/Lü/Zhang
    * 2009): score(u,w) = Σ_{v ∈ Γ(u)∩Γ(w)} 1/deg(v) over common
    * neighbors, for vertex pairs NOT already connected — "which wallets
    * will transact next", the graph-completion primitive behind
    * recommendation and fraud-ring discovery. RA beats raw common-
    * neighbor counts because hub commons are discounted — and unlike the
    * Adamic–Adar variant its weights need no `ln` (the one libm call
    * engines round differently), so integer weights `⌊2²⁰/deg(v)⌋` make
    * the score an EXACT BIGINT sum.
    *
    * Plan: symmetric adjacency → wedge equi-join keyed by the common
    * neighbor (centers capped at [[LinkPredDegCap]]) → anti-join against
    * the edge set → one grouped sum. All equi-joins on vertex keys; no
    * cross join at any scale. Top pairs by (score, tie-broken on ids). */
  def linkPrediction(edges: DataFrame, topK: Int = 100): DataFrame = {
    val und = edges.filter(col("src") =!= col("dst"))
      .select(least(col("src"), col("dst")).as("a"),
        greatest(col("src"), col("dst")).as("b"))
      .distinct()
      .persist(StorageLevel.MEMORY_AND_DISK) // session-shared: several catalog queries build this same canonical edge frame (CacheManager dedupes); NOT QueryLocal — releasing after one query would cold-start the others
    val nbrs = und.select(col("a").as("v"), col("b").as("u"))
      .unionByName(und.select(col("b").as("v"), col("a").as("u")))
    val centers = nbrs.groupBy("v").agg(count(lit(1)).as("deg"))
      .filter(col("deg") <= LinkPredDegCap)
      .withColumn("w", (lit(1L << 20) / col("deg")).cast("long"))
    val wedges = nbrs.join(centers, Seq("v"))
      .select(col("v"), col("u"), col("w"))
    val pairs = wedges.select(col("v"), col("u").as("ua"), col("w"))
      .join(wedges.select(col("v"), col("u").as("ub")), Seq("v"))
      .filter(col("ua") < col("ub"))
      .join(und.select(col("a").as("ua"), col("b").as("ub")),
        Seq("ua", "ub"), "left_anti")
    pairs.groupBy("ua", "ub")
      .agg(sum(col("w")).as("ra_score"), count(lit(1)).as("n_common"))
      .orderBy(col("ra_score").desc, col("ua").asc, col("ub").asc)
      .limit(topK)
  }

  /** GraphSAGE-style neighborhood aggregation, 2 layers of mean-pooling
    * over the degree feature: `h1(v) = mean_{u∈Γ(v)} deg(u)`, `h2(v) =
    * mean_{u∈Γ(v)} h1(u)` — the message-passing layer every GNN training
    * pipeline materializes before the model sees the graph ("average
    * degree of my neighbors, and of my neighbors' neighbors"). One
    * equi-join + one grouped mean per layer, O(|E|) shuffled bytes —
    * the exact cost envelope of a PageRank round, without the iteration
    * count.
    *
    * h1 is exact (integer sum / count, one IEEE division); h2 averages
    * doubles through the decimal accumulator and renders at 9 digits
    * (the cast-ulp mitigation). */
  def neighborhoodAggregate(edges: DataFrame): DataFrame = {
    val und = edges.filter(col("src") =!= col("dst"))
      .select(least(col("src"), col("dst")).as("a"),
        greatest(col("src"), col("dst")).as("b"))
      .distinct()
      .persist(StorageLevel.MEMORY_AND_DISK) // session-shared: several catalog queries build this same canonical edge frame (CacheManager dedupes); NOT QueryLocal — releasing after one query would cold-start the others
    val nbrs = und.select(col("a").as("v"), col("b").as("u"))
      .unionByName(und.select(col("b").as("v"), col("a").as("u")))
    val deg = nbrs.groupBy("v").agg(count(lit(1)).as("degree"))
    val h1 = nbrs
      .join(deg.select(col("v").as("u"), col("degree").as("hu")), Seq("u"))
      .groupBy("v")
      .agg((sum(col("hu")).cast("double") / count(lit(1)).cast("double"))
        .as("h1"))
    val h2 = nbrs
      .join(h1.select(col("v").as("u"), col("h1").as("hu")), Seq("u"))
      .groupBy("v")
      .agg((expr("CAST(SUM(CAST(hu AS DECIMAL(38,18))) AS DOUBLE)") /
        count(lit(1)).cast("double")).as("h2"))
    deg.join(h1, Seq("v")).join(h2, Seq("v"))
      .select(col("v"), col("degree"), col("h1"),
        round(col("h2"), 9).as("h2"))
      .orderBy("v")
  }

  /** Fixed round count for [[maximalIndependentSet]] — the unroll
    * contract; vertices still undecided after this many rounds are
    * reported as such (bounded-round state IS the result, the same
    * contract move as [[bfsHops]]). */
  val MisRounds = 3

  /** Maximal independent set by DETERMINISTIC Luby rounds: priorities are
    * `md5(v)` (a fixed random-enough total order both engines compute
    * identically — no RNG state), a live vertex enters the MIS when its
    * priority beats every live neighbor's, its neighbors drop out, and
    * the next round runs on the induced remainder. The
    * dedup-representative primitive: an MIS of the near-dup pair graph is
    * a set of mutually-non-duplicate documents that touches every
    * duplicate neighborhood — the "pick diverse exemplars" alternative to
    * [[connectedComponents]]' one-keeper-per-cluster.
    *
    * Per round: one live-edge semi-join pass + a grouped min + two
    * anti/semi joins — all keyed by vertex, O(|E|) shuffled bytes,
    * lineage-cut. Luby's analysis kills ~half the EDGES per round in
    * expectation, so [[MisRounds]] rounds decide the overwhelming mass;
    * the remainder surfaces as `undecided` (deterministic, never wrong —
    * a later round can only refine it). Returns (v, state, round) with
    * state ∈ mis|excluded|undecided, round = when decided (0 for
    * undecided). */
  def maximalIndependentSet(edges: DataFrame, rounds: Int = MisRounds,
      symmetricInput: Boolean = false): DataFrame = {
    // symmetricInput = the caller guarantees a DISTINCT symmetric edge set
    // without self-loops (both directions present — [[Wallet]]'s shared
    // `transfer_edges_sym` frame): the canonical undirected pair list is
    // then just the src<dst half, already distinct, and needs neither the
    // least/greatest+distinct shuffle nor a lineage cut (the shared frame
    // is persisted; its filter is one cached scan per consumer) — the same
    // contract move as [[kCore]]/[[coreness]]'s symmetricInput.
    val und = if (symmetricInput)
      edges.filter(col("src") < col("dst"))
        .select(col("src").as("a"), col("dst").as("b"))
    else LineageCut.cut(
      edges.filter(col("src") =!= col("dst"))
        .select(least(col("src"), col("dst")).as("a"),
          greatest(col("src"), col("dst")).as("b"))
        .distinct())
    // symmetric input lists every vertex as a src — one distinct over one
    // cached scan instead of a union of two
    val verts = if (symmetricInput)
      edges.select(col("src").as("v")).distinct()
    else und.select(col("a").as("v"))
      .unionByName(und.select(col("b").as("v"))).distinct()
    var live = LineageCut.cut(
      verts.withColumn("p", md5(col("v").cast("string"))))
    var decided: DataFrame = null
    for (k <- 1 to rounds) {
      // Live edges with BOTH endpoint priorities riding along (plain inner
      // joins double as the liveness semi-joins), persisted: every later
      // step this round — the neighbor-min, the exclusion pass — reads this
      // one frame from cache instead of re-running the two joins per
      // consumer (the r9 shape re-joined `live` a third time just to fetch
      // priorities; this plan is 3 shuffles/round shorter). The bigger
      // q_mis win shipped alongside lives in the harness sessions:
      // cached-plan AQE coalescing (see Verify.scala), without which every
      // stage here ran at the static partition count over kilobytes.
      val le = und
        .join(live.select(col("v").as("a"), col("p").as("pa")), Seq("a"))
        .join(live.select(col("v").as("b"), col("p").as("pb")), Seq("b"))
        .transform(QueryLocal.persistTracked)
      val nm = le.select(col("a").as("v"), col("pb").as("q"))
        .unionByName(le.select(col("b").as("v"), col("pa").as("q")))
        .groupBy("v").agg(min(col("q")).as("nm"))
      val mis = live.join(nm, Seq("v"), "left")
        .filter(col("nm").isNull || col("p") < col("nm"))
        .select(col("v"))
      // a neighbor of an MIS vertex can never itself satisfy the strict
      // min-priority test (one side's priority beats the other's), so the
      // semi-join needs no defensive anti-join back against `mis`
      val excl = le.select(col("a").as("v"), col("b").as("u"))
        .unionByName(le.select(col("b").as("v"), col("a").as("u")))
        .join(mis.select(col("v").as("u")), Seq("u"), "left_semi")
        .select(col("v")).distinct()
      // persisted, not checkpointed: the live-cut's anti-join materializes
      // this round's subtree eagerly, and the FINAL `decided` union reads
      // it again — without the persist every round's ~6-shuffle subtree
      // runs twice (once per consumer)
      val roundDecided = mis.withColumn("state", lit("mis"))
        .unionByName(excl.withColumn("state", lit("excluded")))
        .withColumn("round", lit(k))
        .transform(QueryLocal.persistTracked)
      decided = if (decided == null) roundDecided
        else decided.unionByName(roundDecided)
      // only `live` iterates — it must be cut; `decided` is an append-only
      // union whose lineage depth is the (small, fixed) round count, so
      // checkpointing it every round would just add a write per round
      live = LineageCut.cut(
        live.join(roundDecided.select("v"), Seq("v"), "left_anti"))
    }
    decided.unionByName(live.select(col("v"),
      lit("undecided").as("state"), lit(0).as("round")))
  }

  /** Fixed iteration count for [[hits]] — the oracle's unroll contract. */
  val HitsRounds = 2

  /** HITS hubs & authorities — the directed complement to [[pageRank]]:
    * a good AUTHORITY is pointed at by good hubs (wallets everyone sends
    * to: exchanges, sinks), a good HUB points at good authorities
    * (distributor wallets). Two mutually-recursive scores per vertex that
    * one PageRank number conflates.
    *
    * Per half-round: one equi-join + one decimal-exact grouped sum keyed
    * by vertex (O(|E|) shuffled bytes, map-side combinable) + an L∞
    * normalization against a broadcast 1-row max (scores stay in [0,1]
    * without any sqrt). Fixed [[HitsRounds]] iterations; 9-digit render
    * absorbs the double→decimal cast ulp (the [[graft.ops.Quantize]]
    * mitigation). Returns (v, hub, authority) for every vertex. */
  def hits(edges: DataFrame, rounds: Int = HitsRounds): DataFrame = {
    val e = LineageCut.cut(
      edges.select(col("src"), col("dst")).distinct())
    // cut ONCE: the vertex universe is loop-invariant, but as a lazy plan
    // it was re-executed (union + two-level distinct + exchange) inside
    // EVERY half-round's normalization — r14 RoundPlans measured 7
    // exchanges per half-round action, two of them this subtree (§2.4:
    // compute loop invariants once, iterate over the cut)
    val verts = LineageCut.cut(
      e.select(col("src").as("v"))
        .unionByName(e.select(col("dst").as("v"))).distinct())
    // L∞ normalization with the max riding the half-round's one
    // materialization as an OBSERVED metric (the cutObserved pattern the
    // CC loop uses for its convergence flag): the old spelling computed
    // the max as a second aggregate subtree and attached it with
    // crossJoin(broadcast(max-row)) — one SinglePartition exchange, one
    // IdentityBroadcast, one BroadcastNestedLoopJoin and a duplicated
    // join-agg subtree per half-round, all to divide by a scalar. The
    // literal division is the same IEEE op on the same max value, so
    // scores are bit-identical (the unrolled oracle re-checks them).
    def normalizedCut(raw: DataFrame, c: String): DataFrame = {
      val full = verts.join(raw, Seq("v"), "left")
        .select(col("v"), coalesce(col(c), lit(0.0)).as("raw"))
      val (cutFull, metrics) = LineageCut.cutObserved(full,
        Seq(max(col("raw")).as("m")))
      val m = metrics("m") match {
        case d: java.lang.Double => d.doubleValue()
        case _ => 0.0 // max over an empty frame
      }
      cutFull.select(col("v"),
        (if (m > 0) col("raw") / lit(m) else lit(0.0)).as(c))
    }
    var h = verts.withColumn("h", lit(1.0))
    var a = verts.withColumn("a", lit(0.0))
    // initial h/a are VERTS-backed — releasing them would drop verts'
    // blocks, which every later round re-joins; only this loop's own
    // round cuts are ever superseded-and-releasable
    var owned = false
    for (_ <- 1 to rounds) {
      val na = normalizedCut(
        e.join(h.select(col("v").as("src"), col("h")), Seq("src"))
          .groupBy(col("dst").as("v"))
          .agg(expr("CAST(SUM(CAST(h AS DECIMAL(38,18))) AS DOUBLE)")
            .as("a")), "a")
      if (owned) LineageCut.release(a)
      a = na
      val nh = normalizedCut(
        e.join(a.select(col("v").as("dst"), col("a")), Seq("dst"))
          .groupBy(col("src").as("v"))
          .agg(expr("CAST(SUM(CAST(a AS DECIMAL(38,18))) AS DOUBLE)")
            .as("h")), "h")
      if (owned) LineageCut.release(h)
      h = nh; owned = true
    }
    h.join(a, Seq("v"))
      .select(col("v"), round(col("h"), 9).as("hub"),
        round(col("a"), 9).as("authority"))
  }

  /** Time-respecting reachability (taint tracing): earliest arrival time
    * at each vertex along paths whose edge timestamps never decrease —
    * "once funds leave the seed set, which wallets can they have reached,
    * and when earliest". A plain BFS overcounts: value cannot flow through
    * a wallet via a transfer that happened BEFORE the wallet was tainted;
    * the temporal-path DP (earliest-arrival recurrence over the
    * (src, dst, t) stream) is the sound version.
    *
    * State per vertex is one BIGINT (earliest arrival; seeds = −1 "from
    * the start"), and earlier arrivals only ever OPEN more edges, so the
    * min-merge recurrence is monotone and exact — pure integer arithmetic,
    * deterministic at any partitioning. After k rounds arrivals are exact
    * over ≤k-edge temporal paths (the oracle's unroll contract, same move
    * as [[bfsHops]]/[[weightedShortestPaths]]). Per round: one equi-join
    * keyed by src + a time filter + a map-side-combinable min, O(|E|)
    * shuffled bytes; rounds lineage-cut. */
  def temporalReachability(edges: DataFrame, seeds: DataFrame,
      rounds: Int = 4): DataFrame = {
    val e = LineageCut.cut(
      edges.select(col("src"), col("dst"), col("t")).distinct())
    relaxFromSeeds(e, seeds, lit(-1L), rounds, "tainted_at")(
      col("t"), admit = col("t") >= col("dist"))
  }

  /** Community detection by synchronous label propagation (fixed rounds,
    * deterministic): every vertex adopts the most frequent label among
    * its neighbors each round, ties to the SMALLEST label. Unlike
    * [[connectedComponents]] (one label per connected piece), LPA splits
    * dense regions into communities — wallet rings, dapp user bases —
    * after a handful of rounds.
    *
    * The classic LPA is run-order-dependent (async updates, random
    * tie-breaks); this variant is synchronous with a total tie order, so
    * the result is a pure function of the graph and round count —
    * partition-independent and oracle-checkable. Per round: one equi-join
    * + two grouped aggregations, all keyed by vertex — O(|E|) shuffled
    * bytes, same envelope as the other iterative algorithms; rounds are
    * lineage-cut. */
  def labelPropagation(edges: DataFrame, rounds: Int = 3): DataFrame = {
    val e = edges.filter(col("src") =!= col("dst"))
      .select(col("src"), col("dst")).distinct()
    val sym = LineageCut.cut(
      e.unionByName(e.select(col("dst").as("src"), col("src").as("dst")))
        .distinct())
    var labels = LineageCut.cut(
      sym.select(col("src").as("id")).distinct()
        .withColumn("label", col("id")))
    for (_ <- 1 to rounds) {
      val counts = sym
        .join(labels.withColumnRenamed("id", "dst"), Seq("dst"))
        .groupBy(col("src").as("id"), col("label"))
        .agg(count(lit(1)).as("c"))
      // winner per id = (max count, ties → smallest label) as ONE
      // map-side-combinable aggregate: min over (−count, label) structs.
      // The r13 spelling computed the same winner via a per-id max
      // window + filter + a second group-by — the window re-shuffled the
      // counts frame by id AND sorted every partition, per round, to
      // pick what a struct-ordered min picks in the aggregate itself
      // (guide §2.4: a window keyed like the preceding aggregation is a
      // shuffle that can usually be folded away). Same result by
      // construction: struct ordering compares −c first (largest count
      // wins), then label ascending (smallest label on ties).
      val next = LineageCut.cut(
        counts.groupBy("id")
          .agg(min(struct((-col("c")).as("nc"), col("label"))).as("m"))
          .select(col("id"), col("m.label").as("label")))
      LineageCut.release(labels) // superseded round
      labels = next
    }
    labels
  }

  /** Weight-proportional PageRank: each vertex's rank flows to its
    * out-neighbors in proportion to EDGE WEIGHT (`w` column, > 0; for the
    * transfer graph, the total value moved along the edge) instead of
    * uniformly — "who receives value from important senders", the
    * flow-aware importance metric. Same per-round cost, lineage-cut and
    * determinism contract as [[pageRank]]: out-weight totals are exact
    * decimal sums rendered to double, per-edge shares are single IEEE
    * divisions, contributions re-sum in DECIMAL(38,18).
    *
    * `edges` must be pre-aggregated per (src, dst) — parallel edges
    * summed upstream, where the combiner runs map-side. */
  def pageRankWeighted(edges: DataFrame, iterations: Int = 3,
      alpha: Double = 0.85): DataFrame = {
    val e = LineageCut.cut(
      edges.select(col("src"), col("dst"), col("w")))
    val deg = e.groupBy(col("src").as("v"))
      .agg(expr("CAST(SUM(CAST(w AS DECIMAL(38,18))) AS DOUBLE)").as("ws"))
    val (base, n) = LineageCut.cutCounted(
      e.select(col("src").as("v"))
        .unionByName(e.select(col("dst").as("v")))
        .distinct()
        .join(deg, Seq("v"), "left"))
    powerIterate(base, "ws", lit(1.0 / n), iterations)(
      live => e.join(live.select(col("v").as("src"), col("r"), col("ws")),
          Seq("src"))
        .select(col("dst"), (col("r") * (col("w") / col("ws"))).as("c")),
      dang => lit((1.0 - alpha) / n) +
        lit(alpha) * (coalesce(col("contrib"), lit(0.0)) + lit(dang / n)))
  }

  /** PERSONALIZED PageRank: teleport (and dangling) mass returns only to
    * the `seeds` set instead of uniformly — rank becomes "influence
    * relative to the seeds", the taint/provenance propagation analytic
    * (how much of the dapp treasury's flow reaches each wallet). Vertices
    * unreachable from any seed hold rank exactly 0.0 (IEEE zeros
    * propagate exactly, so the zero set is bit-stable too). Same
    * per-round cost, lineage-cut and determinism contract as [[pageRank]].
    *
    * `seeds` is a one-column (`v`) frame; seeds absent from the graph are
    * ignored. Throws if no seed is a vertex (the teleport distribution
    * would be undefined). */
  def pageRankPersonalized(edges: DataFrame, seeds: DataFrame,
      iterations: Int = 3, alpha: Double = 0.85): DataFrame = {
    val e = LineageCut.cut(
      edges.select(col("src"), col("dst")).distinct())
    val deg = e.groupBy(col("src").as("v")).agg(count(lit(1)).as("deg"))
    // the seed count rides base's one materialization as an observed metric
    val (base, sm) = LineageCut.cutObserved(
      e.select(col("src").as("v"))
        .unionByName(e.select(col("dst").as("v")))
        .distinct()
        .join(deg, Seq("v"), "left")
        .join(broadcast(seeds.select(col("v")).distinct()
          .withColumn("is_seed", lit(true))), Seq("v"), "left")
        .withColumn("is_seed", coalesce(col("is_seed"), lit(false))),
      Seq(count(when(col("is_seed"), lit(1))).as("s")))
    val s = sm("s").asInstanceOf[Long]
    require(s > 0, "pageRankPersonalized: no seed vertex present in the graph")
    powerIterate(base, "deg",
      when(col("is_seed"), lit(1.0 / s)).otherwise(lit(0.0)), iterations)(
      live => e.join(live.select(col("v").as("src"),
        (col("r") / col("deg")).as("c")), Seq("src")),
      dang => when(col("is_seed"),
        lit((1.0 - alpha) / s) + lit(alpha) * lit(dang / s))
        .otherwise(lit(0.0)) +
        lit(alpha) * coalesce(col("contrib"), lit(0.0)))
  }

  /** Connected components by alternating large-star/small-star contraction
    * (Kiveris et al., "Connected Components in MapReduce and Beyond") —
    * same (id, label=component min) contract as [[connectedComponents]],
    * different convergence class: min-label propagation needs O(diameter)
    * rounds (fine for near-dup cliques, degenerate for chain graphs), the
    * star algorithm converges in O(log² n) rounds on ANY topology, so a
    * path of length 1000 finishes in ~10 rounds instead of 1000.
    *
    * One round = two halves over the current edge multigraph, each a
    * grouped min + an equi-join (both map-side combinable, O(|E|) shuffle):
    *  - large-star(u): m = min(Γ(u) ∪ {u}); emit (v, m) for v ∈ Γ(u), v > u
    *  - small-star(u): over big→small directed edges, m = min out-neighbor;
    *    emit (v, m) for the other out-neighbors plus (u, m)
    * Both preserve connectivity and keep every edge oriented big→small; the
    * fixed point is exactly the star graph {(x, componentMin) : x ≠ min}.
    * Deterministic (pure min arithmetic), so it is oracle-checkable by the
    * same recursive CTE as the propagation variant. */
  def connectedComponentsAltStar(edges: DataFrame,
      maxIter: Int = 25): DataFrame = {
    // the star contraction drops self-loops up front; vertices whose ONLY
    // edges are self-loops must still come back as singleton components
    // (label = themselves) to honor the connectedComponents contract
    val verts = edges.select(col("src").as("id"))
      .unionByName(edges.select(col("dst").as("id"))).distinct()
    var (e, eCount) = LineageCut.cutCounted(
      edges.filter(col("src") =!= col("dst"))
        .select(greatest(col("src"), col("dst")).as("src"),
          least(col("src"), col("dst")).as("dst"))
        .distinct())
    var converged = false
    var i = 0
    while (!converged && i < maxIter) {
      val sym = e.unionByName(
        e.select(col("dst").as("src"), col("src").as("dst")))
      val largeMins = sym
        .groupBy(col("src").as("u"))
        .agg(min(col("dst")).as("mn"))
        .select(col("u"), least(col("mn"), col("u")).as("m"))
      val ls = sym
        .filter(col("dst") > col("src"))
        .join(largeMins, col("src") === col("u"))
        .select(col("dst").as("src"), col("m").as("dst"))
        .distinct()
      val smallMins = ls.groupBy(col("src").as("u")).agg(min(col("dst")).as("m"))
      // fixed point = edge set unchanged. Both frames are materialized and
      // DISTINCT, so |next| = |e| plus next ⊆ e (one anti-join emptiness
      // probe) already implies equality — the reverse probe is redundant,
      // and unequal counts (the common non-converged case) skip the join
      // entirely. The count rides the cut's own materialization job
      // (cutCounted), so a round is two actions, not three.
      val (next, nextCount) = LineageCut.cutCounted(
        ls.join(smallMins, col("src") === col("u"))
          .select(col("dst").as("v"), col("m"))
          .filter(col("v") =!= col("m"))
          .select(col("v").as("src"), col("m").as("dst"))
          .unionByName(smallMins.select(col("u").as("src"), col("m").as("dst")))
          .distinct())
      converged = nextCount == eCount && next.except(e).isEmpty
      LineageCut.release(e) // superseded round (the except probe above was its last read)
      e = next
      eCount = nextCount
      i += 1
    }
    if (!converged) throw new IllegalStateException(
      s"connectedComponentsAltStar: not converged after $maxIter rounds")
    val labeled = e.select(col("src").as("id"), col("dst").as("label"))
      .unionByName(e.select(col("dst").as("id"), col("dst").as("label")))
      .distinct()
    labeled.unionByName(
      verts.join(labeled, Seq("id"), "left_anti")
        .select(col("id"), col("id").as("label")))
  }

  /** Degree assortativity (Newman's r): the Pearson correlation of endpoint
    * degrees over the undirected edge stubs — positive when hubs attach to
    * hubs (social nets), negative when hubs attach to leaves (the typical
    * token-transfer / internet shape). With integer degrees the Pearson
    * numerator and denominator are EXACT integers over the 2|E| stubs
    *   num = M·Σxy − (Σx)²,  den = M·Σx² − (Σx)²,  M = 2|E|
    * accumulated in DECIMAL(38,0) (M·Σx² overflows a long well below
    * cluster scale), so the only float op is the final division — the
    * result is bit-reproducible at any partitioning. Cost: degrees are one
    * grouped count; moments are one join pass over edges keyed by vertex.
    * Returns one row: (n_vertices, n_edges, r). */
  /** Strongly connected components by trim + forward-coloring + backward
    * sweep (Orzan's coloring scheme — the standard distributed-SCC
    * algorithm family; no Spark builtin exists). Returns `(v, scc_id)`
    * with `scc_id` = the component's minimum vertex — a canonical labeling
    * independent of the algorithm, which is exactly what the transitive-
    * closure oracle recomputes.
    *
    * Per outer round:
    *  1. TRIM: vertices missing an in- or out-edge among live edges are
    *     singleton SCCs — peeled to fixpoint (dissolves all pure-DAG
    *     regions, the classic FW-BW accelerant).
    *  2. COLOR: forward min-label propagation to fixpoint;
    *     color(v) = min vertex that reaches v (incl. v). For a root r
    *     (color(r) = r), every v of color r that reaches r is mutually
    *     reachable with r, and every vertex on such a return path also has
    *     color r — so the class-restricted backward sweep is sound.
    *  3. SWEEP: backward reachability from the roots along intra-color
    *     edges; the reached set per root IS the root's SCC. Finalize,
    *     remove, repeat.
    *
    * Every frame is [[LineageCut]]-bounded per round; convergence tests
    * ride on [[LineageCut.cutCounted]] counts (no extra jobs, nothing
    * collects). At cluster scale each round is a handful of key-partitioned
    * semi-joins/aggregates over the live edge set — O(|E|) per round, and
    * the live set only shrinks. Unconverged results throw loudly (a
    * silent partial SCC labeling would mislabel merged components). */
  def stronglyConnectedComponents(edges: DataFrame, maxOuter: Int = 12,
      maxProp: Int = 40): DataFrame = {
    val raw = edges.select(col("src"), col("dst"))
    var (live, nLive) = LineageCut.cutCounted(
      raw.filter(col("src") =!= col("dst")).distinct())
    // vertex universe keeps self-loop-only vertices: their SCC is themselves
    var (verts, nVerts) = LineageCut.cutCounted(
      raw.select(col("src").as("v"))
        .unionByName(raw.select(col("dst").as("v"))).distinct())
    val done = scala.collection.mutable.ListBuffer.empty[DataFrame]
    var outer = 0
    def restrictLive(): Unit = {
      val (l, n) = LineageCut.cutCounted(
        live.join(verts.withColumnRenamed("v", "src"), Seq("src"), "left_semi")
          .join(verts.withColumnRenamed("v", "dst"), Seq("dst"), "left_semi")
          .select("src", "dst"))
      LineageCut.release(live) // superseded (consumed by the cut above)
      live = l; nLive = n
    }
    while (nVerts > 0 && outer < maxOuter) {
      // ---- 1. trim to fixpoint
      var trimming = true
      while (trimming && nVerts > 0) {
        // ONE degree pass over the live edges replaces the r10 shape's two
        // distinct+semi-join probes (~5 stages/round fewer): a vertex
        // stays iff it has BOTH a live out-edge and a live in-edge, and
        // live is always verts-restricted so the agg's key set ⊆ verts —
        // including dropping verts with no live edge at all, exactly as
        // the semi-joins did.
        val ends = live
          .select(col("src").as("v"), lit(1).as("o"), lit(0).as("i"))
          .unionByName(live
            .select(col("dst").as("v"), lit(0).as("o"), lit(1).as("i")))
        val (keep, nKeep) = LineageCut.cutCounted(
          ends.groupBy("v").agg(max(col("o")).as("o"), max(col("i")).as("i"))
            .filter(col("o") === 1 && col("i") === 1).select("v"))
        if (nKeep == nVerts) trimming = false
        else {
          done += LineageCut.cut(verts.join(keep, Seq("v"), "left_anti")
            .select(col("v"), col("v").as("scc_id")))
          LineageCut.release(verts) // superseded (consumed by the done cut)
          verts = keep; nVerts = nKeep
          restrictLive()
        }
      }
      if (nVerts > 0) {
        // ---- 2. forward min-label colors to fixpoint
        var colors = LineageCut.cut(verts.withColumn("c", col("v")))
        var converged = false
        var i = 0
        val cType = colors.schema("c").dataType
        while (!converged && i < maxProp) {
          // One union-agg pass per round: new label = min over (self ∪
          // in-neighbor labels), with the PREVIOUS label riding along as
          // `old` (each v contributes exactly one self row, so max(old)
          // recovers it through the agg) — the change test is then a flat
          // filter over the cut frame and the r10 shape's second join
          // (colors LEFT JOIN nbrMin, ~3 stages/round) disappears. Every
          // prop v is also a self v (live is verts-restricted), so no
          // group lacks its `old`.
          val prop = live
            .join(colors.select(col("v").as("src"), col("c")), Seq("src"))
            .select(col("dst").as("v"), col("c"),
              lit(null).cast(cType).as("old"))
          val self = colors.select(col("v"), col("c"), col("c").as("old"))
          // the convergence statistic rides the materialization action
          // (cutObserved) — zero extra jobs per round
          val (upd, m) = LineageCut.cutObserved(
            prop.unionByName(self).groupBy("v")
              .agg(min(col("c")).as("c"), max(col("old")).as("old")),
            Seq(max(when(col("c") < col("old"), lit(1)).otherwise(lit(0)))
              .as("chg")))
          LineageCut.release(colors) // superseded coloring round
          colors = upd.select("v", "c")
          converged = m("chg") == null || m("chg") == 0
          i += 1
        }
        if (!converged) throw new IllegalStateException(
          s"scc: forward coloring not converged after $maxProp rounds — " +
            "reachability diameter exceeds maxProp; raise it")
        // ---- 3. backward sweep from roots along intra-color edges
        val intra = LineageCut.cut(live
          .join(colors.select(col("v").as("src"), col("c").as("cs")), Seq("src"))
          .join(colors.select(col("v").as("dst"), col("c").as("cd")), Seq("dst"))
          .filter(col("cs") === col("cd"))
          .select(col("src"), col("dst")))
        var (reached, nReached) = LineageCut.cutCounted(
          colors.filter(col("c") === col("v")).select(col("v")))
        var growing = true
        var j = 0
        while (growing && j < maxProp) {
          // union+distinct subsumes the r10 shape's anti-join dedup (~2
          // stages/round fewer): the grown set is just (predecessors
          // along intra edges) ∪ reached, deduped once in the same agg
          val preds = intra
            .join(reached.withColumnRenamed("v", "dst"), Seq("dst"), "left_semi")
            .select(col("src").as("v"))
          val (r2, n2) = LineageCut.cutCounted(
            reached.unionByName(preds).distinct())
          growing = n2 > nReached
          LineageCut.release(reached) // superseded sweep round
          reached = r2; nReached = n2
          j += 1
        }
        if (growing) throw new IllegalStateException(
          s"scc: backward sweep not converged after $maxProp rounds — " +
            "an SCC's internal diameter exceeds maxProp; raise it")
        done += LineageCut.cut(colors.join(reached, Seq("v"), "left_semi")
          .select(col("v"), col("c").as("scc_id")))
        val (v2, n2) = LineageCut.cutCounted(
          verts.join(reached, Seq("v"), "left_anti"))
        // the done cut and the verts cut above were the last consumers of
        // this outer round's coloring state — drop all of it
        LineageCut.release(colors); LineageCut.release(intra)
        LineageCut.release(reached); LineageCut.release(verts)
        verts = v2; nVerts = n2
        restrictLive()
      }
      outer += 1
    }
    if (nVerts > 0) throw new IllegalStateException(
      s"scc: not converged after $maxOuter outer rounds — condensation " +
        "chain deeper than maxOuter; raise it")
    if (done.isEmpty)
      verts.select(col("v"), col("v").as("scc_id")) // empty input, empty out
    else done.reduceLeft(_ unionByName _)
  }

  /** Incremental connected-components maintenance — the IVM move
    * (base ⊕ delta ≡ recompute) applied to graphs: yesterday's labels
    * plus today's edge delta re-labeled WITHOUT touching the full edge
    * set. Each old component collapses to its label STAR (member →
    * component-min edges, |V| of them); CC over (stars ∪ new edges)
    * yields exactly the full graph's components because stars preserve
    * connectivity and old labels are component minima, so the reduced
    * graph's min-label IS the merged component's true min. Vertices the
    * reduced graph never sees (old singletons untouched by the delta)
    * carry their old label through an anti-join.
    *
    * At 100 TB this is the daily-update path: cost is O(|V| + |Δ|)
    * edges through the CC loop instead of O(|E|) — the edge history
    * never replays. The oracle is the FULL recompute (reachability
    * closure), so hash-equality is the correctness contract, exactly
    * like the incremental aggregate/join/dedup twins. */
  def incrementalComponents(spark: org.apache.spark.sql.SparkSession,
      sfDir: String): DataFrame = {
    val t = graft.Tables.transfers(spark, sfDir)
      .filter(col("from_address") =!= col("to_address"))
      .select(col("from_address").as("src"), col("to_address").as("dst"),
        col("block_number"))
    val oldEdges = t.filter(col("block_number") % 10 =!= 9)
      .select("src", "dst")
    val newEdges = t.filter(col("block_number") % 10 === 9)
      .select("src", "dst")
    val oldLabels = connectedComponents(oldEdges)
    val stars = oldLabels.filter(col("id") =!= col("label"))
      .select(col("id").as("src"), col("label").as("dst"))
    val reduced = connectedComponents(stars.unionByName(newEdges))
    val carried = oldLabels.join(reduced.select("id"), Seq("id"), "left_anti")
    reduced.unionByName(carried).orderBy("id")
  }

  /** Edge reciprocity of the directed graph: how many distinct ordered
    * edges u→v are answered by v→u. A one-row summary — classic digraph
    * statistic (and the cheap precursor to the wash-trading screen: high
    * reciprocity flags circular flow). The reverse-existence test is a
    * LEFT SEMI self-join on the swapped key — no fan-out, map-side
    * combinable counts, exact integer per-mille. */
  def reciprocity(edges: DataFrame): DataFrame = {
    // the distinct edge set is read twice (count + semi-join); its two
    // shuffles share one exchange via Spark's ReuseExchange, so no
    // explicit persist is needed
    val e = edges.filter(col("src") =!= col("dst"))
      .select(col("src"), col("dst")).distinct()
    val recip = e.join(
      e.select(col("dst").as("src"), col("src").as("dst")),
      Seq("src", "dst"), "left_semi")
    e.agg(count(lit(1)).as("n_edges"))
      .crossJoin(recip.agg(count(lit(1)).as("n_reciprocated")))
      .select(col("n_edges"), col("n_reciprocated"),
        expr("n_reciprocated * 1000 div n_edges").as("reciprocity_pml"))
  }

  // ── Approximate neighborhood function (ANF / HyperBall family) ──

  /** KMV register size for [[neighborhoodFunction]]. */
  val AnfK = 16

  /** Radius bound for the ANF iteration. */
  val AnfRounds = 3

  /** 2^48 — the value space of the 12-hex-digit register prefix used for
    * the cardinality estimate. */
  val AnfHashSpace = 281474976710656L

  /** Per-round reach sketches for the approximate neighborhood function:
    * `sk(v, r)` is the k-minimum-values (KMV) register of the set of
    * vertices reachable from `v` in ≤ r hops along OUT-edges — the k
    * lexicographically smallest md5 hashes of the members.
    *
    * This is HyperBall's iteration (Boldi–Rosa–Vigna, "HyperANF") with a
    * KMV register in place of the HyperLogLog register, chosen because KMV
    * merge is LOSSLESS for the retained k-minimum set: the k smallest
    * hashes of a union equal the k smallest of the per-input k-minimum
    * sets (an element dropped from one input is larger than k elements of
    * that input, all of which survive into the union). So the iterated,
    * per-round-capped sketch equals the sketch OF THE EXACT REACH SET —
    * the oracle can compute exact reachability and apply the same
    * k-smallest rule, and the hashes match bit-for-bit. A HyperLogLog
    * register has the same merge-exactness but its estimate needs float
    * harmonic means; KMV's estimate is one integer division.
    *
    * Scale shape: per round, one equi-join keyed by dst (pull each
    * out-neighbor's register) + one grouped merge keyed by src — O(|E|)
    * rows shuffled per round carrying ≤ k·32-byte registers, map-side
    * combinable. State is |V|·k hashes, rounds are lineage-cut. Every
    * round's frame escapes to the caller (each radius is reported), so no
    * round is superseded and none is released (unlike the [[bfsHops]]
    * release pattern). */
  private[graft] def anfSketches(edges: DataFrame, rounds: Int = AnfRounds,
      k: Int = AnfK): Seq[(Int, DataFrame)] = {
    val e = LineageCut.cut(
      edges.filter(col("src") =!= col("dst"))
        .select(col("src"), col("dst")).distinct())
    val verts = e.select(col("src").as("v"))
      .unionByName(e.select(col("dst").as("v"))).distinct()
    var sk = LineageCut.cut(
      verts.select(col("v"),
        array(md5(concat(col("v"), lit("|anf")))).as("sk")))
    val out = Seq.newBuilder[(Int, DataFrame)]
    for (r <- 1 to rounds) {
      val nbr = e
        .join(sk.select(col("v").as("dst"), col("sk").as("nsk")), Seq("dst"))
        .groupBy(col("src").as("v"))
        .agg(flatten(collect_list(col("nsk"))).as("nsks"))
      val next = LineageCut.cut(
        sk.join(nbr, Seq("v"), "left")
          .select(col("v"),
            slice(array_sort(array_distinct(
              when(col("nsks").isNull, col("sk"))
                .otherwise(concat(col("sk"), col("nsks"))))), 1, k).as("sk")))
      sk = next
      out += r -> sk
    }
    out.result()
  }

  /** Per-vertex KMV cardinality estimate over a `sk` register column: an
    * unsaturated register (|R| < k) stores the WHOLE reach set, so its
    * size is the exact count; a saturated one estimates
    * `(k−1) · 2^48 / h_k` from the k-th smallest hash's 48-bit prefix —
    * integer division, so both engines compute the identical BIGINT. */
  private def anfEstimate(k: Int) = {
    when(size(col("sk")) < k, size(col("sk")).cast("long"))
      .otherwise(expr(
        s"CAST(${(k - 1).toLong * AnfHashSpace} div greatest(" +
          s"CAST(conv(substr(element_at(sk, $k), 1, 12), 16, 10) AS BIGINT)" +
          s", 1) AS BIGINT)"))
  }

  /** Approximate neighborhood function: for each radius r = 1..`rounds`,
    * the estimated number of (source, reachable-vertex) pairs within r
    * hops — N(r) of the ANF literature, the curve whose flattening point
    * is the graph's effective diameter. One row per radius:
    * `(r, n_nodes, nf_est, n_saturated)`; `n_saturated` counts vertices
    * whose register overflowed into estimation (the rest are exact). */
  def neighborhoodFunction(edges: DataFrame, rounds: Int = AnfRounds,
      k: Int = AnfK): DataFrame =
    nfFromSketches(anfSketches(edges, rounds, k), k)

  /** [[neighborhoodFunction]] over pre-built (possibly session-shared)
    * sketch rounds. */
  def nfFromSketches(sketches: Seq[(Int, DataFrame)], k: Int = AnfK)
      : DataFrame = {
    val dec = org.apache.spark.sql.types.DecimalType(38, 0)
    sketches.map { case (r, sk) =>
      sk.select(anfEstimate(k).as("est"),
          (size(col("sk")) === k).cast("long").as("sat"))
        .agg(count(lit(1)).as("n_nodes"),
          sum(col("est").cast(dec)).cast("long").as("nf_est"),
          sum(col("sat")).cast("long").as("n_saturated"))
        .select(lit(r).as("r"), col("n_nodes"), col("nf_est"),
          col("n_saturated"))
    }.reduce(_ unionByName _).orderBy("r")
  }

  /** Effective diameter from the ANF curve: the smallest radius whose
    * estimated neighborhood function reaches ≥ `ppm`/1e6 of the deepest
    * round's — the standard "90% effective diameter" read off N(r)
    * (integer ppm comparison, no floats). One row:
    * `(eff_diameter, target_ppm, nf_at_diameter, nf_max)`. Cost: the
    * [[neighborhoodFunction]] rounds plus arithmetic over `rounds` rows. */
  def effectiveDiameter(edges: DataFrame, rounds: Int = AnfRounds,
      k: Int = AnfK, ppm: Long = 900000L): DataFrame =
    effectiveDiameterFromNf(
      neighborhoodFunction(edges, rounds, k), ppm)

  /** [[effectiveDiameter]] over a pre-built [[neighborhoodFunction]]
    * frame. */
  def effectiveDiameterFromNf(nfFrame: DataFrame,
      ppm: Long = 900000L): DataFrame = {
    val nf = nfFrame.select(col("r"), col("nf_est"))
    val mx = nf.agg(max(col("nf_est")).as("nf_max"))
    nf.crossJoin(broadcast(mx))
      // DECIMAL route: nf ppm products pass 2^63 long before |V|² does
      .filter(expr(s"CAST(nf_est AS DECIMAL(38,0)) * 1000000" +
        s" >= CAST(nf_max AS DECIMAL(38,0)) * $ppm"))
      .groupBy(lit(ppm).as("target_ppm"))
      .agg(min(col("r")).as("eff_diameter"),
        min_by(col("nf_est"), col("r")).as("nf_at_diameter"),
        max(col("nf_max")).as("nf_max"))
      .select(col("eff_diameter"), col("target_ppm"),
        col("nf_at_diameter"), col("nf_max"))
  }

  /** ANF recall certificate: on a bounded md5-ordered seed sample, the
    * exact per-radius reach counts (forward BFS carrying (seed, vertex)
    * pairs — state ≤ |seeds|·|V|, the [[betweenness]] bounding move) next
    * to the KMV estimates of [[neighborhoodFunction]] restricted to the
    * same seeds, with the aggregate relative error in exact ppm. The
    * self-auditing row every sketch in this library ships with
    * (q_ann_recall, q_dedup_recall, q_pq_recall): the estimator's error on
    * THIS graph, measured, not assumed. */
  def anfCertificate(edges: DataFrame, seedCount: Int = 4,
      rounds: Int = AnfRounds, k: Int = AnfK,
      sketches: Option[Seq[(Int, DataFrame)]] = None): DataFrame = {
    val dec = org.apache.spark.sql.types.DecimalType(38, 0)
    val e = LineageCut.cut(
      edges.filter(col("src") =!= col("dst"))
        .select(col("src"), col("dst")).distinct())
    val verts = e.select(col("src").as("v"))
      .unionByName(e.select(col("dst").as("v"))).distinct()
    val seeds = verts.orderBy(expr("md5(v)"), col("v")).limit(seedCount)
    var pairs = LineageCut.cut(
      seeds.select(col("v").as("seed"), col("v").as("w")))
    val exacts = (1 to rounds).map { r =>
      val step = e
        .join(pairs.select(col("seed"), col("w").as("src")), Seq("src"))
        .select(col("seed"), col("dst").as("w"))
      pairs = LineageCut.cut(
        pairs.unionByName(step).distinct())
      pairs.groupBy("seed").agg(count(lit(1)).as("n_exact"))
        .select(lit(r).as("r"), col("seed"), col("n_exact"))
    }
    val exact = exacts.reduce(_ unionByName _)
    val est = sketches.getOrElse(anfSketches(edges, rounds, k))
      .map { case (r, sk) =>
        sk.join(seeds.select(col("v")), Seq("v"), "left_semi")
          .select(lit(r).as("r"), col("v").as("seed"),
            anfEstimate(k).as("est"))
      }.reduce(_ unionByName _)
    exact.join(est, Seq("r", "seed"))
      .groupBy("r")
      .agg(count(lit(1)).as("n_seeds"),
        sum(col("n_exact").cast(dec)).as("se"),
        sum(col("est").cast(dec)).as("ss"))
      .select(col("r"), col("n_seeds"),
        col("se").cast("long").as("sum_exact"),
        col("ss").cast("long").as("sum_est"),
        expr("CAST(abs(ss - se) * 1000000 div se AS BIGINT)").as("err_ppm"))
      .orderBy("r")
  }

  def assortativity(edges: DataFrame): DataFrame = {
    val und = edges.filter(col("src") =!= col("dst"))
      .select(least(col("src"), col("dst")).as("a"),
        greatest(col("src"), col("dst")).as("b"))
      .distinct()
    val deg = und.select(col("a").as("v"))
      .unionByName(und.select(col("b").as("v")))
      .groupBy("v").agg(count(lit(1)).as("d"))
    val dec = org.apache.spark.sql.types.DecimalType(38, 0)
    val mom = und
      .join(deg.select(col("v").as("a"), col("d").as("da")), Seq("a"))
      .join(deg.select(col("v").as("b"), col("d").as("db")), Seq("b"))
      .agg(count(lit(1)).as("n_edges"),
        sum(lit(2).cast(dec) * col("da").cast(dec) * col("db").cast(dec))
          .as("sxy"),
        sum(col("da").cast(dec) + col("db").cast(dec)).as("sx"),
        sum(col("da").cast(dec) * col("da").cast(dec)
          + col("db").cast(dec) * col("db").cast(dec)).as("sx2"))
    mom.crossJoin(broadcast(deg.agg(count(lit(1)).as("n_vertices"))))
      .withColumn("m", lit(2).cast(dec) * col("n_edges").cast(dec))
      .withColumn("num", col("m") * col("sxy") - col("sx") * col("sx"))
      .withColumn("den", col("m") * col("sx2") - col("sx") * col("sx"))
      .select(col("n_vertices"), col("n_edges"),
        when(col("den") === 0, lit(null).cast("double"))
          .otherwise(round(col("num").cast("double") / col("den").cast("double"), 6))
          .as("r"))
  }

  /** Deterministic random walks — the node2vec/DeepWalk corpus generator:
    * from each seed vertex, a fixed-length walk whose step-s transition
    * out of v picks the out-neighbor minimizing md5(walk:s:neighbor).
    * Hash-argmin IS the uniform sampler in the house determinism
    * discipline (the reservoir/weighted samplers spell randomness the
    * same way): every (walk, step) draws an independent uniform order
    * over the neighbor set, but replaying is bit-exact, so the walk
    * corpus is oracle-checkable — a property no seeded-RNG walker has
    * across engines.
    *
    * Scale shape: the frontier is seed-bounded (≤ |seeds| rows), so each
    * step is a BROADCAST of the frontier against the edge list — walks
    * never shuffle the graph; cost is |steps| scans of the (pushdown-
    * pruned) edge columns. The argmin key appends "|vertex" after the
    * hash so ties are impossible even under hash collision, and a plain
    * `min` + suffix parse recovers the chosen neighbor (`min_by` would
    * need its own tiebreak). Dead-end vertices end their walk early (the
    * inner join drops the walker), exactly like the sampling walkers in
    * the embedding literature.
    *
    * Output: one row per (walk, step, vertex) visited, step 0 = seed. */
  def randomWalks(edges: DataFrame, seeds: DataFrame,
      steps: Int = 4): DataFrame = {
    val e = edges.select(col("src"), col("dst"))
      .filter(col("src") =!= col("dst")).distinct()
    var cur = seeds.select(col("v").as("walk"), col("v"))
    var out = cur.select(col("walk"), lit(0L).as("step"), col("v"))
    for (s <- 1 to steps) {
      cur = e.join(broadcast(cur.select(col("walk"),
          col("v").as("src"))), Seq("src"))
        .select(col("walk"),
          concat(md5(concat_ws(":", col("walk"), lit(s), col("dst"))),
            lit("|"), col("dst")).as("key"))
        .groupBy("walk").agg(min(col("key")).as("key"))
        .select(col("walk"),
          substring_index(col("key"), "|", -1).as("v"))
      out = out.unionByName(
        cur.select(col("walk"), lit(s.toLong).as("step"), col("v")))
    }
    out.orderBy("walk", "step")
  }

  /** k-truss: the subgraph where every surviving edge closes ≥ k−2
    * triangles WITH other surviving edges — the community-core filter
    * one notch stronger than [[kCore]] (degree can be faked by a hub;
    * triangle support cannot). Peeling alternates support counting and
    * edge deletion for a FIXED round budget (the [[coreness]]/SCC
    * convention: deterministic, oracle-unrollable, and idempotent once
    * converged — extra rounds are no-ops, and non-convergence shows up
    * as edges below threshold in the reported final support rather than
    * a silent truncation).
    *
    * Enumeration happens ONCE: a DEGREE-ordered wedge join (compact-
    * forward — orient every edge from its lower-(degree, id) endpoint,
    * so each triangle appears exactly once and wedge fan-out is bounded
    * by the oriented out-degree, O(√E) on any graph instead of the raw
    * hub degree) materializes the triangle list keyed by its three
    * undirected edges. Support is then maintained INCREMENTALLY through
    * the peel: each round deletes the under-supported edges, finds the
    * triangles that lost an edge (three semi-joins against the deleted
    * set — work ∝ deletions, not graph size), decrements their surviving
    * edges, and drops the dead triangles. The earlier form re-ran the
    * full wedge enumeration every round (rounds+1 enumerations); a 10×
    * densified fixed-vertex graph made each of those ~10× dearer, so the
    * peel cost multiplied instead of amortizing. The triangle list is
    * O(#triangles) storage — the standard price of incremental truss
    * maintenance, linear in the one-time enumeration output and
    * partition-parallel like any other frame. Orientation only changes
    * ENUMERATION cost — support counts are orientation-free, which is
    * why the DuckDB oracle can enumerate id-ordered and recount per
    * round instead. Lineage-cut per round; superseded rounds released.
    * Output: surviving (a, b) with final-round support. */
  def kTruss(edges: DataFrame, k: Int = 4, rounds: Int = 4): DataFrame = {
    // cut the deduped edge list ONCE: it feeds the degree count, the
    // orientation join, and the initial support join — left as lineage,
    // the self-join below would recompute the whole distinct three times
    val und = LineageCut.cut(
      edges.filter(col("src") =!= col("dst"))
        .select(least(col("src"), col("dst")).as("a"),
          greatest(col("src"), col("dst")).as("b"))
        .distinct())
    // orient ONCE by initial (degree, id): exactly-once enumeration needs
    // any fixed total order, and initial degrees are a good fan-out bound
    val deg = und.select(col("a").as("v"))
      .unionByName(und.select(col("b").as("v")))
      .groupBy("v").agg(count(lit(1)).as("d"))
    val aFirst = col("da") < col("db") ||
      (col("da") === col("db") && col("a") < col("b"))
    // LONG edge ids for the peel state (§2.3 "shuffle keys, not
    // payloads"): every per-round frame — the triangle list, the support
    // aggregation, the deleted-edge set and their joins — used to carry
    // undirected edges as (a, b) STRING pairs, so each triangle row was
    // six strings (~96 B in UnsafeRow) and every support group key a
    // two-string composite. An injective per-run edge id (partition id ‖
    // row index over the already-materialized cut — stable because cut
    // blocks never recompute) shrinks a triangle to three longs and the
    // support key to one long; support counts are structural (independent
    // of how edges are NAMED), so the result is provably unchanged and
    // the (a, b) strings re-attach in exactly one place: the final
    // surviving-edge join. r14 measured: peel-state shuffle/checkpoint
    // bytes −60–75%, string hashing out of the support aggregate.
    val undId = LineageCut.cut(
      und.withColumn("eid", monotonically_increasing_id()))
    // carry the dst endpoint's (degree) so the wedge join can order its
    // two legs without another degree lookup, and the edge's id so the
    // triangle list is built directly in id space; cut so (a) the three
    // reads below share one materialization and (b) the closing join sees
    // an ACCURATE size and AQE can broadcast the edge side under the big
    // wedge frame when it fits (at cluster scale it won't — same plan
    // degrades to a shuffle join, which is the right call there)
    // fanOut: AQE's advisory-size coalescing right-sizes these frames for
    // IO but not for the wedge join's compute density — a ~10 MB oriented
    // edge list lands on 1 partition and enumerates every wedge on one
    // core (round-10 stage audit, PERF.md). Widen-only, so cluster-scale
    // frames (already past core count) pass through unchanged.
    val oriented = graft.Tables.fanOut(LineageCut.cut(undId
      .join(deg.select(col("v").as("a"), col("d").as("da")), Seq("a"))
      .join(deg.select(col("v").as("b"), col("d").as("db")), Seq("b"))
      .select(
        when(aFirst, col("a")).otherwise(col("b")).as("src"),
        when(aFirst, col("b")).otherwise(col("a")).as("dst"),
        when(aFirst, col("db")).otherwise(col("da")).as("dd"),
        col("eid"))))
    // u -> v, u -> w wedges with (dv, v) < (dw, w) — each unordered leg
    // pair once, closed by the oriented v -> w edge: every triangle
    // exactly once, keyed by the ids of its three undirected edges
    val keys = Seq("e1", "e2", "e3")
    var tri = graft.Tables.fanOut(LineageCut.cut(
      oriented.select(col("src").as("u"), col("dst").as("v"),
          col("dd").as("dv"), col("eid").as("e1"))
        .join(oriented.select(col("src").as("u"), col("dst").as("w"),
          col("dd").as("dw"), col("eid").as("e2")), Seq("u"))
        .filter(col("dv") < col("dw") ||
          (col("dv") === col("dw") && col("v") < col("w")))
        .join(oriented.select(col("src").as("v"), col("dst").as("w"),
          col("eid").as("e3")), Seq("v", "w"))
        .select(col("e1"), col("e2"), col("e3"))))
    LineageCut.release(oriented) // enumeration happens exactly once
    // per-edge triangle count over a (live) triangle list, in id space
    def supOf(t: DataFrame): DataFrame =
      t.select(col("e1").as("eid"))
        .unionByName(t.select(col("e2").as("eid")))
        .unionByName(t.select(col("e3").as("eid")))
        .groupBy("eid").agg(count(lit(1)).as("sup"))
    // The under-threshold count rides each edge-frame materialization
    // (cutObserved, the SCC convention): the peel loop's "any deletions
    // this round?" probe costs zero extra jobs — the PREVIOUS round's
    // materialization already measured it.
    def cutE(df: DataFrame): (DataFrame, Long) = {
      val (out, m) = LineageCut.cutObserved(df,
        Seq(sum(when(col("sup") < k - 2, lit(1L)).otherwise(lit(0L)))
          .as("ndead")))
      (out, Option(m("ndead")).fold(0L)(_.asInstanceOf[Long])) // null: empty
    }
    var (e, nDead) = cutE(
      undId.select("eid").join(supOf(tri), Seq("eid"), "left")
        .select(col("eid"), coalesce(col("sup"), lit(0L)).as("sup")))
    LineageCut.release(und)
    var r = 1
    var converged = false
    while (r <= rounds && !converged) {
      // no deletions ⇒ support is already a fixed point and every later
      // round is a provable no-op — identical output, so the fixed round
      // budget stays the CONTRACT (oracle-unrollable) while the engine
      // stops paying for converged rounds
      if (nDead == 0L) converged = true
      else {
        val dead = e.filter(col("sup") < k - 2).select("eid")
        // triangles that lose ≥1 edge this round, each exactly once;
        // persisted (not cut): both consumers below materialize inside
        // their own cut jobs, so a lazy cache saves the third job
        def touch(en: String) = tri.join(
          dead.select(col("eid").as(en)), Seq(en), "left_semi")
        val deadTri = touch("e1").unionByName(touch("e2"))
          .unionByName(touch("e3")).distinct()
          .persist(StorageLevel.MEMORY_AND_DISK)
        val (nextE, nd) = cutE(
          e.filter(col("sup") >= k - 2)
            .join(supOf(deadTri).withColumnRenamed("sup", "dec"),
              Seq("eid"), "left")
            .select(col("eid"),
              (col("sup") - coalesce(col("dec"), lit(0L))).as("sup")))
        LineageCut.release(e)
        e = nextE
        nDead = nd
        if (r < rounds) { // the final round's list has no reader
          val nextTri = graft.Tables.fanOut(LineageCut.cut(
            tri.join(deadTri, keys, "left_anti")))
          LineageCut.release(tri)
          tri = nextTri
        }
        deadTri.unpersist(false)
      }
      r += 1
    }
    LineageCut.release(tri)
    // the (a, b) strings re-attach exactly once, on the surviving edges
    e.join(undId, Seq("eid"))
      .select(col("a"), col("b"), col("sup"))
      .orderBy("a", "b")
  }
}
