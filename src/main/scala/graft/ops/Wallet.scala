package graft.ops

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The "wallet 360" document: one row per address with flow totals, graph
  * importance, community, and dapp membership — the integration flagship
  * that exercises the aggregate, iterative-graph, and membership layers in
  * a single composed query (what the reference's per-enricher Mongo
  * documents would look like if its enrichers could share one engine).
  *
  * Shape: three address-keyed aggregates (out-flow, in-flow, dapp flag —
  * each one shuffle with map-side combine), PageRank and LPA communities
  * (the iterative subtrees), all left-joined onto the PageRank vertex
  * frame, which by construction holds every address that appears in any
  * transfer. Addresses whose only edges are self-loops carry no community
  * (LPA drops self-edges) and default to themselves. */
object Wallet {

  private def edges(spark: SparkSession, sfDir: String): DataFrame =
    Tables.transfers(spark, sfDir)
      .select(col("from_address").as("src"), col("to_address").as("dst"))

  /** Transfer-graph PageRank, materialized once per (session, sfDir) —
    * q_pagerank, q_wallet360 (and any other consumer) share one run of
    * the iterative subtree ([[Shared]]: checkpointed loops are invisible
    * to the CacheManager, so without the holder each entry re-runs all
    * rounds — the exact recompute trap the dedup-clusters family hit). */
  private[graft] def transferPageRank(spark: SparkSession,
      sfDir: String): DataFrame =
    Shared.frame(spark, sfDir, "transfer_pagerank")(
      Graph.pageRank(edges(spark, sfDir)))

  /** Transfer-graph LPA communities, materialized once per (session,
    * sfDir) — shared by q_communities and q_wallet360. */
  private[graft] def transferCommunities(spark: SparkSession,
      sfDir: String): DataFrame =
    Shared.frame(spark, sfDir, "transfer_communities")(
      Graph.labelPropagation(edges(spark, sfDir)))

  /** Symmetrized distinct transfer edge set (both directions, self-loops
    * dropped) — the shared INPUT of the undirected-graph catalog entries
    * (k-core, coreness). Session-shared like the PageRank/LPA results:
    * each peel cascade otherwise rebuilds the same union+distinct shuffle
    * from the raw transfers, and a context-sensitive rebuild is exactly
    * what r8's bench caught on q_kcore (17.7 s in-session vs 1.7 s
    * standalone, code unchanged). One row per undirected edge — bounded
    * by 2× the transfer count, and on a cluster the explicitly managed
    * scan-once edge cache a graph pipeline maintains anyway. */
  private[graft] def transferEdgesSym(spark: SparkSession,
      sfDir: String): DataFrame =
    Shared.frame(spark, sfDir, "transfer_edges_sym") {
      val e = edges(spark, sfDir).filter(col("src") =!= col("dst"))
      e.unionByName(e.select(col("dst").as("src"), col("src").as("dst")))
        .distinct()
    }

  /** 3-core of the transfer graph ([[Graph.kCore]]) — the density filter
    * before expensive per-vertex graph work. Peels over the session-shared
    * [[transferEdgesSym]] frame, skipping the per-call symmetrize. */
  def transferKCore(spark: SparkSession, sfDir: String): DataFrame =
    Graph.kCore(transferEdgesSym(spark, sfDir), symmetricInput = true)

  /** Per-vertex core numbers over the transfer graph ([[Graph.coreness]]),
    * one h-index loop over the same shared symmetric edge frame. */
  def transferCoreness(spark: SparkSession, sfDir: String): DataFrame =
    Graph.coreness(transferEdgesSym(spark, sfDir), symmetricInput = true)

  /** Deterministic-Luby MIS over the transfer graph
    * ([[Graph.maximalIndependentSet]]), reading the session-shared
    * [[transferEdgesSym]] frame like k-core/coreness — round 9's driver
    * bench showed q_mis rebuilding its undirected edge set (the
    * least/greatest+distinct shuffle) from raw transfers on every pass
    * while its siblings read the shared cache; same fix, same shape. */
  def transferMis(spark: SparkSession, sfDir: String): DataFrame =
    Graph.maximalIndependentSet(transferEdgesSym(spark, sfDir),
      symmetricInput = true)

  /** Truss order / peel budget for [[transferKTruss]] — the 3-truss
    * (every edge must survive inside ≥1 triangle of survivors; the
    * 4-truss is empty on this graph's sparse triangle fabric). */
  val KTrussK = 3
  val KTrussRounds = 4

  /** [[Graph.kTruss]] over the transfer graph: edges surviving the
    * ≥(k−2)-triangle peel with their final support. */
  def transferKTruss(spark: SparkSession, sfDir: String): DataFrame =
    Graph.kTruss(edges(spark, sfDir), KTrussK, KTrussRounds)

  /** Seeds for [[transferRandomWalks]]: the md5-smallest source wallets —
    * the house deterministic uniform sample (same convention as the ANF
    * certificate's seed draw). */
  val RandomWalkSeeds = 40

  /** Steps per walk in [[transferRandomWalks]]. */
  val RandomWalkSteps = 4

  /** Hash-argmin random walks over the transfer graph
    * ([[Graph.randomWalks]]): [[RandomWalkSeeds]] md5-sampled seed
    * wallets, [[RandomWalkSteps]] steps — the walk corpus a graph-
    * embedding trainer (DeepWalk/node2vec) consumes. Walks run on the
    * SYMMETRIZED edge set (the DeepWalk convention), which also matters
    * structurally here: transfer senders and receivers are near-disjoint
    * populations, so directed walks would die at depth 1. TakeOrdered
    * picks the seed sample (never a full sort); each step broadcasts the
    * seed-bounded frontier against the edge list. */
  def transferRandomWalks(spark: SparkSession, sfDir: String): DataFrame = {
    val e = edges(spark, sfDir)
    val und = e.unionByName(
      e.select(col("dst").as("src"), col("src").as("dst")))
    val seeds = und.select(col("src").as("v")).distinct()
      .orderBy(md5(col("v")), col("v")).limit(RandomWalkSeeds)
    Graph.randomWalks(und, seeds, RandomWalkSteps)
  }

  def wallet360(spark: SparkSession, sfDir: String): DataFrame = {
    val t = Tables.transfers(spark, sfDir)
    val outF = t.groupBy(col("from_address").as("address"))
      .agg(count(lit(1)).as("n_out"), Num.dsum(col("value")).as("vol_out"))
    val inF = t.groupBy(col("to_address").as("address"))
      .agg(count(lit(1)).as("n_in"), Num.dsum(col("value")).as("vol_in"))
    val pr = transferPageRank(spark, sfDir)
      .select(col("v").as("address"), round(col("rank"), 9).as("rank"))
    val comm = transferCommunities(spark, sfDir)
      .select(col("id").as("address"), col("label").as("community"))
    val dapp = Membership.flagDappWallets(spark, sfDir)
    pr
      .join(outF, Seq("address"), "left")
      .join(inF, Seq("address"), "left")
      .join(comm, Seq("address"), "left")
      .join(dapp, Seq("address"), "left")
      .select(col("address"),
        coalesce(col("n_out"), lit(0L)).as("n_out"),
        coalesce(col("vol_out"), lit(0.0)).as("vol_out"),
        coalesce(col("n_in"), lit(0L)).as("n_in"),
        coalesce(col("vol_in"), lit(0.0)).as("vol_in"),
        col("rank"),
        coalesce(col("community"), col("address")).as("community"),
        coalesce(col("is_dapp"), lit(false)).as("is_dapp"))
      .orderBy("address")
  }

  /** Component-level graph build report — the graph-family analogue of
    * the corpus build report: connected components, intra-component edge
    * counts, PageRank mass, and the top-ranked wallet per component, in
    * one component-grained summary ("how many islands does the transfer
    * graph have, how big, how dense, who anchors each"). Composes two
    * already-proven subtrees (the closure-checked CC labeling, the
    * session-shared PageRank) with three label equi-joins; the top
    * wallet is a two-pass arg-max (per-component max rank, then min
    * address at that rank — STRING ids have no negation trick, and the
    * equality join compares identical doubles from one frame). */
  def graphBuildReport(spark: SparkSession, sfDir: String): DataFrame = {
    val e = edges(spark, sfDir).filter(col("src") =!= col("dst")).distinct()
      .transform(QueryLocal.persistTracked) // labeling + intra-edge count
    val labels = Graph.connectedComponents(e)
      .select(col("id"), col("label"))
      .transform(QueryLocal.persistTracked) // four consumers below
    val members = labels.groupBy("label")
      .agg(count(lit(1)).as("n_members"))
    val intra = e
      .join(labels.select(col("id").as("src"), col("label")), Seq("src"))
      .join(labels.select(col("id").as("dst"), col("label").as("lb")),
        Seq("dst"))
      .filter(col("label") === col("lb"))
      .groupBy("label").agg(count(lit(1)).as("n_edges"))
    val ranked = transferPageRank(spark, sfDir)
      .join(labels.withColumnRenamed("id", "v"), Seq("v"))
    val mass = ranked.groupBy("label")
      .agg(expr("CAST(SUM(CAST(rank AS DECIMAL(38,18))) AS DOUBLE)")
        .as("rank_mass"),
        max(col("rank")).as("mxr"))
    val top = ranked
      .join(mass.select(col("label"), col("mxr")), Seq("label"))
      .filter(col("rank") === col("mxr"))
      .groupBy("label").agg(min(col("v")).as("top_wallet"))
    members
      .join(intra, Seq("label"), "left")
      .join(mass.select("label", "rank_mass"), Seq("label"))
      .join(top, Seq("label"))
      .select(col("label").as("component"), col("n_members"),
        coalesce(col("n_edges"), lit(0L)).as("n_edges"),
        round(col("rank_mass"), 9).as("rank_mass"), col("top_wallet"),
        when(col("n_members") > 1,
          expr("coalesce(n_edges, 0L) * 1000000" +
            " div (n_members * (n_members - 1))"))
          .as("density_ppm"))
      .orderBy("component")
  }

  /** Community-level flow matrix — the transfer graph COARSENED to its
    * LPA communities: every edge re-keyed to (src community, dst
    * community), volumes decimal-summed. The first step of any
    * multi-level graph analysis (Louvain's aggregation phase, inter-ring
    * flow monitoring: "how much value moves between ring A and ring B
    * vs inside each"). The expensive subtree is the session-shared LPA
    * frame; the coarsening itself is two label equi-joins + one grouped
    * sum, all O(|E|). Vertices LPA never labeled (self-loop-only) are
    * their own community, same default as [[wallet360]]. */
  def communityFlow(spark: SparkSession, sfDir: String): DataFrame = {
    val labels = transferCommunities(spark, sfDir)
      .select(col("id").as("address"), col("label"))
    val e = Tables.transfers(spark, sfDir)
      .select(col("from_address"), col("to_address"), col("value"))
    e.join(labels.toDF("from_address", "ca"), Seq("from_address"), "left")
      .join(labels.toDF("to_address", "cb"), Seq("to_address"), "left")
      .select(coalesce(col("ca"), col("from_address")).as("c_src"),
        coalesce(col("cb"), col("to_address")).as("c_dst"), col("value"))
      .groupBy("c_src", "c_dst")
      .agg(count(lit(1)).as("n_transfers"),
        Num.dsum(col("value")).as("volume"))
      .withColumn("internal", col("c_src") === col("c_dst"))
      .orderBy("c_src", "c_dst")
  }

  /** Modularity of the LPA communities on the undirected transfer graph —
    * the community-QUALITY certificate the judge of any clustering wants
    * beside the labels. Per community c with internal edge count e_c,
    * degree sum d_c, and m total undirected edges, the modularity term
    *   Q_c = e_c/m − (d_c/2m)² = (4·m·e_c − d_c²) / (4·m²)
    * — exact integer numerator/denominator, one division, rounded 6
    * (global Q = Σ Q_c; rows stay per-community so no float sum). Reuses
    * the session-shared LPA labels; everything else is one degree count,
    * one internal-edge count (label-equality join on the edge ends), and
    * a broadcast m. */
  def communityModularity(spark: SparkSession, sfDir: String): DataFrame = {
    val dec = org.apache.spark.sql.types.DecimalType(38, 0)
    val labels = transferCommunities(spark, sfDir)
      .select(col("id"), col("label"))
    val und = Tables.transfers(spark, sfDir)
      .filter(col("from_address") =!= col("to_address"))
      .select(least(col("from_address"), col("to_address")).as("a"),
        greatest(col("from_address"), col("to_address")).as("b"))
      .distinct()
    val m = und.agg(count(lit(1)).as("m"))
    val deg = und.select(col("a").as("v"))
      .unionByName(und.select(col("b").as("v")))
      .groupBy("v").agg(count(lit(1)).as("d"))
    val dc = labels.join(deg, labels("id") === deg("v"))
      .groupBy("label")
      .agg(count(lit(1)).as("n_vertices"), sum(col("d")).as("d_c"))
    val ec = und
      .join(labels.select(col("id").as("a"), col("label").as("la")), Seq("a"))
      .join(labels.select(col("id").as("b"), col("label").as("lb")), Seq("b"))
      .filter(col("la") === col("lb"))
      .groupBy(col("la").as("label")).agg(count(lit(1)).as("e_in"))
    dc.join(ec, Seq("label"), "left")
      .crossJoin(broadcast(m))
      .select(col("label").as("community"), col("n_vertices"),
        coalesce(col("e_in"), lit(0L)).as("e_in"), col("d_c"), col("m"),
        round((lit(4L).cast(dec) * col("m") * coalesce(col("e_in"), lit(0L))
          - col("d_c").cast(dec) * col("d_c")).cast("double")
          / (lit(4L).cast(dec) * col("m") * col("m")).cast("double"), 6)
          .as("q_term"))
      .orderBy("community")
  }

  /** Number of RFM bands per dimension (tertiles). */
  val RfmBands = 3

  /** Per-wallet (rec_days, freq, mon) metric frame feeding
    * [[rfmSegments]] — lifted out so band-bucket occupancy can be measured
    * on the same frame the query banding sees (PERF.md, round 13). */
  private[graft] def rfmMetrics(spark: SparkSession,
      sfDir: String): DataFrame = {
    val base = Tables.transfers(spark, sfDir)
      .groupBy(col("from_address").as("address"))
      .agg(max(col("transact_at")).as("last_ts"),
        count(lit(1)).as("freq"),
        Num.dsumDec(col("value")).as("mon"))
    val tmax = base.agg(max(col("last_ts")).as("tmax"))
    base.crossJoin(broadcast(tmax))
      .select(col("address"),
        expr("CAST((tmax - last_ts) DIV 86400 AS BIGINT)").as("rec_days"),
        col("freq"), col("mon"))
  }

  /** Two-phase exact rank over one RFM metric's DISTINCT-value frame:
    * 256 monotone range buckets, per-bucket counts prefix-summed on the
    * 256-row frame and broadcast back, per-bucket running sums in
    * parallel shards — the [[graft.ops.Corpus]] globalShuffle pattern.
    * Bucket bounds ride double arithmetic (only monotonicity matters);
    * the counts stay exact integers, so every band edge is bit-identical
    * to the flat-window spelling the oracle uses.
    *
    * VALUE-RANGE bounds were flagged (r12 verdict) as a possible skew
    * trap for heavy-tailed `mon` — if most distinct values landed in one
    * bucket, phase 2's `partitionBy("rb")` would re-serialize. Measured
    * (r13, sf0.1 and ScaleGen 100×; PERF.md): max
    * bucket holds 1.5% of `mon`'s distinct values (23 of 1,493; 188
    * nonempty buckets), so the linear bounds stand. If a future corpus
    * does collapse (probe before trusting), the one-line escape hatch is
    * quantile-spaced bounds: bucket by rank in a broadcast
    * `approx_percentile(metric, array(1/256..255/256))` array — any
    * monotone bucketing keeps the integer rank arithmetic (and the
    * oracle) bit-exact. */
  private[graft] def rfmBandTable(metrics: DataFrame,
      metric: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val dist = metrics.groupBy(metric).agg(count(lit(1)).as("c"))
    val bounds = dist.agg(
      min(col(metric).cast("double")).as("mnd"),
      max(col(metric).cast("double")).as("mxd"),
      sum(col("c")).as("n"))
    val bucketed = dist.crossJoin(broadcast(bounds))
      .withColumn("rb", least(
        floor((col(metric).cast("double") - col("mnd")) * 256 /
          greatest(col("mxd") - col("mnd"), lit(1e-12))).cast("int"),
        lit(255)))
    val offsets = bucketed.groupBy("rb").agg(sum(col("c")).as("bc"))
      .withColumn("boff", coalesce(sum(col("bc")).over(
        Window.orderBy("rb")
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select("rb", "boff")
    bucketed.join(broadcast(offsets), Seq("rb"))
      .withColumn("cum_before", col("boff") + coalesce(
        sum(col("c")).over(Window.partitionBy("rb").orderBy(col(metric).asc)
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select(col(metric),
        expr(s"CAST(1 + ($RfmBands * cum_before) DIV n AS INT)")
          .as(s"${metric.take(1)}_band"))
  }

  /** RFM segmentation — the classic warehouse customer-value model
    * (recency / frequency / monetary), lifted to wallets: days since last
    * send, send count, sent volume, each banded into [[RfmBands]] tertiles
    * and composed into one `rfm = 100·r + 10·f + m` segment code.
    *
    * Band edges are EXACT order statistics of each metric's DISTRIBUTION
    * (value + count + cumulative-before, `1 + (bands·cum) div n` —
    * [[TextAnalysis.curriculum]]'s integer boundary arithmetic), so ties
    * share a band and no float quantile estimate crosses engines. Bands
    * are ascending in the metric: r_band 1 = most recent, f_band/m_band 3
    * = most active/valuable.
    *
    * The `rec_days`/`freq` distributions collapse hard, but per-wallet
    * decimal volume is NEAR-UNIQUE, so the `mon` distribution is
    * ~|wallets| rows — a single unpartitioned ordering window over it
    * would funnel the wallet universe through one task at 100 TB. The
    * cumulative-before therefore uses the TWO-PHASE rank ([[graft.ops
    * .Corpus.globalShuffle]]'s pattern): a monotone 256-way range bucket
    * on the metric, per-bucket counts prefix-summed on the 256-row frame
    * and broadcast back, per-bucket running sums in parallel shards.
    * Bucket boundaries ride double arithmetic (only monotonicity matters
    * — ties collapsing into one shard is harmless); the counts being
    * summed stay exact integers, so cum_before — and every band edge —
    * is bit-identical to the flat window spelling the oracle uses.
    *
    * Helper split ([[rfmMetrics]] / [[rfmBandTable]] / this): probe and
    * query must measure the same plan, so the banding pieces are named
    * rather than inlined. */
  def rfmSegments(spark: SparkSession, sfDir: String): DataFrame = {
    val metrics = rfmMetrics(spark, sfDir)
    def bandTable(metric: String): DataFrame = rfmBandTable(metrics, metric)
    metrics
      .join(bandTable("rec_days"), Seq("rec_days"))
      .join(bandTable("freq"), Seq("freq"))
      .join(bandTable("mon"), Seq("mon"))
      .select(col("address"), col("rec_days"), col("freq"),
        col("mon").cast("double").as("volume"),
        col("r_band"), col("f_band"), col("m_band"),
        (col("r_band") * 100 + col("f_band") * 10 + col("m_band"))
          .as("rfm"))
      .orderBy("address")
  }

  /** Token co-holder matrix: for every token pair, how many wallets have
    * touched both (either transfer side), with the Jaccard overlap of the
    * two audiences in integer per-mille. The audience-similarity signal
    * behind "holders of X also hold Y" recommendations and correlated-token
    * risk screens.
    *
    * The pair expansion self-joins the distinct (wallet, token) incidence
    * on WALLET — per-wallet fan-out is bounded by the token universe a
    * wallet can touch (tiny vs the wallet count), so the shuffle key is the
    * huge dimension and the blow-up factor the small one. The `<`
    * orientation emits each unordered pair once. */
  def coHolders(spark: SparkSession, sfDir: String): DataFrame = {
    val t = Tables.transfers(spark, sfDir)
    val held = t.select(col("contract_address").as("tok"),
        col("from_address").as("wallet"))
      .unionByName(t.select(col("contract_address").as("tok"),
        col("to_address").as("wallet")))
      .distinct()
    val audience = held.groupBy("tok").agg(count(lit(1)).as("n"))
    held.select(col("tok").as("tok_a"), col("wallet"))
      .join(held.select(col("tok").as("tok_b"), col("wallet")), Seq("wallet"))
      .filter(col("tok_a") < col("tok_b"))
      .groupBy("tok_a", "tok_b")
      .agg(count(lit(1)).as("n_common"))
      .join(broadcast(audience.select(col("tok").as("tok_a"),
        col("n").as("n_a"))), Seq("tok_a"))
      .join(broadcast(audience.select(col("tok").as("tok_b"),
        col("n").as("n_b"))), Seq("tok_b"))
      .select(col("tok_a"), col("tok_b"), col("n_common"),
        col("n_a"), col("n_b"),
        expr("n_common * 1000 div (n_a + n_b - n_common)").as("jaccard_pml"))
      .orderBy("tok_a", "tok_b")
  }

  /** Single-item association rules X→Y over wallet token-audiences
    * (market-basket over the [[coHolders]] incidence): support, confidence
    * and lift in exact integer ppm — `support = |X∩Y|/N`,
    * `confidence = |X∩Y|/|X|`, `lift = |X∩Y|·N / (|X|·|Y|)` (ppm of 1.0).
    * Directed (both orders emitted): confidence is asymmetric — the
    * "holders of X also hold Y" recommendation score.
    *
    * Same wallet-keyed pair expansion as [[coHolders]] (fan-out bounded by
    * the token universe per wallet); everything after is per-mille/ppm
    * integer division on broadcast-sized frames. */
  def assocRules(spark: SparkSession, sfDir: String): DataFrame = {
    val t = Tables.transfers(spark, sfDir)
    val held = t.select(col("contract_address").as("tok"),
        col("from_address").as("wallet"))
      .unionByName(t.select(col("contract_address").as("tok"),
        col("to_address").as("wallet")))
      .distinct()
    val audience = held.groupBy("tok").agg(count(lit(1)).as("n"))
    val total = held.select("wallet").distinct()
      .agg(count(lit(1)).as("n_wallets"))
    held.select(col("tok").as("tok_x"), col("wallet"))
      .join(held.select(col("tok").as("tok_y"), col("wallet")), Seq("wallet"))
      .filter(col("tok_x") =!= col("tok_y"))
      .groupBy("tok_x", "tok_y")
      .agg(count(lit(1)).as("n_common"))
      .join(broadcast(audience.select(col("tok").as("tok_x"),
        col("n").as("n_x"))), Seq("tok_x"))
      .join(broadcast(audience.select(col("tok").as("tok_y"),
        col("n").as("n_y"))), Seq("tok_y"))
      .crossJoin(broadcast(total))
      .select(col("tok_x"), col("tok_y"), col("n_common"),
        expr("n_common * 1000000 div n_wallets").as("support_ppm"),
        expr("n_common * 1000000 div n_x").as("confidence_ppm"),
        // DECIMAL(38,0) numerator/denominator (impurity_ppm spelling):
        // n_common·N·1e6 exceeds 2^63 once audiences reach ~3e6 wallets,
        // and non-ANSI Long arithmetic would wrap silently there.
        expr("CAST(CAST(n_common AS DECIMAL(38,0)) * n_wallets * 1000000" +
          " div (CAST(n_x AS DECIMAL(38,0)) * n_y) AS BIGINT)")
          .as("lift_ppm"))
      .orderBy("tok_x", "tok_y")
  }

  /** DAU/WAU stickiness: per day, distinct active wallets that day vs the
    * trailing 7-day window, ratio in exact ppm — the standard engagement-
    * depth metric. The trailing-distinct is the honest scalable shape: a
    * ~|days|-row day frame broadcast against the distinct (day, wallet)
    * incidence with a range predicate (×7 amplification of an
    * already-collapsed frame), re-distinct, count — never a sliding
    * window over raw events. */
  def stickiness(spark: SparkSession, sfDir: String): DataFrame = {
    val t = Tables.transfers(spark, sfDir)
    val dw = t.select(Num.dayBucket(col("transact_at")).cast("long")
        .as("day"), col("from_address").as("wallet"))
      .unionByName(t.select(Num.dayBucket(col("transact_at")).cast("long")
        .as("day"), col("to_address").as("wallet")))
      .distinct()
    val dau = dw.groupBy("day").agg(count(lit(1)).as("dau"))
    val days = dw.select("day").distinct()
    val wau = broadcast(days)
      .join(dw.select(col("day").as("d2"), col("wallet")),
        col("d2") >= col("day") - 6L * 86400 && col("d2") <= col("day"))
      .select(col("day"), col("wallet")).distinct()
      .groupBy("day").agg(count(lit(1)).as("wau"))
    dau.join(wau, Seq("day"))
      .withColumn("stickiness_ppm", expr("dau * 1000000 div wau"))
      .orderBy("day")
  }

  /** Token-migration matrix: each wallet's dominant token (by send count,
    * ties to the lexicographically larger token — the `max(struct)`
    * arg-max) in the first vs second half of the observed window, counted
    * as a (from_token, to_token) flow matrix. The diagonal is loyalty;
    * off-diagonal mass is rotation between ecosystems. Two half-window
    * arg-max aggregations + one wallet-keyed join; the midpoint is a
    * broadcast 1-row scalar. */
  def tokenMigration(spark: SparkSession, sfDir: String): DataFrame = {
    val t = Tables.transfers(spark, sfDir)
      .select(col("from_address").as("wallet"),
        col("contract_address").as("tok"), col("transact_at"))
    val mid = t.agg(min(col("transact_at")).as("mn"),
        max(col("transact_at")).as("mx"))
      .select(expr("(mn + mx) div 2").as("mid"))
    val halves = t.crossJoin(broadcast(mid))
      .withColumn("half",
        when(col("transact_at") < col("mid"), lit(1)).otherwise(lit(2)))
      .groupBy("wallet", "half", "tok")
      .agg(count(lit(1)).as("c"))
      .groupBy("wallet", "half")
      .agg(max(struct(col("c"), col("tok"))).as("best"))
      .select(col("wallet"), col("half"), col("best.tok").as("tok"))
    halves.filter(col("half") === 1)
      .select(col("wallet"), col("tok").as("tok_first"))
      .join(halves.filter(col("half") === 2)
        .select(col("wallet"), col("tok").as("tok_second")), Seq("wallet"))
      .groupBy("tok_first", "tok_second")
      .agg(count(lit(1)).as("n_wallets"))
      .orderBy("tok_first", "tok_second")
  }

  /** Whale-vs-rest behavioral contrast on the focus token: do wallets
    * holding at least the whale threshold (final balance) move more, and
    * bigger? Whale set from the exact-decimal final balances; per group
    * over BOTH transfer legs (whales are net receivers — a sender-only
    * contrast leaves the whale group empty): wallets, sends, receives,
    * exact-decimal totals and a per-leg average. One balance aggregation
    * + one broadcast membership join over the leg stream. */
  def whaleContrast(spark: SparkSession, sfDir: String): DataFrame = {
    val dec = org.apache.spark.sql.types.DecimalType(25, 2)
    val t = Tables.transfers(spark, sfDir)
      .filter(col("contract_address") === Tables.FocusToken)
    val finalBal = t.select(col("from_address").as("wallet"),
        (-col("value")).cast(dec).as("d"))
      .unionByName(t.select(col("to_address").as("wallet"),
        col("value").cast(dec).as("d")))
      .groupBy("wallet").agg(sum(col("d")).as("bal"))
    val whales = finalBal
      .select(col("wallet"),
        (col("bal") >= Tables.WhaleThreshold).as("is_whale"))
    val legs = t.select(col("from_address").as("wallet"),
        col("value"), lit(1L).as("is_out"))
      .unionByName(t.select(col("to_address").as("wallet"),
        col("value"), lit(0L).as("is_out")))
    legs.join(broadcast(whales), Seq("wallet"))
      .groupBy("is_whale")
      .agg(countDistinct(col("wallet")).as("n_wallets"),
        sum(col("is_out")).as("n_sends"),
        sum(lit(1L) - col("is_out")).as("n_receives"),
        sum(when(col("is_out") === 1, col("value").cast(dec))
          .otherwise(lit(0).cast(dec))).as("ts"),
        sum(when(col("is_out") === 0, col("value").cast(dec))
          .otherwise(lit(0).cast(dec))).as("tr"),
        count(lit(1)).as("n_legs"),
        sum(col("value").cast(dec)).as("tot"))
      .select(col("is_whale"), col("n_wallets"), col("n_sends"),
        col("n_receives"),
        col("ts").cast("double").as("total_sent"),
        col("tr").cast("double").as("total_received"),
        round(col("tot").cast("double") / col("n_legs"), 6).as("avg_leg"))
      .orderBy("is_whale")
  }
}
