package graft

import graft.pipelines.Pipelines
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.exchange.Exchange
import org.scalatest.funsuite.AnyFunSuite

/** Physical-plan assertions: the shapes that matter at 100 TB.
  * `explain` output is checked for pushed filters, broadcast joins, and
  * absence of redundant exchanges — regressions here are perf bugs even when
  * results stay correct. */
class PlanAuditSpec extends AnyFunSuite {
  lazy val spark = GraftSpark.spark

  private def plan(name: String): String = {
    val df = SparkEntry.queries(name)(spark, GraftSpark.Sf)
    df.queryExecution.executedPlan.toString
  }

  /** Nodes of the physical plan as it would run before any AQE re-plan:
    * through an adaptive node's current plan, which holds the exchanges
    * EnsureRequirements planted (its input plan holds only the explicit
    * repartitions). */
  private def physicalNodes(df: DataFrame): Seq[SparkPlan] = {
    def walk(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
      case other => other +: other.children.flatMap(walk)
    }
    walk(df.queryExecution.executedPlan)
  }

  test("block-range predicates are pushed to the parquet scan") {
    val p = plan("q_block_range")
    assert(p.contains("PushedFilters: ["), p)
    // event_id (block_number source column) range reaches the scan
    assert(p.contains("GreaterThanOrEqual(event_id"), p)
  }

  test("q6 filtered-scan aggregate pushes its range predicates to the scan") {
    val p = plan("q_forecast_revenue")
    // the plan string truncates the PushedFilters list — assert on the
    // surviving prefix (discount bound) and the Filter node (quantity cap);
    // the year() predicate is a function, legitimately evaluated post-scan
    assert(p.contains("PushedFilters: [IsNotNull"), p)
    assert(p.contains("GreaterThanOrEqual(l_discou"), p)
    assert(p.contains("< 24.0)"), p)
    assert(!p.contains("SortMergeJoin") && !p.contains("BroadcastHashJoin"),
      p) // no join anywhere: the whole query is scan + one aggregate
  }

  test("token filter is pushed down in per-token balance pipeline") {
    val p = plan("q_balance_history")
    assert(p.contains("EqualTo(event_type,purchase)"), p)
  }

  test("dimension joins broadcast; fact side never shuffles for the join") {
    val p = plan("q_revenue_by_nation")
    assert(p.contains("BroadcastHashJoin"), p)
  }

  test("dapp registry membership join is broadcast") {
    val p = plan("q_dapp_hourly")
    assert(p.contains("BroadcastHashJoin"), p)
  }

  test("trade flows: both nation dimension maps broadcast; only the " +
      "lineitem-orders key join shuffles") {
    val p = plan("q_trade_flows")
    assert(p.contains("BroadcastHashJoin"), p)
    // the fact never sort-merge-joins a dimension
    val smj = "SortMergeJoin".r.findAllIn(p).length
    assert(smj <= 1, s"expected at most the key join as SMJ, got $smj\n$p")
  }

  test("groupBy and window share one exchange in balance history") {
    val p = plan("q_balance_history")
    val exchanges = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(exchanges <= 2, s"unexpected exchange count $exchanges\n$p")
  }

  test("pricing summary stays in whole-stage codegen") {
    val df = SparkEntry.queries("q_pricing_summary")(spark, GraftSpark.Sf)
    df.collect() // AQE only finalizes (and codegens) this exact plan on execution
    val p = df.queryExecution.executedPlan.toString
    // codegen'd spans print as "*(n) Operator" in the final adaptive plan
    assert("""\*\(\d+\) HashAggregate""".r.findFirstIn(p).isDefined, p)
  }

  test("correlated scalar subquery decorrelates into one aggregate + join") {
    // a per-row subquery surviving to the physical plan would scan the
    // inner table once per outer row — the plan must instead hold ONE
    // per-key aggregate joined back, and no scalar-subquery node
    val p = plan("q_correlated_subquery")
    assert(!p.contains("scalar-subquery"), p)
    assert(p.contains("HashJoin") || p.contains("SortMergeJoin"), p)
  }

  test("AQE coalesces small shuffle partitions at runtime") {
    // at 100 TB the same mechanism right-sizes reducer counts after each
    // stage's real output size is known — no hand-tuned partition numbers
    val df = Tables.transfers(spark, GraftSpark.Sf)
      .groupBy("contract_address").count()
    df.collect() // AQE finalizes only on execution
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("AQEShuffleRead") && p.contains("coalesced"), p)
  }

  test("runtime bloom filter prunes the probe side of a selective shuffle join") {
    // At 100 TB a shuffle join whose build side is selective should not
    // shuffle the full probe side: Spark's InjectRuntimeFilter plants a
    // bloom_filter_might_contain predicate on the probe scan. Local test
    // data sits under the size thresholds, so they are lowered here — on a
    // cluster the defaults (10 GB probe scan) gate the same rewrite.
    import org.apache.spark.sql.functions._
    val s = spark
    val confs = Map(
      "spark.sql.autoBroadcastJoinThreshold" -> "-1", // force shuffle join
      "spark.sql.optimizer.runtime.bloomFilter.enabled" -> "true",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" -> "0")
    val olds = confs.keys.map(k => k -> s.conf.getOption(k)).toMap
    try {
      confs.foreach { case (k, v) => s.conf.set(k, v) }
      val big = Tables.lineitem(s, GraftSpark.Sf)
      val dim = Tables.orders(s, GraftSpark.Sf)
        .filter(col("o_totalprice") > 400000.0) // selective build side
      val plan = big.join(dim, big("l_orderkey") === dim("o_orderkey"))
        .groupBy("l_returnflag").count()
        .queryExecution.optimizedPlan.toString
      assert(plan.contains("might_contain") && plan.contains("bloom_filter_agg"),
        plan)
    } finally olds.foreach { case (k, vo) =>
      vo.fold(s.conf.unset(k))(v => s.conf.set(k, v)) }
  }

  test("corpus mix joins the broadcast epoch plan; the corpus never shuffles") {
    val p = plan("q_corpus_mix")
    assert(p.contains("BroadcastHashJoin"), p)
    // the only range partitioning is the presentation sort; the doc side
    // reaches the join without a hash exchange (the groupBys live inside
    // the broadcast plan subtree)
    assert("Exchange rangepartitioning".r.findAllIn(p).size <= 1, p)
  }

  test("global shuffle: only the 256-row offset frame passes SinglePartition") {
    val p = plan("q_global_shuffle")
    // two-phase rank: the corpus ranks inside hashpartitioning(sbucket);
    // exactly one SinglePartition exchange exists and it carries the
    // 256-row bucket-count frame (prefix-sum window), never the corpus
    assert("Exchange SinglePartition".r.findAllIn(p).size == 1, p)
    assert(p.contains("hashpartitioning(sbucket"), p)
  }

  test("rank selections over unbounded distributions are two-phase sharded") {
    // quantile sketch (distinct prices), time-to-convert (distinct gaps)
    // and the tf-idf df-cap (distinct dfs) select order statistics from
    // value DISTRIBUTIONS whose cardinality is unbounded at scale: the
    // cumulative window must ride a range-bucket shard key, with only the
    // ≤256-row bucket-total frame crossing SinglePartition. A plan whose
    // window sort is globally ordered (no hashpartitioning under it)
    // regressed to the single-partition-sort shape.
    for (n <- Seq("q_quantile_sketch", "q_time_to_convert", "q_tfidf_topk")) {
      val p = plan(n)
      assert(p.contains("hashpartitioning"),
        s"$n lost its two-phase shard partitioning:\n$p")
      assert(!"rangepartitioning\\((?:gap|df|x)#".r.unanchored.matches(p),
        s"$n re-grew a global sort over a distribution column:\n$p")
    }
  }

  test("curriculum staging cumulates inside range-bucket shards") {
    // r10 verdict directive #4: the distinct-score cumulative count is
    // bounded (≤1e6+1 rows by 6-dp quantization) but that worst case is
    // still a million-row single-partition sort — the cum window must
    // ride the 256-way range bucket, with only the bucket-total offset
    // frame crossing SinglePartition
    val p = plan("q_curriculum")
    assert(p.contains("hashpartitioning(rb"),
      s"curriculum lost its two-phase shard partitioning:\n$p")
    // the cumulative window must be PARTITIONED by the range bucket
    // (windowspecdefinition lists partition cols first): a global window
    // ordered by the distribution column itself is the regressed
    // single-partition-sort shape. SinglePartition exchanges remain for
    // the constant-size frames only (single-row bounds agg, 256-row
    // bucket offsets).
    assert(!"windowspecdefinition\\((?:s6|quality_score)#".r
      .unanchored.matches(p),
      s"curriculum re-grew a global window over the score column:\n$p")
  }

  test("seq packing windows are sharded — no single-partition stage at all") {
    val p = plan("q_seq_pack")
    assert(!p.contains("Exchange SinglePartition"), p)
    assert(p.contains("hashpartitioning(sbucket"), p)
  }

  test("bm25: stats broadcast; top-50 is a TakeOrdered, not a global sort") {
    val p = plan("q_bm25")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"), p)
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("decontamination joins broadcast eval shingles") {
    val p = plan("q_decontaminate")
    assert(p.contains("BroadcastHashJoin"), p)
  }

  test("lsh bucketing is a narrow map — no hash exchange before the sort") {
    // 16 plan-time-constant hyperplane dots in one codegen'd projection;
    // the old posexplode+groupBy formulation shuffled the corpus twice
    val p = plan("q_lsh_buckets")
    assert(!p.contains("Exchange hashpartitioning"), p)
    assert(p.contains("decimaldot"), p) // the Expression's printed name
  }

  test("mixed packs: corpus stream never funnels through one partition") {
    // the end-to-end pipeline may SinglePartition only constant-size frames
    // (the 100-row vocab rank, the ~|sources| epoch-plan totals); the
    // amplified id stream must rank/pack inside hashpartitioning(sbucket)
    val p = plan("q_mixed_packs")
    val singles = "Exchange SinglePartition".r.findAllIn(p).size
    assert(singles <= 2, s"$singles SinglePartition exchanges\n$p")
    assert(p.contains("hashpartitioning(sbucket"), p)
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastExchange"), p)
  }

  test("catalog-wide: unused events columns are pruned from every scan") {
    // `props` has exactly ONE legitimate consumer (q_props_extract, the
    // JSON field-extraction operator); any other scan reading it means a
    // column-pruning regression (at 100 TB, reading a dead wide column is
    // a material I/O cost). Streaming query excluded: building it executes.
    val offenders = SparkEntry.queries.toSeq
      .filterNot(_._1 == "q_stream_volume_hourly")
      .filterNot(_._1 == "q_props_extract")
      // the size-model advisor legitimately measures props' byte share
      .filterNot(_._1 == "q_partition_advisor")
      .flatMap { case (n, fn) =>
        val plan = fn(spark, GraftSpark.Sf).queryExecution.executedPlan.toString
        if (plan.contains("props")) Some(n) else None
      }
    assert(offenders.isEmpty, s"queries scanning dead columns: $offenders")
  }

  test("catalog-wide: shuffle counts stay within per-query ceilings") {
    // measured headroom over current plans; a jump past the ceiling means a
    // new unintended exchange (lost broadcast, lost exchange reuse).
    // Exchanges are counted as PLAN NODES that would actually execute —
    // InMemoryTableScan is a boundary (a cached subtree's exchanges never
    // re-run), and a string count would also miscount: InMemoryRelation
    // prints its child plan inline at every reference, so nested caches
    // (the k-means iteration frames) inflate the text arbitrarily.
    def countExchanges(plan: SparkPlan): Int = {
      var n = 0
      def walk(p: SparkPlan): Unit = p match {
        case a: AdaptiveSparkPlanExec => walk(a.inputPlan)
        case e: Exchange => n += 1; e.children.foreach(walk)
        case other => other.children.foreach(walk)
      }
      walk(plan); n
    }
    val ceilings = Map("q_token_documents_full" -> 30,
      "q_kmeans_iter3" -> 20).withDefaultValue(14)
    val offenders = SparkEntry.queries.toSeq
      .filterNot(_._1 == "q_stream_volume_hourly")
      .flatMap { case (n, fn) =>
        val ex = countExchanges(
          fn(spark, GraftSpark.Sf).queryExecution.executedPlan)
        if (ex > ceilings(n)) Some(s"$n=$ex") else None
      }
    assert(offenders.isEmpty, s"queries over shuffle ceiling: $offenders")
  }

  test("token documents: one events scan feeds one linear exchange chain") {
    // legs → (token, wallet) states → (token, hour) → token, rendered both
    // ways from the same per-token row: one scan, and one exchange per
    // level (the wallet, hour and token regroups, the per-token broadcast
    // and the presentation sort). A per-metric subtree forked off the chain
    // would add a scan and its exchanges.
    def scans(df: DataFrame) = physicalNodes(df).collect {
      case s: FileSourceScanExec =>
        s.relation.location.rootPaths.map(_.getName).mkString(",") }
    for ((name, df) <- Seq(
        "tokenDocuments" -> Pipelines.tokenDocuments(spark, GraftSpark.Sf),
        "tokenDocumentsJson" ->
          Pipelines.tokenDocumentsJson(spark, GraftSpark.Sf))) {
      val p = df.queryExecution.executedPlan
      assert(scans(df) == Seq("events.parquet"), s"$name\n$p")
      val exchanges = physicalNodes(df).count(_.isInstanceOf[Exchange])
      assert(exchanges <= 5, s"$name: $exchanges exchanges\n$p")
    }
    assert(scans(Pipelines.walletStates(spark, GraftSpark.Sf)) ==
      Seq("events.parquet"))
  }

  test("name linkage: variant index cached once, names re-attached broadcast") {
    // both sides of the candidate self-join must read the SAME persisted
    // variant index (one generator run, not two), and the name columns must
    // come back via broadcast joins AFTER the pair distinct — the big
    // shuffles carry only (nation, variant-hash, key)
    val p = plan("q_name_linkage")
    assert(p.contains("InMemoryTableScan"), p)
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 2, p)
    // the refine never re-shuffles name strings: no exchange above the
    // broadcast joins except the final presentation sort
    assert(p.contains("levenshtein"), p)
  }

  test("narrow projections shuffle only for their final presentation sort") {
    // quantization, chunking and z-values are pure per-row projections:
    // the ONLY exchange allowed is the ORDER BY's range partitioning —
    // a hash exchange would mean an accidental aggregation/join crept in
    for (n <- Seq("q_quantize_int8", "q_doc_chunks", "q_zorder")) {
      val p = plan(n)
      assert(!p.contains("Exchange hashpartitioning"),
        s"$n grew a hash exchange:\n$p")
    }
  }

  test("span corruption is a pure projection: zero exchanges, zero joins") {
    val p = plan("q_span_corruption")
    // the one allowed exchange is the final presentation sort
    assert(!p.contains("Exchange hashpartitioning"), p)
    assert(!p.contains("Join"), p)
  }

  test("cdc apply and snapshot diff: one key exchange, no self-join") {
    for (n <- Seq("q_cdc_apply", "q_snapshot_diff")) {
      val p = plan(n)
      assert(!p.contains("SortMergeJoin"), s"$n joined its own scan:\n$p")
      assert("Exchange hashpartitioning".r.findAllIn(p).size <= 2,
        s"$n has extra hash exchanges:\n$p")
    }
  }

  test("batch padding: both orderings ride one source-keyed exchange") {
    val p = plan("q_batch_padding")
    // two window sorts (arrival, length) but a single hash partitioning
    // per union leg feeding them, plus the per-leg rollups
    assert(!p.contains("SortMergeJoin"), p)
    assert("Exchange hashpartitioning".r.findAllIn(p).size <= 4, p)
  }

  test("single-pass stream queries: one window exchange, no joins") {
    // attribution, SCD2 and compaction are one-window-pass operators:
    // exactly one hash exchange (the window partition key) plus the final
    // presentation sort — a join or second hash exchange means the shape
    // regressed to a self-join formulation
    for (n <- Seq("q_attribution", "q_scd2_intervals", "q_compaction_plan")) {
      val p = plan(n)
      assert(!p.contains("Join"), s"$n grew a join:\n$p")
      assert("Exchange hashpartitioning".r.findAllIn(p).size <= 2,
        s"$n has extra hash exchanges:\n$p")
    }
  }

  test("incremental agg: broadcast threshold, no sort-merge join anywhere") {
    // the base/delta split crosses a broadcast 1-row scalar; the partials
    // merge through a union + hash agg — a SortMergeJoin would mean the
    // threshold got joined the expensive way
    val p = plan("q_incremental_agg")
    assert(!p.contains("SortMergeJoin"), p)
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("Broadcast"), p)
    assert(p.contains("Union"), p)
  }

  test("set-sim join: one persisted per-doc frame feeds prefix and verify") {
    val p = plan("q_setsim_join")
    // the byRank frame is persisted and read at least twice (candidate
    // generation + two verification sides)
    assert(p.contains("InMemoryTableScan"), p)
    // verification joins are id-keyed equi-joins, never a cross join
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("bpe merges: three broadcast one-row merge applications, no SMJ") {
    val p = plan("q_bpe_merges")
    assert(!p.contains("SortMergeJoin"), p)
    assert("BroadcastNestedLoopJoin".r.findAllIn(p).size >= 3, p)
  }

  test("quantized ANN broadcasts the probe side; candidates never shuffle") {
    val p = plan("q_quantized_ann")
    assert(p.contains("BroadcastNestedLoopJoin") ||
      p.contains("BroadcastHashJoin"), p)
    // the full candidate stream reaches the arg-max via partial
    // aggregation, not a sort: no global sort before the aggregate
    assert(p.contains("graft_idot") || p.contains("intdot"),
      s"integer kernel missing from plan:\n$p")
  }

  test("random projection is a zero-exchange narrow projection") {
    val p = plan("q_random_projection")
    assert(!p.contains("Exchange hashpartitioning"),
      s"projection should add no shuffle:\n$p")
    // the only exchange allowed is the final range sort
    assert("Exchange".r.findAllIn(p).size <= 1, p)
  }

  test("target encoding broadcasts the 25-row stats frame") {
    val p = plan("q_target_encode")
    assert(p.contains("BroadcastHashJoin"), p)
  }

  test("source ablation: one aggregate + broadcast 1-row total, no SMJ") {
    val p = plan("q_source_ablation")
    assert(!p.contains("SortMergeJoin"), p)
    assert(p.contains("Broadcast"), p)
  }

  test("link prediction: wedge and anti joins are all equi-joins") {
    val p = plan("q_link_predict")
    assert(!p.contains("CartesianProduct"), p)
    // the candidate cut is a TakeOrdered, not a global sort + limit
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("containment join never goes quadratic: no cross join in the plan") {
    val p = plan("q_containment")
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("seasonal decomposition: trend window and hourly agg share a token exchange") {
    val p = plan("q_seasonal")
    // hourly agg keyed (token, t); window keyed token; seasonal join keyed
    // (token, hod) — at most three hash exchanges total plus the sort
    val exchanges = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(exchanges <= 3, s"unexpected exchange count $exchanges\n$p")
  }

  test("rfm: band tables join back by value without a cross join; " +
      "distributions rank inside range buckets") {
    val p = plan("q_rfm")
    assert(!p.contains("CartesianProduct"), p)
    // two-phase band edges: the near-unique monetary distribution ranks
    // inside hashpartitioning(rb). SinglePartition exchanges all carry
    // 1-row bounds / 256-row offset frames; Catalyst replicates those
    // tiny subtrees per reference (no exchange reuse across broadcast
    // subtrees), so their count is only loosely bounded — the guard that
    // matters is that every ordered window is rb-partitioned, i.e. no
    // windowspec without a partition column survives in the plan.
    assert(p.contains("hashpartitioning(rb"), p)
    assert(!p.contains("windowspecdefinition(mon#") &&
      !p.contains("windowspecdefinition(freq#") &&
      !p.contains("windowspecdefinition(rec_days#"),
      s"distribution window lost its rb partition:\n$p")
  }

  test("importance resampling: 256-row weight table broadcasts; the quota " +
      "cut is a TakeOrdered, not a global sort") {
    val p = plan("q_importance_resample")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("substring dups: one content-hash exchange ranks the window stream") {
    val p = plan("q_substring_dups")
    // the gh-partitioned rank plus the per-doc rollup and the join back —
    // no unpartitioned window over the window stream
    assert(p.contains("hashpartitioning(gh"), p)
    assert(!p.contains("windowspecdefinition(doc_id#"), p)
  }

  test("heaps curve: docs rank inside range buckets; SinglePartition only " +
      "carries constant-size frames") {
    val p = plan("q_heaps_curve")
    // two-phase rank: the docs frame ranks inside hashpartitioning(rb).
    // SinglePartition exchanges carry only constant-size frames (1-row
    // bounds, 256-row offsets, 10-row decile rollup — replicated per
    // reference by Catalyst, so the count is loose); the guard that
    // matters is that no window orders the raw doc_id stream — the only
    // row_number must be rb-partitioned.
    assert(p.contains("hashpartitioning(rb"), p)
    assert(!p.contains("windowspecdefinition(doc_id#"),
      s"doc-id rank lost its rb partition:\n$p")
  }

  test("random walks: every step broadcasts the seed-bounded frontier; " +
    "seeds are a TakeOrdered") {
    val p = plan("q_random_walks")
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(p.contains("BroadcastHashJoin"), p)
    // the edge list must never be sort-merge-joined against a frontier
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("postings: term selection is a TakeOrdered; the postings cut is " +
    "a partial (object-hash) aggregate, not a per-term sort window") {
    val p = plan("q_postings")
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(p.contains("ObjectHashAggregate"), p)
    assert(!p.contains("windowspecdefinition"), p)
  }

  test("merge intervals and cohort LTV: windows ride wallet/cohort " +
    "exchanges, never SinglePartition") {
    for (q <- Seq("q_merge_intervals", "q_cohort_ltv")) {
      val p = plan(q)
      assert(!p.contains("SinglePartition"), s"$q:\n$p")
    }
  }

  test("bootstrap CI: replicate means partial-aggregate map-side; the " +
    "only window runs over the 32-row-per-token replicate frame") {
    val p = plan("q_bootstrap_ci")
    // partial_sum before the (token, b) exchange = map-side combine
    assert(p.contains("partial_sum"), p)
    assert(p.contains("windowspecdefinition"), p)
    assert(p.contains("hashpartitioning(contract_address"), p)
  }

  test("stat tests (KS, Mann-Whitney, OLS): distribution windows " +
    "partition by token; no window ever orders a global frame") {
    for (q <- Seq("q_ks_drift", "q_mann_whitney", "q_ols_trend")) {
      val p = plan(q)
      // (ksDrift's 1-row min/max bounds agg is a constant-size
      // SinglePartition by design — the guard is on WINDOWS)
      assert(!p.contains("windowspecdefinition(cents#") &&
        !p.contains("windowspecdefinition(bucket#"),
        s"$q window lost its token partition:\n$p")
      assert(p.contains("hashpartitioning(contract_address"), s"$q:\n$p")
    }
  }

  test("decision stump: the split-search windows ride the 4-row feature " +
    "partitioning; bounds and totals broadcast") {
    val p = plan("q_decision_stump")
    assert(p.contains("hashpartitioning(feature"), p)
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("winnowing pairs: window-free — fingerprints fold in-row; the " +
    "report cut is a TakeOrdered") {
    val p = plan("q_winnow_pairs")
    assert(!p.contains("windowspecdefinition"), p)
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("seq patterns: the prefix rank rides the user_id exchange; the " +
    "pattern cut is a TakeOrdered") {
    val p = plan("q_seq_patterns")
    assert(p.contains("windowspecdefinition(user_id"), p)
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("grid DBSCAN: offset scatters broadcast; no cartesian product " +
    "anywhere") {
    val p = plan("q_dbscan_grid")
    assert(p.contains("BroadcastNestedLoopJoin") ||
      p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("windowspecdefinition"), p)
  }
}
