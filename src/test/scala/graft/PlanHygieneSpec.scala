package graft

/** Plan-hygiene sweep over the whole driver surface: no query may
  * plan a CartesianProduct, and a SortMergeJoin is allowed ONLY in
  * its bucketed-store form — exchange-free and sort-free beneath,
  * i.e. a merge join over pre-bucketed pre-sorted scans (the ideal
  * fact-fact plan at 100 TB). A shuffling or sorting SMJ means a join
  * silently fell off the broadcast/shuffle-hash/bucketed paths. Keeps
  * the scale claims in SURVEY §4 honest as operators evolve.
  */
class PlanHygieneSpec extends GraftSuite {

  test("no query plans a cartesian product or a shuffling/sorting sort-merge join") {
    import org.apache.spark.sql.execution.{SortExec, SparkPlan}
    import org.apache.spark.sql.execution.joins.SortMergeJoinExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    def smjViolations(p: SparkPlan): Int = p.collect {
      case smj: SortMergeJoinExec =>
        smj.children.map(c => c.collect {
          case _: ShuffleExchangeLike => 1
          case _: SortExec => 1
        }.sum).sum
    }.sum
    val offenders = SparkEntry.queries.toSeq.sortBy(_._1).flatMap { case (name, fn) =>
      val exec = fn(spark, sf).queryExecution.executedPlan
      val cart = if (exec.toString.contains("CartesianProduct")) Seq(s"$name: CartesianProduct") else Nil
      val smj = if (smjViolations(exec) > 0) Seq(s"$name: shuffling/sorting SortMergeJoin") else Nil
      cart ++ smj
    }
    assert(offenders.isEmpty, s"plan hygiene violations:\n${offenders.mkString("\n")}")
  }

  import org.apache.spark.sql.DataFrame
  import org.apache.spark.sql.catalyst.plans.logical.{JoinStrategyHint, ResolvedHint, BROADCAST, SHUFFLE_HASH}

  private def hintCount(df: DataFrame, s: JoinStrategyHint): Int =
    df.queryExecution.analyzed.collect {
      case h: ResolvedHint if h.hints.strategy.contains(s) => h
    }.size

  // Forced broadcast()s are driver OOMs at 100 TB when the hinted side
  // is data-sized; auto-broadcast by size ESTIMATE is fine (the planner
  // won't pick it for a corpus-sized side at scale). So the invariant
  // is on logical-plan hints, not physical BroadcastExchanges.
  test("events_retention forces no broadcast: its users-sized cohort join is shuffle_hash") {
    val df = operators.Analytics.eventsRetention(spark, sf)
    assert(hintCount(df, BROADCAST) == 0,
      "cohorts is one row per USER — never a broadcastable side")
    assert(hintCount(df, SHUFFLE_HASH) == 1)
  }

  test("corpus_curate's four corpus-fraction flag joins add shuffle_hash hints, zero broadcast hints") {
    // expected = broadcasts already inside the composed sub-operators
    // (decontaminate's DISTINCT eval-shingle set — constant-bounded —
    // and whatever the near-dup arm uses internally); composing the
    // four flag joins on top must add NONE.
    val subBroadcast =
      hintCount(operators.Curation.decontaminate(spark, sf), BROADCAST) +
      hintCount(operators.Dedup.clusters(spark, sf), BROADCAST) +
      hintCount(operators.Curation.textRepetition(spark, sf), BROADCAST)
    val subShuffleHash =
      hintCount(operators.Curation.decontaminate(spark, sf), SHUFFLE_HASH) +
      hintCount(operators.Dedup.clusters(spark, sf), SHUFFLE_HASH) +
      hintCount(operators.Curation.textRepetition(spark, sf), SHUFFLE_HASH)
    val curate = operators.Curation.curateCorpus(spark, sf)
    assert(hintCount(curate, BROADCAST) == subBroadcast,
      "a flag relation (exact/near dup, contaminated, repetitive) is a corpus " +
        "FRACTION — forcing it through the driver is an OOM at scale")
    assert(hintCount(curate, SHUFFLE_HASH) == subShuffleHash + 4)
  }

  test("TPC-H joins force no corpus-proportional broadcast: customer/supplier/order sides ride shuffle_hash") {
    // customer, supplier and any orders-derived key set all scale with
    // the corpus — only nation (25 rows, constant) may carry a forced
    // broadcast. Pins the q8/q10 discipline onto q3/q5/anti/semi.
    // q3 (r11 order): customer hints its join to orders, and the
    // resulting 1/5-of-orders relation hints its join to lineitem —
    // both corpus-proportional, so 2 shuffle_hash, still 0 broadcast
    val q3 = operators.Analytics.q3(spark, sf)
    assert(hintCount(q3, BROADCAST) == 0 && hintCount(q3, SHUFFLE_HASH) == 2)
    val q5 = operators.Analytics.q5(spark, sf)
    assert(hintCount(q5, BROADCAST) == 1,
      "only the 25-row nation dimension may broadcast in q5")
    // r11 order: customer → orders⋈customer → supplier, all three
    // corpus-proportional sides hinted (the oc hint also bars the
    // planner from auto-broadcasting the pruned orders projection —
    // a local-SF-only plan that dies at scale)
    assert(hintCount(q5, SHUFFLE_HASH) == 3)
    val anti = operators.Analytics.custWithoutOrders(spark, sf)
    assert(hintCount(anti, BROADCAST) == 0 && hintCount(anti, SHUFFLE_HASH) == 1)
    val semi = operators.Analytics.custWithUrgent(spark, sf)
    assert(hintCount(semi, BROADCAST) == 0 && hintCount(semi, SHUFFLE_HASH) == 1)
    val q4 = operators.Analytics.q4(spark, sf)
    assert(hintCount(q4, BROADCAST) == 0 && hintCount(q4, SHUFFLE_HASH) == 1)
    val q14 = operators.Analytics.q14(spark, sf)
    assert(hintCount(q14, BROADCAST) == 0 && hintCount(q14, SHUFFLE_HASH) == 1)
    // q17's branded subtree (1 hint) appears on both sides of the
    // threshold join (the persist dedupes execution, not the analyzed
    // tree), plus the threshold join's own hint = 3
    val q17 = operators.Analytics.q17(spark, sf)
    assert(hintCount(q17, BROADCAST) == 0 && hintCount(q17, SHUFFLE_HASH) == 3)
    val q19 = operators.Analytics.q19(spark, sf)
    assert(hintCount(q19, BROADCAST) == 0 && hintCount(q19, SHUFFLE_HASH) == 1)
    // q15's one forced broadcast is the ONE-ROW max scalar — allowed
    val q15 = operators.Analytics.q15(spark, sf)
    assert(hintCount(q15, BROADCAST) == 1 && hintCount(q15, SHUFFLE_HASH) == 1)
    // q7's two forced broadcasts are both the 25-row nation constant
    // (two roles); supplier/customer ride shuffle_hash
    val q7 = operators.Analytics.q7(spark, sf)
    assert(hintCount(q7, BROADCAST) == 2 && hintCount(q7, SHUFFLE_HASH) == 2)
    // q8 (r11): orders + supplier both corpus-proportional and hinted;
    // the one broadcast is the 25-row nation constant
    val q8 = operators.Analytics.q8(spark, sf)
    assert(hintCount(q8, BROADCAST) == 1 && hintCount(q8, SHUFFLE_HASH) == 2)
    // q9: one 25-row nation broadcast; part + supplier shuffle_hash
    val q9 = operators.Analytics.q9(spark, sf)
    assert(hintCount(q9, BROADCAST) == 1 && hintCount(q9, SHUFFLE_HASH) == 2)
    // q11: the persisted per-part aggregate (nation broadcast +
    // supplier shuffle_hash inside) appears on BOTH sides of the
    // threshold cross join in the ANALYZED tree (persist dedupes
    // execution, not analysis) → nation×2 + the ONE-ROW total scalar
    val q11 = operators.Analytics.q11(spark, sf)
    assert(hintCount(q11, BROADCAST) == 3 && hintCount(q11, SHUFFLE_HASH) == 2)
    // q13: the per-customer order counts are corpus-proportional —
    // outer join must never broadcast them
    val q13 = operators.Analytics.q13(spark, sf)
    assert(hintCount(q13, BROADCAST) == 0 && hintCount(q13, SHUFFLE_HASH) == 1)
    // q16: exclusion anti + part class, both corpus-proportional
    val q16 = operators.Analytics.q16(spark, sf)
    assert(hintCount(q16, BROADCAST) == 0 && hintCount(q16, SHUFFLE_HASH) == 2)
    // q21: zero broadcasts anywhere — the F-gate semi, the two
    // order-keyed sketch joins, the candidate re-key and the supplier
    // name join are ALL keyed shuffle_hash. 8 hint nodes, not 5: the
    // F-gated lineitem subtree (carrying the semi hint) recurs 4× in
    // the ANALYZED tree through perSupp/stats/candidates (persist
    // dedupes execution, not analysis)
    val q21 = operators.Analytics.q21(spark, sf)
    assert(hintCount(q21, BROADCAST) == 0 && hintCount(q21, SHUFFLE_HASH) == 8)
    // q22: the one broadcast is the ONE-ROW average gate
    val q22 = operators.Analytics.q22(spark, sf)
    assert(hintCount(q22, BROADCAST) == 1 && hintCount(q22, SHUFFLE_HASH) == 1)
  }

  test("q19's disjunctive join condition pushes per-side residuals into both scans") {
    // the anchor's whole point: Catalyst must extract the quantity
    // disjunction for the lineitem scan and the brand/size disjunction
    // for the part scan — both visible as PushedFilters — before the
    // partkey join. A Catalyst upgrade that breaks the CNF extraction
    // turns the query into a full double scan; this pins it.
    val plan = operators.Analytics.q19(spark, sf)
      .queryExecution.executedPlan.toString
    val pushed = plan.split("\n").filter(_.contains("PushedFilters"))
    assert(pushed.exists(l => l.contains("lineitem") || l.contains("l_quantity")),
      s"quantity residual not pushed to the lineitem scan:\n$plan")
    assert(pushed.exists(l => l.contains("p_brand")),
      s"brand/size residual not pushed to the part scan:\n$plan")
    // and q4's derived shipdate bound reaches the lineitem scan
    val q4plan = operators.Analytics.q4(spark, sf)
      .queryExecution.executedPlan.toString
    assert(q4plan.split("\n").exists(l =>
        l.contains("PushedFilters") && l.contains("GreaterThan(l_shipdate")),
      s"derived shipdate bound not pushed in q4:\n$q4plan")
  }

  test("ann_knn_graph broadcasts only the 256-row-bounded bucket census") {
    val df = operators.VectorSearch.annKnnGraph(spark, sf)
    // exactly the two keyed/probe joins against `sizes` — a relation
    // bounded at 2^AnnLshPlanes rows BY CONSTRUCTION at any corpus
    // scale; corpus and probe sides (both corpus-sized) must meet in
    // a shuffle_hash join, never through the driver
    assert(hintCount(df, BROADCAST) == 2,
      "only the bounded bucket-size relation may broadcast")
    assert(hintCount(df, SHUFFLE_HASH) == 1,
      "the corpus↔probes candidate join rides shuffle_hash")
    // and the hash map is built from the CANDIDATE side (corpus ÷
    // partitions — bounded when partitions scale with data), never
    // from the 93×-fan-out probe side (measured OOM at sf10); the
    // executed plan sits under AQE, so pin via the rendered plan
    val rendered = df.queryExecution.executedPlan.toString
    val shjLines = rendered.linesIterator.filter(_.contains("ShuffledHashJoin")).toSeq
    assert(shjLines.nonEmpty, s"expected a shuffled hash join:\n$rendered")
    shjLines.foreach { l =>
      assert(l.contains("BuildLeft"),
        s"candidate join must build the keyed/candidate (left) side: $l")
    }
  }

  test("dedup_span and events_wau force no broadcast anywhere") {
    // dup-gram starts are corpus-fraction-sized; (user, report-day)
    // contributions are users×days×7-sized — neither may be hinted
    // through the driver
    assert(hintCount(operators.Dedup.spanCoverage(spark, sf), BROADCAST) == 0)
    assert(hintCount(operators.Analytics.eventsWau(spark, sf), BROADCAST) == 0)
  }

  test("every unpartitioned window rides a bounded input") {
    // An empty-partition-spec WindowExec funnels its whole input
    // through ONE task — fine over a bounded relation, a scale-killer
    // over a corpus-shaped one. Sweep every driver entry: the window's
    // input must carry a limit / TakeOrdered / scalar aggregate
    // beneath, or the query must be on the justified whitelist.
    import org.apache.spark.sql.execution.window.WindowExec
    import org.apache.spark.sql.execution.{GlobalLimitExec, LocalLimitExec, SparkPlan, TakeOrderedAndProjectExec}
    import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
    val whitelist = Map(
      // bounded by construction, invisible to the plan-shape heuristic:
      "corpus_mix"     -> "window over the per-source census — sources are dozens, never corpus-shaped",
      "shard_manifest" -> "window over the NumShards-row aggregate — constant shard domain",
      // vocabulary's remaining unpartitioned window is the
      // ≤numPartitions offsets prefix-sum of the distributed
      // dense-id assignment — bounded by cluster parallelism (a
      // config constant); the heuristic can't see that the _pid
      // grouping is constant-bounded
      "vocabulary"     -> "offsets prefix-sum over ≤numPartitions rows (distributed rank, r7)")
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      def bounded(p: SparkPlan): Boolean = p.exists {
        case _: GlobalLimitExec | _: LocalLimitExec | _: TakeOrderedAndProjectExec => true
        case a: BaseAggregateExec if a.groupingExpressions.isEmpty => true
        case _ => false
      }
      val flagged = SparkEntry.queries.toSeq.sortBy(_._1).flatMap { case (name, fn) =>
        val exec = fn(spark, sf).queryExecution.executedPlan
        val bad = exec.collect {
          case w: WindowExec if w.partitionSpec.isEmpty && !w.children.forall(bounded) => w
        }
        if (bad.nonEmpty) Seq(name) else Nil
      }.toSet
      val unexpected = flagged -- whitelist.keySet
      assert(unexpected.isEmpty,
        s"new corpus-sized unpartitioned window(s) in: ${unexpected.mkString(", ")}")
    } finally spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
  }

  test("bm25_prf stays one plan: bounded job count, one corpus materialization") {
    // RM3's serial depth is 5 bounded-row broadcast barriers
    // (stats → feedback top-k → expansion terms → per-term df → score);
    // under AQE each barrier materializes as a small number of jobs.
    // A silent re-split (a mid-plan collect, or a second tokenize pass
    // for the feedback arm) shows up as extra jobs — pin the ceiling.
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    spark.catalog.clearCache()
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new SparkListener {
      override def onJobStart(s: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      val rows = operators.Bm25.prfSearch(spark, sf).collect()
      assert(rows.nonEmpty)
      // drain deterministically — a fixed sleep flakes on a loaded box
      org.apache.spark.graftbridge.ListenerBridge.waitUntilEmpty(spark.sparkContext)
      assert(jobs.get() <= 25,
        s"bm25_prf launched ${jobs.get()} jobs — the one-plan fold re-split")
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("q21 never re-exchanges the candidate line stream on the compound key (r10)") {
    // the r10 restructure attaches per-(order, supplier) stats to the
    // candidate lines through ONE l_orderkey-keyed join with the
    // own-supplier equality as a residual filter behind the NoInline
    // barrier (Catalyst never lifts a non-deterministic conjunct into
    // join keys). If a refactor drops the barrier, the planner pulls
    // the plain equality into the join keys and the corpus-sized line
    // stream pays a full (l_orderkey, l_suppkey) exchange again —
    // exactly the shuffle this pin forbids.
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
    val plan = operators.Analytics.q21(spark, sf).queryExecution.sparkPlan
    val compound = plan.collect {
      case e: ShuffleExchangeExec => e.outputPartitioning match {
        case h: HashPartitioning =>
          val names = h.expressions.flatMap(_.references.map(_.name)).toSet
          if (names.contains("l_orderkey") && names.exists(_.endsWith("suppkey"))) 1 else 0
        case _ => 0
      }
    }.sum
    assert(compound == 0,
      s"compound-key exchange of the candidate stream crept back:\n${plan.toString.take(3000)}")
  }

  test("pagerank iterations shuffle only the contribution sum (r10 sparse iterate)") {
    // the sparse-contribution formulation folds the dense
    // nodes ⟕ contribs join into the edge join (base rank is a
    // constant), so the loop carries exactly one join per round after
    // the first plus the one final dense materialization: joins in the
    // optimized plan = (iters - 1 contribution attaches) + 1 final
    // nodes join (the edge-deg build join lives inside the persisted
    // withDeg relation, which plan substitution replaces with its
    // cache scan). A revert to the dense iterate doubles the per-round
    // join count and re-exchanges the node set each round.
    import org.apache.spark.sql.catalyst.plans.logical.Join
    val iters = operators.Clustering.PrIters
    val joins = operators.Clustering.graphPagerank(spark, sf)
      .queryExecution.optimizedPlan.collect { case j: Join => j }.size
    assert(joins == (iters - 1) + 1,
      s"pagerank plan carries $joins joins — expected ${(iters - 1) + 1} for the sparse iterate")
  }
}
