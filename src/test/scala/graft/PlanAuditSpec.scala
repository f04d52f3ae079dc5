package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

/** The ExplainAudit findings frozen as regression tests: each test pins a
  * plan property that matters at 100 TB — predicate pushdown reaching the
  * parquet scan, column-pruned ReadSchema, dimension broadcasts, top-N
  * planned as TakeOrderedAndProject, bounded shuffle counts — so a future
  * change that un-pushes a filter or adds an exchange fails the suite
  * instead of the cluster bill. Plan SHAPE is scale-independent; sf0.001
  * keeps the executed-plan finalization (AQE needs a real run) cheap.
  *
  * Broadcast assertions pin the EXPLICIT broadcasts (dimension chains):
  * at test scale AQE also broadcast-converts fact⋈fact joins, so those
  * tests assert the absence of a planner HINT rather than the runtime
  * join strategy, which legitimately differs at 100 TB.
  */
class PlanAuditSpec extends AnyFunSuite {

  lazy val spark: SparkSession = graft.core.GraftSession
    .builder("plan-audit-spec", "4").getOrCreate()

  private val dir = "/root/testdata/sf0.001"

  private def query(name: String): DataFrame = SparkEntry.queries(name)(spark, dir)

  private def formatted(df: DataFrame): String =
    df.queryExecution.explainString(org.apache.spark.sql.execution.FormattedMode)

  /** Executed plan string with AQE finalized on THIS QueryExecution. */
  private def executed(df: DataFrame): String = {
    df.queryExecution.toRdd.count()
    df.queryExecution.executedPlan.toString
  }

  /** The AQE-finalized plan TREE (not its string form) — for assertions
    * on specific node properties (join type feeding a broadcast, etc.)
    * that line-substring matching would make brittle against plan
    * rendering changes. */
  private def finalPlanTree(df: DataFrame)
      : org.apache.spark.sql.execution.SparkPlan = {
    df.queryExecution.toRdd.count()
    df.queryExecution.executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        a.executedPlan
      case p => p
    }
  }

  /** collect() that descends through the AQE wrapper nodes (query
    * stages, reused exchanges/subqueries) which plain
    * `SparkPlan.collect` treats as leaves. */
  private def collectAll[T](plan: org.apache.spark.sql.execution.SparkPlan)(
      pf: PartialFunction[org.apache.spark.sql.execution.SparkPlan, T]): Seq[T] = {
    import org.apache.spark.sql.execution.adaptive.QueryStageExec
    import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
    val children: Seq[org.apache.spark.sql.execution.SparkPlan] = plan match {
      case qs: QueryStageExec => Seq(qs.plan)
      case r: ReusedExchangeExec => Seq(r.child)
      case p => p.children
    }
    (if (pf.isDefinedAt(plan)) Seq(pf(plan)) else Nil) ++
      children.flatMap(collectAll(_)(pf))
  }

  /** The fleet rule for one-reducer funnels. An `Exchange
    * SinglePartition` may sit only directly above a partial aggregate
    * with no grouping keys, which sends one row per input partition;
    * any other (a window, sort, limit or join over the whole input, a
    * `repartition(1)`) sends its whole input through one task. Walks
    * the plan with its cached frames' plans and subqueries; returns the
    * child node name of each exchange that breaks the rule. */
  private def funnels(plan: org.apache.spark.sql.execution.SparkPlan)
      : Seq[String] = {
    import org.apache.spark.sql.catalyst.expressions.aggregate.{Partial, PartialMerge}
    import org.apache.spark.sql.catalyst.plans.QueryPlan
    import org.apache.spark.sql.catalyst.plans.physical.SinglePartition
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
    import org.apache.spark.sql.execution.exchange.{ReusedExchangeExec, ShuffleExchangeExec}
    def walk(p: QueryPlan[_]): Seq[QueryPlan[_]] = p +: (p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case qs: QueryStageExec => Seq(qs.plan)
      case r: ReusedExchangeExec => Seq(r.child)
      case _ => (p.children ++ p.innerChildren).collect { case q: QueryPlan[_] => q }
    }).flatMap(walk)
    def onePerPartition(p: org.apache.spark.sql.execution.SparkPlan) = p match {
      case a: BaseAggregateExec => a.groupingExpressions.isEmpty &&
        a.aggregateExpressions.forall(e => e.mode == Partial || e.mode == PartialMerge)
      case _ => false
    }
    walk(plan).collect {
      case e: ShuffleExchangeExec if e.outputPartitioning == SinglePartition &&
          !onePerPartition(e.child) => e.child.nodeName
    }
  }

  private def pushed(plan: String): String =
    "PushedFilters: \\[[^\\]]*\\]".r.findAllIn(plan).mkString("; ")

  private def readSchemas(plan: String): String =
    "ReadSchema: [^\n]*".r.findAllIn(plan).mkString("; ")

  private def shuffles(executedPlan: String): Int =
    "Exchange hashpartitioning".r.findAllIn(executedPlan).size

  test("q01: status filter pushed to the scan, ReadSchema pruned") {
    val plan = formatted(query("q01_filter_status"))
    val pf = pushed(plan)
    assert(pf.contains("EqualTo(o_orderstatus,F)"), s"pushdown lost: $pf")
    val rs = readSchemas(plan)
    // 5 needed columns only — the 4 unused (clerk, priority, comment,
    // shippriority) must not reach the scan
    assert(rs.contains("o_orderkey") && rs.contains("o_orderdate"), rs)
    assert(!rs.contains("o_comment") && !rs.contains("o_clerk"),
      s"ReadSchema not pruned: $rs")
  }

  test("q02: time-range AND in-list pushed, ReadSchema pruned") {
    val plan = formatted(query("q02_filter_time_in"))
    val pf = pushed(plan)
    assert(pf.contains("GreaterThanOrEqual(l_shipdate"), s"range lower lost: $pf")
    assert(pf.contains("LessThan(l_shipdate"), s"range upper lost: $pf")
    assert(pf.contains("In(l_returnflag"), s"in-list lost: $pf")
    val rs = readSchemas(plan)
    assert(!rs.contains("l_comment") && !rs.contains("l_shipinstruct"),
      s"ReadSchema not pruned: $rs")
  }

  test("q31: query-side vec_id filter pushed; corpus scan reads only id+vector") {
    val plan = formatted(query("q31_cosine_topk"))
    val pf = pushed(plan)
    assert(pf.contains("LessThan(vec_id,10)"), s"query-side pushdown lost: $pf")
    val rs = readSchemas(plan)
    assert(rs.contains("embedding"), rs)
  }

  test("q12/q46: dimension chain broadcasts explicit; fact joins unhinted") {
    // q12: nation and region ride explicit broadcast() hints
    val q12 = executed(query("q12_join_dim_chain"))
    val bhj = "BroadcastHashJoin".r.findAllIn(q12).size
    assert(bhj >= 2, s"expected >=2 broadcast joins in q12, got $bhj:\n$q12")
    // q11/q46 join fact-sized tables: the LOGICAL plan must carry no
    // broadcast hint (AQE may still broadcast at test scale — that is
    // the optimizer's call, not a baked-in assumption that breaks at
    // 100 TB where both sides are huge)
    Seq("q11_join_fk", "q46_auth_login").foreach { name =>
      val optimized = query(name).queryExecution.optimizedPlan.toString
      assert(!optimized.contains("ResolvedHint"),
        s"$name: unexpected broadcast hint on a fact-sized join")
    }
  }

  test("q03/q98/q23 + monitorJobs: top-N as TakeOrderedAndProject, never a global sort") {
    val q98 = executed(query("q98_key_skew"))
    assert(q98.contains("TakeOrderedAndProject"),
      s"q98: top-N lost TakeOrderedAndProject:\n$q98")
    // the monitor-jobs pipeline, as q23 and as the REST route over a
    // jobs frame mapped from the orders scan: derived columns above the
    // limit would leave Limit(Project(Project(Sort))), which plans as a
    // range-partitioned global sort + CollectLimit (three jobs)
    import org.apache.spark.sql.functions._
    val jobs = graft.core.Tables(spark, dir).orders.select(
      concat(lit("job_"), col("o_orderkey")).as("jobId"),
      lit("EXTRACT").as("jobType"),
      when(col("o_orderstatus") === "F", "COMPLETED").otherwise("FAILED").as("status"),
      col("o_orderdate").cast("timestamp").as("createdAt"),
      col("o_orderdate").cast("timestamp").as("startedAt"),
      (col("o_orderdate").cast("timestamp") + expr("INTERVAL 5 MINUTES")).as("completedAt"),
      lit(null).cast("string").as("errorMessage"),
      col("o_orderkey").as("recordsProcessed"),
      col("o_orderkey").as("recordsSuccessful"),
      lit(0L).as("recordsFailed"))
    val monitorJobs = graft.api.QueryApi.monitorJobs(jobs,
      "status=COMPLETED&from=1995-01-01T00:00:00&limit=50")
      .getOrElse(fail("monitorJobs rejected valid params"))
    Seq(
      "q03_top_recent" -> query("q03_top_recent"),
      "q23_monitor_jobs" -> query("q23_monitor_jobs"),
      "QueryApi.monitorJobs" -> monitorJobs).foreach { case (name, df) =>
      val ex = executed(df)
      assert(ex.contains("TakeOrderedAndProject"),
        s"$name: top-N lost TakeOrderedAndProject:\n$ex")
      // no full global sort for a bounded top-N
      assert(!ex.contains("Exchange rangepartitioning"),
        s"$name: global sort snuck in:\n$ex")
    }
  }

  test("q82/q92: shuffle-exchange budget holds, funnel keys on ONE column") {
    // q82 corpus diff: two snapshot scans, md5 fingerprints, ONE id-keyed
    // join path — the text column never shuffles; budget 4 exchanges
    // (left/right of the diff join + the summary agg pair)
    val q82 = shuffles(executed(query("q82_corpus_diff")))
    assert(q82 <= 4, s"q82 exchange budget blown: $q82 hash exchanges")
    // q92 funnel: the SCALE claim is one logical shuffle KEY end-to-end —
    // every hash exchange must partition on user_id (what lets a
    // user-bucketed events table drop them ALL — see ScaleOpsSpec's
    // funnel bucketing proof). The count itself is a loose canary: the
    // step subtrees are re-derived per reference (12 at last audit), and
    // ReuseExchange/bucketing, not this plan, is the count lever.
    val q92plan = executed(query("q92_event_funnel"))
    val keys = "Exchange hashpartitioning\\(([A-Za-z_#0-9]+)".r
      .findAllMatchIn(q92plan).map(_.group(1).takeWhile(_ != '#')).toSeq
    assert(keys.nonEmpty && keys.forall(_ == "user_id"),
      s"q92 shuffles on more than user_id: $keys")
    assert(keys.size <= 12, s"q92 exchange count canary blown: ${keys.size}")
  }

  test("q116: span dedup shuffles only on fp and doc_id, windows all partitioned") {
    // the scale shape: position stream shuffles ONCE by fingerprint
    // (first-occurrence agg + join-back), then everything else keys on
    // doc_id (island windows + per-doc rollup). Any other key — or an
    // unpartitioned window's SinglePartition exchange — is a regression
    // that moves the whole corpus through one reducer at 100 TB.
    val plan = executed(query("q116_dup_spans"))
    val keys = "Exchange hashpartitioning\\(([A-Za-z_#0-9]+)".r
      .findAllMatchIn(plan).map(_.group(1).takeWhile(_ != '#')).toSeq
    assert(keys.nonEmpty && keys.forall(k => k == "fp" || k == "doc_id"),
      s"q116 shuffles on unexpected keys: $keys")
    assert(!plan.contains("Exchange SinglePartition"),
      "q116 must not move data through a single partition")
  }

  test("q121: incremental span dedup keeps the q116 key discipline with the store probe") {
    // the store side joins as a narrow distinct (fp) set, so the ONLY
    // legal shuffle keys stay fp (first-occurrence agg, store semi-join)
    // and doc_id (islands + rollup) — and no SinglePartition anywhere.
    val plan = executed(query("q121_incremental_span_dedup"))
    val keys = "Exchange hashpartitioning\\(([A-Za-z_#0-9]+)".r
      .findAllMatchIn(plan).map(_.group(1).takeWhile(_ != '#')).toSeq
    assert(keys.nonEmpty && keys.forall(k => k == "fp" || k == "doc_id"),
      s"q121 shuffles on unexpected keys: $keys")
    assert(!plan.contains("Exchange SinglePartition"),
      "q121 must not move data through a single partition")
  }

  test("q123: incremental components — no single partition, hot set broadcasts") {
    // round-10 shape: one combined-population hot-bucket exclusion feeds
    // all three pair populations as a BROADCAST anti-join (the hot list
    // is tiny by construction), the iterative merge never funnels through
    // one reducer, and the multi-stage pipeline stays inside a bounded
    // exchange budget (24 at last audit; slack for AQE variation).
    val df = query("q123_incremental_components")
    df.queryExecution.toRdd.count()
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange SinglePartition"),
      "q123 must not move data through a single partition")
    assert(plan.contains("BroadcastExchange"),
      "the hot-bucket exclusion must reach the band stream as a broadcast")
    val n = shuffles(plan)
    assert(n <= 28, s"q123 exchange budget blown: $n hash exchanges")
  }

  test("q109/q120: verdict quantiles and temperature mix stay group-keyed and broadcast") {
    // q109: two passes over the narrow (g, len) projection; the only
    // shuffle key is the group, and the tiny per-group estimate table
    // reaches the rank pass as a broadcast, never a shuffled join side.
    val p109 = executed(query("q109_approx_quantiles"))
    val k109 = "Exchange hashpartitioning\\(([A-Za-z_#0-9]+)".r
      .findAllMatchIn(p109).map(_.group(1).takeWhile(_ != '#')).toSet
    assert(k109.subsetOf(Set("g")), s"q109 shuffles on unexpected keys: $k109")
    assert(p109.contains("BroadcastExchange") ||
      p109.contains("BroadcastHashJoin"),
      "q109's estimate table must broadcast to the rank pass")
    // q120: the pivot is a 1-row TakeOrdered (never a global sort) and
    // the per-source rate table broadcasts back onto the corpus.
    val p120 = executed(query("q120_temperature_mix"))
    assert(p120.contains("TakeOrderedAndProject"),
      "q120's min-count pivot must plan as TakeOrderedAndProject")
    assert(!p120.matches("(?s).*Sort \\[n_total.*global=true.*"),
      "q120 must not globally sort the source table for the pivot")
  }

  test("q122: semantic decontamination is one broadcast pass, argmax not window") {
    // the bench side must broadcast (never shuffle the corpus for a
    // tiny bench set) and the argmax must be the combinable aggregate —
    // a Window here would re-introduce the per-key sort the operator
    // exists to avoid.
    val plan = executed(query("q122_semantic_decontamination"))
    assert(plan.contains("BroadcastNestedLoopJoin") ||
      plan.contains("BroadcastExchange"),
      "bench side must reach the corpus as a broadcast")
    assert(!plan.contains("Window"),
      "argmax must stay a combinable aggregate, not a window")
    val keys = "Exchange hashpartitioning\\(([A-Za-z_#0-9]+)".r
      .findAllMatchIn(plan).map(_.group(1).takeWhile(_ != '#')).toSet
    assert(keys.subsetOf(Set("train_id")),
      s"q122 shuffles on unexpected keys: $keys")
  }

  test("q127/q128/q131: LM + sketch plans keep their broadcast/shuffle shapes") {
    // q127: the vocab is a driver-built LocalRelation joined by
    // BROADCAST — the probe side must never shuffle on the token. Legal
    // hash exchanges: the (doc, t) partial-count agg and the per-doc
    // re-agg/join, both keyed on doc_id or (doc_id, t).
    val q127 = executed(query("q127_surprisal_quality"))
    assert(q127.contains("BroadcastExchange"),
      s"q127: vocab lost its broadcast:\n$q127")
    val k127 = "Exchange hashpartitioning\\(([A-Za-z_#0-9]+)".r
      .findAllMatchIn(q127).map(_.group(1).takeWhile(_ != '#')).toSet
    assert(k127.subsetOf(Set("doc_id", "t")),
      s"q127 shuffles on unexpected keys: $k127")
    // q128: the 10k-bucket weight table must broadcast; shuffles only on
    // bucket (the two hash counts) and doc_id (the per-doc sum).
    val q128 = executed(query("q128_importance_weights"))
    assert(q128.contains("BroadcastExchange"),
      s"q128: weight table lost its broadcast:\n$q128")
    val k128 = "Exchange hashpartitioning\\(([A-Za-z_#0-9]+)".r
      .findAllMatchIn(q128).map(_.group(1).takeWhile(_ != '#')).toSet
    assert(k128.subsetOf(Set("bucket", "doc_id")),
      s"q128 shuffles on unexpected keys: $k128")
    // q133: both LM tables are driver-built broadcasts; shuffles only
    // on the (doc, gram) partial count, the per-doc re-agg, and the
    // backoff join key — never on raw text.
    val q133 = executed(query("q133_bigram_surprisal"))
    assert(q133.contains("BroadcastExchange"),
      s"q133: model tables lost their broadcast:\n$q133")
    val k133 = "Exchange hashpartitioning\\(([A-Za-z_#0-9]+)".r
      .findAllMatchIn(q133).map(_.group(1).takeWhile(_ != '#')).toSet
    assert(k133.subsetOf(Set("doc_id", "g", "cur", "t")),
      s"q133 shuffles on unexpected keys: $k133")
    // q131: ONE aggregation shuffle on the group column carries the
    // O(capacity) summaries — never the raw items — and the ranked
    // output needs no window.
    val q131 = executed(query("q131_heavy_hitters"))
    assert(shuffles(q131) <= 2, // group agg + final small orderBy repartition
      s"q131 exchange budget blown:\n$q131")
    assert(!q131.contains("Window"),
      s"q131: ranking must come from the sorted summary, not a window:\n$q131")
  }

  test("q134/q135: contrast + fertility plans keep their broadcast/shuffle shapes") {
    // q134: BOTH capped model tables are driver-built broadcast
    // LocalRelations; legal hash exchanges are the (doc, is_target, t)
    // partial count, the token-keyed model aggregation, and the per-doc
    // re-agg/join — never raw text, never a global barrier.
    val q134 = executed(query("q134_lm_contrast"))
    assert(q134.contains("BroadcastExchange"),
      s"q134: model tables lost their broadcast:\n$q134")
    val k134 = "Exchange hashpartitioning\\(([A-Za-z_#0-9]+)".r
      .findAllMatchIn(q134).map(_.group(1).takeWhile(_ != '#')).toSet
    assert(k134.subsetOf(Set("doc_id", "is_target", "t")),
      s"q134 shuffles on unexpected keys: $k134")
    // q135: one combinable aggregation shuffle on the (lang, source)
    // group — the per-word scan kernel never shuffles rows by token —
    // and the permille math needs no window.
    val q135 = executed(query("q135_tokenizer_fertility"))
    val k135 = "Exchange hashpartitioning\\(([A-Za-z_#0-9]+)".r
      .findAllMatchIn(q135).map(_.group(1).takeWhile(_ != '#')).toSet
    assert(k135.subsetOf(Set("lang")),
      s"q135 shuffles on unexpected keys: $k135")
    assert(!q135.contains("Window"),
      s"q135: no window allowed:\n$q135")
  }

  test("fleet invariant: no query plans a SinglePartition exchange outside the whitelist") {
    // Exchange SinglePartition is the one-reducer funnel that breaks at
    // 100 TB: EVERY registered query's physical plan (its cached frames'
    // plans and subqueries included) is checked with `funnels`, which
    // allows the exchange only above a keyless partial aggregate. A new
    // query that sneaks in an unpartitioned window or a single-partition
    // sort fails here by name, not in the cluster bill. (A CollectLimit or
    // TakeOrdered at the root plans no exchange and is fine.)
    // The same pass audits the materialization lifecycle: a build that
    // leaves a CacheManager entry behind leaks it for the application's
    // lifetime (nothing but a clearCache ever frees it). Each build
    // starts from an empty cache: a persist of a plan some earlier build
    // already leaked adds no entry, and would hide the second leak.
    // Queries that break the rule, each with the node under each of its
    // funnels and why; ROADMAP direction 4 tracks them, and each leaves
    // the whitelist once it is fixed. A funnel added, removed or moved
    // onto a different node fails.
    val whitelist: Map[String, (Seq[String], String)] = Map(
      "q19_transform_rules" -> (Seq("LocalLimit"),
        "ORDER BY doc_id LIMIT 500 under projections: <= 500 rows per partition"),
      "q63_watermark_windows" -> (Seq("HashAggregate"),
        "unpartitioned running max over per-batch maxima: one row per 50 events, a real funnel"),
      "q79_training_order" -> (Seq("HashAggregate"),
        "md5-prefix bucket counts for the global offsets: <= 256 rows"),
      "q81_quality_funnel" -> (Seq("Project"),
        "per-stage drop counts joined to the stage list: <= 5 rows"))
    def entries = org.apache.spark.sql.graftbridge.CacheProbe.entries(spark)
    val audited = SparkEntry.queries.keys.toSeq.sorted.map { name =>
      spark.sharedState.cacheManager.clearCache()
      val before = entries
      val found =
        try funnels(SparkEntry.queries(name)(spark, dir).queryExecution
          .executedPlan)
        catch { case scala.util.control.NonFatal(e) =>
          fail(s"$name failed to plan: ${e.getMessage}")
        }
      (name, found, entries - before)
    }
    val wrong = audited.collect {
      case (name, found, _) if found != whitelist.get(name).fold(Seq.empty[String])(_._1) =>
        s"$name: found ${found.mkString("[", ", ", "]")}, whitelisted " +
          whitelist.get(name).fold("[]")(_._1.mkString("[", ", ", "]"))
    }
    assert(wrong.isEmpty,
      s"SinglePartition funnels differ from the whitelist: ${wrong.mkString("; ")}")
    val leaks = audited.collect { case (name, _, n) if n > 0 => s"$name (+$n)" }
    assert(leaks.isEmpty,
      s"${leaks.size} query builds left CacheManager entries: " +
        leaks.mkString(", "))
  }

  test("funnel rule: a keyless global aggregate passes; a whole-input window fails, in a cached frame too") {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    val input = spark.range(0, 10000, 1, 4).toDF("x")
    def plan(df: DataFrame) = df.queryExecution.executedPlan
    assert(funnels(plan(input.agg(count(lit(1)), max(col("x")),
      countDistinct(col("x"))))).isEmpty)
    // a grouped aggregate shuffles by key, never to one partition
    assert(funnels(plan(input.groupBy(col("x") % 7).count())).isEmpty)
    val windowed = input.withColumn("r", row_number().over(Window.orderBy(col("x"))))
    assert(funnels(plan(windowed)).nonEmpty)
    assert(funnels(plan(input.repartition(1))).nonEmpty)
    // the walk reads the plans of the frames a query reads from cache
    val cached = graft.core.Materialize.detached(windowed)
    try assert(funnels(plan(cached.filter(col("r") > 5))).nonEmpty)
    finally graft.core.Materialize.release(cached)
  }

  test("q178/q179: theta pairwise stages consume k-row-bounded frames") {
    // The sketch family's 100 TB claim: after the kmvSketch min-k pass,
    // NOTHING joins corpus-sized hash sets — every Join in the plan has
    // a k-rows-per-slice bound beneath BOTH inputs. Round 19: the bound
    // is the mergeable bounded-heap aggregate (topk_heap) instead of
    // the rank window it replaced; a Window still counts so the test
    // keeps pinning boundedness, not one implementation. q175 (the
    // exact error harness) deliberately fails this shape: its
    // common-hash join runs over the full distinct sets, which is why
    // it is the opt-in diagnostic and q178 is the production path.
    import org.apache.spark.sql.catalyst.expressions.aggregate.AggregateExpression
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate => LAggregate, Join => LJoin, LogicalPlan => LPlan, Window => LWindow}
    def bounded(p: LPlan): Boolean =
      p.collectFirst { case w: LWindow => w }.isDefined ||
        p.collectFirst {
          case a: LAggregate if a.aggregateExpressions.exists(_.exists {
            case ae: AggregateExpression =>
              ae.aggregateFunction.prettyName == "topk_heap"
            case _ => false
          }) => a
        }.isDefined
    def boundedJoins(name: String): Unit = {
      val plan = query(name).queryExecution.optimizedPlan
      val joins = plan.collect { case j: LJoin => j }
      assert(joins.nonEmpty, s"$name: expected pairwise joins in the plan")
      joins.foreach { j =>
        Seq("left" -> j.left, "right" -> j.right).foreach { case (side, p) =>
          assert(bounded(p),
            s"$name: $side side of a join is not k-row-bounded (no " +
              s"topk_heap aggregate or rank window beneath) — a " +
              s"corpus-sized frame reached the pairwise stage:\n$p")
        }
      }
    }
    boundedJoins("q178_theta_sketch_only")
    boundedJoins("q179_theta_union")
    // and the harness IS corpus-joined (the contrast that keeps this
    // test honest if kmvIntersections is ever rewritten)
    val harness = query("q175_theta_overlap").queryExecution.optimizedPlan
    val rawSides = harness.collect { case j: LJoin => j }.flatMap(j =>
      Seq(j.left, j.right)).filterNot(bounded)
    assert(rawSides.nonEmpty,
      "q175 no longer joins full hash sets — retire this contrast " +
        "assertion and the q175 'error harness' framing together")
  }

  test("q103: bloom prefilter sits between gram explode and the shuffle") {
    // The 100 TB claim of bloomContamination is that corpus grams are
    // Bloom-filtered BEFORE they shuffle for the confirm join: the
    // corpus gram explode reaches the Filter(might_contain) without
    // crossing an Exchange (the filter is doc-level, so it sits below
    // the explode, on the scan). Checked on the plan tree: a string
    // search for the next "Generate explode" below the predicate
    // matched the BENCH side's explode, printed inside the cached gram
    // table's InMemoryRelation, not the corpus one.
    import org.apache.spark.sql.execution.{FilterExec, GenerateExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.QueryStageExec
    import org.apache.spark.sql.execution.exchange.Exchange
    val plan = finalPlanTree(query("q103_bloom_decontamination"))
    def isBloom(p: SparkPlan): Boolean = p match {
      case f: FilterExec => f.condition.toString.contains("might_contain")
      case _ => false
    }
    def reachesBloomPreShuffle(p: SparkPlan): Boolean = p match {
      case _: Exchange | _: QueryStageExec => false
      case _ => isBloom(p) || p.children.exists(reachesBloomPreShuffle)
    }
    assert(collectAll(plan) { case f if isBloom(f) => f }.nonEmpty,
      s"bloom predicate missing from the executed plan:\n$plan")
    val explodes = collectAll(plan) {
      case g: GenerateExec if g.generator.toString.contains("explode") => g
    }
    assert(explodes.exists(_.children.exists(reachesBloomPreShuffle)),
      "an Exchange sits between the bloom filter and the gram explode — " +
        s"the prefilter is no longer pre-shuffle:\n$plan")
  }

  test("q138/q140: unigram encode and kmeans assignment are shuffle-free") {
    // Both operators' 100 TB claim is the NARROW PASS: the trained
    // model rides inside the expression (capped driver state), so the
    // per-document / per-vector stage adds ZERO hash exchanges — the
    // only exchange in either plan is the final presentation sort's
    // range partitioning. (The training jobs both queries price run
    // EAGERLY in the lambda; they are not part of the returned plan.)
    val enc = executed(query("q138_unigram_encode"))
    assert(enc.contains("unigram_encode"),
      s"unigram encode kernel missing from plan:\n$enc")
    assert(shuffles(enc) == 0,
      s"unigram encode gained a hash shuffle:\n$enc")
    val asg = executed(query("q140_kmeans_assign"))
    assert(asg.contains("nearest_centroid"),
      s"nearest-centroid kernel missing from plan:\n$asg")
    assert(shuffles(asg) == 0,
      s"kmeans assignment gained a hash shuffle:\n$asg")
  }

  test("q195: the similarity join never broadcasts a corpus-shaped side") {
    // Measured at sf10: AQE upgraded the shingle-df join to a broadcast
    // and OOM'd the driver. The shuffle_hash hints make the plan
    // unconditional — pin that NO BroadcastHashJoin appears anywhere in
    // the executed plan (every side of every join here grows with the
    // corpus: postings, df table, sizes, candidates).
    val plan = executed(query("q195_similarity_join"))
    assert(!plan.contains("BroadcastHashJoin"),
      s"q195 plans a broadcast join on a corpus-shaped side:\n$plan")
    assert(plan.contains("ShuffledHashJoin"),
      s"q195 lost its pinned shuffle-hash joins:\n$plan")
  }

  test("q204: the Hamming band self-join never broadcasts a corpus-shaped side") {
    // Both sides of the band self-join grow with the corpus — the
    // shuffle_hash pin makes the plan unconditional (the q195 AQE
    // lesson transplanted to Hamming space). No cap in q204 → no
    // legitimate broadcast anywhere in this plan.
    val plan = executed(query("q204_image_neardup_pairs"))
    assert(!plan.contains("BroadcastHashJoin"),
      s"q204 plans a broadcast join on a corpus-shaped side:\n$plan")
    assert(plan.contains("ShuffledHashJoin"),
      s"q204 lost its pinned shuffle-hash band join:\n$plan")
  }

  test("q220: the frame-hash posting self-join never broadcasts a corpus-shaped side") {
    // Postings, sizes, and both self-join sides all grow with the
    // video corpus — the shuffle_hash pins make the plan unconditional
    // (the q195/q204 rule extended to the frame-set family).
    val plan = executed(query("q220_video_neardup_pairs"))
    assert(!plan.contains("BroadcastHashJoin"),
      s"q220 plans a broadcast join on a corpus-shaped side:\n$plan")
    assert(plan.contains("ShuffledHashJoin"),
      s"q220 lost its pinned shuffle-hash posting join:\n$plan")
  }

  test("q223: the capped form broadcasts ONLY the hot-frame list, posting joins stay shuffled") {
    // The hot list is tiny by construction (frames over the cap), so
    // its anti-join broadcasts; everything corpus-shaped — candidate
    // self-join, full-set verify join-backs, size joins — must stay
    // shuffle_hash. A broadcast LEFT side would be the exact quadratic
    // trap the cap exists to avoid.
    // walk the executed plan TREE: every broadcast join must be the
    // LeftAnti hot-frame prune — asserting on the node's joinType is
    // robust against AQE plan-rendering changes, where the old
    // line-count heuristic (broadcasts <= antis + 1) could flake
    import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, ShuffledHashJoinExec}
    val tree = finalPlanTree(query("q223_video_capped_pairs"))
    val broadcastJoins = collectAll(tree) { case b: BroadcastHashJoinExec => b }
    assert(broadcastJoins.nonEmpty,
      s"q223 lost the broadcast hot-list anti-join:\n$tree")
    val nonAnti = broadcastJoins.filterNot(
      _.joinType == org.apache.spark.sql.catalyst.plans.LeftAnti)
    assert(nonAnti.isEmpty,
      s"q223 broadcasts a join beyond the LeftAnti hot-list prune " +
        s"(${nonAnti.map(_.joinType).mkString(", ")}):\n$tree")
    val shuffled = collectAll(tree) { case s: ShuffledHashJoinExec => s }
    assert(shuffled.nonEmpty,
      s"q223 lost its pinned shuffle-hash posting joins:\n$tree")
  }

  test("q225: the audio Hamming band self-join never broadcasts a corpus-shaped side") {
    // Same rule as q204 — the fingerprint table grows with the audio
    // corpus, and the band self-join must not let AQE guess a
    // broadcast on either side.
    val plan = executed(query("q225_audio_neardup_pairs"))
    assert(!plan.contains("BroadcastHashJoin"),
      s"q225 plans a broadcast join on a corpus-shaped side:\n$plan")
  }

  test("q219: sketch-only join estimate never shuffles or joins relation rows") {
    // The estimator's pitch is "join size from kilobytes": every
    // exchange in the plan may carry only sketch CELLS (bounded by
    // depth·width, map-side combined), and the only joins are
    // broadcasts of sketch-sized frames. A SortMergeJoin — or any join
    // that isn't a broadcast — means a relation-shaped side leaked
    // into the estimator.
    val plan = executed(query("q219_cms_sketch_only"))
    assert(!plan.contains("SortMergeJoin"),
      s"q219 plans a sort-merge join — a relation-sized side leaked:\n$plan")
    assert(plan.contains("BroadcastHashJoin") ||
      plan.contains("BroadcastNestedLoopJoin"),
      s"q219 lost its pinned broadcast sketch join:\n$plan")
    // the raw key columns must never be exchange keys: relation rows
    // shuffle only if a hashpartitioning mentions them
    assert(!"Exchange hashpartitioning\\([^)]*custkey".r
      .findFirstIn(plan).isDefined,
      s"q219 shuffles relation rows on the join key:\n$plan")
  }

  test("q197/q198: projection passes are shuffle-free narrow scans") {
    // Both 100 TB claims are ONE codegen'd pass with the model as
    // expression literals: PCA coordinates and JL coordinates add zero
    // hash exchanges to the scan (the eager scatter/fixture jobs price
    // separately; the returned plan is the projection itself). Only
    // the presentation sort's range partitioning may appear.
    def hashShuffles(p: String): Int =
      "Exchange hashpartitioning".r.findAllIn(p).length
    val pca = executed(query("q197_pca_project"))
    assert(hashShuffles(pca) == 0,
      s"q197 projection gained a hash shuffle:\n$pca")
    val jl = executed(query("q198_jl_project"))
    assert(hashShuffles(jl) == 0,
      s"q198 projection gained a hash shuffle:\n$jl")
  }
}
