package graft

import graft.sources.Layouts
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, ShuffledHashJoinExec}
import org.scalatest.funsuite.AnyFunSuite

/** Plan-SHAPE regression tests: the scale properties SCALE.md claims
  * (pushdown, pruning, partial aggregation, broadcasts, exchange reuse) as
  * assertions over the physical plans of the gate queries, so a refactor
  * that silently de-optimizes a plan fails the suite, not just the bench. */
class PlansSpec extends AnyFunSuite with SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  private def sparkPlan(name: String): SparkPlan =
    SparkEntry.queries(name)(spark, sf).queryExecution.sparkPlan

  private def scans(p: SparkPlan): Seq[FileSourceScanExec] =
    p.collect { case f: FileSourceScanExec => f }

  test("q1_agg: shipdate filter pushed to scan, columns pruned, partial agg") {
    val p = sparkPlan("q1_agg")
    val scan = scans(p).head
    assert(scan.metadata("PushedFilters").contains("l_shipdate"),
      s"shipdate predicate not pushed: ${scan.metadata("PushedFilters")}")
    // the 600k-row table has 16 columns; the scan must read only the 6 used
    assert(scan.output.map(_.name).toSet == Set(
      "l_returnflag", "l_linestatus", "l_quantity", "l_extendedprice",
      "l_discount", "l_shipdate"))
    // partial (map-side) + final aggregate around the exchange
    assert("HashAggregate".r.findAllIn(p.toString).size >= 2,
      "expected partial+final HashAggregate")
  }

  test("q3_join: customer broadcasts; the fact join shuffles, never broadcasting lineitem") {
    val p = sparkPlan("q3_join")
    assert(p.collect { case b: BroadcastHashJoinExec => b }.nonEmpty,
      s"no broadcast join in:\n$p")
    // The static planner sizes a pruned scan as file-bytes x column ratio,
    // which at small SF drops LINEITEM under the broadcast threshold and
    // plans a fact-table broadcast (the r06 bench regression; SCALE.md).
    // The shuffle_hash hint pins the scale-correct shape instead.
    val shj = p.collect { case j: ShuffledHashJoinExec => j }
    assert(shj.nonEmpty, s"expected a ShuffledHashJoin for lineitem x orders:\n$p")
    val bcastScans = p.collect { case b: BroadcastHashJoinExec =>
      scans(if (b.buildSide == org.apache.spark.sql.catalyst.optimizer.BuildLeft) b.left else b.right)
    }.flatten
    assert(!bcastScans.exists(_.output.exists(_.name == "l_orderkey")),
      s"lineitem scan sits on a broadcast build side:\n$p")
  }

  test("q5_join: lineitem streams through every join — never a build side") {
    val p = sparkPlan("q5_join")
    // dims/orders/customer may broadcast at small SF (stats-driven, correct
    // at any scale since TB-sized inputs blow the threshold); the fact scan
    // must always be the streamed side
    val buildScans = p.collect { case b: BroadcastHashJoinExec =>
      scans(if (b.buildSide == org.apache.spark.sql.catalyst.optimizer.BuildLeft) b.left else b.right)
    }.flatten ++ p.collect { case j: ShuffledHashJoinExec =>
      scans(if (j.buildSide == org.apache.spark.sql.catalyst.optimizer.BuildLeft) j.left else j.right)
    }.flatten
    assert(!buildScans.exists(_.output.exists(_.name == "l_suppkey")),
      s"lineitem scan sits on a join build side:\n$p")
  }

  test("q_select and q_column_filter: scans read only the projected columns") {
    assert(scans(sparkPlan("q_select")).head.output.map(_.name).toSet ==
      Set("p_partkey", "p_name"))
    assert(scans(sparkPlan("q_column_filter")).head.output.map(_.name).toSet ==
      Set("l_orderkey", "l_linenumber", "l_returnflag"))
  }

  test("per-row curation queries plan zero exchanges") {
    assert(Layouts.countExchanges(
      SparkEntry.queries("q_split_assign")(spark, sf)) == 0)
    assert(Layouts.countExchanges(
      SparkEntry.queries("q_lang_id")(spark, sf)) == 0)
    assert(Layouts.countExchanges(
      SparkEntry.queries("q_lang_id_ngram")(spark, sf)) == 0)
    assert(Layouts.countExchanges(
      SparkEntry.queries("q_sketches")(spark, sf)) == 0)
  }

  test("q_asof_iv: events never shuffle — every exchange sits on the snapshot side") {
    val p = sparkPlan("q_asof_iv")
    val bhj = p.collect { case b: BroadcastHashJoinExec => b }
    assert(bhj.nonEmpty, s"interval as-of should broadcast the snapshot side:\n$p")
    // the probe (events) side of the broadcast join must be exchange-free:
    // at 100 TB of stream this is the difference between a per-micro-batch
    // hash lookup and shuffling the corpus
    val streamSide =
      if (bhj.head.buildSide == org.apache.spark.sql.catalyst.optimizer.BuildLeft)
        bhj.head.right else bhj.head.left
    val streamExchanges = streamSide.collect {
      case e: org.apache.spark.sql.execution.exchange.Exchange => e }
    assert(streamExchanges.isEmpty,
      s"events side of the interval as-of join shuffles:\n$p")
  }

  test("q_skew_cap: the anti-join broadcasts the (tiny) hot-key set at runtime") {
    val df = SparkEntry.queries("q_skew_cap")(spark, sf)
    df.collect() // AQE finalizes: the hot side's true (rows-not-bytes-tiny) size is known
    val finalPlan = df.queryExecution.executedPlan.toString
    assert(finalPlan.contains("BroadcastHashJoin") && finalPlan.contains("LeftAnti"),
      s"hot-key guard should anti-join via broadcast:\n$finalPlan")
  }

  test("countExchanges sees exchanges inside a FINALIZED adaptive plan") {
    import org.apache.spark.sql.functions._
    val df = SparkEntry.queries("q1_agg")(spark, sf)
    df.collect() // finalize: AQE wraps each exchange in a QueryStageExec leaf
    assert(Layouts.countExchanges(df) >= 1,
      s"executed aggregate plan must show its shuffle:\n${df.queryExecution.executedPlan}")
  }

  test("simhash banded self-join reuses ONE exchange for both sides at runtime") {
    val df = SparkEntry.queries("q_dedup_simhash")(spark, sf)
    df.collect() // AQE finalizes the plan only on execution
    val finalPlan = df.queryExecution.executedPlan.toString
    assert(finalPlan.contains("ReusedExchange"),
      s"banded self-join did not reuse its exchange:\n$finalPlan")
  }

  test("q6_agg: every predicate reaches the scan; only the 4 used columns read") {
    val p = sparkPlan("q6_agg")
    val scan = scans(p).head
    val pushed = scan.metadata("PushedFilters")
    Seq("l_shipdate", "l_discount", "l_quantity").foreach(c =>
      assert(pushed.contains(c), s"$c not pushed: $pushed"))
    assert(scan.output.map(_.name).toSet ==
      Set("l_shipdate", "l_discount", "l_quantity", "l_extendedprice"))
  }

  test("q_semi_join / q_anti_join: keys-only semi/anti shapes, no payload join") {
    val semi = sparkPlan("q_semi_join").toString
    assert(semi.contains("LeftSemi"), s"expected a LEFT SEMI join:\n$semi")
    val anti = sparkPlan("q_anti_join").toString
    assert(anti.contains("LeftAnti"), s"expected a LEFT ANTI join:\n$anti")
  }

  test("q_range_join: the band table broadcasts — the fact side never shuffles") {
    val df = SparkEntry.queries("q_range_join")(spark, sf)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("BroadcastNestedLoopJoin"),
      s"interval predicate should run as a broadcast nested-loop:\n$p")
    assert(!p.contains("CartesianProduct"), s"range join degenerated:\n$p")
  }

  /** Finalized adaptive plan text, truncated before the "Initial Plan"
    * echo so node counts reflect what actually ran. */
  private def finalPlanText(name: String): String = {
    val df = SparkEntry.queries(name)(spark, sf)
    df.collect()
    val s = df.queryExecution.executedPlan.toString
    val cut = s.indexOf("== Initial Plan ==")
    if (cut >= 0) s.substring(0, cut) else s
  }

  test("q_user_features: all four feature columns share ONE exchange + ONE sort") {
    val s = finalPlanText("q_user_features")
    assert("Exchange hashpartitioning".r.findAllIn(s).size == 1,
      s"expected exactly one keyed exchange:\n$s")
    assert("Sort \\[".r.findAllIn(s).size == 1,
      s"expected exactly one sort for the shared window:\n$s")
  }

  test("q_pivot: no extra distinct job — one aggregate pair over the explicit value list") {
    val s = finalPlanText("q_pivot")
    // an implicit pivot adds a separate distinct aggregation on event_type
    assert("Exchange hashpartitioning".r.findAllIn(s).size == 1,
      s"pivot should cost one keyed shuffle:\n$s")
  }

  test("q_bm25: df-aggregation reuses the matched exchange; top-k is group-limited map-side") {
    val df = SparkEntry.queries("q_bm25")(spark, sf)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("ReusedExchange"),
      s"term-df path should reuse the matched shuffle:\n$p")
    assert(p.contains("WindowGroupLimit"),
      s"per-query top-k should run with a WindowGroupLimit:\n$p")
  }

  test("q_bigram_lm: no join ever probes the raw occurrence stream") {
    // the r10 first cut joined exploded bigram OCCURRENCES twice (6.7 s at
    // sf0.1); the fixed plan collapses them to per-(doc,bigram) counts
    // first, so every join input must pass through an aggregate before any
    // Generate (explode) is reachable underneath
    import org.apache.spark.sql.execution.GenerateExec
    import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
    import org.apache.spark.sql.execution.joins.{BaseJoinExec, SortMergeJoinExec}
    val p = sparkPlan("q_bigram_lm")
    def generateAboveAgg(n: SparkPlan): Boolean = n match {
      case _: BaseAggregateExec => false
      case _: GenerateExec => true
      case other => other.children.exists(generateAboveAgg)
    }
    val joins = p.collect { case j: BaseJoinExec => j }
    assert(joins.nonEmpty)
    for (j <- joins; c <- j.children)
      assert(!generateAboveAgg(c),
        s"a join consumes raw exploded occurrences (no collapse before the join):\n$p")
  }

  test("text never shuffles: no exchange carries the raw text column in the postings-family plans") {
    // the SCALE.md claim, as an assertion: dedup/rarity/diff plans reduce
    // rows to (ids, fingerprints/tokens) BEFORE any exchange — a refactor
    // that lets the text column ride a shuffle fails here, not at 100 TB
    // exchanges exist only in the EXECUTED plan (EnsureRequirements)
    val names = Seq("q_dedup_exact", "q_dedup_incr", "q_token_rarity",
      "q_bigram_lm", "q_bigram_lm_incr", "q_corpus_diff", "q_dedup_spans")
    var sawShuffle = 0
    for (name <- names) {
      val ex = executedShuffles(name)
      sawShuffle += ex.size
      for (e <- ex)
        assert(!e.output.exists(_.name == "text"),
          s"$name: an exchange carries raw text: ${e.output.map(_.name)}")
    }
    assert(sawShuffle > 5, s"pin lost its teeth: only $sawShuffle shuffles across ${names.size} plans")
  }

  test("q_cluster_assign: zero corpus exchanges — assignment is scan-local") {
    // the ONLY exchanges allowed are the one-row centroid build (limit +
    // single-partition agg) and its broadcast — never a hash exchange of
    // the corpus
    val s = finalPlanText("q_cluster_assign")
    assert(!s.contains("Exchange hashpartitioning"),
      s"corpus must not shuffle for assignment:\n$s")
    assert(s.contains("BroadcastExchange"), s"centroids should broadcast:\n$s")
  }

  test("q_event_transitions: the corpus shuffles ONCE, by user, for the window") {
    // exchanges exist only after EnsureRequirements: use the executed plan
    val df = SparkEntry.queries("q_event_transitions")(spark, sf)
    df.collect() // finalize AQE
    // look at the FINAL adaptive section only: the Initial Plan echo would
    // double-count, and the totals branch must show as a ReusedExchange
    val p = df.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    assert("Exchange hashpartitioning\\(user_id".r.findAllIn(p).size == 1,
      s"expected exactly one user-keyed exchange (the lead window):\n$p")
    assert(p.contains("ReusedExchange"),
      s"the totals branch should reuse the counts exchange:\n$p")
    assert("Window ".r.findAllIn(p).size == 1, s"expected one window:\n$p")
    // everything downstream aggregates types-squared rows: partial agg must
    // sit map-side before the counts exchange
    assert("HashAggregate".r.findAllIn(p).size >= 2,
      "expected partial+final aggregation after the window")
  }

  test("q_kmeans_step: assignment is scan-local — no exchange carries vectors") {
    val df = SparkEntry.queries("q_kmeans_step")(spark, sf)
    df.collect()
    val exec = df.queryExecution.executedPlan
    assert(exec.toString.contains("BroadcastExchange"),
      s"centroid row should broadcast:\n$exec")
    // the only shuffles carry (cluster, dim) partial sums — no array-typed
    // attribute (the embedding) may cross a shuffle exchange
    val arrayExchanges = exec.collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
        if e.output.exists(_.dataType.isInstanceOf[org.apache.spark.sql.types.ArrayType]) => e
      case q: org.apache.spark.sql.execution.adaptive.ShuffleQueryStageExec
        if q.output.exists(_.dataType.isInstanceOf[org.apache.spark.sql.types.ArrayType]) => q
    }
    assert(arrayExchanges.isEmpty, s"an exchange carries vectors:\n$exec")
  }

  test("q_decontam_bloom: the bloom probe reaches the postings filter as a subquery") {
    val p = sparkPlan("q_decontam_bloom").toString
    assert(p.contains("might_contain"), s"no bloom probe in plan:\n$p")
    assert(p.contains("subquery"), s"bloom should ride a scalar subquery:\n$p")
  }

  // shared executed-plan shuffle collector
  private def executedShuffles(name: String) = {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    val df = SparkEntry.queries(name)(spark, sf)
    df.collect()
    Layouts.executedNodes(df.queryExecution.executedPlan)
      .collect { case e: ShuffleExchangeLike => e }
  }

  private def fileScans(p: SparkPlan): Seq[FileSourceScanExec] =
    Layouts.executedNodes(p).collect { case f: FileSourceScanExec => f }

  test("q_tfidf_terms: one corpus scan (pinned postings); top-k limits map-side") {
    val df = SparkEntry.queries("q_tfidf_terms")(spark, sf)
    df.collect()
    val p = df.queryExecution.executedPlan
    // the postings pin means the only parquet scan left is the pruned
    // zero-column N count — scoring and dfs both read the checkpoint
    val fs = fileScans(p)
    assert(fs.size == 1, s"expected 1 file scan (the N count), got ${fs.size}:\n$p")
    assert(fs.head.output.isEmpty, s"the N count scan should read zero columns")
    assert(p.toString.contains("WindowGroupLimit"),
      s"per-doc top-k should get the map-side group limit:\n$p")
  }

  test("q_bm25_rm3: one tokenize scan — both rounds + census read the pinned term table") {
    // bm25WithFeedback pins the full (id, dl, term, tf) census once; the
    // round-2 plan this returns must contain NO parquet scan reading text
    // (scoring, dfs, and stats all read the checkpoint). The pin itself is
    // the session's single tokenize pass.
    val df = SparkEntry.queries("q_bm25_rm3")(spark, sf)
    df.collect()
    val fs = fileScans(df.queryExecution.executedPlan)
    val textScans = fs.filter(_.output.exists(_.name == "text"))
    assert(textScans.isEmpty,
      s"round-2 RM3 plan re-reads the corpus text (${fs.size} file scans):\n" +
        df.queryExecution.executedPlan)
  }

  test("q_decay_score / q_attribution: exactly one data-sized shuffle each") {
    assert(executedShuffles("q_decay_score").size == 1,
      "decay score is one partial-aggregated user-keyed shuffle")
    assert(executedShuffles("q_attribution").size == 1,
      "attribution rides the single user-keyed window sort")
  }

  test("q_anomaly: raw events never shuffle — exchanges carry bucket rows only") {
    val ex = executedShuffles("q_anomaly")
    assert(ex.nonEmpty)
    val leaked = ex.filter(_.output.exists(a =>
      a.name == "event_id" || a.name == "value" || a.name == "user_id"))
    assert(leaked.isEmpty,
      s"an exchange carries raw event attributes: ${leaked.map(_.output.map(_.name))}")
  }

  test("q_collocations: pair generation is scan-local — no array crosses a shuffle") {
    val ex = executedShuffles("q_collocations")
    val arrayEx = ex.filter(_.output.exists(
      _.dataType.isInstanceOf[org.apache.spark.sql.types.ArrayType]))
    assert(arrayEx.isEmpty,
      s"a term array rides an exchange: ${arrayEx.map(_.output.map(_.name))}")
  }

  test("q_ohlc: one partial-aggregated shuffle, no window sort — the exchange carries bars") {
    val ex = executedShuffles("q_ohlc")
    assert(ex.size == 1, s"expected 1 exchange, got ${ex.size}")
    val p = SparkEntry.queries("q_ohlc")(spark, sf).queryExecution.executedPlan
    assert(!p.toString.contains("Window"), "OHLC must not plan a window sort")
    // map-side reduction: partial + final aggregate around the exchange
    assert("HashAggregate|SortAggregate".r.findAllIn(p.toString).size >= 2)
  }

  test("q_trend: two data-sized shuffles, no windows") {
    val ex = executedShuffles("q_trend")
    // (key, day) agg + (key) agg carry user rows; the third exchange is
    // the global min-day SCALAR's single-partition collapse (one row per
    // map task — constant at any data scale)
    val dataSized = ex.filter(_.output.exists(_.name == "user_id"))
    assert(dataSized.size == 2, s"expected 2 user-keyed exchanges:\n$ex")
    val p = SparkEntry.queries("q_trend")(spark, sf).queryExecution.executedPlan
    assert(!p.toString.contains("Window"))
  }

  test("q_heavy_hitters: the exact count probes a BROADCAST of the candidate set") {
    val df = SparkEntry.queries("q_heavy_hitters")(spark, sf)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("BroadcastHashJoin") && p.contains("LeftSemi"),
      s"candidate prune must be a broadcast semi-join:\n$p")
  }

  test("r13 batch-2 scans: rand_project and strip_markup plan ZERO " +
      "exchanges; the projection is the fused native expression") {
    val rp = SparkEntry.queries("q_rand_project")(spark, sf)
    assert(Layouts.countExchanges(rp) == 0,
      s"JL projection must be a pure scan:\n${rp.queryExecution.sparkPlan}")
    assert(rp.queryExecution.optimizedPlan.toString.contains("signproject"),
      "expected the fused SignProject expression, not the HOF chain")
    assert(Layouts.countExchanges(
      SparkEntry.queries("q_strip_markup")(spark, sf)) == 0)
    assert(Layouts.countExchanges(
      SparkEntry.queries("q_urls")(spark, sf)) == 0)
  }

  test("q_countmin: the sketch build collapses to the vocab FIRST — no " +
      "depth-times-occurrence explosion crosses an exchange") {
    // plan shape: tokens aggregate to (key, cnt) before the xdepth explode,
    // so the explode's generator input is the collapsed table (a generator
    // ABOVE the first aggregate, never below it)
    val p = sparkPlan("q_countmin").toString
    val genIdx = p.indexOf("Generate explode")
    assert(genIdx >= 0, s"expected the depth explode:\n$p")
    // the build-side explode must sit above a HashAggregate (the collapse)
    val after = p.substring(genIdx)
    assert(after.contains("HashAggregate"),
      s"explode must consume the collapsed (key, cnt) table:\n$p")
  }

  test("q_pipeline_web: the strip chain is evaluated once — exactly one " +
      "documents scan, one content-keyed window exchange downstream") {
    val df = SparkEntry.queries("q_pipeline_web")(spark, sf)
    val p = df.queryExecution.sparkPlan
    assert(scans(p).size == 1, s"expected ONE documents scan:\n$p")
    // regexp_replace must appear in one Project only (the explode barrier
    // keeps CollapseProject from inlining the chain into filter + key)
    val s = p.toString
    val stripSites = "regexp_replace".r.findAllIn(s).size
    // the 7 regex steps of the chain, in exactly one projection site: the
    // count equals the per-chain total, not a multiple of it
    assert(stripSites <= graft.functions.TextFunctions.markupSteps.count(_._1),
      s"strip chain inlined into $stripSites sites:\n$s")
  }

  test("Probe's census agrees with the plan facts pinned above") {
    import graft.tools.Probe
    def probe(name: String) = Probe.measure(spark, name, () => SparkEntry.queries(name)(spark, sf))
    val bm25 = probe("q_bm25")
    val tfidf = probe("q_tfidf_terms")
    val split = probe("q_split_assign")
    assert(bm25.reused >= 1, bm25.line)
    assert(tfidf.scans == 1, tfidf.line)
    assert(split.exchanges == 0, split.line)
    for (r <- Seq(bm25, tfidf, split)) assert(r.jobs > 0, r.line)
  }

  test("q_running_count: below the size gate it builds with no Spark job") {
    val r = graft.tools.Probe.measure(spark, "q_running_count",
      () => SparkEntry.queries("q_running_count")(spark, sf))
    assert(r.buildJobs == 0, r.line)
  }
}
