package graft.operators

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkEntry

/** Physical-plan audits: the scale properties every operator claims
  * (SURVEY §5) asserted as regression tests, so a refactor that silently
  * un-pushes a filter, widens a scan, or degrades a join to a cartesian
  * product fails CI — not a 100 TB run.
  */
class PlanAuditSpec extends AnyFunSuite {

  private lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    // AQE off here: these audits assert the STATIC plan (pushdown, pruning,
    // join strategy, codegen stages); AQE only re-plans upward from this.
    .config("spark.sql.adaptive.enabled", "false")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.session.timeZone", "UTC")
    // required by Tables.events (TIMESTAMP(NANOS) parquet) — Engine.session
    // sets it too, but this suite must also pass under isolated testOnly
    // runs where no Engine session pre-exists in the JVM
    .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    .getOrCreate()

  private val sfDir = "/root/testdata/sf0.001"

  /** Initial physical plan (pre-AQE-execution) as one string. */
  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, sfDir).queryExecution.executedPlan.toString

  /** Formatted explain — scan metadata (PushedFilters/ReadSchema) untruncated. */
  private def formatted(name: String): String =
    SparkEntry.queries(name)(spark, sfDir).queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))

  test("scan_project prunes to the selected columns at the scan") {
    val p = plan("scan_project")
    val read = p.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(read.contains("l_orderkey") && read.contains("l_extendedprice"),
      s"projection columns missing from scan: $read")
    assert(!read.contains("l_quantity") && !read.contains("l_shipdate"),
      s"scan reads columns the query never uses: $read")
  }

  test("filter_numeric predicates reach the parquet scan (PushedFilters)") {
    val p = formatted("filter_numeric")
    val pushed = p.linesIterator.find(_.contains("PushedFilters")).getOrElse("")
    assert(pushed.contains("GreaterThan") && pushed.contains("LessThan"),
      s"comparisons not pushed to scan: $pushed")
  }

  test("filter_range_skip pushes a range predicate for row-group skipping") {
    val p = formatted("filter_range_skip")
    val pushed = p.linesIterator.find(_.contains("PushedFilters")).getOrElse("")
    assert(pushed.contains("GreaterThan") && pushed.contains("LessThan"),
      s"range not pushed: $pushed")
  }

  test("join_broadcast uses a broadcast hash join (no shuffle of the fact side)") {
    assert(plan("join_broadcast").contains("BroadcastHashJoin"))
  }

  test("tpch_q3 joins without cartesian products; dims broadcast") {
    val p = plan("tpch_q3")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      "q3 degenerated to a product join")
  }

  test("tpch_q5 six-way join: no product joins, at least one broadcast") {
    val p = plan("tpch_q5")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"))
    assert(p.contains("BroadcastHashJoin"), "small dims (region/nation) should broadcast")
  }

  test("groupby_agg does map-side partial aggregation") {
    val p = plan("groupby_agg")
    assert(p.contains("partial_"), s"no partial aggregate before the shuffle:\n$p")
    assert("HashAggregate".r.findAllIn(p).size >= 2, "expected partial+final HashAggregate")
  }

  test("tpch_q1 aggregates inside whole-stage codegen") {
    val p = plan("tpch_q1")
    // "*(n)" prefixes mark whole-stage-codegen stages in the plan string.
    assert(p.contains("*("), "q1 hot path fell out of whole-stage codegen")
    assert(p.contains("partial_"), "q1 lost map-side combine")
  }

  test("topk_order_limit avoids a global sort (TakeOrderedAndProject)") {
    assert(plan("topk_order_limit").contains("TakeOrderedAndProject"),
      "order+limit should not be a full sort")
  }

  test("LSH dedup and ANN plans are equality-join-bounded (no cross product)") {
    for (q <- Seq("dedup_minhash_lsh", "dedup_simhash", "dedup_embedding",
        "dedup_ngram_jaccard", "ann_lsh")) {
      val p = plan(q)
      assert(!p.contains("CartesianProduct"), s"$q contains a cartesian product")
      assert(!p.contains("BroadcastNestedLoopJoin"), s"$q contains a nested-loop join")
    }
  }

  test("ann_bruteforce broadcasts the query set, scans the corpus once") {
    val p = plan("ann_bruteforce")
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastNestedLoopJoin") ||
      p.contains("BroadcastExchange"), "query set should broadcast")
  }

  test("partition_pruning: the filter prunes directories, not rows") {
    val p = formatted("partition_pruning")
    val pf = p.linesIterator.find(_.contains("PartitionFilters")).getOrElse("")
    assert(pf.contains("event_type") && (pf.contains("purchase") || pf.contains("isnotnull")),
      s"event_type filter did not reach PartitionFilters: $pf")
  }

  test("join_bucketed: SortMergeJoin with no hash exchange on either side") {
    val p = plan("join_bucketed")
    assert(p.contains("SortMergeJoin"), s"bucketed join should sort-merge:\n$p")
    val joinPart = p.substring(p.indexOf("SortMergeJoin"))
    assert(!joinPart.contains("Exchange hashpartitioning"),
      s"bucketed sides must not re-shuffle:\n$joinPart")
  }

  test("corpus_decontaminate joins grams by equality, never a product") {
    val p = plan("corpus_decontaminate")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"gram overlap degenerated to a product join:\n$p")
    assert(p.contains("partial_"), "gram hit-count lost map-side combine")
  }

  test("corpus_ngram_stats keeps map-side partial aggregation under the TopK") {
    val p = plan("corpus_ngram_stats")
    assert(p.contains("partial_"), s"bigram counting lost map-side combine:\n$p")
    assert(p.contains("TakeOrderedAndProject"), "top-20 should not be a full sort")
  }

  test("cole_agg answers the aggregate inside the source (PushedAggregates)") {
    val p = plan("cole_agg")
    assert(p.contains("PushedAggregates"),
      s"global agg over .col must push into ColeAggScan:\n$p")
    assert(p.contains("SUM(l_orderkey)") && p.contains("MIN(l_partkey)"),
      s"pushed aggregate list incomplete:\n$p")
  }

  test("cole_nullable_agg: null-bearing v2 table keeps aggregate pushdown") {
    val p = plan("cole_nullable_agg")
    assert(p.contains("PushedAggregates"),
      s"null-bearing tables must not lose aggregate pushdown:\n$p")
    assert(p.contains("SUM(key_n)") && p.contains("COUNT(key_n)") &&
      p.contains("MIN(price_n)"),
      s"pushed aggregate list incomplete over nullable columns:\n$p")
    assert(p.contains("PushedGroupBy: [prio_n]"),
      s"grouping by the nullable key must push too:\n$p")
  }

  test("cole_spj: co-partitioned .col tables join with zero table shuffle") {
    // broadcast off to expose the partitioned-join machinery (at audit SF
    // every dim fits in one broadcast); bucketing on as in Engine.session
    spark.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
    spark.conf.set("spark.sql.sources.v2.bucketing.pushPartValues.enabled", "true")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val p = plan("cole_spj")
      val joinIdx = p.linesIterator.indexWhere(_.contains("SortMergeJoin"))
      assert(joinIdx >= 0, s"expected a sort-merge join under SPJ:\n$p")
      // no Exchange anywhere below the join: both sides read key-grouped
      val below = p.linesIterator.drop(joinIdx).mkString("\n")
      assert(!below.contains("Exchange"),
        s"storage-partitioned join must not shuffle either side:\n$p")
    } finally {
      spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
      spark.conf.unset("spark.sql.sources.v2.bucketing.enabled")
      spark.conf.unset("spark.sql.sources.v2.bucketing.pushPartValues.enabled")
    }
  }

  test("cole_roundtrip_decimal: decimal filter claimed, aggregates pushed in decimal domain") {
    val p = plan("cole_roundtrip_decimal")
    assert(p.contains("PushedAggregates"),
      s"decimal SUM/MIN/MAX must answer inside the source:\n$p")
    assert(p.contains("AppliedFilters"),
      s"the decimal range filter must be claimed by the scan (unscaled domain):\n$p")
    val scanIdx = p.linesIterator.indexWhere(_.contains("ColeAggScan"))
    assert(scanIdx >= 0, s"expected the pushed-aggregate scan:\n$p")
    assert(!p.linesIterator.take(scanIdx).exists(l =>
        l.contains("Filter ") && l.contains("price_dec")),
      s"no residual decimal filter may remain above the scan:\n$p")
  }

  test("cole_spj_bucketed: hash-bucketed fact-fact join with zero table shuffle") {
    // the high-cardinality SPJ: both .col tables bucketed 16 ways on the
    // orderkey; the catalog's bucket function proves co-partitioning
    spark.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
    spark.conf.set("spark.sql.sources.v2.bucketing.pushPartValues.enabled", "true")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val p = plan("cole_spj_bucketed")
      val joinIdx = p.linesIterator.indexWhere(_.contains("SortMergeJoin"))
      assert(joinIdx >= 0, s"expected a sort-merge join under bucketed SPJ:\n$p")
      val below = p.linesIterator.drop(joinIdx).mkString("\n")
      assert(!below.contains("Exchange"),
        s"bucketed storage-partitioned join must not shuffle either side:\n$p")
    } finally {
      spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
      spark.conf.unset("spark.sql.sources.v2.bucketing.enabled")
      spark.conf.unset("spark.sql.sources.v2.bucketing.pushPartValues.enabled")
    }
  }

  test("cole_spj_composite: synthetic-key composite join with zero table shuffle") {
    // composite (k1,k2) keys through the bucketKey synthetic column: the
    // equi-join key is exactly the stored hash column, so the SPJ proof
    // holds; the natural keys ride as range-pair residuals
    spark.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
    spark.conf.set("spark.sql.sources.v2.bucketing.pushPartValues.enabled", "true")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val p = plan("cole_spj_composite")
      val joinIdx = p.linesIterator.indexWhere(_.contains("SortMergeJoin"))
      assert(joinIdx >= 0, s"expected a sort-merge join under composite SPJ:\n$p")
      val below = p.linesIterator.drop(joinIdx).mkString("\n")
      assert(!below.contains("Exchange"),
        s"composite synthetic-key SPJ must not shuffle either side:\n$p")
    } finally {
      spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
      spark.conf.unset("spark.sql.sources.v2.bucketing.enabled")
      spark.conf.unset("spark.sql.sources.v2.bucketing.pushPartValues.enabled")
    }
  }

  test("cole_roundtrip_decimal38: wide decimal filter claimed AND aggregates pushed") {
    val p = formatted("cole_roundtrip_decimal38")
    // the agg scan prints claims in predicate form ("ledger ltw ...");
    // a row scan would print pushed=[LessThan(ledger...)] — accept both
    assert(p.contains("LessThan(ledger") || p.contains("ledger ltw"),
      s"wide decimal comparison not claimed at the scan:\n$p")
    // r9: the int128 [hi,lo] lane sweep pushes SUM/MIN/MAX for wide
    // decimals whenever footer stats prove every partial fits DECIMAL(p)
    // (rows × max|unscaled| < 10^p — true for this ledger fixture)
    assert(p.contains("PushedAggregates"),
      s"wide decimal aggregates must push via the int128 sweep:\n$p")
  }

  test("cole_topn pushes the sort threshold into the source (PushedTopN)") {
    val p = plan("cole_topn")
    assert(p.contains("PushedTopN"),
      s"ORDER BY + LIMIT over .col must prune row groups by stats:\n$p")
  }

  test("tpch_q2/q4/q9/q11/q16/q20/q21/q22: no product joins (single-row scalar broadcasts excepted)") {
    for (q <- Seq("tpch_q2", "tpch_q4", "tpch_q9", "tpch_q16", "tpch_q20", "tpch_q21")) {
      val p = plan(q)
      assert(!p.contains("CartesianProduct"), s"$q contains a cartesian product:\n$p")
      assert(!p.contains("BroadcastNestedLoopJoin"), s"$q contains a nested-loop join:\n$p")
    }
    // q11/q22 join every row against ONE broadcast aggregate row (the
    // share denominator / balance threshold) — a BNLJ over a single-row
    // build side is the scalar-subquery pattern, not a blowup.
    for (q <- Seq("tpch_q11", "tpch_q22")) {
      val p = plan(q)
      assert(!p.contains("CartesianProduct"), s"$q contains a cartesian product:\n$p")
    }
  }

  test("tpch_q2 prunes lineitem with a semi join BELOW the aggregate") {
    val p = plan("tpch_q2")
    // the part filter keeps ~5% of keys; the semi join must sit on the
    // scan side of groupBy(l_partkey, l_suppkey) so the shuffle carries
    // only surviving rows — at 100 TB the aggregate-then-filter shape
    // shuffles the whole table for nothing
    val semiIdx = p.indexOf("LeftSemi")
    val partialAggIdx = p.indexOf("partial_min")
    assert(semiIdx >= 0, s"q2 lost the lineitem prefilter semi join:\n$p")
    assert(partialAggIdx >= 0 && semiIdx > partialAggIdx,
      s"q2 semi join must be BELOW (printed after) the partial aggregate:\n$p")
  }

  test("tpch_q17 prunes lineitem with a semi join BELOW the per-part aggregate") {
    val p = plan("tpch_q17")
    // the Brand#3/size<=20 filter keeps ~4% of parts; the per-part
    // avg-quantity aggregate is only consumed for those parts, so the
    // LeftSemi broadcast must sit under groupBy(l_partkey) — aggregating
    // ALL of lineitem first is a full-corpus shuffle doing 25x the work
    val semiIdx = p.indexOf("LeftSemi")
    val partialAggIdx = p.indexOf("partial_sum")
    assert(semiIdx >= 0, s"q17 lost the lineitem prefilter semi join:\n$p")
    assert(partialAggIdx >= 0 && semiIdx > partialAggIdx,
      s"q17 semi join must be BELOW (printed after) the partial aggregate:\n$p")
  }

  test("tpch_q11 joins lineitem ONCE against the nation-filtered supplier build") {
    val p = formatted("tpch_q11")
    // build side = broadcast(supplier JOIN filtered nation): each lineitem
    // row meets exactly one join and drops there if its supplier is
    // foreign — the old shape joined all of lineitem to ALL suppliers
    // first. Marker: every lineitem scan feeds a join whose OTHER input
    // already saw the nation filter, i.e. no plan section joins lineitem
    // to a supplier scan that hasn't been semi-reduced — structurally,
    // supplier joins nation BEFORE any lineitem join consumes it, so the
    // supplier⋈nation join must print deeper (later) than the first
    // lineitem join line.
    assert(p.contains("BroadcastHashJoin"), s"q11 lost its broadcast join:\n$p")
    // marker of the good shape: a BroadcastExchange whose subtree is
    // ITSELF a join (supplier ⋈ σ(nation) built before broadcast). The
    // old shape's broadcast sides were bare filtered scans, with both
    // joins chained on the lineitem spine.
    val lines = p.linesIterator.toIndexedSeq
    val joinBuiltBroadcast = lines.indices.exists { i =>
      lines(i).contains("BroadcastExchange") &&
        (i + 1 until math.min(i + 3, lines.length)).exists(
          lines(_).contains("BroadcastHashJoin"))
    }
    assert(joinBuiltBroadcast,
      s"q11 must reduce supplier by nation on the BUILD side of its single " +
        s"lineitem join:\n$p")
  }

  test("events_funnel is single-pass: one events scan, windows share one shuffle") {
    val p = formatted("events_funnel")
    val scans = p.linesIterator.count(_.contains("Scan parquet"))
    assert(scans <= 2, s"funnel reads events $scans times (want 1):\n$p")
    // all three stage-min windows partition by user_id → one Exchange
    // below the Window operators, not one per stage
    val winExchanges = plan("events_funnel").linesIterator
      .count(l => l.contains("Exchange hashpartitioning(user_id"))
    assert(winExchanges <= 1,
      s"funnel re-shuffles per stage ($winExchanges user_id exchanges)")
  }

  test("tpch_q4 turns the correlated EXISTS into a semi join") {
    val p = plan("tpch_q4")
    assert(p.contains("LeftSemi"), s"q4 EXISTS should be a left-semi join:\n$p")
  }

  test("tpch_q21 aggregates per-order supplier sets with map-side combine") {
    val p = plan("tpch_q21")
    assert(p.contains("partial_"), s"q21 per-order aggregate lost map-side combine:\n$p")
    assert(p.contains("TakeOrderedAndProject"), "q21 top-100 should not be a full sort")
  }

  test("subquery_in executes as a semi join, not a product") {
    val p = plan("subquery_in")
    assert(p.contains("SemiJoin") || p.contains("LeftSemi"), s"IN-subquery not a semi join:\n$p")
    assert(!p.contains("CartesianProduct"))
  }

  test("ann_pq scores via equality joins only — codes never cross-join") {
    val p = plan("ann_pq")
    assert(!p.contains("CartesianProduct"), s"PQ plan contains a cartesian product:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin"), s"PQ plan contains a nested-loop join:\n$p")
    // the ADC sum must keep its map-side partial phase: the codes⋈LUT
    // join explodes to corpus×m rows, and only partial aggregation keeps
    // that off the wire
    assert(p.contains("partial_"), s"PQ ADC aggregation lost map-side combine:\n$p")
  }

  test("ann_ivfpq: equality joins only — cells probe by id, LUTs join by query") {
    val p = plan("ann_ivfpq")
    assert(!p.contains("CartesianProduct"), s"IVF-PQ plan contains a cartesian product:\n$p")
    // kernel-based cell assignment removed the old centroid nested-loop:
    // nothing in the serving plan may nested-loop at all now
    assert(!p.contains("BroadcastNestedLoopJoin"), s"IVF-PQ plan contains a nested-loop join:\n$p")
    val eqJoins = p.linesIterator.count(l =>
      l.contains("BroadcastHashJoin") || l.contains("SortMergeJoin") ||
        l.contains("ShuffledHashJoin"))
    assert(eqJoins >= 2, s"cell-probe and LUT joins must be equality joins:\n$p")
    // the only Generate allowed is the query-side nProbe-cell explode
    // (nQueries × nProbe rows); the m-wide codes must stay packed
    assert(!p.contains("posexplode"), s"codes exploded — ADC must be a packed-array projection:\n$p")
  }

  test("sample_stratified windows stay partitioned by stratum") {
    val p = plan("sample_stratified")
    assert(!p.contains("SinglePartition"),
      s"stratified sampling must not funnel through one partition:\n$p")
  }

  test("corpus_bloom_decontaminate probes the bloom before the gram join") {
    val df = SparkEntry.queries("corpus_bloom_decontaminate")(spark, sfDir)
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"))
    // the probe (element_at over the filter words + bitwise AND) must sit
    // under a Filter BELOW the shuffle feeding the gram join — i.e. the
    // bloom thins the stream before it moves
    val opt = df.queryExecution.optimizedPlan.toString
    assert(opt.contains("element_at"), s"bloom probe missing from the plan:\n$opt")
  }
}
