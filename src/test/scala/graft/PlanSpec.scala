package graft

import org.apache.spark.sql.DataFrame

/** Physical-plan shape assertions (the optimizer-test layer of SURVEY §5,
  * mirroring the reference's plan matchers in presto-main/.../sql/planner/
  * assertions/): pushdown, column pruning, TopN fusion, window group
  * limits, and no accidental cartesian products in the LSH pipeline.
  */
class PlanSpec extends QueryAssertions {

  private def planOf(df: DataFrame): String =
    df.queryExecution.executedPlan.toString

  private def run(name: String): DataFrame =
    SparkEntry.queries(name)(spark, sfDir)

  test("q06: filters push into the parquet scan") {
    val plan = planOf(run("q06_forecast_revenue"))
    assert(plan.contains("PushedFilters: ["), plan.take(2000))
    assert(plan.contains("l_shipdate"), "shipdate filter should be pushed")
  }

  test("q06: scan schema is pruned to referenced columns") {
    val plan = planOf(run("q06_forecast_revenue"))
    val readSchema = plan.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(readSchema.contains("l_extendedprice"), readSchema)
    assert(!readSchema.contains("l_tax"), s"l_tax must be pruned: $readSchema")
    assert(!readSchema.contains("l_returnflag"), s"l_returnflag must be pruned: $readSchema")
  }

  test("q03: ORDER BY + LIMIT fuses into TakeOrderedAndProject") {
    val plan = planOf(run("q03_shipping_priority"))
    assert(plan.contains("TakeOrderedAndProject"), plan.take(2000))
  }

  test("w08: rank filter fuses into WindowGroupLimit") {
    val plan = planOf(run("w08_topn_per_group"))
    assert(plan.contains("WindowGroupLimit"), plan.take(2000))
  }

  test("u11: lateral UNNEST-then-JOIN decorrelates to Generate + hash join") {
    val plan = planOf(run("u11_sql_unnest_then_join"))
    // the JOIN LATERAL (SELECT explode ...) form must collapse into a
    // plain Generate over the scan — no join node for the lateral itself
    assert(plan.contains("Generate explode"), plan.take(2000))
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"lateral generator must decorrelate, not nested-loop:\n${plan.take(2000)}")
    // the post-UNNEST join stays a hash join with the pushed-down scan
    assert(plan.contains("PushedFilters: [IsNotNull(doc_id), LessThan(doc_id,5)"),
      plan.take(2000))
  }

  test("single-argument UNNEST shapes swap back to codegen'd generators") {
    // plans/UnnestRewrite.scala: the type-aware graft_unnest resolves the
    // shape, then the optimizer restores Spark's built-in generator so the
    // common forms stay inside whole-stage codegen
    val arr = planOf(Engine.sql(spark, sfDir,
      "SELECT u.w FROM (SELECT ARRAY[1, 2] AS a) s CROSS JOIN UNNEST(s.a) AS u(w)"))
    assert(arr.contains("Generate explode") && !arr.contains("graft_unnest"), arr.take(2000))
    val mp = planOf(Engine.sql(spark, sfDir,
      "SELECT t.k, t.v FROM (SELECT map(ARRAY['a'], ARRAY[1]) AS m) s CROSS JOIN UNNEST(s.m) AS t(k, v)"))
    assert(mp.contains("Generate explode") && !mp.contains("graft_unnest"), mp.take(2000))
    val rows = planOf(Engine.sql(spark, sfDir,
      """SELECT t.a, t.b FROM (SELECT array(named_struct('a', 1, 'b', 2)) AS rs) s
        |CROSS JOIN UNNEST(s.rs) AS t(a, b)""".stripMargin))
    assert(rows.contains("Generate inline") && !rows.contains("graft_unnest"), rows.take(2000))
    // ordinality, multi-argument, and map shapes lower to the codegen'd
    // inline(transform(...)) zip — never the interpreted generator
    val ord = planOf(Engine.sql(spark, sfDir,
      """SELECT t.w, t.i FROM (SELECT ARRAY['a','b'] AS a) s
        |CROSS JOIN UNNEST(s.a) WITH ORDINALITY AS t(w, i)""".stripMargin))
    assert(ord.contains("Generate inline") && !ord.contains("graft_unnest"), ord.take(2000))
    val multi = planOf(Engine.sql(spark, sfDir,
      """SELECT t.x, t.k, t.v
        |FROM (SELECT ARRAY[1, 2, 3] AS a, map(ARRAY['k'], ARRAY[9]) AS m) s
        |CROSS JOIN UNNEST(s.a, s.m) AS t(x, k, v)""".stripMargin))
    assert(multi.contains("Generate inline") && !multi.contains("graft_unnest"),
      multi.take(2000))
  }

  test("ds01: star join lowers to TopN with part filter pushed to its scan") {
    val plan = planOf(run("ds01_brand_by_year"))
    assert(plan.contains("TakeOrderedAndProject"), plan.take(2000))
    // the p_size = 15 dimension filter reaches the part scan, not a
    // post-join Filter over fact rows
    assert("PushedFilters: \\[[^\\]]*p_size".r.findFirstIn(plan).isDefined,
      plan.linesIterator.filter(_.contains("PushedFilters")).mkString("\n"))
  }

  test("ds03/ds07: wide stars broadcast nation and never go nested-loop") {
    for (name <- Seq("ds03_cross_nation_brand", "ds07_cross_nation_orders")) {
      val plan = planOf(run(name))
      assert(!plan.contains("CartesianProduct"), s"$name: cartesian")
      assert(!plan.contains("BroadcastNestedLoopJoin"), s"$name: BNLJ")
      assert(plan.contains("BroadcastHashJoin"), s"$name: nation should broadcast")
    }
  }

  test("ds04: rollup runs as a partial-final Expand aggregation") {
    val plan = planOf(run("ds04_rollup_grouping"))
    assert(plan.contains("Expand"), plan.take(2000))
    assert(plan.contains("partial_"), "grouping expansion must combine map-side")
  }

  test("ds05: the count band filters the derived table before the joins") {
    val plan = planOf(run("ds05_lines_per_order_band"))
    // the cnt BETWEEN 6 AND 7 band must sit directly on the aggregate
    // output (a Filter over the cnt attribute feeding the join), not
    // after the customer join — at 100 TB the band drops ~everything,
    // so filtering early is the difference between joining a sliver and
    // joining the corpus
    val filterLines = plan.linesIterator.filter(l =>
      l.contains("Filter") && l.contains("cnt#") && l.contains(">= 6")).toSeq
    assert(filterLines.nonEmpty,
      plan.linesIterator.filter(_.contains("Filter")).mkString("\n"))
  }

  test("ds10: six band counts share ONE lineitem scan") {
    val plan = planOf(run("ds10_band_counts"))
    val scans = plan.linesIterator.count(l =>
      l.contains("FileScan parquet") && l.contains("lineitem"))
    assert(scans == 1, s"expected one shared scan, got $scans")
  }

  test("ds11: each year branch pushes its date range into its own scan") {
    val plan = planOf(run("ds11_year_over_year"))
    val pushed = plan.linesIterator.filter(l =>
      l.contains("PushedFilters") && l.contains("o_orderdate") &&
        l.contains("GreaterThanOrEqual")).size
    assert(pushed == 2, s"expected 2 range-pruned orders scans, got $pushed")
  }

  test("ds13: the intersect pair set broadcasts into the star; no nested loop") {
    val plan = planOf(run("ds13_cross_channel_brands"))
    assert(!plan.contains("CartesianProduct"), "cartesian")
    assert(!plan.contains("BroadcastNestedLoopJoin"), "BNLJ")
    assert(plan.contains("BroadcastHashJoin"),
      "the bounded (brand, type) pair set must broadcast")
    // INTERSECT lowers to an aggregate + join, never a nested loop
    assert(plan.contains("LeftSemi") || plan.contains("HashAggregate"),
      plan.take(2000))
  }

  test("ds14: rollup + windowed top-k runs Expand then a bounded Window") {
    val plan = planOf(run("ds14_rollup_topk_per_type"))
    assert(plan.contains("Expand"), plan.take(2000))
    assert(plan.contains("Window"), plan.take(2000))
    assert(plan.contains("partial_"), "rollup must combine map-side")
  }

  test("ds15: the EXISTS disjunction lowers to semi joins, no per-row subquery") {
    val plan = planOf(run("ds15_exists_channel_union"))
    assert(plan.contains("LeftSemi"), plan.take(2000))
    assert(!plan.contains("CartesianProduct"), "cartesian")
    assert(!plan.contains("BroadcastNestedLoopJoin"), "BNLJ")
  }

  test("ds16: both branches push their year range; semi join against the CTE") {
    val plan = planOf(run("ds16_intersect_cte_reuse"))
    assert(plan.contains("LeftSemi"), plan.take(2000))
    val pushed = plan.linesIterator.count(l =>
      l.contains("PushedFilters") && l.contains("o_orderdate") &&
        l.contains("GreaterThanOrEqual"))
    // 2 branch scans + 2 intersect-side scans, each range-pruned
    assert(pushed >= 2, s"expected range-pruned orders scans, got $pushed")
  }

  test("ds17/ds18: overlap counts full-outer join deduped keys; anti join lowers to LeftAnti") {
    val p17 = planOf(run("ds17_channel_overlap"))
    assert(p17.contains("FullOuter"), p17.take(2000))
    // both channels dedup BEFORE the join — aggregates under it, so the
    // full-outer join never sees fact rows
    assert(p17.contains("HashAggregate"), p17.take(2000))
    val p18 = planOf(run("ds18_anti_channel_parts"))
    assert(p18.contains("LeftAnti"), p18.take(2000))
    assert(!p18.contains("BroadcastNestedLoopJoin"),
      "non-null key NOT IN must not fall back to null-aware BNLJ")
  }

  test("ds19: both window families share one shuffle over the monthly pre-aggregate") {
    val plan = planOf(run("ds19_monthly_deviation"))
    assert(plan.contains("Window"), plan.take(2000))
    // the windows run over the (brand, yr, mo) aggregate, so the fact
    // scan reduces map-side before any window sees it
    assert(plan.contains("partial_"), "monthly aggregate must combine map-side")
    assert(!plan.contains("CartesianProduct"), "cartesian")
    // both window specs partition by (brand, yr): Spark stacks the two
    // Window nodes on a single (brand, yr) hashpartitioning exchange —
    // the only hash exchange whose keys include yr (the groupBy shuffles
    // on (p_brand, _groupingexpression...) and the orderBy is a range
    // partitioning, so neither matches)
    val windowExchanges = plan.linesIterator.count(l =>
      l.contains("Exchange hashpartitioning") && l.contains("yr#"))
    assert(windowExchanges == 1,
      s"the two window specs must reuse one (brand, yr) exchange, saw $windowExchanges")
    assert(plan.linesIterator.count(_.trim.startsWith("+- Window")) == 2,
      "both window families must survive as two stacked Window nodes")
  }

  test("ds20: channel aggregates reduce before the full-outer join") {
    val plan = planOf(run("ds20_channel_ratio_fulljoin"))
    assert(plan.contains("FullOuter"), plan.take(2000))
    assert(plan.contains("partial_"), "channel sums must combine map-side")
    // the linestatus channel filters push to the scans
    assert(plan.linesIterator.exists(l =>
      l.contains("PushedFilters") && l.contains("l_linestatus")),
      "channel filter must reach the parquet scan")
  }

  test("ds21: dual ranks run as windows over the reduced per-part aggregate") {
    val plan = planOf(run("ds21_dual_rank_returns"))
    assert(plan.contains("Window"), plan.take(2000))
    assert(plan.contains("partial_"), "per-part aggregate must combine map-side")
    assert(!plan.contains("CartesianProduct"), "cartesian")
  }

  test("ds22: all four bounded CTE slices broadcast; no shuffle join") {
    val plan = planOf(run("ds22_quarter_growth"))
    assert(plan.contains("BroadcastHashJoin"), plan.take(2000))
    assert(!plan.contains("SortMergeJoin"),
      "nation-level slices must broadcast, not sort-merge")
    assert(!plan.contains("CartesianProduct"), "cartesian")
  }

  test("ds23: one combined shuffle above the union; every branch pushes its filter") {
    val plan = planOf(run("ds23_union_channel_report"))
    assert(plan.contains("Union"), plan.take(2000))
    assert(plan.contains("partial_"), "partial agg must run above the union, map-side")
    // one aggregate exchange for all three branches, not one each
    val aggExchanges = plan.linesIterator.count(l =>
      l.contains("Exchange hashpartitioning") && l.contains("channel"))
    assert(aggExchanges == 1, s"expected one combined shuffle, saw $aggExchanges")
    val pushed = plan.linesIterator.count(l =>
      l.contains("PushedFilters") && l.contains("l_returnflag"))
    assert(pushed == 3, s"all three branches must push their channel filter, saw $pushed")
  }

  test("geo10: the KDB spatial join runs as an equi-join on partition id") {
    val plan = planOf(run("geo10_kdb_spatial_join"))
    // the fact-sized join is hash/merge on pid; the only nested-loop
    // allowed is the single-row tree broadcast
    val pidJoin = plan.linesIterator.exists(l =>
      (l.contains("SortMergeJoin") || l.contains("ShuffledHashJoin") ||
        l.contains("BroadcastHashJoin")) && l.contains("pid"))
    assert(pidJoin, "pair generation must equi-join on the KDB partition id")
    assert(!plan.contains("CartesianProduct"), "cartesian")
  }

  test("d02: LSH near-dup plan has no cartesian product") {
    // the plan that ships: the verified-pair barrier's own executed plan
    val (_, plans) = checkpointPlans(ops.MinHashLSH.nearDuplicates(
      Tables.load(spark, sfDir, "documents"), "doc_id", "text", 0.5))
    assert(plans.exists(_.contains("graft_lsh_bands")), plans.mkString("\n"))
    plans.foreach { plan =>
      assert(!plan.contains("CartesianProduct"), "all-pairs join would sink at scale")
      assert(!plan.contains("BroadcastNestedLoopJoin"),
        "near-dup candidates must come from the band-key equi join")
    }
  }

  test("IVF layout: probing inverted lists is a partition-pruned scan") {
    import org.apache.spark.sql.functions._
    val emb = Tables.load(spark, sfDir, "embeddings")
    val ((centroids, indexed), barriers) = checkpointPlans {
      val c = ops.IvfIndex.train(emb, "vec_id", "embedding", k = 16)
      (c, ops.IvfIndex.index(emb, "vec_id", "embedding", c))
    }
    // the index barrier assigns map-side: the nearest-list kernel over
    // the corpus scan, no exchange
    assert(barriers.exists(p =>
      p.contains("graft_nearest_list") && p.contains("Scan parquet") &&
        !p.contains("Exchange")), barriers.mkString("\n"))
    // the 100-TB layout: inverted lists persisted partitioned BY CLUSTER,
    // so an nprobe search reads only the probed lists off storage
    val out = java.nio.file.Files.createTempDirectory("graft_ivf").toString
    indexed.write.mode("overwrite").partitionBy("ncluster").parquet(out)
    val lists = spark.read.parquet(out)
    // static probe set → partition filters at the scan
    val static = lists.filter(col("ncluster").isin(1, 3, 5))
      .queryExecution.executedPlan.toString
    assert(static.contains("PartitionFilters") && static.contains("ncluster"),
      static.take(2000))
    // runtime probe set (nearest centroids of a query) → DPP subquery.
    // Derived the way IvfIndex.search derives it — rank window + a
    // `row_number <= nprobe` FILTER — because PartitionPruning's
    // hasSelectivePredicate demands a likely-selective Filter on the
    // probe side: an orderBy().limit() spelling has none and would skip
    // DPP (the pre-r13 train plan only passed here via the size(v)>0
    // filter InferFiltersFromGenerate added under its posexplode). The
    // centroids are train's checkpointed leaf: its LogicalRDD keeps the
    // origin plan's stats, so the DPP benefit heuristic still fires.
    val probed = centroids
      .withColumn("d", expr(
        "graft_dot(centroid, centroid)")) // any derived ranking works here
      .withColumn("pr", row_number().over(
        org.apache.spark.sql.expressions.Window.orderBy(col("d"), col("cluster"))))
      .filter(col("pr") <= 4)
      .select(col("cluster"))
    val dynamic = lists.join(probed, col("ncluster") === col("cluster"))
      .agg(count(lit(1)))
      .queryExecution.executedPlan.toString
    assert(dynamic.contains("dynamicpruning"), dynamic.take(3000))
  }

  test("IVF search plan holds one corpus scan — no Lloyd-iteration lineage") {
    import org.apache.spark.sql.functions._
    val emb = Tables.load(spark, sfDir, "embeddings")
    val queries = emb.filter(col("vec_id") < 5)
    val centroids = ops.IvfIndex.train(emb, "vec_id", "embedding", k = 16)
    val indexed = ops.IvfIndex.index(emb, "vec_id", "embedding", centroids)
    val plan = planOf(ops.IvfIndex.search(
      queries, "vec_id", "embedding", indexed, centroids, k = 5, nprobe = 8))
    // train checkpointed its k rows and index checkpointed the inverted
    // file, so the only parquet scan left in the search plan is the query
    // side; an unmaterialized lineage would drag in one corpus scan per
    // Lloyd pass per consumer
    val scans = plan.linesIterator.count(_.contains("Scan parquet"))
    assert(scans == 1, s"expected exactly the query-side scan, got $scans:\n${plan.take(3000)}")
    assert(plan.contains("Scan ExistingRDD"), // the checkpointed leaves
      plan.take(2000))
  }

  test("d07: embedding near-dup candidates come from the LSH equi join") {
    // the plan that ships: the pair barrier's own executed plan, which
    // reads the persisted features
    val (_, plans) = checkpointPlans(ops.EmbeddingDedup.nearDuplicates(
      Tables.load(spark, sfDir, "documents"), "doc_id", "text", 0.8))
    plans.foreach { plan =>
      assert(!plan.contains("CartesianProduct"), "all-pairs join would sink at scale")
      assert(!plan.contains("BroadcastNestedLoopJoin"),
        "candidates must come from the (table, lshBucket) equi join")
      // the oracle's sf0.01 geometry runs the one candidate path the
      // stress legs run: zero-bit probe keys decided by the routed keep
      // kernel
      assert(plan.contains("graft_lsh_probe_keys") &&
        plan.contains("graft_sig_keep_routed") &&
        !plan.contains("graft_sig_keep(") && plan.contains("InMemoryTableScan"),
        s"d07 must plan zero-bit probes + graft_sig_keep_routed over the " +
          s"persisted features:\n${plan.take(3000)}")
    }
  }

  test("e04: approx-most-frequent top-k is a bounded sort, not a global window") {
    // an unpartitioned rank window moves every count to one partition;
    // sort + limit merges per-partition top-n results instead
    val plan = planOf(run("e04_approx_most_frequent"))
    assert(plan.contains("TakeOrderedAndProject") && !plan.contains("Window"),
      plan.take(2000))
  }

  test("j09/j10: as-of and range joins avoid nested-loop plans") {
    val asof = planOf(run("j09_asof_join"))
    assert(!asof.contains("CartesianProduct") &&
      !asof.contains("BroadcastNestedLoopJoin"),
      "as-of join must be one shuffle + window, not a join at all")
    assert(asof.contains("Window"), "as-of match is a running window")
    val range = planOf(run("j10_range_join"))
    assert(!range.contains("CartesianProduct") &&
      !range.contains("BroadcastNestedLoopJoin"),
      s"range join must equi-join on time buckets:\n${range.take(2000)}")
  }

  test("dynamic partition pruning fires on partitioned joins") {
    import org.apache.spark.sql.functions._
    val out = java.nio.file.Files.createTempDirectory("graft_dpp").toString
    SparkEntry.queries("q01_pricing_summary") // warm session
    val orders = Tables.load(spark, sfDir, "orders")
    orders.write.mode("overwrite").partitionBy("o_orderstatus").parquet(out)
    val fact = spark.read.parquet(out)
    // dim filter on a NON-join column: partition values aren't statically
    // inferable, so pruning must come from a runtime (DPP) subquery.
    val dim = orders
      .filter(col("o_orderpriority") === "1-URGENT" && col("o_totalprice") > 100000)
      .select(col("o_orderstatus").as("st")).distinct()
    val joined = fact.join(dim, col("o_orderstatus") === col("st"))
      .agg(count(lit(1)))
    val plan = joined.queryExecution.executedPlan.toString
    assert(plan.contains("dynamicpruning"), plan.take(3000))
  }

  test("bucketed join runs without a shuffle exchange") {
    import org.apache.spark.sql.functions._
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      SparkEntry.queries("w07_bucketed_join")(spark, sfDir) // (re)creates tables
      val joined = spark.table("graft_b_orders")
        .join(spark.table("graft_b_customer"), col("o_custkey") === col("c_custkey"))
        .select("c_nationkey")
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("SelectedBucketsCount"), plan.take(2000))
      assert(!plan.contains("Exchange hashpartitioning"),
        s"bucketed join must not shuffle:\n${plan.take(3000)}")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("CountIfRewrite: count(CASE WHEN p THEN 1 END) becomes a filtered count") {
    import org.apache.spark.sql.functions._
    val df = Tables.load(spark, sfDir, "orders")
      .agg(count(when(col("o_totalprice") > 100000, 1)).as("big"))
    val optimized = df.queryExecution.optimizedPlan.toString
    assert(optimized.contains("count(1) FILTER"), optimized.take(1500))
    // and the rewrite preserves the answer
    val expected = Tables.load(spark, sfDir, "orders")
      .filter(col("o_totalprice") > 100000).count()
    assert(df.head().getLong(0) == expected)
  }

  test("same-spec window functions collapse into one Window operator") {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    val w = Window.partitionBy("o_custkey").orderBy("o_orderkey")
    val df = Tables.load(spark, sfDir, "orders")
      .select(rank().over(w).as("r"), dense_rank().over(w).as("d"),
        row_number().over(w).as("rn"))
    val windows = df.queryExecution.executedPlan.toString
      .linesIterator.count(_.trim.startsWith("+- Window"))
    assert(windows == 1, s"expected one collapsed Window operator, got $windows")
  }

  test("q01: aggregation is partial before the exchange") {
    val plan = planOf(run("q01_pricing_summary"))
    val firstAgg = plan.indexOf("HashAggregate")
    assert(firstAgg >= 0, plan.take(2000))
    assert(plan.contains("partial_sum") || plan.contains("merge_sum"),
      "map-side partial aggregation expected")
  }

  test("k16: Presto-dialect SQL through the facade gets the same plan quality") {
    val plan = planOf(run("k16_benchto_q05"))
    assert(plan.contains("PushedFilters: [IsNotNull(r_name), EqualTo(r_name,ASIA)]") ||
      plan.contains("EqualTo(r_name,ASIA)"),
      s"region filter must reach the scan through the translated SQL:\n${plan.take(3000)}")
    assert(!plan.contains("CartesianProduct"),
      "comma-join syntax must still plan as equi joins")
  }

  test("checksum/entropy: native DeclarativeAggregates run partial+final") {
    import org.apache.spark.sql.functions.expr
    val df = Tables.load(spark, sfDir, "orders")
      .groupBy("o_orderstatus")
      .agg(expr("checksum(o_totalprice)"), expr("entropy(o_custkey)"))
    val plan = { df.collect(); df.queryExecution.executedPlan.toString }
    assert(plan.contains("partial_checksum") || plan.contains("merge_checksum"),
      s"map-side partial checksum expected:\n${plan.take(2000)}")
    assert(plan.contains("partial_entropy") || plan.contains("merge_entropy"),
      s"map-side partial entropy expected:\n${plan.take(2000)}")
    // DeclarativeAggregate stays inside whole-stage codegen (the tree
    // rendering marks codegen stages with "*(n)")
    assert(plan.contains("*(1) HashAggregate"),
      s"partial aggregate must be inside a codegen stage:\n${plan.take(2000)}")
  }

  test("reduce_agg: lambda fold runs as partial+final codegen aggregate") {
    val df = Engine.sql(spark, sfDir,
      """SELECT l_returnflag,
        |  reduce_agg(CAST(l_quantity AS BIGINT), CAST(0 AS BIGINT),
        |             (a, b) -> a + b, (a, b) -> a + b) AS qty_sum
        |FROM lineitem GROUP BY l_returnflag""".stripMargin)
    val plan = { df.collect(); df.queryExecution.executedPlan.toString }
    // the user's input lambda folds map-side (constant-size state, no
    // collect_list materialization), the combine lambda merges partials.
    // (The stage itself is not whole-stage-codegen'd: the retained
    // LambdaFunction children are CodegenFallback — same trade as every
    // udaf-registered aggregate here; state stays O(1) either way.)
    assert(plan.contains("partial_reduce_agg") || plan.contains("merge_reduce_agg"),
      s"map-side partial reduce_agg expected:\n${plan.take(2000)}")
    assert(!plan.contains("collect_list"),
      s"reduce_agg must not materialize groups:\n${plan.take(2000)}")
  }

  test("geo04/geo05: grid spatial joins plan as equi joins, never cartesian") {
    // the reference extracts these to SpatialJoinOperator with a
    // broadcast R-tree (ExtractSpatialJoins.java); our partitioned-grid
    // equivalent must hit a hash/merge EQUI join on the packed cell key,
    // with the exact geometry predicate as a post-join filter only
    for (name <- Seq("geo04_distance_join", "geo05_contains_join")) {
      val plan = planOf(run(name))
      assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoop"),
        s"$name must not degrade to an all-pairs join:\n${plan.take(2000)}")
      assert(plan.contains("__cell"), s"$name should join on the packed grid cell")
    }
  }

  test("ds24: year filters push THROUGH the self-joined aggregate into each scan") {
    // the two cross_sales branches filter on a GROUP KEY above the same
    // aggregate; Catalyst pushes each year predicate through the
    // aggregate into that branch's orders scan instead of materializing
    // the full aggregate once (the reference materializes q64's CTE —
    // Spark's pushdown is the better plan when the filter is selective:
    // each branch scans a year, not the whole fact table)
    val optimized = SparkEntry.queries("ds24_cross_sales_self_join")(spark, sfDir)
      .queryExecution.optimizedPlan.toString
    assert(optimized.contains("= 1996") && optimized.contains("= 1997"),
      s"both year filters must survive below the aggregates:\n${optimized.take(3000)}")
    val plan = planOf(run("ds24_cross_sales_self_join"))
    // each branch's filter reached its scan as a data filter — the scan
    // line carries the year predicate, so neither branch scans all years
    val scanLines = plan.linesIterator.filter(l =>
      l.contains("FileScan parquet") && l.contains("orders.parquet")).toVector
    assert(scanLines.size == 2 &&
      scanLines.exists(_.contains("1996")) && scanLines.exists(_.contains("1997")),
      s"expected two year-filtered orders scans:\n${scanLines.mkString("\n")}")
    assert(!plan.contains("CartesianProduct"), "self-join must stay an equi join")
  }

  test("ds26: WHERE on the returns side eliminates the outer join") {
    // the q93 anti-pattern: LEFT JOIN returns + WHERE ret_reason = 'F'
    // null-rejects the right side, so EliminateOuterJoin must rewrite it
    // to an inner join (the reference's PruneOuterJoinNullability family)
    val optimized = SparkEntry.queries("ds26_returns_reconciliation")(spark, sfDir)
      .queryExecution.optimizedPlan.toString
    assert(!optimized.contains("LeftOuter"),
      s"outer join must be eliminated by the null-rejecting filter:\n${optimized.take(3000)}")
    val plan = planOf(run("ds26_returns_reconciliation"))
    assert(plan.contains("TakeOrderedAndProject"),
      "ORDER BY + LIMIT 100 must lower to TopN")
  }

  test("ds27: both IN-subqueries lower to semi joins over the shared self-join") {
    val optimized = SparkEntry.queries("ds27_ship_semi_reuse")(spark, sfDir)
      .queryExecution.optimizedPlan.toString
    assert("LeftSemi".r.findAllIn(optimized).size >= 2,
      s"both INs must lower to LeftSemi:\n${optimized.take(3000)}")
    val df = run("ds27_ship_semi_reuse")
    val plan = planOf(df)
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoop"),
      s"the multi-supplier self-join must stay an equi join:\n${plan.take(3000)}")
    // the multi_supp subplan feeds two consumers; the duplicate exchange
    // under it must be REUSED, not recomputed. AQE applies stage reuse
    // at RUNTIME, so execute first and read the FINAL plan.
    df.collect()
    val finalPlan = df.queryExecution.executedPlan.toString
    assert(finalPlan.contains("Reused"),
      s"expected exchange/stage reuse under the twice-consumed self-join:\n${
        finalPlan.take(3000)}")
  }

  test("ds28: threshold chain keeps the scalar max as a 1-row broadcast " +
      "and both memberships as semi joins") {
    val optimized = SparkEntry.queries("ds28_threshold_chain")(spark, sfDir)
      .queryExecution.optimizedPlan.toString
    assert("LeftSemi".r.findAllIn(optimized).size >= 2,
      s"both memberships must lower to LeftSemi:\n${optimized.take(3000)}")
    val plan = planOf(run("ds28_threshold_chain"))
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoop") ||
      plan.contains("BroadcastNestedLoopJoin BuildRight, Inner"),
      s"only the 1-row scalar max may broadcast without keys:\n${plan.take(3000)}")
    assert(plan.contains("HashAggregate"),
      "per-customer sums must be hash aggregates with partial pushdown")
  }

  test("ds25: mixed inner/outer wide join keeps outer edges and broadcasts dims") {
    val optimized = SparkEntry.queries("ds25_wide_join_promo")(spark, sfDir)
      .queryExecution.optimizedPlan.toString
    // the promo LEFT JOIN's NULLs feed the CASE aggregates (no
    // null-rejecting filter), so it must SURVIVE optimization
    assert(optimized.contains("LeftOuter"),
      s"the promo outer join must not be eliminated:\n${optimized.take(3000)}")
    val plan = planOf(run("ds25_wide_join_promo"))
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoop"),
      s"every edge is an equi join:\n${plan.take(3000)}")
  }

  test("ds29: each year-total branch pushes its own date range into its scan") {
    // the four year_total instances differ only in their (year, channel)
    // filters; each branch's date range must reach ITS orders scan as a
    // data filter — an unfiltered shared materialization would scan the
    // whole fact table four times at 100 TB
    val plan = planOf(run("ds29_yoy_growth"))
    val scanLines = plan.linesIterator.filter(l =>
      l.contains("FileScan parquet") && l.contains("orders.parquet")).toVector
    // 4 branches, but the kept/returned pair of one year shares an
    // identical orders subtree — exchange reuse may print it once, so 2
    // scans (one per year) is the BETTER plan and 4 the upper bound
    assert(scanLines.size >= 2 && scanLines.size <= 4,
      s"expected per-year orders scans:\n${scanLines.mkString("\n")}")
    // match the range LOWER bounds — the formatted scan line truncates
    // long filter lists mid-date ("1994-12-3...")
    assert(scanLines.exists(_.contains("1994-01-01")) &&
      scanLines.exists(_.contains("1995-01-01")),
      s"each branch must push its own year bounds:\n${scanLines.mkString("\n")}")
    assert(!scanLines.exists(l => !l.contains("1994") && !l.contains("1995")),
      s"no branch may scan all years:\n${scanLines.mkString("\n")}")
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoop"),
      "the four-way self-join must stay equi joins")
  }

  test("ds30: cumulative windows run over the full-outer channel join") {
    val optimized = SparkEntry.queries("ds30_cumulative_overtake")(spark, sfDir)
      .queryExecution.optimizedPlan.toString
    assert(optimized.contains("FullOuter"),
      s"the channel join must stay full outer (coalesced keys are not " +
        s"null-rejecting):\n${optimized.take(3000)}")
    val plan = planOf(run("ds30_cumulative_overtake"))
    assert(plan.contains("Window"), "cumulative sums must be window functions")
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoop"),
      s"the channel join is an equi join:\n${plan.take(2000)}")
  }

  test("ds31: variability pairs self-join stays an equi join over partial aggs") {
    val plan = planOf(run("ds31_variability_pairs"))
    // b.mth = a.mth + 1 is an EQUALITY on a derived key — it must join
    // hash/merge, not nested-loop (the reference's q39 pattern)
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoop"),
      s"consecutive-month self-join must be an equi join:\n${plan.take(3000)}")
    assert(plan.contains("HashAggregate"),
      "the moment sums must aggregate partial-before-exchange")
  }

  test("ds32: correlated-average threshold decorrelates to an equi join " +
      "over two aggregates of one subtree") {
    val plan = planOf(run("ds32_return_outliers"))
    // the per-nation average side re-aggregates the SAME per-customer
    // CTE and joins back on the group key — no nested-loop anywhere
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoop"),
      s"the threshold join must be an equi join on the group key:\n${
        plan.take(3000)}")
    assert("HashAggregate".r.findAllIn(plan).size >= 2,
      "both the per-customer and per-nation aggregates must be hash aggs")
    // the returns filter reaches the fact scan
    val scan = plan.linesIterator.filter(l =>
      l.contains("FileScan parquet") && l.contains("lineitem")).mkString
    assert(scan.contains("l_returnflag"),
      s"l_returnflag = 'R' must push into the lineitem scan:\n$scan")
  }

  test("ds33: day-of-week pivot is conditional aggregation, not Expand, " +
      "and the week self-join is an equi join") {
    val plan = planOf(run("ds33_weekly_dow_ratios"))
    // 7 sum(CASE) columns in ONE aggregate — a PIVOT/Expand would
    // multiply the scan rows 7×
    assert(!plan.contains("Expand"),
      s"the pivot must be conditional aggregation in one pass:\n${plan.take(3000)}")
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoop"),
      s"b.wk = a.wk + 1 is an equality on a derived key:\n${plan.take(3000)}")
    // each weekly instance pushes the date range into its scan
    val scans = plan.linesIterator.filter(l =>
      l.contains("FileScan parquet") && l.contains("lineitem")).toVector
    assert(scans.nonEmpty && scans.forall(_.contains("1996-01-01")),
      s"the week-range filter must reach every lineitem scan:\n${
        scans.mkString("\n")}")
  }

  test("ds34: cohort membership lowers to a semi join and the scalar " +
      "month bounds broadcast as one row") {
    val optimized = SparkEntry.queries("ds34_cohort_spend_bands")(spark, sfDir)
      .queryExecution.optimizedPlan.toString
    assert(optimized.contains("LeftSemi"),
      s"the cohort IN-set must lower to LeftSemi:\n${optimized.take(3000)}")
    val plan = planOf(run("ds34_cohort_spend_bands"))
    // the only keyless join allowed is the 1-row scalar-bounds broadcast
    // (the ds28 carve-out); everything else joins on keys
    val bnl = "BroadcastNestedLoopJoin".r.findAllIn(plan).size
    val bnlBuildRight =
      "BroadcastNestedLoopJoin BuildRight".r.findAllIn(plan).size
    assert(!plan.contains("CartesianProduct") && bnl == bnlBuildRight,
      s"only the 1-row bounds may broadcast keyless:\n${plan.take(3000)}")
  }

  test("ds35: returns netting keeps its LEFT join and one Expand does " +
      "the rollup") {
    val optimized =
      SparkEntry.queries("ds35_channel_returns_rollup")(spark, sfDir)
        .queryExecution.optimizedPlan.toString
    // sales-without-returns rows feed coalesce(ret, 0) — the LEFT join
    // must survive optimization
    assert(optimized.contains("LeftOuter"),
      s"the netting join must stay left outer:\n${optimized.take(3000)}")
    val plan = planOf(run("ds35_channel_returns_rollup"))
    assert("Expand".r.findAllIn(plan).size == 1,
      s"ROLLUP lowers to exactly one Expand over the netted grain:\n${
        plan.take(3000)}")
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoop"),
      s"channel/brand joins are equi joins:\n${plan.take(3000)}")
    // the channel-slice literal predicates reach both fact scans (the
    // year(l_shipdate) filter is a function of the column, evaluated
    // post-scan — but l_returnflag = 'R' / <> 'R' must push)
    val scans = plan.linesIterator.filter(l =>
      l.contains("FileScan parquet") && l.contains("lineitem")).toVector
    assert(scans.nonEmpty && scans.forall(l =>
      l.contains("PushedFilters") && l.contains("l_returnflag")),
      s"the returnflag slice must push into every lineitem scan:\n${
        scans.mkString("\n")}")
  }

  test("ds36: the three-leg chain joins pre-aggregated grains on " +
      "compound keys") {
    val plan = planOf(run("ds36_sale_return_repurchase"))
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoop"),
      s"every chain edge is a compound-key equi join:\n${plan.take(3000)}")
    // each leg must aggregate to (cust, part) BELOW the chain joins —
    // a line×line×line chain would explode at scale. 3 leg aggregates
    // (partial+final) + the final brand rollup.
    assert("HashAggregate".r.findAllIn(plan).size >= 8,
      s"legs must pre-aggregate below the chain:\n${plan.take(3000)}")
    // each leg pushes its own date window into its orders scan
    val scans = plan.linesIterator.filter(l =>
      l.contains("FileScan parquet") && l.contains("orders.parquet")).toVector
    assert(scans.exists(_.contains("1996-07-01")),
      s"the re-purchase leg must push its second-half window:\n${
        scans.mkString("\n")}")
  }

  test("ds37: best/worst ranks run over the dimension-grain aggregate " +
      "and join on rank position") {
    val plan = planOf(run("ds37_best_worst_by_rank"))
    assert("Window".r.findAllIn(plan).size >= 2,
      s"both rank directions are window functions:\n${plan.take(3000)}")
    assert(!plan.contains("CartesianProduct"),
      s"the rank-position join is an equi join:\n${plan.take(3000)}")
    // the window input is the per-part AGGREGATE (dimension grain), not
    // fact rows: an aggregate must sit below every window
    val winIdx = plan.indexOf("Window")
    val aggIdx = plan.lastIndexOf("HashAggregate")
    assert(winIdx >= 0 && aggIdx > winIdx,
      "the ranked input must be the per-part aggregate, not raw lines")
  }

  test("ds38: the symmetric band filters stay residual predicates on " +
      "equi joins over per-channel aggregates") {
    val plan = planOf(run("ds38_symmetric_channel_band"))
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoop"),
      s"the three-way item join must be equi:\n${plan.take(3000)}")
    // each channel slice pushes its flag literal into its scan
    val scans = plan.linesIterator.filter(l =>
      l.contains("FileScan parquet") && l.contains("lineitem")).toVector
    assert(scans.nonEmpty && scans.forall(l =>
      l.contains("PushedFilters") && l.contains("l_returnflag")),
      s"each channel's flag must push into its scan:\n${scans.mkString("\n")}")
  }

  test("ds39: ranks partition by the grouping-level key over ONE rollup " +
      "Expand, and the window input is the rolled-up grain") {
    val plan = planOf(run("ds39_rollup_rank_hierarchy"))
    assert("Expand".r.findAllIn(plan).size == 1,
      s"exactly one Expand for the rollup:\n${plan.take(3000)}")
    // the window must sit ABOVE the rollup aggregate — it ranks the
    // rolled-up rows (<= 6*25+6+1), never fact rows
    val winIdx = plan.indexOf("Window")
    val aggIdx = plan.lastIndexOf("HashAggregate")
    assert(winIdx >= 0 && aggIdx > winIdx,
      "the ranked input must be the rollup output, not fact rows")
  }

  test("ds40: fifteen scalar subqueries collapse to ONE fact scan") {
    val plan = planOf(run("ds40_scalar_case_buckets"))
    val factScans = plan.linesIterator.filter(l =>
      l.contains("FileScan parquet") && l.contains("lineitem")).toVector
    assert(factScans.size == 1,
      s"the conditional-agg rewrite must scan the fact ONCE (found ${
        factScans.size}):\n${factScans.mkString("\n")}")
    // the one-row stats side is broadcast to the driver dimension
    assert(plan.contains("BroadcastNestedLoopJoin") ||
      plan.contains("BroadcastExchange"),
      s"the one-row stats join must broadcast:\n${plan.take(3000)}")
  }

  test("ds41: lag bands aggregate map-side behind one equi join with " +
      "the date window pushed into the orders scan") {
    val plan = planOf(run("ds41_fulfillment_lag_buckets"))
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoop"),
      s"the orderkey join must be equi:\n${plan.take(3000)}")
    // partial+final aggregate: the 5 band counters combine map-side
    assert("HashAggregate".r.findAllIn(plan).size >= 2,
      s"band counters must partial-aggregate:\n${plan.take(3000)}")
    val scans = plan.linesIterator.filter(l =>
      l.contains("FileScan parquet") && l.contains("orders.parquet")).toVector
    assert(scans.exists(l => l.contains("PushedFilters") &&
      l.contains("o_orderdate")),
      s"the date window must push into the orders scan:\n${
        scans.mkString("\n")}")
  }

  test("ds42: the 24-wide pivot is conditional aggregation (no Expand) " +
      "with each channel's flag pushed into its scan") {
    val plan = planOf(run("ds42_wide_month_pivot"))
    assert(!plan.contains("Expand"),
      s"sum(CASE) pivots must not expand rows:\n${plan.take(3000)}")
    assert(plan.contains("Union"),
      s"the two channel pivots must union:\n${plan.take(3000)}")
    val scans = plan.linesIterator.filter(l =>
      l.contains("FileScan parquet") && l.contains("lineitem")).toVector
    assert(scans.nonEmpty && scans.forall(l =>
      l.contains("PushedFilters") && l.contains("l_returnflag")),
      s"each channel's flag must push into its scan:\n${scans.mkString("\n")}")
  }

  test("ds43: netting happens inside the per-year aggregates below an " +
      "equi self-join, with per-branch year pushdown") {
    val plan = planOf(run("ds43_yoy_decline_netted"))
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoop"),
      s"the prev×curr join must be equi on the brand:\n${plan.take(3000)}")
    // two branch aggregates (partial+final each) run BELOW the join
    assert("HashAggregate".r.findAllIn(plan).size >= 4,
      s"each year must net below the self-join:\n${plan.take(3000)}")
    // each branch narrows its orders scan to its own year: the range
    // bounds land in PushedFilters (formatted scan lines can truncate,
    // so match the lower bounds)
    val scans = plan.linesIterator.filter(l =>
      l.contains("FileScan parquet") && l.contains("orders.parquet")).toVector
    assert(scans.exists(_.contains("1995-01-01")) &&
      scans.exists(_.contains("1996-01-01")),
      s"per-branch year bounds must push into the orders scans:\n${
        scans.mkString("\n")}")
  }

  test("ds44: every leg's time band pushes into its own lineitem scan " +
      "and the single-row cross join never becomes a real cartesian") {
    val plan = planOf(run("ds44_timeband_counts"))
    assert(!plan.contains("CartesianProduct"),
      s"1-row legs must broadcast, not cartesian:\n${plan.take(3000)}")
    // 8 legs → 8 lineitem scans, each carrying its own half-month lower
    // bound (formatted scan lines can truncate, so match lower bounds)
    val scans = plan.linesIterator.filter(l =>
      l.contains("FileScan parquet") && l.contains("lineitem")).toVector
    assert(scans.size == 8, s"expected 8 fact scans, got ${scans.size}")
    val lowers = Seq("1995-03-01", "1995-03-16", "1995-04-01", "1995-04-16",
      "1995-05-01", "1995-05-16", "1995-06-01", "1995-06-16")
    lowers.foreach(lo => assert(scans.exists(_.contains(lo)),
      s"band lower bound $lo must push into a fact scan:\n${
        scans.mkString("\n")}"))
    // the disjunctive demographics filter references only customer
    // columns, so it must reach the customer scans as pushed predicates
    val custScans = plan.linesIterator.filter(l =>
      l.contains("FileScan parquet") && l.contains("customer")).toVector
    assert(custScans.nonEmpty && custScans.forall(l =>
      l.contains("PushedFilters") && l.contains("c_")),
      s"demo OR must push into the customer scans:\n${custScans.mkString("\n")}")
  }

  test("ds45: join equalities inside each OR branch factor out into " +
      "hash joins (no BNLJ, no cartesian)") {
    val plan = planOf(run("ds45_disjunctive_star"))
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoop"),
      s"BooleanSimplification must extract the common equi keys:\n${
        plan.take(4000)}")
    // the band disjunction survives as a residual somewhere (join
    // condition or post-join filter), not silently dropped
    assert(plan.contains("BUILDING") && plan.contains("MACHINERY"),
      s"the residual OR bands must remain in the plan:\n${plan.take(4000)}")
  }

  test("ds46: null-intolerant COALESCE filters collapse the two top " +
      "outer joins; only the three channel anti idioms stay outer") {
    val optimized = run("ds46_cross_channel_qty_ratio")
      .queryExecution.optimizedPlan.toString
    // 5 LEFT JOINs written: 3 channel (LEFT JOIN ret + IS NULL — Spark
    // may keep LeftOuter or lower to LeftAnti, both correct) + 2 top
    // channel-combine joins that EliminateOuterJoin MUST collapse
    val outer = "LeftOuter".r.findAllIn(optimized).size +
      "LeftAnti".r.findAllIn(optimized).size
    assert(outer == 3,
      s"exactly the 3 channel anti joins may stay non-inner, got $outer:\n${
        optimized.take(4000)}")
    val plan = planOf(run("ds46_cross_channel_qty_ratio"))
    assert(plan.contains("TakeOrderedAndProject"),
      "ORDER BY + LIMIT 100 must lower to TopN")
  }
}
