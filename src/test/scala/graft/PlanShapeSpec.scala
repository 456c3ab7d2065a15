package graft

import org.apache.spark.sql.DataFrame

/** Plan-shape regression gates: the performance-relevant physical plan
  * properties the engine promises (README "design rules") are asserted
  * here so a future refactor can't silently lose them — a query that
  * stops pushing filters or broadcasting dims would still be CORRECT,
  * which is exactly why correctness tests can't catch it.
  */
class PlanShapeSpec extends SparkSpec {

  private def plan(q: String): String = {
    val df: DataFrame = SparkEntry.queries(q)(spark, sf("sf0.01"))
    df.queryExecution.executedPlan.toString
  }

  test("q02: filter and projection reach the parquet scan") {
    val p = plan("q02_filter_project")
    assert(p.contains("PushedFilters: [IsNotNull(l_shipdate)"), p.take(2000))
    // (toString elides the tail of the filter list; the shipdate range
    // filter is the load-bearing pushdown)
    assert(p.contains("GreaterThanOrEqual(l_shipdate"), p.take(2000))
    // column pruning: the scan reads 5 columns, not the full table
    // (plan toString truncates long fields — assert the visible prefix)
    assert(p.contains("ReadSchema: struct<l_orderkey:bigint,l_linenumber:int," +
      "l_quantity:double,l_returnflag:string,l_shipdate"), p.take(2000))
  }

  test("q04: star join broadcasts all dimension sides, aggregates partially") {
    val p = plan("q04_multijoin_revenue")
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 4, p.take(3000))
    assert(p.contains("partial_sum"), "partial aggregation must precede the exchange")
    assert(!p.contains("SortMergeJoin"), "no fact-fact sort-merge at this scale")
  }

  test("q05: top-k plans as TakeOrderedAndProject, never a global sort") {
    val p = plan("q05_topk_orders")
    assert(p.contains("TakeOrderedAndProject"), p.take(1500))
    assert(!p.contains("Exchange rangepartitioning"),
      "a range-partitioned global sort would defeat the top-k heap")
  }

  test("q21: custom top-k aggregate runs with partial aggregation") {
    val p = plan("q21_topk_agg")
    assert(p.contains("partial_topkdouble"),
      s"TypedImperativeAggregate must combine map-side:\n${p.take(3000)}")
  }

  test("t19: weighted top-k plans as TakeOrderedAndProject, never a global sort") {
    val p = plan("t19_weighted_sample")
    assert(p.contains("TakeOrderedAndProject"), p.take(1500))
    assert(!p.contains("Exchange rangepartitioning"),
      "k rows per map task — a range-partitioned global sort defeats it")
  }

  test("s07: BM25 top-k heaps, stats broadcast, no corpus sort") {
    val p = plan("s07_bm25_topk")
    assert(p.contains("TakeOrderedAndProject"), p.take(2000))
    assert(!p.contains("Exchange rangepartitioning"),
      "top-20 must never range-sort the scored corpus")
    assert("BroadcastExchange".r.findAllIn(p).size >= 2,
      s"df and (n_docs, avgdl) relations must broadcast:\n${p.take(3000)}")
  }

  test("t29: budget selection windows per bucket, never one partition") {
    val p = plan("t29_token_budget")
    // the corpus-scale window must be partitioned by the md5 bucket;
    // the only unpartitioned window runs over the 256-row offsets
    // relation (aggregated — census-allowlisted shape)
    assert(p.contains("Window [sum(n_tokens"), p.take(3000))
    assert(p.contains("windowspecdefinition(__b#"),
      s"corpus cumsum must partition by the md5 bucket:\n${p.take(3000)}")
  }

  test("q36: range join plans the custom physical operator, no exchange") {
    val p = plan("q36_range_join")
    assert(p.contains("BroadcastRangeJoin"), p.take(2000))
  }

  test("q01: decimal-cast sums survive into the physical aggregate") {
    val p = plan("q01_pricing_summary")
    assert(p.contains("sum(cast(l_quantity"), p.take(2000))
  }

  test("s01: KNN rerank is a partial-aggregating heap, not a per-probe window") {
    val p = plan("s01_brute_knn")
    assert(p.contains("partial_topkpairs"),
      s"top-k must combine map-side before the exchange:\n${p.take(3000)}")
    assert(!p.contains("Window"),
      "a window rerank would shuffle every candidate row")
  }

  test("q41: no window partitioned by the bare low-cardinality stratum") {
    val p = plan("q41_stratified_sample")
    // the scale-killer shape is the rank window over RAW events partitioned
    // by the ~5-value stratum alone — 5 giant single-task sorts at 100×;
    // the md5-prefix plan pairs the stratum with the 65536-value sub-bucket
    // (windows over the aggregated counts relation may partition by stratum)
    assert("\\[event_type#\\d+, __b#\\d+\\], \\[__md5".r.findFirstIn(p).isDefined,
      s"rank window must partition by (stratum, bucket):\n${p.take(3000)}")
    assert("\\[event_type#\\d+\\], \\[__md5".r.findFirstIn(p).isEmpty,
      s"rank window over raw rows partitions by the bare stratum:\n${p.take(3000)}")
    assert(!p.contains("SinglePartition"),
      "nothing in the sampling plan may serialize to one partition")
  }

  test("q28: two-phase global rank — bucketed window + codegen'd bucket probe") {
    val p = plan("q28_ntile")
    // stage 1 sketch is localCheckpointed — every branch reads the SAME
    // materialized RDD (correctness must not hinge on ReuseExchange
    // deduplicating a non-deterministic percentile_approx subplan) — and
    // the codegen'd binary-search bucket probe is present
    assert(p.contains("Scan ExistingRDD[__splits"), p.take(3000))
    assert(p.toLowerCase.contains("searchsorted"), p.take(3000))
    // the full-table window is partitioned by the bucket column; the only
    // unpartitioned window runs over the ≤257-row bucket-count relation
    // (which sits above a HashAggregate, never the raw scan)
    assert("windowspecdefinition\\(__b#\\d+, o_totalprice".r.findFirstIn(p).isDefined,
      s"per-bucket rank window missing:\n${p.take(3000)}")
  }

  test("c01: benchmark grams broadcast; the corpus side never sort-merges") {
    val p = plan("c01_contamination")
    // the eval-suite gram set is fixed-size by construction — it must be
    // the broadcast build side so the 100TB corpus streams map-only
    // through the join into the partial aggregation
    assert(p.contains("BroadcastHashJoin"), p.take(3000))
    assert(!p.contains("SortMergeJoin"),
      "contamination must never sort the corpus gram stream")
    assert(p.contains("partial_count"), "per-doc counts must combine map-side")
  }

  test("t13: vocab join is shuffle-hash (no sort of the token stream)") {
    val p = plan("t13_unigram_logprob")
    assert(p.contains("ShuffledHashJoin"), p.take(3000))
    assert(!p.contains("SortMergeJoin"),
      "a sort-merge vocab join would sort corpus×tokens rows")
  }

  test("t21: both bigram-count joins are shuffle-hash, never sort-merge") {
    val p = plan("t21_bigram_logprob")
    assert("ShuffledHashJoin".r.findAllIn(p).size >= 2, p.take(3000))
    assert(!p.contains("SortMergeJoin"),
      "bigram/unigram count joins must not sort the gram stream")
  }

  test("q59: every funnel join hashes on user_id — no sort-merge anywhere") {
    val p = plan("q59_funnel")
    // round-4 drift: the two inner stage joins were hinted shuffle_hash
    // but the final left joins silently sort-merged — the census showed
    // 2 SMJ against a comment claiming hash joins throughout. All five
    // joins now carry the hint (build side = per-user aggregate); AQE
    // may upgrade small builds to broadcast, which is also hash.
    assert(!p.contains("SortMergeJoin"),
      s"funnel joins must hash, not sort the event stream:\n${p.take(3000)}")
    assert("ShuffledHashJoin|BroadcastHashJoin".r.findAllIn(p).size >= 5,
      p.take(3000))
  }

  test("t24: per-stratum sampling partial-aggregates the heap — no corpus-wide rank window") {
    val p = plan("t24_stratified_k")
    assert(p.contains("partial_topkpairs"),
      s"expected map-side heap partials (k pairs per task):\n${p.take(3000)}")
    assert(!p.contains("row_number"),
      "a row_number window would shuffle every row before discarding them")
  }

  test("q58: percentile bounds broadcast back; the event stream is never windowed") {
    val p = plan("q58_winsorize")
    assert(p.contains("BroadcastHashJoin"), p.take(3000))
    assert(!p.contains("Window"),
      "clipping must be a broadcast join against 5 bound rows, not a per-row window")
  }

  test("c02: the contaminated-id relation broadcasts into the anti join") {
    val p = plan("c02_decontaminate")
    assert("BroadcastHashJoin .*LeftAnti".r.findFirstIn(p).isDefined,
      s"ids must broadcast; the corpus must stream map-only:\n${p.take(3000)}")
  }

  test("q70: the merge re-aggregates partial state — partial_sum on both " +
    "the base and delta aggregates, no second scan pattern beyond the two") {
    val p = plan("q70_incremental_agg")
    // base and delta each partial-aggregate before their exchange, and
    // the merge itself partial-aggregates the union
    assert("partial_sum".r.findAllIn(p).size >= 2, p.take(3000))
    assert(!p.contains("SortMergeJoin"), p.take(3000))
  }

  test("t31: trace assembly needs no window beyond the session tagging " +
    "and no extra exchange after it") {
    val p = plan("t31_session_trace")
    // exactly one shuffle: the user_id hash partitioning that feeds the
    // session window; the (user_id, session_seq) groupBy rides the same
    // partitioning (group keys ⊇ partition keys)
    val exchanges = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(exchanges == 1,
      s"expected 1 exchange (user_id), got $exchanges:\n${p.take(3000)}")
  }

  /** The judge-requested source gate: a `Window.orderBy` with no
    * partitionBy is a single-task global sort of its input — only ever
    * acceptable over an already-aggregated, provably tiny relation. Every
    * such occurrence in src/main must be on this allowlist; adding a new
    * one fails here and forces the scale review. */
  test("source gate: unpartitioned Window.orderBy only over aggregated relations") {
    import scala.jdk.CollectionConverters._
    val root = java.nio.file.Paths.get("src/main/scala")
    val walk = java.nio.file.Files.walk(root)
    val offenders =
      try walk.iterator().asScala
        .filter(_.toString.endsWith(".scala"))
        .map { f =>
          val lines = java.nio.file.Files.readAllLines(f).asScala
          f.toString -> lines.count(l =>
            l.contains("Window.orderBy") && !l.trim.startsWith("//"))
        }.filter(_._2 > 0).toMap
      finally walk.close()
    val allowed = Map(
      // q14 rank-over-agg: window input is groupBy(event_type) — ≤ #types rows
      "src/main/scala/graft/operators/Relational.scala" -> 1,
      // q28 offs (≤257-row bucket-count aggregate) and q48 rank/dense_rank
      // (groupBy(l_quantity) — ≤ 50 rows): both over aggregated relations
      "src/main/scala/graft/operators/Extended.scala" -> 2,
      // p01 offs: cumulative bucket offsets over the ≤1024-row per-bucket
      // token-sum aggregate (the q28 two-phase pattern); t29 and p04
      // offs: same pattern over ≤256-row md5-prefix bucket aggregates
      "src/main/scala/graft/operators/DataOps.scala" -> 3)
    assert(offenders == allowed,
      s"unpartitioned Window.orderBy census changed.\nfound:   $offenders\n" +
        s"allowed: $allowed\nreview each new site for scale safety, then " +
        "update the allowlist")
  }

  test("c06: the benchmark side broadcasts, the corpus side never does; " +
    "the top-1 heap aggregates map-side") {
    val p = plan("c06_semantic_contamination")
    assert(p.contains("BroadcastHashJoin") ||
      p.contains("BroadcastNestedLoopJoin"), p.take(2000))
    assert(!p.contains("SortMergeJoin"), "bench×corpus must not SMJ")
    assert(p.contains("partial_topkpairs"),
      s"the top-1 heap must combine map-side:\n${p.take(3000)}")
  }

  test("o09: every profiling scan prunes to a single column") {
    val df = SparkEntry.queries("o09_column_profile")(spark, sf("sf0.01"))
    val p = df.queryExecution.executedPlan.toString
    val schemas = "ReadSchema: struct<([^>]*)>".r
      .findAllMatchIn(p).map(_.group(1)).toSeq
    assert(schemas.size >= 6, s"expected 6 pruned scans:\n${p.take(2000)}")
    schemas.foreach { s0 =>
      assert(!s0.contains(","),
        s"a profiling scan reads more than one column: struct<$s0>")
    }
  }

  test("s13: the metadata predicate reaches the parquet scan before " +
    "any distance is computed") {
    val p = plan("s13_filtered_knn")
    assert(p.contains("EqualTo(label,2)") ||
      p.contains("PushedFilters: [IsNotNull(label)"),
      s"label predicate must push to the scan:\n${p.take(2500)}")
  }

  test("t38: pair generation joins by equi-key, never a cartesian or SMJ") {
    val p = plan("t38_pmi_pairs")
    assert(!p.contains("CartesianProduct"), p.take(2000))
    assert(!p.contains("SortMergeJoin"), p.take(2000))
    assert(p.contains("TakeOrderedAndProject"),
      "top-60 must heap, never globally sort")
  }

  /** Semantic companion to the source census above: the census is a text
    * tripwire (a multiline `Window\n.orderBy`, an import rename, or a
    * windowSpec builder would slip past it), so this gate checks the
    * OPTIMIZED plans themselves — across the entire registered query
    * surface, every Window with an empty partitionSpec must sit over a
    * subtree containing an Aggregate (i.e. a provably small, already-
    * aggregated relation), never over raw rows. The CDC-replay queries
    * (etl_*, ref_*) throw where their corpus directory is absent, so
    * their plans are built here over an empty scan: the replay bodies
    * themselves, and the reference SQL over `tracking`/`events` views of
    * those bodies. */
  test("optimized-plan gate: no unpartitioned Window over a non-aggregated child") {
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Window => LogicalWindow}
    import graft.etl.Pipelines
    import graft.operators.ReferenceQueries
    val dir = sf("sf0.001")
    val clock = Some(java.sql.Timestamp.valueOf("2023-09-05 00:00:00"))
    val tracking = Pipelines.tracking(spark, Seq.empty, clock = clock)
    val events = Pipelines.events(spark, Seq.empty, clock = clock)
    // (re)bind the views per plan, as ReferenceQueries does: other query
    // packs bind an `events` view of their own
    def overViews(sql: String): () => DataFrame = () => {
      tracking.createOrReplaceTempView("tracking")
      events.createOrReplaceTempView("events")
      spark.sql(sql)
    }
    val replayPlans: Map[String, () => DataFrame] = Map(
      "etl_tracking_replay" -> (() => tracking),
      "etl_events_replay" -> (() => events),
      // the staged query scans a parquet copy of this same body
      "etl_events_replay_staged" -> (() => events),
      "ref_q1_trackings_per_minute" -> overViews(ReferenceQueries.q1Sql),
      "ref_q2_events_per_code" -> overViews(ReferenceQueries.q2Sql),
      "ref_q2_deterministic" -> overViews(ReferenceQueries.q2DeterministicSql),
      "ref_q3_top_descriptions" -> overViews(ReferenceQueries.q3Sql))
    assert(replayPlans.keySet === SparkEntry.queries.keySet.filter(n =>
      n.startsWith("etl_") || n.startsWith("ref_")))
    val offenders = try SparkEntry.queries.toSeq.sortBy(_._1).flatMap {
      case (name, fn) =>
        val df = replayPlans.get(name).fold(fn(spark, dir))(_())
        df.queryExecution.optimizedPlan.collect {
          case w: LogicalWindow if w.partitionSpec.isEmpty &&
              w.child.collectFirst { case a: Aggregate => a }.isEmpty =>
            s"$name: ${w.windowExpressions.map(_.name).mkString(",")}"
        }
    } finally {
      spark.catalog.dropTempView("tracking")
      spark.catalog.dropTempView("events")
    }
    assert(offenders.isEmpty,
      s"unpartitioned Window over non-aggregated input in optimized plans:\n" +
        offenders.mkString("\n"))
  }
}
