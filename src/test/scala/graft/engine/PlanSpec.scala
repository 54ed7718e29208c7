package graft.engine

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{ExplainMode, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkEntry
import graft.app.Corpus

/** Physical-plan quality gates: the plans the engine is DESIGNED to produce
  * (SURVEY.md §4.2), pinned so a regression (lost pushdown, a broadcast
  * degrading to shuffle, a narrow op growing an exchange) fails the build
  * rather than silently costing 10x at 100 TB.
  */
class PlanSpec extends AnyFunSuite {

  private lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("plan-spec")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .withExtensions(new graft.functions.GraftExtensions)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  private val sfDir = "/root/testdata/sf0.001"

  private def plan(name: String): String = {
    Corpus.ensure(spark, sfDir)
    SparkEntry.queries(name)(spark, sfDir).queryExecution
      .explainString(ExplainMode.fromString("formatted"))
  }

  /** `run`'s result and every query execution it triggers, as a
    * QueryExecutionListener sees them (actions, checkpoints and writes).
    */
  private def executedBy[T](run: => T): (T, Seq[QueryExecution]) = {
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[QueryExecution]()
    val listener = new QueryExecutionListener {
      def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = seen.add(qe)
      def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = seen.add(qe)
    }
    spark.listenerManager.register(listener)
    def isMarker(qe: QueryExecution) = qe.analyzed.output.map(_.name) == Seq("plan_spec_marker")
    try {
      val result = run
      // listener events arrive in order: once this marker query's is in,
      // every query `run` ran has been seen
      spark.range(1).toDF("plan_spec_marker").collect()
      val deadline = System.nanoTime() + 60000000000L
      def seenNow = seen.toArray(Array.empty[QueryExecution]).toSeq
      while (!seenNow.exists(isMarker) && System.nanoTime() < deadline) Thread.sleep(50)
      assert(seenNow.exists(isMarker), "listener events did not arrive")
      (result, seenNow.filterNot(isMarker))
    } finally spark.listenerManager.unregister(listener)
  }

  /** A plan's nodes, through adaptive plans and query stages. */
  private def nodes(p: SparkPlan): Seq[SparkPlan] = p +: (p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case q: QueryStageExec => nodes(q.plan)
    case other => (other.children ++ other.innerChildren.collect { case c: SparkPlan => c })
      .flatMap(nodes)
  })

  test("q1: filter pushed to the parquet scan, columns pruned") {
    val p = plan("q1_agg")
    assert(p.contains("PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate"),
      s"expected shipdate pushdown:\n$p")
    assert(!p.contains("l_comment"), "unused wide column must not be read")
  }

  test("q2: dimension join is a broadcast hash join") {
    val p = plan("q2_topk")
    assert(p.contains("BroadcastHashJoin"), s"expected broadcast join:\n$p")
  }

  test("q3: resume-style anti join stays an anti join") {
    assert(plan("q3_anti").contains("LeftAnti"))
  }

  test("s2: ANN query set is broadcast, not shuffled") {
    val p = plan("s2_ann_brute")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      s"query side must broadcast:\n$p")
  }

  test("s7: kmeans assignment is a map-only projection over driver-side centroids") {
    val p = plan("s7_kmeans")
    // r6: centroids are a bounded driver-side model (the MLlib shape), so
    // the final assignment plan must contain NO join and NO corpus shuffle
    // at all — row-local argmin (array_min over per-centroid dist structs)
    // plus the single determinism sort
    assert(!p.contains("Join"), s"assignment must be join-free:\n$p")
    assert(!p.contains("hashpartitioning"),
      s"no corpus shuffle in the assignment path:\n$p")
    assert(p.contains("array_min"), s"row-local argmin expected:\n$p")
    assert(!p.contains("lambdafunction"),
      s"quantization is the native graft_micro_vec, not an interpreted HOF:\n$p")
  }

  test("s8: trained-IVF search — query side broadcast, staged top-k, no cartesian") {
    val p = plan("s8_ann_ivf_trained")
    assert(p.contains("BroadcastHashJoin"), s"query cell join must broadcast:\n$p")
    assert(!p.contains("CartesianProduct"), s"cell equi-join, never a cross product:\n$p")
    assert(p.contains("WindowGroupLimit"),
      s"per-query top-k must push a map-side group limit:\n$p")
  }

  test("s2/s3: per-query top-k is the two-stage shape, never one window per q_id") {
    Seq("s2_ann_brute", "s3_ann_ivf").foreach { q =>
      val p = plan(q)
      // a single window over q_id would shuffle the whole corpus into
      // nQueries tasks; the staged form caps each task map-side
      val windows = "\\(\\d+\\) Window(?!GroupLimit)".r.findAllIn(p).length
      assert(windows == 2, s"$q expected the two-stage top-k, got $windows windows:\n$p")
      assert(p.contains("WindowGroupLimit"),
        s"$q row_number filter must push a map-side group limit:\n$p")
      assert(p.contains("pmod"), s"$q stage-1 must sub-bucket by pmod:\n$p")
    }
  }

  test("d2/d5/m5/m10/m12 band joins: buckets capped via the staged group-limit (never uncapped self-join)") {
    Seq("d2_minhash_lsh", "d5_simhash_pairs", "m5_ahash_pairs",
        "m10_audio_pairs", "m12_video_pairs").foreach { q =>
      val p = plan(q)
      // the capped band frame feeds BOTH legs of the self-join, so the
      // two-stage cap shows up once (reused exchange) or twice (2 or 4
      // windows) — an odd count or >4 means the staged shape regressed
      val windows = "\\(\\d+\\) Window(?!GroupLimit)".r.findAllIn(p).length
      assert(windows == 2 || windows == 4,
        s"$q expected the two-stage bucket cap per leg, got $windows windows:\n$p")
      assert(p.contains("WindowGroupLimit"),
        s"$q bucket cap must push a map-side group limit:\n$p")
      assert(p.contains("pmod"), s"$q stage-1 must sub-bucket by pmod:\n$p")
      assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"),
        s"$q band join must stay an equi-join:\n$p")
    }
  }

  test("banded-64 family: no range exchange below the band Generate (fingerprints stay unsorted)") {
    import org.apache.spark.sql.catalyst.plans.physical.RangePartitioning
    import org.apache.spark.sql.execution.GenerateExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    Corpus.ensure(spark, sfDir)
    Seq("d5_simhash_pairs", "m5_ahash_pairs", "m7_image_components", "m10_audio_pairs",
        "m11_audio_components", "m12_video_pairs", "m13_video_components").foreach { q =>
      // the components queries run their pair pipeline while the frame is
      // built (componentsFrom checkpoints it), so the listener catches it
      val (df, ran) = executedBy(SparkEntry.queries(q)(spark, sfDir))
      val plans = (ran :+ df.queryExecution).map(_.executedPlan)
      val bandGens = plans.flatMap(nodes).collect {
        case g: GenerateExec if g.generator.toString.contains("h0:") => g
      }
      assert(bandGens.nonEmpty, s"$q: no band Generate in:\n${plans.mkString("\n----\n")}")
      val ranged = bandGens.flatMap(g => g.children.flatMap(nodes)).collect {
        case e: ShuffleExchangeExec if e.outputPartitioning.isInstanceOf[RangePartitioning] => e
      }
      assert(ranged.isEmpty,
        s"$q: the fingerprint frame is range-sorted before banding:\n${bandGens.head.treeString}")
    }
  }

  test("s6/s9: no range exchange over the composed cosine pair frame (pairs stay unsorted)") {
    import org.apache.spark.sql.catalyst.plans.physical.RangePartitioning
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    Corpus.ensure(spark, sfDir)
    Seq("s6_embed_components", "s9_semdedup").foreach { q =>
      // componentsFrom checkpoints the pair frame while the result is
      // built, so the listener catches the pair pipeline's plan
      val (df, ran) = executedBy(SparkEntry.queries(q)(spark, sfDir))
      val all = (ran :+ df.queryExecution).map(_.executedPlan).flatMap(nodes)
      def pairFrame(p: SparkPlan) = p.output.exists(_.name == "id_a")
      assert(all.exists(pairFrame), s"$q: no pair frame in the executed plans")
      val ranged = all.collect {
        case e: ShuffleExchangeExec
          if e.outputPartitioning.isInstanceOf[RangePartitioning] && pairFrame(e) => e
      }
      assert(ranged.isEmpty,
        s"$q: the pair frame is range-sorted:\n${ranged.map(_.treeString).mkString("\n")}")
    }
  }

  test("t-block text analysis ops are shuffle-free narrow projections") {
    Seq("t1_langid", "t2_quality", "t3_token_counts", "t4_fingerprint",
        "t6_repetition", "t7_redact", "t9_quality_gate").foreach { q =>
      val p = plan(q)
      // the only exchange allowed is the final presentation orderBy
      val body = p.substring(0, math.max(0, p.indexOf("Sort")))
      assert(!body.contains("Exchange hashpartitioning"),
        s"$q must not hash-shuffle before the output sort:\n$p")
    }
  }

  test("t-block runs native expressions, no interpreted lambda in the plan") {
    Seq("t1_langid" -> "graft_text_stats",
        "t2_quality" -> "graft_text_stats",
        "t3_token_counts" -> "graft_text_stats",
        "t4_fingerprint" -> "graft_fingerprint",
        "t9_quality_gate" -> "graft_text_stats").foreach { case (q, fn) =>
      val p = plan(q)
      assert(p.contains(fn), s"$q must use the native $fn expression:\n$p")
      assert(!p.contains("lambdafunction"),
        s"$q must not evaluate interpreted higher-order lambdas:\n$p")
    }
  }

  test("ANN dot products are the native graft_dot expression") {
    Seq("s1_cos_neardup", "s2_ann_brute", "s3_ann_ivf", "s4_lsh_buckets").foreach { q =>
      val p = plan(q)
      assert(p.contains("graft_dot"), s"$q must use graft_dot:\n$p")
      assert(!p.contains("lambdafunction"),
        s"$q must not evaluate interpreted higher-order lambdas:\n$p")
    }
  }

  test("e-block eval queries have no interpreted lambda (typed kernels + GetArrayStructFields)") {
    Seq("e1_eval_metrics", "e2_eval_links", "e3_eval_tails", "e4_eval_detail").foreach { q =>
      val p = plan(q)
      assert(!p.contains("lambdafunction"),
        s"$q must not evaluate interpreted higher-order lambdas:\n$p")
    }
  }

  test("m-block media features run native expressions, no interpreted lambda") {
    Seq("m2_media_hist" -> "graft_byte_hist",
        "m3_frame_sample" -> "graft_frame_sample").foreach { case (q, fn) =>
      val p = plan(q)
      assert(p.contains(fn), s"$q must use the native $fn expression:\n$p")
      assert(!p.contains("lambdafunction"),
        s"$q must not evaluate interpreted higher-order lambdas:\n$p")
      // narrow projections: the only exchange allowed is the output orderBy
      val body = p.substring(0, math.max(0, p.indexOf("Sort")))
      assert(!body.contains("Exchange hashpartitioning"),
        s"$q must not hash-shuffle before the output sort:\n$p")
    }
  }

  test("m5 ahash pairs: band equi-join, no cartesian, no lambdas") {
    val p = plan("m5_ahash_pairs")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"),
      s"band join must stay an equi-join:\n$p")
    assert(!p.contains("lambdafunction"), s"m5 must stay codegen/kernel:\n$p")
  }

  test("s4 LSH bucketing is a shuffle-free narrow projection") {
    val p = plan("s4_lsh_buckets")
    val body = p.substring(0, math.max(0, p.indexOf("Sort")))
    assert(!body.contains("Exchange hashpartitioning"), p)
  }

  test("f1: native f2h expression is code-generated (no interpreted UDF)") {
    val p = plan("f1_f2h")
    assert(p.contains("graft_f2h"), s"native expression missing:\n$p")
    Corpus.ensure(spark, sfDir)
    // AQE defers codegen until execution; disable it to inspect the code
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    val gen =
      try SparkEntry.queries("f1_f2h")(spark, sfDir).queryExecution
        .explainString(ExplainMode.fromString("codegen"))
      finally spark.conf.set("spark.sql.adaptive.enabled", "true")
    assert(gen.contains("graft.functions.F2HExpression.f2h"),
      s"generated code must call the static f2h directly:\n${gen.take(2000)}")
  }

  test("pages are lang-partitioned and a lang predicate prunes partitions") {
    Corpus.ensure(spark, sfDir)
    // layout: Hive-style lang=xx directories
    val dirs = new java.io.File(Corpus.pagesPath(sfDir))
      .listFiles().filter(_.isDirectory).map(_.getName).toSet
    assert(dirs.contains("lang=en") && dirs.size >= 8, s"expected lang=* dirs, got $dirs")
    // plan: the predicate lands in PartitionFilters, not PushedFilters/Filter
    val p = spark.read.parquet(Corpus.pagesPath(sfDir))
      .filter(org.apache.spark.sql.functions.col("lang") === "en")
      .select("url")
      .queryExecution.explainString(ExplainMode.fromString("formatted"))
    assert(p.contains("PartitionFilters") &&
      "PartitionFilters: \\[[^\\]]*lang".r.findFirstIn(p).isDefined,
      s"lang predicate must prune partitions:\n$p")
  }

  test("resume scan uses the native bucket expression, not a Scala UDF") {
    Corpus.ensure(spark, sfDir)
    val out = java.nio.file.Files.createTempDirectory("plan-resume").toString
    val pages = spark.read.parquet(Corpus.pagesPath(sfDir))
    val d = Pipeline.extract(pages.limit(50))
    Pipeline.lineage(d).write.parquet(s"$out/lineage")
    val p = Pipeline.resumeFilter(spark, pages, out)
      .queryExecution.explainString(ExplainMode.fromString("formatted"))
    assert(p.contains("graft_bucket"), s"native expression missing:\n$p")
    assert(!p.contains("UDF") && !p.contains("ScalaUDF"),
      s"resume scan must not use an interpreted UDF:\n$p")
    assert(p.contains("BroadcastHashJoin") && p.contains("LeftAnti"),
      s"resume must stay a broadcast anti join:\n$p")
  }

  test("extraction kernel scan reads only (url, html, lang)") {
    Corpus.ensure(spark, sfDir)
    val p = Pipeline.extract(spark.read.parquet(Corpus.pagesPath(sfDir)))
      .queryExecution.explainString(ExplainMode.fromString("formatted"))
    assert(p.contains("url") && p.contains("html"))
    assert(!p.contains("warc_ts"), s"fat column not pruned from scan:\n$p")
    assert(!p.contains("Exchange"), s"extract stage must be map-only:\n$p")
  }

  test("runFrom: one hash exchange on bucket, html never shuffled, nothing cached") {
    import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
    import org.apache.spark.sql.execution.CollectMetricsExec
    import org.apache.spark.sql.execution.columnar.{InMemoryRelation, InMemoryTableScanExec}
    import org.apache.spark.sql.execution.exchange.{Exchange, ShuffleExchangeExec}
    Corpus.ensure(spark, sfDir)
    val (_, queries) = executedBy {
      val out = java.nio.file.Files.createTempDirectory("plan-run-from").toString
      Pipeline.runFrom(spark, spark.read.parquet(Corpus.pagesPath(sfDir)), out, 4)
    }
    val all = queries.flatMap(qe => nodes(qe.executedPlan))
    val exchanges = all.collect { case e: Exchange => e }.distinct
    val shown = queries.map(_.executedPlan.toString).mkString("\n----\n")
    assert(exchanges.size == 1, s"runFrom must run exactly one exchange:\n$shown")
    exchanges.head match {
      case s: ShuffleExchangeExec => s.outputPartitioning match {
        case HashPartitioning(Seq(key: org.apache.spark.sql.catalyst.expressions.Attribute), _) =>
          assert(key.name == "bucket", s"exchange must hash on bucket:\n$shown")
        case other => fail(s"exchange must hash-partition on bucket, got $other:\n$shown")
      }
      case other => fail(s"the exchange must be a shuffle, got ${other.nodeName}:\n$shown")
    }
    assert(exchanges.forall(!_.output.exists(_.name == "html")), s"html crossed an exchange:\n$shown")
    // the tally sits above the exchange, in the write's result stage,
    // where a retried stage cannot count a partition twice
    val tallies = all.collect { case c: CollectMetricsExec => c }
    assert(tallies.size == 1 && nodes(tallies.head).exists(_.isInstanceOf[Exchange]),
      s"lineage must be observed after the exchange:\n$shown")
    assert(!all.exists(_.isInstanceOf[InMemoryTableScanExec]) &&
      !queries.exists(_.withCachedData.exists(_.isInstanceOf[InMemoryRelation])),
      s"runFrom must cache nothing:\n$shown")
  }

  test("d7 contamination probes broadcast (no shuffle of the corpus side for the join)") {
    val p = plan("d7_contamination")
    assert(p.contains("BroadcastHashJoin"), s"probe side must broadcast:\n$p")
  }

  test("t10 quality threshold: per-lang floor is agg+broadcast-join, never a corpus window") {
    val p = plan("t10_quality_threshold")
    assert(!p.contains("Window"),
      s"per-lang percentile must not be a Window over the corpus:\n$p")
    assert(p.contains("BroadcastHashJoin"),
      s"the one-row-per-lang threshold table must broadcast back:\n$p")
    // exact percentile via the count-map aggregate, with a partial phase
    assert(p.contains("ObjectHashAggregate"), s"percentile agg missing:\n$p")
  }

  test("p9 mixture sampling: mass agg broadcasts back; gate is a codegen hash filter, no window") {
    val p = plan("p9_mixture")
    assert(p.contains("BroadcastHashJoin"),
      s"per-source rate table must broadcast:\n$p")
    assert(!p.contains("Window"), s"no window anywhere in the mixture plan:\n$p")
    assert(!p.contains("lambdafunction"), s"gate must stay codegen:\n$p")
  }

  test("d11 bloom decontamination: might_contain pre-filter sits BELOW the verify join, corpus side") {
    import org.apache.spark.sql.execution.{FilterExec, SparkPlan}
    import org.apache.spark.sql.execution.joins.BaseJoinExec
    Corpus.ensure(spark, sfDir)
    val sp = SparkEntry.queries("d11_contamination_bloom")(spark, sfDir)
      .queryExecution.sparkPlan
    def blooms(p: SparkPlan): Seq[FilterExec] =
      p.collect { case f: FilterExec if f.condition.toString.contains("might_contain") => f }
    val joins = sp.collect { case j: BaseJoinExec => j }
    assert(joins.nonEmpty, s"verify equi-join missing:\n$sp")
    // the outermost join is the exact verify; the bloom must prune its
    // corpus side (the one carrying doc_id) BEFORE the join — only
    // surviving shingles may reach the shuffle at 100 TB
    val verify = joins.head
    val corpusSide = Seq(verify.left, verify.right)
      .filter(_.output.exists(_.name == "doc_id"))
    assert(corpusSide.size == 1, s"exactly one join side carries doc_id:\n$sp")
    assert(blooms(corpusSide.head).nonEmpty,
      s"bloom pre-filter must sit below the join on the corpus side:\n$sp")
    // every bloom filter lives BELOW the join (the optimizer legitimately
    // propagates a copy to the probe side through the s-equi-join
    // constraint; a bloom ABOVE the join would mean the shuffle ran first)
    assert(blooms(sp).size == blooms(verify.left).size + blooms(verify.right).size,
      s"might_contain must never sit above the verify join:\n$sp")
    assert(!sp.toString.contains("CartesianProduct"),
      s"bloom decontamination must stay an equi-join:\n$sp")
  }

  test("p2 stratified sample is a shuffle-free codegen filter") {
    val p = plan("p2_sample")
    val body = p.substring(0, math.max(0, p.indexOf("Sort")))
    assert(!body.contains("Exchange hashpartitioning"),
      s"p2 must not shuffle before the output sort:\n$p")
    assert(!p.contains("lambdafunction"), s"p2 must stay codegen:\n$p")
  }

  test("p1 funnel: no window over the content hash; both branches partial-agg") {
    val p = plan("p1_prep_funnel")
    // the hot duplicated text must collapse map-side, never sort in one
    // window task (same rule as d1/d8)
    assert(!p.contains("Window"), s"no window over md5(text):\n$p")
    assert(p.contains("partial_min") || p.contains("Partial"),
      s"survivor argmin must partial-aggregate:\n$p")
    // the only join is the per-lang merge of two aggregated branches
    val joins = "\\(\\d+\\) [A-Za-z]*Join".r.findAllIn(p).length
    assert(joins == 1, s"one tiny per-lang join only, got $joins:\n$p")
  }

  test("d1 exact dedup: agg+join on the hash, no window over the content key") {
    val p = plan("d1_dedup_exact")
    assert(!p.contains("Window"),
      s"hot duplicated text must collapse map-side, not sort in one window task:\n$p")
    assert(p.contains("partial_min") || p.contains("Partial"),
      s"canonical-id min must partial-aggregate:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"),
      s"join-back must stay an equi-join:\n$p")
  }

  test("d4 jaccard: df count is agg+join, never a count window over the shingle key") {
    val p = plan("d4_jaccard")
    assert(!p.contains("Window"),
      s"hot shingles must collapse map-side, not land in one window task:\n$p")
    assert(p.contains("partial_count") || p.contains("Partial"),
      s"df must partial-aggregate:\n$p")
  }

  test("driver entry smoke: flagship query returns rows") {
    val df = graft.SparkEntry.entry(spark)
    assert(df.count() > 0)
  }

  test("t5 vocab top-k plans as partial agg + TakeOrdered (no full sort)") {
    val p = plan("t5_vocab_topk")
    assert(p.contains("TakeOrderedAndProject"), s"global top-k must not full-sort:\n$p")
    assert(p.contains("partial_count") || p.contains("Partial"),
      s"expected map-side partial aggregation:\n$p")
  }

  test("d3 simhash aggregates have a map-side partial phase") {
    val p = plan("d3_simhash")
    assert(p.contains("HashAggregate"), p)
    assert(p.contains("partial_sum") || p.contains("Partial"),
      s"expected partial aggregation before the exchange:\n$p")
  }

  test("q8 as-of join plans with NO join node: one window over one hash shuffle") {
    val p = plan("q8_asof")
    assert(!p.contains("Join"), s"as-of must be the union+window form, not a join:\n$p")
    val windows = "\\(\\d+\\) Window".r.findAllIn(p).length
    assert(windows == 1, s"both running-lasts must share ONE window pass, got $windows:\n$p")
    val exchanges = "\\(\\d+\\) Exchange".r.findAllIn(p).length
    assert(exchanges == 2, s"one hash shuffle (user_id) + output sort only, got $exchanges:\n$p")
  }

  test("d8 line dedup: first-occurrence agg keeps a partial phase, no window over the line key, no lambdas") {
    val p = plan("d8_line_dedup")
    // the hot boilerplate line must be collapsed map-side (partial min), not
    // sorted through a single window partition
    assert(p.contains("partial_min") || p.contains("Partial"),
      s"first-occurrence must be a partial-aggregable min:\n$p")
    assert(!p.contains("Window"), s"no window over the skewed line key:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"),
      s"line join must stay an equi-join:\n$p")
    assert(!p.contains("lambdafunction"),
      s"reassembly must be sort_array + GetArrayStructFields, not HOFs:\n$p")
  }

  test("p3 url host stats: no joins, codegen normalization, one agg shuffle") {
    val p = plan("p3_url_hosts")
    assert(!p.contains("Join"), s"blocklist must be a filter, not a join:\n$p")
    assert(!p.contains("lambdafunction"), s"p3 must stay codegen:\n$p")
  }

  test("q10/q12 star chains: every dimension joins as a broadcast (fact never shuffles for joins)") {
    Seq("q10_region_rev" -> 3, "q12_part_value" -> 2).foreach { case (q, dims) =>
      val p = plan(q)
      val bhj = "\\(\\d+\\) BroadcastHashJoin".r.findAllIn(p).length
      assert(bhj == dims, s"$q expected $dims broadcast joins, got $bhj:\n$p")
      assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"),
        s"$q must not shuffle the fact for a join:\n$p")
    }
  }

  test("q11 json extraction stays codegen (no interpreted UDF)") {
    val p = plan("q11_props_json")
    assert(p.contains("get_json_object"), p)
    assert(!p.contains("BatchEvalPython") && !p.contains("lambdafunction"), p)
  }

  test("q9 rollup: all granularities from ONE scan via Expand (no union of aggregates)") {
    val p = plan("q9_rollup")
    assert(p.contains("Expand"), s"rollup must plan as Expand + single agg:\n$p")
    assert(!p.contains("Union"), s"must not union per-granularity scans:\n$p")
    val scans = "\\(\\d+\\) Scan parquet".r.findAllIn(p).length
    assert(scans == 1, s"one scan feeds every granularity, got $scans:\n$p")
  }

  test("p5 host cap: stage-1 window partitions on (host, sub-bucket), never host alone first") {
    val p = plan("p5_host_cap")
    // two windows, and the FIRST exchange must include the sub-bucket key
    // (pmod of h32) so the hot host never lands in one task
    val windows = "\\(\\d+\\) Window(?!GroupLimit)".r.findAllIn(p).length
    assert(windows == 2, s"expected the two-stage top-k, got $windows windows:\n$p")
    // Spark 4's rank-limit pushdown: partial top-k BEFORE each shuffle
    assert(p.contains("WindowGroupLimit"),
      s"row_number filter must push a map-side group limit:\n$p")
    val firstEx = p.indexOf("hashpartitioning(")
    assert(firstEx >= 0, p)
    val firstExLine = p.substring(firstEx, p.indexOf('\n', firstEx))
    // the sub-bucket pmod is pre-projected (_w0), so the gate is: the first
    // shuffle keys on host PLUS a second expression, never host alone
    // "hashpartitioning(k1, k2, nPart)" -> key count = items - 1
    val keys = firstExLine.substring("hashpartitioning(".length,
      firstExLine.indexOf(')')).split(", ").length - 1
    assert(keys == 2 && firstExLine.contains("host"),
      s"stage-1 shuffle must be (host, sub-bucket), got:\n$firstExLine\n$p")
    assert(p.contains("pmod"), s"sub-bucket key must be the pmod salt:\n$p")
  }

  test("d9 dup spans: hash-keyed partial count, equi-join, per-doc island window only") {
    val p = plan("d9_dup_spans")
    assert(p.contains("partial_count") || p.contains("Partial"),
      s"occurrence count must partial-agg map-side:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"),
      s"flag join must stay an equi-join:\n$p")
    // windows must partition on doc_id (bounded by doc length), never on
    // the shingle hash
    assert(p.contains("windowspecdefinition(doc_id"),
      s"island windows must partition per doc:\n$p")
  }

  test("d10 excise: span join rides the doc_id equi-key, range as residual") {
    val p = plan("d10_excise")
    // tokens x spans joins on doc_id equality with the positional range as
    // a residual predicate — a range-only join would plan as a nested-loop
    // cross product (quadratic in tokens at corpus scale)
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"),
      s"the span range must ride the doc_id equi-key, never a cross product:\n$p")
    // the detector inside keeps its partial-agg'd occurrence count and the
    // surgery's reassembly agg partial-aggregates map-side too
    assert(p.contains("partial_count") || p.contains("Partial"),
      s"aggs must partial map-side:\n$p")
    // windows (islands) stay per-doc, never on the shingle hash
    assert(p.contains("windowspecdefinition(doc_id"),
      s"island windows must partition per doc:\n$p")
  }

  test("p7 crawl freshness: no joins, scan pruned to (url, warc_ts)") {
    val p = plan("p7_crawl_freshness")
    assert(!p.contains("Join"), s"freshness audit must not join:\n$p")
    assert(!p.contains("html") && !p.contains("ReadSchema: struct<url:string,warc_ts:timestamp_ntz,html"),
      s"unused wide columns must not be read:\n$p")
  }

  test("p6 robots gate: map-only pre-parse scan, pruned to (url, html, lang)") {
    val p = plan("p6_robots")
    assert(!p.contains("Join"), s"policy gate must not join:\n$p")
    assert(!p.contains("lambdafunction"), s"p6 must stay codegen:\n$p")
    assert(!p.contains("warc_ts"), s"unused columns must not be read:\n$p")
  }

  test("q13 interval join: equi-join on the user key with the range as residual, no cartesian") {
    val p = plan("q13_interval_join")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"),
      s"the range condition must ride the user equi-key, never a cross product:\n$p")
    assert(p.contains("Join") && p.contains("p_user"), s"expected the keyed join:\n$p")
  }

  test("p8 composed prep: no window over a content hash anywhere in the chain") {
    // r6: the production path checkpoints the sampled survivors (so the
    // sizing count and packing share one materialization); the gate runs
    // on the UNMATERIALIZED chain so every upstream stage stays visible
    Corpus.ensure(spark, sfDir)
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val p = graft.ops.Prep.endToEnd(docs,
      Seq("en" -> 0.75, "zh" -> 0.2, "de" -> 0.5, "fr" -> 0.05),
      defaultRate = 0.35, capPerSource = 15, materialize = false)
      .queryExecution.explainString(ExplainMode.fromString("formatted"))
    // every window in the composition must be a capped/group-limited or
    // per-shard construction — the content-hash stages are agg+join
    assert(!p.contains("windowspecdefinition(th"), s"exact-dedup stage must stay agg+join:\n$p")
    assert(p.contains("WindowGroupLimit"),
      s"cap stages must push map-side group limits:\n$p")
    assert(!p.contains("CartesianProduct"), s"no stage may cross-join:\n$p")
  }

  test("p8 composed prep: operator-embedded orderBys collapse to ONE global sort") {
    val p = plan("p8_end_to_end")
    // the composed operators each end in an orderBy for oracle determinism
    // (exact, capBuckets feeds, packChunks); when chained, EliminateSorts
    // must absorb every mid-chain sort — only packChunks' final
    // (lang, shard, chunk_id) order may survive as a global Sort. Window
    // sorts are local (global=false in the Arguments line) and don't count.
    val sortArgs = "\\(\\d+\\) Sort[^\\n]*\\n(?:[^\\n]*\\n)?Arguments: ([^\\n]*)".r
    val globals = sortArgs.findAllMatchIn(p).map(_.group(1)).filter(_.contains("], true, 0")).toList
    assert(globals.length == 1,
      s"expected exactly one global Sort (the final orderBy), got ${globals.length}: $globals\n$p")
    assert(globals.head.contains("lang"),
      s"the surviving global sort must be the final chunk order: ${globals.head}")
  }

  test("d1 join-back: AQE splits a planted hot content hash (skew join fires)") {
    Corpus.ensure(spark, sfDir)
    // the d1/d4/d8 scale story says "the join back is an equi-join AQE's
    // skew handling splits automatically" — this plants the hot key and
    // asserts the split actually fires under a forced-low threshold
    val saved = Seq(
      "spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes",
      "spark.sql.adaptive.coalescePartitions.enabled"
    ).map(k => k -> spark.conf.getOption(k)).toMap
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "10k")
      spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "1")
      spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "10k")
      spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
      import spark.implicits._
      import org.apache.spark.sql.functions.{col, concat, lit, when}
      // one exact-duplicate cluster of 40k docs (one hot md5) + a tail
      val docs = spark.range(0, 41000).toDF("doc_id")
        .select(col("doc_id"), when(col("doc_id") < 40000,
          lit("the same cdn error page body repeated across the crawl"))
          .otherwise(concat(lit("unique "), col("doc_id").cast("string"))).as("text"))
      val out = graft.ops.Dedup.exact(docs)
      // execute THIS dataframe (not a derivative) so its adaptive plan
      // finalizes and the skew-split decision is visible in it
      val rows = out.collect()
      assert(rows.count(_.getLong(1) == 0L) == 40000L)
      val finalPlan = out.queryExecution.executedPlan.toString
      assert(finalPlan.contains("skew=true") || finalPlan.contains("skewed"),
        s"AQE skew-join split did not fire on the hot hash:\n$finalPlan")
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("p4 packing: no joins; shard window then chunk agg") {
    val p = plan("p4_pack")
    assert(!p.contains("Join"), s"packing must not join:\n$p")
    assert(p.contains("Window"), s"expected the running-sum window:\n$p")
    val exchanges = "\\(\\d+\\) Exchange".r.findAllIn(p).length
    assert(exchanges <= 3, s"window + agg + output sort only, got $exchanges:\n$p")
  }

  test("q15 pivot: explicit value list keeps it pure aggregation (no distinct-discovery, no join)") {
    val p = plan("q15_pivot")
    assert(!p.contains("Join"), s"pivot must not join:\n$p")
    // Spark plans explicit-values pivot as TWO aggregate stages — pre-reduce
    // by (entity, type), then transpose by entity — each with a map-side
    // partial; plus the output sort: three exchanges, zero extra jobs. The
    // regression this pins out is pivot WITHOUT values, which runs a
    // corpus-wide distinct-discovery job before planning even starts.
    val exchanges = "\\(\\d+\\) Exchange".r.findAllIn(p).length
    assert(exchanges <= 3, s"two agg stages + output sort only, got $exchanges:\n$p")
    assert(p.contains("partial_count"), s"pre-reduce must keep a partial phase:\n$p")
  }

  test("q14: dim filter prunes fact partitions at RUNTIME (dynamic partition pruning)") {
    val p = plan("q14_dim_prune")
    assert(p.toLowerCase.contains("dynamicpruning"),
      s"fact scan must carry a dynamicpruningexpression partition filter:\n$p")
    assert(p.contains("BroadcastHashJoin"), s"dim must broadcast:\n$p")
  }

  test("p10 url-latest: ONE aggregate carries the winning row — no window, no join-back") {
    val p = plan("p10_url_latest")
    assert(!p.contains("Join"), s"snapshot selection must not join:\n$p")
    assert(!p.contains("Window"), s"no window over the url key:\n$p")
    assert(p.contains("partial_max") || p.contains("partial"),
      s"struct max must keep a map-side partial phase:\n$p")
  }

  test("d12 best-canonical: selection stage is agg+join, never a window over the component key") {
    // gate the SELECTION stage over leaf label/doc frames — the full d12
    // plan legitimately contains WindowGroupLimit nodes from the upstream
    // LSH bucket caps (gated separately); the claim here is that picking
    // winners adds no window over the component key
    import spark.implicits._
    val comps = Seq((1L, 1L), (2L, 1L), (3L, 3L)).toDF("doc_id", "component")
    val docs = Seq((1L, "a b"), (2L, "the cat sat"), (3L, "c")).toDF("doc_id", "text")
    val p = graft.ops.Dedup.bestCanonicalOver(comps, docs)
      .queryExecution.explainString(ExplainMode.fromString("formatted"))
    assert(!p.contains("Window"), s"no window over component:\n$p")
    assert(p.contains("partial_max") && p.contains("partial_min"),
      s"both reduction stages must keep map-side partials:\n$p")
  }

  test("m8 audio stats: map-only kernel — no hash shuffle, only the determinism sort") {
    val p = plan("m8_audio_stats")
    assert(!p.contains("hashpartitioning"),
      s"PCM stats must not shuffle the corpus:\n$p")
    assert(!p.contains("ScalaUDF"), s"typed kernel, not an interpreted UDF:\n$p")
  }

  test("s10 pq/adc: codes + ADC sums are one join-free scan; top-k is the staged group-limit") {
    val p = plan("s10_pq_adc")
    // r6: the ADC lookup tables are map LITERALS from the driver-side
    // codebooks (bounded nQueries x mSub x kCodes), so the whole scoring
    // scan — sub-vector codes AND per-query distance sums — is a single
    // join-free projection; only the staged top-k shuffles
    assert(!p.contains("Join"), s"scoring scan must be join-free:\n$p")
    assert(p.contains("array_min"), s"row-local code argmin expected:\n$p")
    assert(p.contains("WindowGroupLimit"),
      s"per-(query, sub-bucket) rank must stage the top-k:\n$p")
    assert(!p.contains("ScalaUDF"), s"no interpreted UDFs in the PQ path:\n$p")
  }

  test("m9 shot bounds: map-only kernel — no hash shuffle, only the determinism sort") {
    val p = plan("m9_shot_bounds")
    assert(!p.contains("hashpartitioning"),
      s"frame deltas must not shuffle the corpus:\n$p")
    assert(!p.contains("ScalaUDF"), s"typed kernel, not an interpreted UDF:\n$p")
  }

  test("s9 semdedup keep stage: agg+join, never a window over the component key") {
    // same shape as the d12 gate: the full s9 plan legitimately contains
    // Window nodes (kmeans init top-k, upstream caps); the claim is that
    // keeper selection adds none over the skewable component key
    import spark.implicits._
    val tagged = Seq((1L, 1, 1L, 9L), (2L, 1, 1L, 9L), (3L, 2, 3L, 0L))
      .toDF("vec_id", "cid", "component", "dist_mic2")
    val p = graft.ops.Similarity.semDedupKeepOver(tagged)
      .queryExecution.explainString(ExplainMode.fromString("formatted"))
    assert(!p.contains("Window"), s"no window over component:\n$p")
    assert(p.contains("partial_max") && p.contains("partial_min"),
      s"both reduction stages must keep map-side partials:\n$p")
  }

  test("p13 epoch order: rank window is bucket-partitioned; offsets broadcast") {
    val p = plan("p13_epoch_order")
    assert(p.contains("windowspecdefinition(bucket"),
      s"the corpus-sized window must partition by bucket (never one task):\n$p")
    assert(p.contains("BroadcastHashJoin"),
      s"the nBuckets-row offset frame must broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"), s"no corpus-side shuffle join:\n$p")
  }

  test("q16 quantiles: window runs over the per-lang histogram; rank targets broadcast") {
    val p = plan("q16_quantiles")
    assert(p.contains("windowspecdefinition(lang"),
      s"cumulative count must partition by lang (over the bounded histogram):\n$p")
    assert(p.contains("BroadcastHashJoin"),
      s"the (lang, pct, rank) target frame must broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"), s"no corpus-side shuffle join:\n$p")
    assert(p.contains("partial_count"),
      s"the histogram agg must keep map-side partials:\n$p")
  }

  test("unpartitioned windows only run over bounded post-aggregation frames") {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.window.WindowExec
    import org.apache.spark.sql.execution.aggregate.{BaseAggregateExec}
    import org.apache.spark.sql.execution.{GlobalLimitExec, TakeOrderedAndProjectExec}
    import org.apache.spark.sql.execution.exchange.BroadcastExchangeExec
    // The global-rank / prefix-sum idiom (p13/p14/p16/p18/q16) runs ONE
    // unpartitioned window over a bucket-count offsets frame. That is safe
    // exactly as long as the frame IS the post-aggregation bucket table —
    // a corpus-sized global window is the single-task scale killer the
    // idiom exists to avoid (VERDICT r5, "what's wrong" #3/#5). This gate
    // walks the physical plan: every path from an unpartitioned WindowExec
    // down to a leaf must cross an aggregation or a limit; a future edit
    // that feeds a raw corpus frame into a global window fails here.
    def boundedBelow(p: SparkPlan): Boolean = p match {
      case _: BaseAggregateExec | _: GlobalLimitExec |
          _: TakeOrderedAndProjectExec => true
      case _: BroadcastExchangeExec => true // broadcast relations are bounded
      case leaf if leaf.children.isEmpty => false
      case other => other.children.forall(boundedBelow)
    }
    val withGlobalWindows = Seq("p13_epoch_order", "p14_curriculum",
      "p16_budget", "p18_training_feed", "q16_quantiles")
    withGlobalWindows.foreach { q =>
      Corpus.ensure(spark, sfDir)
      val sp = SparkEntry.queries(q)(spark, sfDir).queryExecution.sparkPlan
      val bad = sp.collect {
        case w: WindowExec if w.partitionSpec.isEmpty && !boundedBelow(w.child) => w
      }
      assert(bad.isEmpty,
        s"$q: unpartitioned window over a non-aggregated (corpus-sized) frame:\n${bad.headOption.map(_.treeString).getOrElse("")}")
    }
  }

  test("x5 incremental: delta routing is semi/anti joins; kernel leg stays UDF-free") {
    val p = plan("x5_incremental")
    assert(p.contains("LeftAnti"), s"changed/new rows route via anti join:\n$p")
    assert(p.contains("LeftSemi"), s"unchanged rows route via semi join:\n$p")
    assert(!p.contains("ScalaUDF"), s"no interpreted UDF in the incremental path:\n$p")
  }

  test("t12 phrase merge: every round's winner broadcasts; no shuffle join, no collect seam") {
    val p = plan("t12_phrase_merge")
    assert(!p.contains("SortMergeJoin"),
      s"the 1-row winners must broadcast under the rewriters:\n$p")
    assert(p.contains("BroadcastNestedLoopJoin"),
      s"expected the left-on-TRUE winner broadcast:\n$p")
    assert(p.contains("TakeOrderedAndProject"),
      s"the per-round winner must be a top-1, not a global sort:\n$p")
  }

  test("d13 lsh recall: bounded audit top-k; corpus pairs semi-joined against broadcast truth") {
    val p = plan("d13_lsh_recall")
    assert(p.contains("TakeOrderedAndProject"),
      s"the audit set must be a top-k, never a global sort:\n$p")
    assert("BroadcastHashJoin .*LeftSemi".r.findFirstIn(p).nonEmpty ||
      "LeftSemi, BuildRight".r.findFirstIn(p).nonEmpty,
      s"the production pair frame must be filtered by a broadcast semi join:\n$p")
    assert(!"SortMergeJoin.*LeftSemi".r.findFirstIn(p).exists(_ => true),
      s"the truth side must never shuffle the corpus pair frame:\n$p")
  }

  test("t11 lm score: LM tables broadcast to every scorer, never a corpus shuffle join") {
    val p = plan("t11_lm_score")
    val bhj = "BroadcastHashJoin".r.findAllIn(p).length
    assert(bhj >= 2, s"bigram + unigram LM lookups must be broadcast joins:\n$p")
    assert(!p.contains("CartesianProduct"), s"vocab row must broadcast, not cartesian:\n$p")
    // the only sort-merge join allowed is the final doc_id join-back; the
    // token/bigram streams themselves must never shuffle for a join
    val smj = "SortMergeJoin".r.findAllIn(p).length
    assert(smj <= 1, s"LM scoring must not shuffle-join the token stream:\n$p")
    assert(p.contains("partial_count") || p.contains("Partial"),
      s"per-doc score sum needs a map-side partial phase:\n$p")
  }

  test("d15 incremental gate: index is an aggregated distinct, no window, no cartesian") {
    val p = plan("d15_incremental_gate")
    assert(!p.contains("Window"),
      s"membership probe must never window over a band key:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"),
      s"bkey probe must stay an equi-join:\n$p")
    // the standing-corpus side must collapse to distinct band keys (the
    // persistent index) BEFORE the join — a raw band-rows join would make
    // the hot boilerplate bucket quadratic again
    assert(p.contains("HashAggregate"), s"corpus bands must aggregate to an index:\n$p")
    assert(p.contains("partial_count") || p.contains("Partial"),
      s"hit count needs a map-side partial phase:\n$p")
  }

  test("t13 clean lines: map-only kernel — no shuffle before the output sort") {
    val p = plan("t13_clean_lines")
    assert(!p.contains("Exchange hashpartitioning"),
      s"line cleaning is row-local; only the presentation sort may exchange:\n$p")
    assert(!p.contains("Join") && !p.contains("Window"),
      s"no join/window belongs in a per-row pass:\n$p")
  }

  test("x6 link edges: kernel into ONE partial-agg shuffle, no window/join") {
    val p = plan("x6_links")
    assert(p.contains("partial_count") || p.contains("Partial"),
      s"edge weights need map-side partial counts:\n$p")
    assert(!p.contains("Window") && !p.contains("Join"),
      s"page->edge aggregation is a single groupBy, nothing else:\n$p")
    // exactly one hash exchange (the (src,dst) agg); the orderBy adds only
    // a range exchange
    val hashEx = "Arguments: hashpartitioning".r.findAllIn(p).length
    assert(hashEx == 1, s"expected exactly one hash shuffle, got $hashEx:\n$p")
  }

  test("x7 anchor terms: staged per-host top-k over partial-agg counts") {
    val p = plan("x7_anchor_terms")
    assert(p.contains("WindowGroupLimit"),
      s"top-k must push a map-side group limit:\n$p")
    assert(p.contains("windowspecdefinition(dst_host#"),
      s"the window must partition by dst_host (bounded), not run globally:\n$p")
    assert(p.contains("partial_count") || p.contains("Partial"),
      s"term counts need map-side partials:\n$p")
    assert(!p.contains("Join"), s"no join belongs in the term count:\n$p")
  }

  test("g1 host rank: equi-joins + partial aggs only; no cartesian, no window") {
    val p = plan("g1_host_rank")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"),
      s"rank iterations are host-key equi-joins:\n$p")
    assert(!p.contains("Window"), s"no window belongs in the rank loop:\n$p")
    assert(p.contains("HashAggregate"), s"contributions must hash-aggregate:\n$p")
  }

  test("p15 robots rules: longest-match is a row-local projection — no join, no agg, no window") {
    val p = plan("p15_robots_rules")
    // r6: the constructed rule set derives from the host string alone, so
    // the argmax is greatest() over constant-per-rule CASE keys — one
    // codegen projection; the only exchange is the output sort
    assert(!p.contains("Window"), s"no window in the longest-match:\n$p")
    assert(!p.contains("Join"), s"no rules join — the decision is row-local:\n$p")
    assert(!p.contains("Exchange hashpartitioning"),
      s"no shuffle before the output sort:\n$p")
    assert(p.contains("greatest"), s"winner must be the greatest-key argmax:\n$p")
  }

  test("t14 classifier: model joins as broadcast; score sum has map-side partials") {
    val p = plan("t14_classifier")
    assert(p.contains("BroadcastHashJoin"),
      s"the weights table must broadcast to the scorers:\n$p")
    assert(p.contains("partial_sum") || p.contains("Partial"),
      s"per-doc score needs map-side partials:\n$p")
    assert(!p.contains("Window"), s"no window belongs in classifier inference:\n$p")
  }

  test("s12 bitext: staged top-2 group limit; candidate join is cell-pruned equi") {
    val p = plan("s12_bitext")
    assert(p.contains("WindowGroupLimit"),
      s"top-2 must push a map-side group limit:\n$p")
    assert(!p.contains("CartesianProduct"),
      s"src x tgt must join on the cell, never cross:\n$p")
  }

  test("p16 budget: remainder rank is bucket-partitioned; scalars broadcast") {
    val p = plan("p16_budget")
    assert(p.contains("windowspecdefinition(bkt#"),
      s"the host-sized rank window must partition by bucket (never one task):\n$p")
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastNestedLoopJoin"),
      s"offsets/scalars must broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"), s"no host-side shuffle join:\n$p")
  }

  test("q17 hll: register fold is two partial hash aggs — no join, no window, no expand") {
    val p = plan("q17_hll_distinct")
    assert(!p.contains("Join") && !p.contains("Window") && !p.contains("Expand"),
      s"a sketch must never need more than aggregation:\n$p")
    assert(p.contains("partial_max") || p.contains("Partial"),
      s"registers need map-side partial max:\n$p")
  }

  test("t15 tfidf: per-doc top-k is the staged group limit over bounded windows") {
    val p = plan("t15_tfidf")
    assert(p.contains("WindowGroupLimit"),
      s"rank filter must push map-side:\n$p")
    assert(p.contains("windowspecdefinition(doc_id#"),
      s"the window must partition by doc_id (bounded by doc vocab):\n$p")
    assert(!p.contains("CartesianProduct"), s"N must ride as a broadcast scalar:\n$p")
  }

  test("x8 tables: map-only kernel — no shuffle before the output sort") {
    val p = plan("x8_tables")
    assert(!p.contains("Arguments: hashpartitioning"),
      s"cell extraction is row-local; only the presentation sort may exchange:\n$p")
    assert(!p.contains("Join") && !p.contains("Window"),
      s"no join/window belongs in a per-page pass:\n$p")
  }

  test("x9 web pipeline: robots gate filters BEFORE the kernel, row-locally; cap is staged") {
    val p = plan("x9_web_pipeline")
    // r6: the allowed-set SEMI-JOIN became a row-local filter
    // (Prep.robotsWinnerKey) — the former shape shuffled every page's
    // payload by url just to make a per-row yes/no decision; now the
    // disallowed pages die in the scan filter and nothing shuffles before
    // the parse kernel
    assert(p.contains("greatest"),
      s"the robots gate must be the row-local winner-key filter:\n$p")
    assert(!p.contains("LeftSemi"),
      s"no allowed-set semi-join — the gate is a filter, not a payload shuffle:\n$p")
    assert(p.contains("WindowGroupLimit"),
      s"the host cap must push its rank filter map-side:\n$p")
    assert(!p.contains("CartesianProduct"),
      s"every join in the chain is keyed:\n$p")
  }

  test("p17 crawl diff: one url-keyed full-outer join + per-host partial aggs") {
    val p = plan("p17_crawl_diff")
    assert(p.contains("FullOuter"), s"the diff IS a full outer join:\n$p")
    assert(!p.contains("Window"), s"no window belongs in a diff:\n$p")
    assert(p.contains("partial_sum") || p.contains("Partial"),
      s"per-host counts need map-side partials:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"),
      s"join must stay url-keyed:\n$p")
  }

  test("g3 redirects: doubling rounds are url-keyed equi-joins, no window") {
    val p = plan("g3_redirects")
    assert(!p.contains("Window"), s"resolution is joins, never a window:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"),
      s"successor joins stay keyed:\n$p")
  }

  test("p18 training feed: prefix sum is bucket-partitioned; offsets broadcast") {
    // r6: production path checkpoints fed/seq0; gate the unmaterialized
    // chain so the mixture semi-join stays visible (see the p8 gate)
    Corpus.ensure(spark, sfDir)
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val p = graft.ops.Prep.trainingFeed(docs, materialize = false)
      .queryExecution.explainString(ExplainMode.fromString("formatted"))
    assert(p.contains("windowspecdefinition(pb#"),
      s"the corpus-sized running sum must partition by prefix bucket:\n$p")
    assert(p.contains("BroadcastHashJoin"),
      s"bucket offsets must broadcast:\n$p")
    assert(p.contains("LeftSemi"),
      s"the mixture gate semi-joins the corpus:\n$p")
  }

  test("s13 mmr: the corpus stage is a bounded TakeOrdered pool, no window") {
    val p = plan("s13_mmr")
    assert(!p.contains("Window"),
      s"greedy rounds must never window; pool is TakeOrdered:\n$p")
    assert(!p.contains("CartesianProduct"),
      s"penalty max runs against the broadcast picked set:\n$p")
  }

  test("t16 code switch: explode + native per-line kernel + one partial-agg fold") {
    val p = plan("t16_code_switch")
    assert(!p.contains("Join") && !p.contains("Window"),
      s"per-line langid is a projection, the rollup an agg:\n$p")
    assert(p.contains("partial_count") || p.contains("Partial"),
      s"the per-url fold needs map-side partials:\n$p")
    assert(!p.contains("lambdafunction"),
      s"line stats must be the native kernel, not an interpreted HOF:\n$p")
  }

  test("x9/p18 compositions: operator-embedded orderBys collapse to ONE global sort") {
    // the p8 discipline extended to the round-5 flagship chains: the
    // composed stages each end in an oracle-determinism orderBy, and
    // EliminateSorts must absorb every mid-chain one — only the final
    // presentation sort may survive as a global Sort. (hostRank's and the
    // mixture's sorts sit behind localCheckpoint/limit seams; what this
    // pins is the declarative part of each chain.)
    val sortArgs = "\\(\\d+\\) Sort[^\\n]*\\n(?:[^\\n]*\\n)?Arguments: ([^\\n]*)".r
    Seq("x9_web_pipeline" -> "url", "p18_training_feed" -> "pos").foreach {
      case (q, key) =>
        val p = plan(q)
        val globals = sortArgs.findAllMatchIn(p).map(_.group(1))
          .filter(_.contains("], true, 0")).toList
        assert(globals.length == 1,
          s"$q: expected ONE global Sort, got ${globals.length}: $globals\n$p")
        assert(globals.head.contains(key),
          s"$q: the surviving sort must be the final $key order: ${globals.head}")
    }
  }

  test("g2 frontier: the ONLY window is the per-host slot, never global") {
    val p = plan("g2_frontier")
    val windows = "windowspecdefinition\\(".r.findAllIn(p).length
    assert(windows >= 1, s"slot must be a window:\n$p")
    assert(p.contains("windowspecdefinition(host#"),
      s"slot window must partition by host (bounded), not run globally:\n$p")
    // a global row_number would show an empty partition spec: windowspecdefinition(_w... ORDER BY with SinglePartition
    assert(!p.contains("Exchange SinglePartition, ENSURE_REQUIREMENTS"),
      s"nothing may funnel the corpus into one partition:\n$p")
  }
}
