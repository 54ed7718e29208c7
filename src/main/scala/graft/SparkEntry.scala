package graft

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import graft.app.Corpus
import graft.engine.{Pipeline, WindowedSpots}
import graft.functions.GraftFunctions
import graft.ops.{Dedup, EvalMetrics, LinkGraph, Media, Prep, Similarity, TextAnalysis}

/** Driver contract — one entry per implemented operator (SURVEY.md §2), an
  * equivalent DuckDB oracle where the operator is SQL-expressible.
  *
  * Extraction queries (x*) run the full engine over the deterministic
  * synthetic corpus (BASELINE.json input shape) and are verified against the
  * oracle-written golden parquet — an independent code path (annotation ->
  * decode, no HTML) — so the DuckDB compare is a real end-to-end check.
  * Relational queries (q*) exercise the engine-support operators (agg,
  * broadcast join, window top-k, semi/anti join, dedup) on the driver's
  * TPC-H-ish tables.
  *
  * The query registry is one [[Query]] per operator: its name, its Spark
  * builder over (session, sf directory), and its oracle text as a function
  * of [[CorpusGlobs]], the synthetic corpus files of one sf. The sf
  * directory's own tables (`documents`, `embeddings`, `lineitem`, ...) stay
  * literal table names: the oracle runner binds them per sf directory.
  * [[queries]] and [[oracleSql]] are views of the registry, the latter at
  * the correctness sf (0.01); [[oracleSqlFor]] binds any other corpus.
  */
object SparkEntry {

  private def pages(spark: SparkSession, sfDir: String): DataFrame = {
    Corpus.ensure(spark, sfDir)
    spark.read.parquet(Corpus.pagesPath(sfDir))
  }

  private def extracted(spark: SparkSession, sfDir: String): DataFrame =
    Pipeline.extract(pages(spark, sfDir)).toDF()

  /** Flagship query on sf=0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    extracted(spark, "/root/testdata/sf0.001")
      .select(col("url"), col("text"), col("nKv"))
      .orderBy(col("url"))

  private def docs(s: SparkSession, dir: String): DataFrame =
    s.read.parquet(s"$dir/documents.parquet")
  private def emb(s: SparkSession, dir: String): DataFrame =
    s.read.parquet(s"$dir/embeddings.parquet")

  /** The documents table, spread across cores when its scan plans fewer
    * partitions than the session's parallelism (input skew from one huge
    * unsplittable file is cured by repartitioning right after the read):
    * the table is single-file, single-row-group parquet, so every scan
    * plans as ONE task and the map-side kernel work (shingling, minhash,
    * per-doc stats) serializes on one core until the first shuffle
    * (measured: a 1.4 s single-task shingle stage at sf0.1). The deterministic hash repartition on doc_id
    * spreads the kernel; on a real corpus (thousands of splits) the guard
    * makes this a no-op, so no corpus-scale shuffle is ever introduced.
    * The probe reads the planned scan's partition count, and because this
    * function builds the bare scan itself it can never probe a composed
    * plan (which would eagerly execute AQE stages mid-pipeline).
    */
  private def spread(s: SparkSession, dir: String): DataFrame = {
    val df = docs(s, dir)
    val target = s.sparkContext.defaultParallelism
    if (df.queryExecution.toRdd.getNumPartitions < target)
      df.repartition(target, col("doc_id"))
    else df
  }
  private def media(s: SparkSession, dir: String): DataFrame = {
    Corpus.ensure(s, dir)
    s.read.parquet(Corpus.mediaPath(dir))
  }
  private def mediaRows(s: SparkSession, dir: String): Dataset[Media.MediaRow] = {
    import s.implicits._
    media(s, dir).as[Media.MediaRow]
  }
  private def goldenDir(s: SparkSession, dir: String): String = {
    Corpus.ensure(s, dir)
    Corpus.goldenPath(dir)
  }

  /** x1's columns; x5 must land on exactly the same rows. */
  private def textColumns(df: DataFrame): DataFrame =
    df.select(col("url"), col("text"), col("nTokens"), col("nLines"), col("nKv"))
      .orderBy(col("url"))
  private def goldenTextSql(p: CorpusGlobs): String =
    s"SELECT url, text, nTokens, nLines, nKv FROM read_parquet('${p.golden}') ORDER BY url"

  // full-width test construct for the native f2h expression: prepend/append
  // full-width chars to real doc text; identical construct in the oracle
  private val FwPrefix = "Ａｂ１！　" // fullwidth A b 1 ! + ideographic space
  private val FwSuffix = "？ｚ"                   // fullwidth ? z
  // translate() args for the DuckDB oracle: all 94 full-width forms + U+3000
  private val FwFrom = ((0xFF01 to 0xFF5E).map(_.toChar) :+ '　').mkString
  private val FwTo = ((0x21 to 0x7E).map(_.toChar) :+ ' ').mkString

  // mixture weights for the p2 stratified-sampling query (es exercises the
  // defaultRate fallback branch)
  private val SampleRates = Seq("en" -> 0.75, "zh" -> 0.2, "de" -> 0.5, "fr" -> 0.05)
  // the planted-PII construct shared by t7 and t9 — ONE Spark definition and
  // ONE SQL mirror, because the construct-identically-in-both-engines
  // pattern requires all consuming sites to stay token-identical
  private def plantedPii: org.apache.spark.sql.Column = concat(col("text"),
    when(col("doc_id") % 3 === 0,
      concat(lit(" contact: user"), col("doc_id").cast("string"),
        lit("@example.com or call 5551234567 now")))
      .otherwise(lit("")))
  private val PlantedPiiSqlTable: String =
    "(SELECT doc_id, text || CASE WHEN doc_id % 3 = 0 " +
      "THEN ' contact: user' || CAST(doc_id AS VARCHAR) || '@example.com or call 5551234567 now' " +
      "ELSE '' END AS text FROM documents)"
  // p9 mixture: src5's quota exceeds its mass (rate saturates at 1.0), the
  // others land fractional, 15 unlisted sources are excluded by weight 0
  private val MixtureWeights =
    Seq("src0" -> 4L, "src1" -> 3L, "src2" -> 2L, "src3" -> 1L, "src5" -> 8L)
  private val MixtureBudgetChars = 20000L

  /** The synthetic corpus files of one sf, as the DuckDB globs an oracle
    * reads: `pages` is the lang-partitioned (hive) pages table. */
  private final case class CorpusGlobs(pages: String, golden: String, spots: String,
      media: String, langDim: String, spotsJson: String)
  private def corpusGlobs(sf: String): CorpusGlobs = CorpusGlobs(
    pages = s"${Corpus.pagesPath(sf)}/*/*.parquet",
    golden = s"${Corpus.goldenPath(sf)}/*.parquet",
    spots = s"${Corpus.spotsPath(sf)}/*.parquet",
    media = s"${Corpus.mediaPath(sf)}/*.parquet",
    langDim = s"${Corpus.langDimPath(sf)}/*.parquet",
    spotsJson = s"${Corpus.spotsJsonPath(sf)}/*.json")

  /** One operator: its Spark builder and the DuckDB oracle that checks it. */
  private final case class Query(name: String,
      spark: (SparkSession, String) => DataFrame,
      oracle: CorpusGlobs => String)

  private val registry: Seq[Query] = Seq(
    // --- extraction pipeline (engine vs oracle-goldens) ---
    Query("x1_extract_text", (s, dir) => textColumns(extracted(s, dir)), goldenTextSql),
    Query("x2_extract_kv",
      (s, dir) => {
        // key/value field extraction is a codegen GetArrayStructFields
        // projection; pair assembly joins in a typed kernel (the former
        // transform(...) lambda was CodegenFallback)
        import s.implicits._
        extracted(s, dir)
          .select(col("url"), col("kv.key").as("ks"), col("kv.value").as("vs"))
          .as[(String, Seq[String], Seq[String])]
          .map { case (url, ks, vs) =>
            (url, ks.iterator.zip(vs.iterator)
              .map { case (k, v) => k + "\u0001" + v }.mkString("\u0002"))
          }
          .toDF("url", "kvs")
          .orderBy(col("url"))
      },
      p => s"""SELECT url, array_to_string(list_transform(kv, x -> x."key" || chr(1) || x."value"), chr(2)) AS kvs FROM read_parquet('${p.golden}') ORDER BY url"""),
    Query("x3_lineage",
      (s, dir) =>
        Pipeline.lineage(Pipeline.extract(pages(s, dir)))
          .select(col("bucket"), col("nDocs"), col("nTokens"), col("nKv"))
          .orderBy(col("bucket")),
      p => s"SELECT bucket, CAST(count(*) AS BIGINT) AS nDocs, CAST(sum(nTokens) AS BIGINT) AS nTokens, CAST(sum(nKv) AS BIGINT) AS nKv FROM read_parquet('${p.golden}') GROUP BY bucket ORDER BY bucket"),
    Query("x4_spots_window",
      (s, dir) => {
        Corpus.ensure(s, dir)
        WindowedSpots.parseTop(s.read.parquet(Corpus.spotsPath(dir)), triuMode = true)
          .orderBy(col("doc_id"), col("head"), col("tail"))
      },
      p => WindowedSpots.parseTopSql(p.spots, triuMode = true)),
    Query("x5_incremental",
      (s, dir) => {
        // digest-level incremental re-extraction: `prev` simulates a prior
        // run covering 80% of urls, with a seventh of its stored digests
        // corrupted (stand-in for pages whose html changed since that run) —
        // so the operator must reuse the clean 80%, re-extract the drifted
        // and missing rest, and land byte-identical to the full extraction
        val p = pages(s, dir)
        // prev simulates a STORED prior run, so it is materialized once
        // (localCheckpoint) exactly as a real run would read it from the
        // lake — the lazy form re-ran the 80% extraction for BOTH the
        // anti-join (changed/missing) and semi-join (reuse) legs
        val prev = Pipeline
          .extractWithDigest(p.filter(pmod(xxhash64(col("url")), lit(5)) =!= 0))
          .withColumn("html_x64",
            when(pmod(xxhash64(col("url")), lit(7)) === 0, col("html_x64") + 1)
              .otherwise(col("html_x64")))
          .localCheckpoint()
        textColumns(Pipeline.extractIncremental(p, prev))
      },
      // whatever subset the prior run covered, x5 must land byte-identical
      // to the FULL extraction — so its oracle is exactly x1's golden
      goldenTextSql),
    // --- host link graph (x6 edges, g1 PageRank, g2 crawl frontier) ---
    // link-graph oracles reach the edges independently: regex over the
    // decoded html vs the engine's real DOM parser
    Query("x6_links", (s, dir) => LinkGraph.linkEdges(pages(s, dir)),
      p => LinkGraph.linkEdgesSql(p.pages)),
    Query("x7_anchor_terms", (s, dir) => LinkGraph.anchorTerms(pages(s, dir)),
      p => LinkGraph.anchorTermsSql(p.pages)),
    Query("g1_host_rank", (s, dir) => LinkGraph.hostRank(pages(s, dir)),
      p => LinkGraph.hostRankSql(p.pages)),
    Query("g2_frontier", (s, dir) => LinkGraph.frontierSchedule(pages(s, dir)),
      p => LinkGraph.frontierScheduleSql(p.pages)),
    Query("s12_bitext", (s, dir) => Similarity.bitextMine(emb(s, dir), docs(s, dir)),
      _ => Similarity.bitextMineSql("embeddings")),
    Query("g3_redirects", (s, dir) => LinkGraph.resolveRedirects(pages(s, dir)),
      p => LinkGraph.resolveRedirectsSql(p.pages)),
    Query("s13_mmr", (s, dir) => Similarity.mmrTopK(emb(s, dir)),
      _ => Similarity.mmrTopKSql("embeddings")),
    Query("d16_containment", (s, dir) => Dedup.containmentPairs(spread(s, dir)),
      _ => Dedup.containmentPairsSql("documents")),
    // --- relational engine-support operators on the TPC-H-ish tables ---
    Query("q1_agg",
      (s, dir) =>
        s.read.parquet(s"$dir/lineitem.parquet")
          .filter(col("l_shipdate") <= lit("1998-09-02"))
          .groupBy(col("l_returnflag"), col("l_linestatus"))
          .agg(
            sum(col("l_quantity").cast("decimal(18,2)")).cast("double").as("sum_qty"),
            sum(col("l_extendedprice").cast("decimal(18,2)")).cast("double").as("sum_base_price"),
            count(lit(1)).as("count_order"))
          .orderBy(col("l_returnflag"), col("l_linestatus")),
      _ =>
        """SELECT l_returnflag, l_linestatus,
          |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
          |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
          |  CAST(count(*) AS BIGINT) AS count_order
          |FROM lineitem WHERE l_shipdate <= '1998-09-02'
          |GROUP BY l_returnflag, l_linestatus ORDER BY l_returnflag, l_linestatus""".stripMargin),
    Query("q2_topk",
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val orders = s.read.parquet(s"$dir/orders.parquet")
        val cust = s.read.parquet(s"$dir/customer.parquet")
        val w = Window.partitionBy(col("o_custkey"))
          .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
        orders
          .join(broadcast(cust), orders("o_custkey") === cust("c_custkey"))
          .withColumn("rn", row_number().over(w))
          .filter(col("rn") <= 3)
          .select(col("c_custkey"), col("c_name"), col("o_orderkey"), col("rn"))
          .orderBy(col("c_custkey"), col("rn"))
      },
      _ =>
        """SELECT c_custkey, c_name, o_orderkey, CAST(rn AS INT) AS rn FROM (
          |  SELECT c.c_custkey, c.c_name, o.o_orderkey,
          |    ROW_NUMBER() OVER (PARTITION BY o.o_custkey ORDER BY o.o_totalprice DESC, o.o_orderkey ASC) AS rn
          |  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
          |) WHERE rn <= 3 ORDER BY c_custkey, rn""".stripMargin),
    Query("q3_anti",
      (s, dir) => {
        // resume-style anti join (SURVEY.md §2 A8): customers with no recent
        // order; the filter makes the result non-trivial at every sf
        val cust = s.read.parquet(s"$dir/customer.parquet")
        val recent = s.read.parquet(s"$dir/orders.parquet")
          .filter(col("o_orderdate") >= lit("1998-01-01"))
        cust.join(recent, cust("c_custkey") === recent("o_custkey"), "left_anti")
          .select(col("c_custkey"), col("c_nationkey"))
          .orderBy(col("c_custkey"))
      },
      _ =>
        """SELECT c_custkey, c_nationkey FROM customer
          |WHERE c_custkey NOT IN (
          |  SELECT o_custkey FROM orders WHERE o_orderdate >= '1998-01-01')
          |ORDER BY c_custkey""".stripMargin),
    Query("q4_dedup_exact",
      (s, dir) =>
        docs(s, dir)
          .groupBy(col("lang"))
          .agg(
            count(lit(1)).as("n_docs"),
            countDistinct(md5(col("text"))).as("n_distinct"))
          .orderBy(col("lang")),
      _ =>
        """SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
          |  CAST(count(DISTINCT md5(text)) AS BIGINT) AS n_distinct
          |FROM documents GROUP BY lang ORDER BY lang""".stripMargin),
    Query("q5_tokens",
      (s, dir) =>
        docs(s, dir)
          .select(col("doc_id"),
            size(split(col("text"), " ", -1)).as("n_tokens"),
            length(col("text")).as("n_chars_m"))
          .orderBy(col("doc_id")),
      _ =>
        """SELECT doc_id, CAST(len(str_split(text, ' ')) AS INT) AS n_tokens,
          |  CAST(length(text) AS INT) AS n_chars_m
          |FROM documents ORDER BY doc_id""".stripMargin),
    Query("q6_events_window",
      (s, dir) =>
        s.read.parquet(s"$dir/events.parquet")
          .groupBy(date_trunc("hour", col("ts")).as("hour"), col("event_type"))
          .agg(count(lit(1)).as("n_events"),
            sum(floor(col("value") * 1000).cast("long")).as("sum_vmilli"))
          .orderBy(col("hour"), col("event_type")),
      _ =>
        """SELECT date_trunc('hour', ts) AS hour, event_type,
          |  CAST(count(*) AS BIGINT) AS n_events,
          |  CAST(sum(CAST(floor(value * 1000) AS BIGINT)) AS BIGINT) AS sum_vmilli
          |FROM events GROUP BY 1, 2 ORDER BY hour, event_type""".stripMargin),
    Query("q7_sessions",
      (s, dir) => {
        // one-shot batch replay of the streaming sessionizer (H21): the SAME
        // flatMapGroupsWithState fold as Streams.sessionize, checked against
        // a DuckDB gaps-and-islands CTE
        import s.implicits._
        val ev = s.read.parquet(s"$dir/events.parquet")
          // parquet stores TIMESTAMP_NTZ; the session tz is UTC so the cast
          // is value-preserving (and unix_millis requires TIMESTAMP)
          .select(col("event_id"), col("ts").cast("timestamp").as("ts"),
            col("user_id"), col("event_type"), col("value"))
          .as[graft.streaming.Streams.EventRow]
        graft.streaming.Streams.sessionizeOneShot(ev, gapMinutes = 30)
          .toDF()
          .orderBy("user_id", "session_start")
      },
      _ =>
        """WITH d AS (SELECT user_id, ts, CAST(floor(value * 1000) AS BIGINT) AS vmilli,
          |    CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
          |      OR epoch_ms(ts) - epoch_ms(lag(ts) OVER (PARTITION BY user_id ORDER BY ts)) > 1800000
          |      THEN 1 ELSE 0 END AS news
          |  FROM events),
          |s AS (SELECT user_id, ts, vmilli,
          |    sum(news) OVER (PARTITION BY user_id ORDER BY ts ROWS UNBOUNDED PRECEDING) AS sid
          |  FROM d)
          |SELECT user_id, min(ts) AS session_start, max(ts) AS session_end,
          |  CAST(count(*) AS BIGINT) AS n_events, CAST(sum(vmilli) AS BIGINT) AS sum_vmilli
          |FROM s GROUP BY user_id, sid
          |ORDER BY user_id, session_start""".stripMargin),
    Query("q8_asof",
      (s, dir) => graft.ops.AsOf.asOfJoin(s.read.parquet(s"$dir/events.parquet")),
      _ => graft.ops.AsOf.asOfJoinSql("events")),
    Query("q13_interval_join",
      (s, dir) =>
        // one-shot batch surface of the stream-stream interval join (H20c):
        // same condition builder as Streams.intervalJoinStream, checked
        // against a DuckDB inequality join — the last join family moves from
        // spec-only to oracle-checked
        // lag=240min: wide enough that the range condition matches a
        // substantive row set at the correctness sf (10min -> only 6 rows)
        graft.streaming.Streams.intervalJoinOneShot(
          s.read.parquet(s"$dir/events.parquet"), lagMinutes = 240),
      _ => graft.streaming.Streams.intervalJoinOneShotSql("events", lagMinutes = 240)),
    Query("q14_dim_prune",
      (s, dir) => {
        // dynamic partition pruning: the lang-partitioned pages fact joined
        // to a FILE-BACKED language-dim filtered to tier1 — the tier filter
        // cannot fold to a static IN-list, so pruning must happen at runtime
        // from the broadcast dim scan (PlanSpec gates the
        // dynamicpruningexpression in the fact scan's PartitionFilters)
        val fact = pages(s, dir)
        val dim = s.read.parquet(Corpus.langDimPath(dir))
          .filter(col("tier") === "tier1")
        fact.join(broadcast(dim), "lang")
          .groupBy(col("lang"), col("tier"))
          .agg(count(lit(1)).as("n_pages"),
            sum(length(col("text"))).cast("long").as("sum_chars"))
          .orderBy("lang")
      },
      p =>
        s"""SELECT f.lang, d.tier, CAST(count(*) AS BIGINT) AS n_pages,
           |  CAST(sum(length(f.text)) AS BIGINT) AS sum_chars
           |FROM read_parquet('${p.pages}', hive_partitioning=1) f
           |JOIN read_parquet('${p.langDim}') d USING (lang)
           |WHERE d.tier = 'tier1'
           |GROUP BY f.lang, d.tier ORDER BY f.lang""".stripMargin),
    Query("q15_pivot",
      (s, dir) =>
        // pivot with an EXPLICIT value list: compiles to one aggregate pass
        // (conditional per-type counts) — pivot WITHOUT values would first
        // run a distinct job over the corpus to discover columns, which is
        // the shape to refuse at 10^12 rows
        s.read.parquet(s"$dir/events.parquet")
          .groupBy(col("user_id"))
          .pivot("event_type", Seq("click", "view", "purchase", "signup", "error"))
          .agg(count(lit(1)))
          .na.fill(0L)
          .orderBy("user_id"),
      _ =>
        """SELECT user_id,
          |  CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS click,
          |  CAST(sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS view,
          |  CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS purchase,
          |  CAST(sum(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) AS BIGINT) AS signup,
          |  CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS error
          |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin),
    Query("q10_region_rev",
      (s, dir) => {
        // classic star-chain rollup (TPC-H Q5 shape): fact joined through a
        // BROADCAST dimension chain customer -> nation -> region; at 10^12
        // rows only the fact ever shuffles (for the final agg) — the dims
        // ship to executors
        val orders = s.read.parquet(s"$dir/orders.parquet")
        val cust = s.read.parquet(s"$dir/customer.parquet")
        val nation = s.read.parquet(s"$dir/nation.parquet")
        val region = s.read.parquet(s"$dir/region.parquet")
        orders
          .join(broadcast(cust), orders("o_custkey") === cust("c_custkey"))
          .join(broadcast(nation), cust("c_nationkey") === nation("n_nationkey"))
          .join(broadcast(region), nation("n_regionkey") === region("r_regionkey"))
          .groupBy(col("r_name"))
          .agg(count(lit(1)).as("n_orders"),
            sum(col("o_totalprice").cast("decimal(18,2)")).cast("double").as("revenue"))
          .orderBy("r_name")
      },
      _ =>
        """SELECT r_name, CAST(count(*) AS BIGINT) AS n_orders,
          |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
          |FROM orders o
          |JOIN customer c ON o.o_custkey = c.c_custkey
          |JOIN nation n ON c.c_nationkey = n.n_nationkey
          |JOIN region r ON n.n_regionkey = r.r_regionkey
          |GROUP BY r_name ORDER BY r_name""".stripMargin),
    Query("q11_props_json",
      (s, dir) =>
        // semi-structured column: per-event JSON props parsed in place
        // (get_json_object is codegen); aggregated per event type
        s.read.parquet(s"$dir/events.parquet")
          .select(col("event_type"),
            get_json_object(col("props"), "$.k").cast("long").as("k"))
          .groupBy(col("event_type"))
          .agg(count(lit(1)).as("n"), sum(col("k")).as("sum_k"),
            min(col("k")).as("min_k"), max(col("k")).as("max_k"))
          .orderBy("event_type"),
      _ =>
        """SELECT event_type, CAST(count(*) AS BIGINT) AS n,
          |  CAST(sum(CAST(props->>'$.k' AS BIGINT)) AS BIGINT) AS sum_k,
          |  CAST(min(CAST(props->>'$.k' AS BIGINT)) AS BIGINT) AS min_k,
          |  CAST(max(CAST(props->>'$.k' AS BIGINT)) AS BIGINT) AS max_k
          |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin),
    Query("q12_part_value",
      (s, dir) => {
        // fact + two broadcast dims on DIFFERENT keys (part, supplier)
        val li = s.read.parquet(s"$dir/lineitem.parquet")
        val part = s.read.parquet(s"$dir/part.parquet")
        val supp = s.read.parquet(s"$dir/supplier.parquet")
        li.join(broadcast(part), li("l_partkey") === part("p_partkey"))
          .join(broadcast(supp), li("l_suppkey") === supp("s_suppkey"))
          .groupBy(col("p_brand"))
          .agg(count(lit(1)).as("n_items"),
            sum(col("l_quantity").cast("decimal(18,2)")).cast("double").as("sum_qty"),
            countDistinct(col("s_nationkey")).as("n_supp_nations"))
          .orderBy("p_brand")
      },
      _ =>
        """SELECT p_brand, CAST(count(*) AS BIGINT) AS n_items,
          |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
          |  CAST(count(DISTINCT s_nationkey) AS BIGINT) AS n_supp_nations
          |FROM lineitem l
          |JOIN part p ON l.l_partkey = p.p_partkey
          |JOIN supplier s ON l.l_suppkey = s.s_suppkey
          |GROUP BY p_brand ORDER BY p_brand""".stripMargin),
    // --- text analysis (training-data pipeline ops) ---
    Query("t8_source_mix",
      (s, dir) =>
        // mixture audit over the corpus provenance column: docs and token
        // mass per (source, lang) — the table a data-mixing run reads before
        // setting p2's sampling rates
        docs(s, dir)
          .groupBy(col("source"), col("lang"))
          .agg(count(lit(1)).as("n_docs"),
            sum(size(split(col("text"), " ", -1))).cast("long").as("sum_tokens"))
          .orderBy("source", "lang"),
      _ =>
        """SELECT source, lang, CAST(count(*) AS BIGINT) AS n_docs,
          |  CAST(sum(len(str_split(text, ' '))) AS BIGINT) AS sum_tokens
          |FROM documents GROUP BY source, lang ORDER BY source, lang""".stripMargin),
    Query("t1_langid", (s, dir) => TextAnalysis.langId(docs(s, dir)),
      _ => TextAnalysis.langIdSql("documents")),
    Query("t2_quality", (s, dir) => TextAnalysis.quality(docs(s, dir)),
      _ => TextAnalysis.qualitySql("documents")),
    Query("t3_token_counts", (s, dir) => TextAnalysis.tokenCounts(docs(s, dir)),
      _ => TextAnalysis.tokenCountsSql("documents")),
    Query("t4_fingerprint", (s, dir) => TextAnalysis.fingerprint(docs(s, dir)),
      _ => TextAnalysis.fingerprintSql("documents")),
    Query("t5_vocab_topk", (s, dir) => TextAnalysis.vocabTopK(docs(s, dir)),
      _ => TextAnalysis.vocabTopKSql("documents")),
    Query("t6_repetition", (s, dir) => TextAnalysis.repetitionStats(docs(s, dir)),
      _ => TextAnalysis.repetitionStatsSql("documents")),
    Query("t14_classifier", (s, dir) => TextAnalysis.classifierFilter(docs(s, dir)),
      _ => TextAnalysis.classifierFilterSql("documents")),
    Query("t15_tfidf", (s, dir) => TextAnalysis.tfidfKeywords(docs(s, dir)),
      _ => TextAnalysis.tfidfKeywordsSql("documents")),
    Query("t16_code_switch", (s, dir) => TextAnalysis.codeSwitchAudit(pages(s, dir)),
      p => TextAnalysis.codeSwitchAuditSql(p.pages)),
    Query("x8_tables", (s, dir) => graft.ops.Tables.extractTables(pages(s, dir)),
      p => graft.ops.Tables.extractTablesSql(p.pages)),
    Query("x9_web_pipeline", (s, dir) => graft.ops.WebPipeline.webPipeline(pages(s, dir)),
      p => graft.ops.WebPipeline.webPipelineSql(p.pages, p.golden)),
    Query("t11_lm_score", (s, dir) => TextAnalysis.lmScore(docs(s, dir)),
      _ => TextAnalysis.lmScoreSql("documents")),
    Query("t12_phrase_merge", (s, dir) => TextAnalysis.phraseMerge(docs(s, dir)),
      _ => TextAnalysis.phraseMergeSql("documents")),
    Query("t10_quality_threshold", (s, dir) => TextAnalysis.qualityThreshold(docs(s, dir)),
      _ => TextAnalysis.qualityThresholdSql("documents")),
    // t9 and t7 plant PII (the shared plantedPii construct) on every 3rd
    // doc: t9 so the gate's pii_heavy branch is oracle-exercised, t7
    // because the synthetic corpus has none to scrub
    Query("t9_quality_gate",
      (s, dir) => TextAnalysis.qualityGate(
        docs(s, dir).select(col("doc_id"), plantedPii.as("text"))),
      _ => TextAnalysis.qualityGateSql(PlantedPiiSqlTable)),
    Query("t7_redact",
      (s, dir) => TextAnalysis.redactPii(
        docs(s, dir).select(col("doc_id"), plantedPii.as("text"))),
      _ => TextAnalysis.redactPiiSql(PlantedPiiSqlTable)),
    // --- deduplication family ---
    Query("d1_dedup_exact", (s, dir) => Dedup.exact(docs(s, dir)),
      _ => Dedup.exactSql("documents")),
    Query("d2_minhash_lsh", (s, dir) => Dedup.lshCandidatePairs(spread(s, dir)),
      _ => Dedup.lshCandidatePairsSql("documents")),
    Query("d3_simhash", (s, dir) => Dedup.simhash(docs(s, dir)),
      _ => Dedup.simhashSql("documents")),
    Query("d4_jaccard", (s, dir) => Dedup.jaccardPairs(spread(s, dir)),
      _ => Dedup.jaccardPairsSql("documents")),
    Query("d5_simhash_pairs", (s, dir) => Dedup.simhashPairs(spread(s, dir)),
      _ => Dedup.simhashPairsSql("documents")),
    Query("d6_dedup_components", (s, dir) => Dedup.dedupComponents(spread(s, dir)),
      _ => Dedup.dedupComponentsSql("documents")),
    Query("d14_leak_split",
      (s, dir) => Dedup.leakageSafeSplit(spread(s, dir), testPermille = 300),
      _ => Dedup.leakageSafeSplitSql("documents", testPermille = 300)),
    Query("d7_contamination",
      (s, dir) => {
        // benchmark-decontamination shape: probe set = every 100th doc (a
        // stand-in for a small eval suite), broadcast against the corpus
        val d = docs(s, dir)
        Dedup.contamination(d, d.filter(col("doc_id") % 100 === 0))
      },
      _ => Dedup.contaminationSql("documents", "doc_id % 100 = 0")),
    Query("d9_dup_spans", (s, dir) => Dedup.dupSpans(spread(s, dir)),
      _ => Dedup.dupSpansSql("documents")),
    Query("d10_excise", (s, dir) => Dedup.exciseSpans(docs(s, dir)),
      _ => Dedup.exciseSpansSql("documents")),
    Query("d11_contamination_bloom",
      (s, dir) => {
        // the un-broadcastable-probe-set variant of d7: bloom pre-filter
        // before the shuffle join, exact verify after; same answer shape
        val d = docs(s, dir)
        Dedup.contaminationBloom(d, d.filter(col("doc_id") % 50 === 0))
      },
      _ => Dedup.contaminationBloomSql("documents", "doc_id % 50 = 0")),
    // CCNet-style cross-doc line dedup over the extracted pages table
    Query("d8_line_dedup", (s, dir) => Dedup.lineDedup(pages(s, dir)),
      p => Dedup.lineDedupSql(p.pages)),
    // C4 line cleaning over the pages table; corpus-appropriate params (the
    // synthetic nav/footer lines carry no terminal punctuation, so
    // requirePunct=false here — OpsSpec pins the C4-default punct path)
    Query("t13_clean_lines",
      (s, dir) => TextAnalysis.cleanLines(pages(s, dir),
        minWords = 2, requirePunct = false,
        blocklist = Seq("Privacy", "Login"), minKeptLines = 3),
      p => TextAnalysis.cleanLinesSql(p.pages,
        minWords = 2, requirePunct = false,
        blocklist = Seq("Privacy", "Login"), minKeptLines = 3)),
    Query("d12_best_canonical", (s, dir) => Dedup.bestCanonical(spread(s, dir)),
      _ => Dedup.bestCanonicalSql("documents")),
    Query("d13_lsh_recall", (s, dir) => Dedup.lshRecall(spread(s, dir)),
      _ => Dedup.lshRecallSql("documents")),
    Query("d15_incremental_gate",
      (s, dir) => {
        // incremental-crawl shape: every 10th doc is "today's increment",
        // the rest are the standing corpus's band-bucket index
        val d = docs(s, dir)
        Dedup.incrementalGate(d.filter(col("doc_id") % 10 =!= 7),
          d.filter(col("doc_id") % 10 === 7))
      },
      _ => Dedup.incrementalGateSql("documents", "doc_id % 10 = 7")),
    // --- embedding similarity / ANN ---
    // cellCap=50 exercises BOTH block keys at sf0.01: labels with >50 members
    // are LSH-sub-bucketed, the rest keep whole-cell blocks; no block there
    // exceeds the cap, so the purge evicts nothing
    Query("s1_cos_neardup", (s, dir) => Similarity.cosineNearDupPairs(emb(s, dir), cellCap = 50),
      _ => Similarity.cosineNearDupPairsSql("embeddings", cellCap = 50)),
    Query("s2_ann_brute", (s, dir) => Similarity.bruteForceTopK(emb(s, dir)),
      _ => Similarity.bruteForceTopKSql("embeddings")),
    Query("s3_ann_ivf", (s, dir) => Similarity.ivfTopK(emb(s, dir)),
      _ => Similarity.ivfTopKSql("embeddings")),
    Query("s4_lsh_buckets", (s, dir) => Similarity.lshBuckets(emb(s, dir)),
      _ => Similarity.lshBucketsSql("embeddings")),
    Query("s5_ann_recall", (s, dir) => Similarity.ivfRecall(emb(s, dir)),
      _ => Similarity.ivfRecallSql("embeddings")),
    Query("s6_embed_components", (s, dir) => Similarity.embedComponents(emb(s, dir), cellCap = 50),
      _ => Similarity.embedComponentsSql("embeddings", cellCap = 50)),
    Query("s7_kmeans", (s, dir) => Similarity.kmeans(emb(s, dir)),
      _ => Similarity.kmeansSql("embeddings")),
    Query("s8_ann_ivf_trained", (s, dir) => Similarity.trainedIvfTopK(emb(s, dir)),
      _ => Similarity.trainedIvfTopKSql("embeddings")),
    // cellCap=50 as in s1/s6: the trained cells at sf0.01 (500 vecs / 4
    // centroids) are all hot, so every block is a sign-bit sub-bucket
    Query("s9_semdedup", (s, dir) => Similarity.semDedup(emb(s, dir), cellCap = 50),
      _ => Similarity.semDedupSql("embeddings", cellCap = 50)),
    Query("s10_pq_adc", (s, dir) => Similarity.pqTopK(emb(s, dir)),
      _ => Similarity.pqTopKSql("embeddings")),
    Query("s11_prefix_recall", (s, dir) => Similarity.prefixRecall(emb(s, dir)),
      _ => Similarity.prefixRecallSql("embeddings")),
    // --- multimodal binary-column plumbing ---
    Query("m1_media_meta",
      (s, dir) => Media.extractMeta(mediaRows(s, dir)).orderBy("doc_id").toDF(),
      p => Media.extractMetaSql(p.media)),
    Query("m2_media_hist", (s, dir) => Media.byteHistogram(media(s, dir)),
      p => Media.byteHistogramSql(p.media)),
    Query("m3_frame_sample", (s, dir) => Media.frameSample(media(s, dir)),
      p => Media.frameSampleSql(p.media)),
    Query("m4_image_ahash", (s, dir) => Media.aHash(mediaRows(s, dir)),
      p => Media.aHashSql(p.media)),
    Query("m5_ahash_pairs", (s, dir) => Media.aHashPairs(mediaRows(s, dir)),
      p => Media.aHashPairsSql(p.media)),
    Query("m6_resize", (s, dir) => Media.resize(mediaRows(s, dir)),
      p => Media.resizeSql(p.media)),
    Query("m7_image_components", (s, dir) => Media.imageComponents(mediaRows(s, dir)),
      p => Media.imageComponentsSql(p.media)),
    Query("m8_audio_stats", (s, dir) => Media.audioStats(mediaRows(s, dir)),
      p => Media.audioStatsSql(p.media)),
    Query("m9_shot_bounds", (s, dir) => Media.shotBounds(mediaRows(s, dir)),
      p => Media.shotBoundsSql(p.media)),
    Query("m10_audio_pairs", (s, dir) => Media.audioPairs(mediaRows(s, dir)),
      p => Media.audioPairsSql(p.media)),
    Query("m11_audio_components", (s, dir) => Media.audioComponents(mediaRows(s, dir)),
      p => Media.audioComponentsSql(p.media)),
    Query("m12_video_pairs", (s, dir) => Media.videoPairs(mediaRows(s, dir)),
      p => Media.videoPairsSql(p.media)),
    Query("m13_video_components", (s, dir) => Media.videoComponents(mediaRows(s, dir)),
      p => Media.videoComponentsSql(p.media)),
    // --- evaluation metrics (SURVEY.md §2 E-block) ---
    Query("e1_eval_metrics", (s, dir) => EvalMetrics.perturbedEval(s, goldenDir(s, dir)),
      p => EvalMetrics.perturbedEvalSql(p.golden)),
    Query("e2_eval_links", (s, dir) => EvalMetrics.perturbedLinkEval(s, goldenDir(s, dir)),
      p => EvalMetrics.perturbedLinkEvalSql(p.golden)),
    Query("e3_eval_tails", (s, dir) => EvalMetrics.perturbedTailEval(s, goldenDir(s, dir)),
      p => EvalMetrics.perturbedTailEvalSql(p.golden)),
    Query("e4_eval_detail", (s, dir) => EvalMetrics.perturbedDetail(s, goldenDir(s, dir)),
      p => EvalMetrics.perturbedDetailSql(p.golden)),
    // --- prep-funnel composition (lang gate -> quality gate -> dedup) ---
    Query("p1_prep_funnel", (s, dir) => Prep.funnel(docs(s, dir)),
      _ => Prep.funnelSql("documents")),
    Query("p2_sample",
      (s, dir) => Prep.stratifiedSample(docs(s, dir), SampleRates, defaultRate = 0.35),
      _ => Prep.stratifiedSampleSql("documents", SampleRates, defaultRate = 0.35)),
    Query("p9_mixture",
      (s, dir) => Prep.mixtureSample(docs(s, dir), MixtureWeights, MixtureBudgetChars),
      _ => Prep.mixtureSampleSql("documents", MixtureWeights, MixtureBudgetChars)),
    Query("p11_temperature",
      (s, dir) => Prep.temperatureMixture(docs(s, dir), MixtureBudgetChars),
      _ => Prep.temperatureMixtureSql("documents", MixtureBudgetChars)),
    Query("p3_url_hosts", (s, dir) => Prep.urlHostStats(pages(s, dir)),
      p => Prep.urlHostStatsSql(p.pages)),
    // auto-sized shard count (shardsFor): the oracle embeds the same sizing
    // rule, so the scale claim is itself under the hard gate
    Query("p4_pack", (s, dir) => Prep.packChunksAuto(docs(s, dir)),
      _ => Prep.packChunksAutoSql("documents")),
    Query("p12_pack_efficiency", (s, dir) => Prep.packEfficiency(docs(s, dir)),
      _ => Prep.packEfficiencySql("documents")),
    // exact per-lang length quantiles without a global sort: histogram agg
    // -> bounded-domain cumulative window -> broadcast rank targets
    Query("q16_quantiles", (s, dir) => Prep.tokenQuantiles(docs(s, dir)),
      _ => Prep.tokenQuantilesSql("documents")),
    // nBuckets=16 so sf0.01's 500 docs spread ~31/bucket — both stages real
    Query("p13_epoch_order",
      (s, dir) => Prep.epochOrder(docs(s, dir), epoch = 3, nBuckets = 16),
      _ => Prep.epochOrderSql("documents", epoch = 3)),
    // nBuckets=16 as in p13; bands from the shared quality score
    Query("p14_curriculum",
      (s, dir) => Prep.curriculumOrder(docs(s, dir), epoch = 1, nBuckets = 16),
      _ => Prep.curriculumOrderSql("documents", epoch = 1)),
    // the composed flagship prep chain: exact dedup -> LSH components ->
    // per-source cap -> stratified sample -> token packing, one oracle
    // (capPerSource=15 < the 25-doc sources, so the cap stage does real
    // work at the correctness sf)
    Query("p8_end_to_end",
      (s, dir) => Prep.endToEnd(docs(s, dir), SampleRates, defaultRate = 0.35,
        capPerSource = 15),
      _ => Prep.endToEndSql("documents", SampleRates,
        defaultRate = 0.35, capPerSource = 15)),
    Query("p10_url_latest", (s, dir) => Prep.latestSnapshot(pages(s, dir)),
      p => Prep.latestSnapshotSql(p.pages)),
    Query("p5_host_cap", (s, dir) => Prep.hostCap(pages(s, dir)),
      p => Prep.hostCapSql(p.pages)),
    Query("p7_crawl_freshness", (s, dir) => Prep.crawlFreshness(pages(s, dir)),
      p => Prep.crawlFreshnessSql(p.pages)),
    Query("p6_robots", (s, dir) => Prep.robotsGate(pages(s, dir)),
      p => Prep.robotsGateSql(p.pages)),
    Query("p15_robots_rules", (s, dir) => Prep.robotsRules(pages(s, dir)),
      p => Prep.robotsRulesSql(p.pages)),
    Query("p16_budget", (s, dir) => Prep.budgetApportion(pages(s, dir)),
      p => Prep.budgetApportionSql(p.pages)),
    Query("p17_crawl_diff", (s, dir) => Prep.crawlDiff(pages(s, dir)),
      p => Prep.crawlDiffSql(p.pages)),
    Query("p18_training_feed", (s, dir) => Prep.trainingFeed(docs(s, dir)),
      _ => Prep.trainingFeedSql("documents")),
    Query("q17_hll_distinct", (s, dir) => graft.ops.Sketch.hllDistinct(pages(s, dir)),
      p => graft.ops.Sketch.hllDistinctSql(p.pages)),
    Query("q9_rollup",
      (s, dir) =>
        // multi-granularity aggregation in ONE pass (grouping sets): the
        // per-(flag,status) + per-flag + grand-total report a corpus audit
        // wants without three scans; nulls coalesced so the cross-engine
        // hash never sees engine-specific null ordering
        s.read.parquet(s"$dir/lineitem.parquet")
          .rollup(col("l_returnflag"), col("l_linestatus"))
          .agg(count(lit(1)).as("n"),
            sum(col("l_quantity").cast("decimal(18,2)")).cast("double").as("sum_qty"))
          .select(coalesce(col("l_returnflag"), lit("ALL")).as("flag"),
            coalesce(col("l_linestatus"), lit("ALL")).as("status"),
            col("n"), col("sum_qty"))
          .orderBy("flag", "status"),
      _ =>
        """SELECT COALESCE(l_returnflag, 'ALL') AS flag,
          |  COALESCE(l_linestatus, 'ALL') AS status,
          |  CAST(count(*) AS BIGINT) AS n,
          |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
          |FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
          |ORDER BY flag, status""".stripMargin),
    // --- sources: schema'd JSON fixture ingest + catalog table scan ---
    Query("a1_json_scan",
      (s, dir) => {
        Corpus.ensure(s, dir)
        val schema = "doc_id LONG, ord INT, i INT, j INT, tag INT, score DOUBLE"
        s.read.schema(schema).json(Corpus.spotsJsonPath(dir))
          .groupBy(col("tag"))
          .agg(count(lit(1)).as("n"),
            sum(col("i") + col("j")).as("sum_ij"),
            floor(min(col("score")) * 1000000).cast("long").as("min_score_micro"))
          .orderBy("tag")
      },
      p =>
        s"""SELECT CAST(tag AS INT) AS tag, CAST(count(*) AS BIGINT) AS n,
           |  CAST(sum(i + j) AS BIGINT) AS sum_ij,
           |  CAST(floor(min(score) * 1000000) AS BIGINT) AS min_score_micro
           |FROM read_json('${p.spotsJson}') GROUP BY tag ORDER BY tag""".stripMargin),
    Query("a3_lang_prune",
      (s, dir) =>
        // partition-pruned read over the Hive lang-partitioned pages table
        // (SURVEY A2): the lang predicate prunes directories at planning time
        // (PlanSpec gates PartitionFilters); values oracle-checked against a
        // DuckDB hive_partitioning read of the same layout
        pages(s, dir)
          .filter(col("lang").isin("en", "ja"))
          .groupBy(col("lang"))
          .agg(count(lit(1)).as("n_pages"),
            sum(length(col("text"))).cast("long").as("sum_chars"),
            sum(length(col("html"))).cast("long").as("sum_html_bytes"))
          .orderBy("lang"),
      p =>
        s"""SELECT lang, CAST(count(*) AS BIGINT) AS n_pages,
           |  CAST(sum(length(text)) AS BIGINT) AS sum_chars,
           |  CAST(sum(octet_length(html)) AS BIGINT) AS sum_html_bytes
           |FROM read_parquet('${p.pages}', hive_partitioning=1)
           |WHERE lang IN ('en','ja') GROUP BY lang ORDER BY lang""".stripMargin),
    Query("a2_table_scan",
      (s, dir) => {
        // catalog path (spark.read.table / SQL over a registered table name):
        // the Iceberg-style access pattern of Pipeline.readPages
        docs(s, dir).createOrReplaceTempView("docs_v")
        s.sql("""SELECT lang, CAST(count(*) AS LONG) AS n_docs,
                |  CAST(sum(n_chars) AS LONG) AS sum_chars
                |FROM docs_v GROUP BY lang ORDER BY lang""".stripMargin)
      },
      _ =>
        """SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
          |  CAST(sum(n_chars) AS BIGINT) AS sum_chars
          |FROM documents GROUP BY lang ORDER BY lang""".stripMargin),
    // --- native Catalyst expression (SURVEY.md §7.3 stretch) ---
    Query("f1_f2h",
      (s, dir) =>
        docs(s, dir).select(col("doc_id"),
            concat(lit(FwPrefix), substring(col("text"), 1, 40), lit(FwSuffix)).as("fw"))
          .select(col("doc_id"), GraftFunctions.f2hExpr("fw").as("halfwidth"))
          .orderBy("doc_id"),
      _ => {
        val from = FwFrom.replace("'", "''")
        s"""SELECT doc_id, translate('$FwPrefix' || substring(text, 1, 40) || '$FwSuffix',
           |  '$from', '${FwTo.replace("'", "''")}') AS halfwidth
           |FROM documents ORDER BY doc_id""".stripMargin
      })
  )
  require(registry.map(_.name).distinct.size == registry.size,
    "duplicate query names: " +
      registry.groupBy(_.name).collect { case (n, qs) if qs.size > 1 => n }.mkString(", "))

  def queries: Map[String, (SparkSession, String) => DataFrame] =
    registry.map(q => q.name -> q.spark).toMap

  /** Every oracle text over the correctness corpus (sf0.01). */
  def oracleSql: Map[String, String] = oracleSqlFor("sf0.01")

  /** Every oracle text over the synthetic corpus of `sf`. */
  def oracleSqlFor(sf: String): Map[String, String] = {
    val globs = corpusGlobs(sf)
    registry.map(q => q.name -> q.oracle(globs)).toMap
  }
}
