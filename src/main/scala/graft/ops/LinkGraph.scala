package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.engine.Pipeline
import graft.html.HtmlParser
import graft.ops.ColFns.{h32, sqlH32, sqlUrlHost, urlHost}

/** Host link-graph operators over the web-pages table: anchor-edge
  * extraction (x6), iterative host PageRank (g1) and the politeness-aware
  * crawl-frontier schedule built from it (g2).
  *
  * The reference pipeline stops at per-document extraction; a crawl-scale
  * corpus additionally needs the cross-document link structure — which
  * hosts point at which (selection/authority signal), and in what order to
  * re-crawl them. These are the three standard pieces:
  *
  *  - [[linkEdges]]: per-page anchor hrefs (the real DOM parser, the same
  *    one the extraction kernel uses — not a regex) resolved against the
  *    page's own host and aggregated to weighted host->host edges. ONE
  *    shuffle, map-side partial counts; the page-level frame never leaves
  *    the kernel stage.
  *  - [[hostRank]]: damped PageRank over those edges in EXACT integer
  *    arithmetic — rank carried as BIGINT micro-units, per-edge
  *    contribution `(r * w) div out_w`, damping `150000 + (85*m) div 100`
  *    — integral floor-division on non-negative longs is bit-identical in
  *    Spark (`div`) and DuckDB (`//`), so a fixed-iteration unrolled-CTE
  *    oracle can pin the whole fixpoint without any float drift.
  *  - [[frontierSchedule]]: the crawl order a polite fetcher reads:
  *    `slot` = the page's position within its host (bounded per-host
  *    window — NEVER a global row_number), rounds ordered slot-first so
  *    each round touches every host at most once, high-rank hosts first
  *    within a round.
  *
  * 100-TB posture: the page->edge pass is map-only into a partial-agg
  * shuffle keyed on (src_host, dst_host) — the aggregated graph is
  * host-pair-bounded, orders of magnitude smaller than the corpus, and is
  * localCheckpoint'ed once so the rank loop's joins never re-run the parse
  * kernel. Rank iterations are equi-joins + partial aggs on host keys with
  * no collect and no lineage growth beyond the fixed iteration count;
  * nothing broadcast-forced (AQE picks broadcast at small host counts,
  * shuffle-join when the host table is genuinely large).
  */
object LinkGraph {

  /** All `(href, anchor text)` pairs in document order, via the engine's
    * own DOM parser (entity-decoded attribute values, nested children
    * flattened into the anchor text, tag-soup tolerant) — one definition
    * with the extraction path's view of the page.
    */
  def anchors(html: String): List[(String, String)] = {
    val out = List.newBuilder[(String, String)]
    def rec(nd: HtmlParser.Node): Unit = nd match {
      case HtmlParser.Text(_) => ()
      case e @ HtmlParser.Elem(tag, attrs, kids) =>
        if (tag == "a") attrs.get("href").filter(_.nonEmpty).foreach { href =>
          out += ((href, HtmlParser.textContent(e)))
        }
        kids.foreach(rec)
    }
    rec(HtmlParser.parse(html))
    out.result()
  }

  /** All `<a href>` values in document order (see [[anchors]]). */
  def anchorHrefs(html: String): List[String] = anchors(html).map(_._1)

  /** Target host of an href seen on `srcHost`: absolute http(s) and
    * protocol-relative (`//host/...`) hrefs carry their own authority,
    * root-relative hrefs resolve to the source host, anything else
    * (mailto:, fragment-only, path-relative) is out of the edge contract
    * and dropped. Returns null for dropped hrefs.
    */
  def resolveHost(srcHost: String, href: String): String =
    if (href.startsWith("http://") || href.startsWith("https://")) {
      val h = Pipeline.hostOf(href)
      if (h.isEmpty) null else h
    } else if (href.startsWith("//")) {
      val h = Pipeline.hostOf("https:" + href)
      if (h.isEmpty) null else h
    } else if (href.startsWith("/")) srcHost
    else null

  /** Weighted host->host anchor edges: (src_host, dst_host, n_links). */
  def linkEdges(pages: DataFrame): DataFrame =
    linkEdgesRaw(pages)
      .groupBy(col("src_host"), col("dst_host"))
      .agg(count(lit(1)).as("n_links"))
      .orderBy(col("src_host"), col("dst_host"))

  /** Page-level (src_host, dst_host) rows straight out of the parse
    * kernel — unaggregated, feeding [[linkEdges]] and [[hostRank]].
    */
  private def linkEdgesRaw(pages: DataFrame): DataFrame = {
    val sess = pages.sparkSession
    import sess.implicits._
    pages
      .select(col("url"), col("html"))
      .as[(String, Array[Byte])]
      .flatMap { case (url, html) =>
        val src = Pipeline.hostOf(url)
        val doc = new String(html, java.nio.charset.StandardCharsets.UTF_8)
        anchorHrefs(doc).iterator.flatMap { href =>
          val dst = resolveHost(src, href)
          if (dst == null) Iterator.empty else Iterator((src, dst))
        }
      }
      .toDF("src_host", "dst_host")
  }

  /** Per-target-host top-k anchor terms — the "what the web calls this
    * host" signal a search/selection pipeline reads (anchor text is the
    * classic off-page relevance feature). Kernel emits (dst_host, term)
    * straight out of the anchor traversal; ONE partial-agg shuffle to
    * (dst_host, term) counts; top-k per host is the two-stage group-limit
    * (WindowGroupLimit pushes rn<=k map-side, so the per-host window
    * never sees more than k·partitions rows — the repo-wide staged top-k
    * discipline).
    */
  def anchorTerms(pages: DataFrame, k: Int = 5): DataFrame = {
    val sess = pages.sparkSession
    import sess.implicits._
    val terms = pages
      .select(col("url"), col("html"))
      .as[(String, Array[Byte])]
      .flatMap { case (url, html) =>
        val src = Pipeline.hostOf(url)
        val doc = new String(html, java.nio.charset.StandardCharsets.UTF_8)
        anchors(doc).iterator.flatMap { case (href, text) =>
          val dst = resolveHost(src, href)
          if (dst == null) Iterator.empty
          else text.split(' ').iterator.filter(_.nonEmpty).map(t => (dst, t))
        }
      }
      .toDF("dst_host", "term")
    val counts = terms
      .groupBy(col("dst_host"), col("term"))
      .agg(count(lit(1)).as("n"))
    val rn = row_number().over(
      Window.partitionBy(col("dst_host")).orderBy(col("n").desc, col("term")))
    counts
      .withColumn("rn", rn)
      .filter(col("rn") <= k)
      .orderBy(col("dst_host"), col("rn"))
  }

  final val RankScale = 1000000L // rank unit: 1.0 == 1e6 micro-units

  /** Damped PageRank over the host graph in exact BIGINT micro-units,
    * `iters` fixed iterations: r0 = 1e6 per host;
    * r'(h) = 150000 + (85 * sum_in[(r(g)*w) div out_w(g)]) div 100.
    * Dangling mass (hosts with no outlinks) and the flooring remainder are
    * deliberately dropped — identically in both engines — so ranks are
    * reproducible integers, not normalized probabilities.
    */
  def hostRank(pages: DataFrame, iters: Int = 3): DataFrame = {
    // materialize the aggregated graph once: the rank loop must join the
    // EDGES, never re-run the parse kernel per iteration
    val edges = linkEdgesRaw(pages)
      .groupBy(col("src_host"), col("dst_host"))
      .agg(count(lit(1)).as("n_links"))
      .localCheckpoint()
    val nodes = edges.select(col("src_host").as("host"))
      .union(edges.select(col("dst_host").as("host")))
      .distinct()
      .localCheckpoint()
    val outW = edges.groupBy(col("src_host"))
      .agg(sum(col("n_links")).as("ow"))
    var r = nodes.select(col("host"), lit(RankScale).as("pr"))
    var i = 0
    while (i < iters) {
      val contrib = edges
        .join(r.withColumnRenamed("host", "src_host").withColumnRenamed("pr", "rs"), "src_host")
        .join(outW, "src_host")
        .select(col("dst_host").as("host"), expr("(rs * n_links) div ow").as("c"))
        .groupBy(col("host"))
        .agg(sum(col("c")).as("m"))
      r = nodes.join(contrib, Seq("host"), "left")
        .select(col("host"),
          expr("150000L + (85L * coalesce(m, 0L)) div 100L").as("pr"))
      i += 1
    }
    r.orderBy(col("host"))
  }

  /** Politeness-aware crawl-frontier schedule: every url with its per-host
    * fetch slot (1-based position within its host, deterministic salted-
    * hash order) and its host's rank; the fetch order is
    * (slot ASC, pr DESC, host, url) — round-robin across hosts so no host
    * is hammered, authority hosts first within each round.
    */
  def frontierSchedule(pages: DataFrame, iters: Int = 3): DataFrame = {
    val withHost = pages.select(
      col("url"),
      urlHost(col("url")).as("host"))
    val slot = row_number().over(
      Window.partitionBy(col("host")).orderBy(h32(col("url")), col("url")))
    withHost
      .withColumn("slot", slot)
      .join(hostRank(pages, iters), Seq("host")) // rank's orderBy dissolves under the join
      .select(col("url"), col("host"), col("slot"), col("pr"))
      .orderBy(col("slot"), col("pr").desc, col("host"), col("url"))
  }

  /** Pointer-doubling rounds of [[resolveRedirects]]; see its bound. */
  private val RedirectRounds = 2

  /** Redirect-chain resolution by POINTER DOUBLING — the crawl-store
    * canonicalization a fetcher needs before dedup (a url that 301s
    * through k hops must map to its final target): after r rounds every
    * chain of length <= 2^r is resolved, so the work is log-bounded in the
    * chain length — the naive follow-one-hop-per-round walk would need
    * max-chain-length corpus joins. Each round is ONE
    * self-equi-join on the successor key (`next' = next(next)`, hops
    * accumulate as `hops(u) + hops(next(u))`), with finals as fixed
    * points (next = self, hops = 0), and a localCheckpoint per round so
    * plan depth stays constant.
    *
    * The corpus ships no redirects, so the map is constructed
    * deterministically in BOTH engines (the p6/t7 pattern) from the url's
    * own doc index: docs with i % 4 != 3 redirect to doc i+1
    * (reconstructed through the corpus url rule, kept only when the
    * target exists) — real chains of length up to 3, no cycles. Output:
    * (url, final_url, hops) with hops EXACT.
    *
    * [[RedirectRounds]] = 2 rounds are exact for EVERY input, not just this
    * corpus: an edge always runs from doc index i to i + 1 and exists only
    * while i % 4 != 3, so along any chain the index climbs by one per hop
    * and the chain ends by the first index with i % 4 == 3 — at most 3
    * hops, while 2 rounds resolve up to 2^2 = 4. (A url without a doc index
    * has no edge.) So no chain is ever left half-resolved.
    */
  def resolveRedirects(pages: DataFrame): DataFrame = {
    val langs = graft.synth.CorpusGen.Langs
    val base = pages.select(col("url"),
      regexp_extract(col("url"), "doc-([0-9]+)$", 1).cast("long").as("i"))
    val j = col("i") + 1
    val host = when(j % 10 < 3, lit("host-0"))
      .otherwise(concat(lit("host-"), (j % 97 + 1).cast("string")))
    val lang = element_at(typedlit(langs), (j % 8).cast("int") + 1)
    val target = concat(lit("https://"), host, lit(".example/"), lang,
      lit("/doc-"), j.cast("string"))
    val edges = base.filter(col("i") % 4 =!= 3)
      .select(col("url"), target.as("nxt"))
      .join(pages.select(col("url").as("nxt")), Seq("nxt"), "left_semi")
    var p = base.select(col("url"))
      .join(edges, Seq("url"), "left")
      .select(col("url"), coalesce(col("nxt"), col("url")).as("nxt"),
        when(col("nxt").isNull, 0L).otherwise(1L).as("hops"))
      .localCheckpoint()
    var r = 0
    while (r < RedirectRounds) {
      p = p.join(
          p.select(col("url").as("nxt"), col("nxt").as("nxt2"),
            col("hops").as("hops2")), Seq("nxt"))
        .select(col("url"), col("nxt2").as("nxt"),
          (col("hops") + col("hops2")).as("hops"))
        .localCheckpoint()
      r += 1
    }
    p.select(col("url"), col("nxt").as("final_url"), col("hops"))
      .orderBy(col("url"))
  }

  /** DuckDB mirror of [[resolveRedirects]]: the same constructed redirect
    * map, resolved by a recursive walk (arg_max over hop prefixes — the
    * semantics the doubling provably equals on acyclic chains).
    */
  def resolveRedirectsSql(pagesGlob: String): String = {
    val langList = graft.synth.CorpusGen.Langs.map(l => s"'$l'").mkString("[", ", ", "]")
    s"""WITH RECURSIVE base AS (SELECT url,
       |    CAST(regexp_extract(url, 'doc-([0-9]+)$$', 1) AS BIGINT) AS i
       |  FROM read_parquet('$pagesGlob', hive_partitioning=1)),
       |tgt AS (SELECT url, 'https://' ||
       |    CASE WHEN (i + 1) % 10 < 3 THEN 'host-0'
       |         ELSE 'host-' || CAST((i + 1) % 97 + 1 AS VARCHAR) END ||
       |    '.example/' || ($langList)[CAST((i + 1) % 8 AS INT) + 1] ||
       |    '/doc-' || CAST(i + 1 AS VARCHAR) AS nxt
       |  FROM base WHERE i % 4 <> 3),
       |edges AS (SELECT url, nxt FROM tgt
       |  WHERE nxt IN (SELECT url FROM base)),
       |walk(url, cur, hops) AS (
       |  SELECT url, url, 0 FROM base
       |  UNION ALL
       |  SELECT w.url, e.nxt, w.hops + 1
       |  FROM walk w JOIN edges e ON e.url = w.cur)
       |SELECT url, arg_max(cur, hops) AS final_url,
       |  CAST(max(hops) AS BIGINT) AS hops
       |FROM walk GROUP BY url ORDER BY url""".stripMargin
  }

  // ----- DuckDB mirrors -----

  /** DuckDB mirror of [[resolveHost]] over fragments `href`/`srcHost` —
    * ONE definition feeding every link oracle.
    */
  private def sqlResolveHost(href: String, srcHost: String): String =
    s"""CASE WHEN $href LIKE 'http://%' OR $href LIKE 'https://%'
       |         THEN NULLIF(${sqlUrlHost(href)}, '')
       |         WHEN $href LIKE '//%'
       |         THEN NULLIF(${sqlUrlHost(s"'https:' || $href")}, '')
       |         WHEN $href LIKE '/%' THEN $srcHost
       |         ELSE NULL END""".stripMargin

  /** Shared CTE chain ending in `edges(src_host, dst_host, n_links)` —
    * ONE definition feeding the x6, g1 and g2 oracles. The oracle reaches
    * the same edges independently: a regex scan over the decoded html
    * (our corpus puts href only on anchors) vs the engine's real parser.
    */
  private[ops] def linkEdgesCoreSql(pagesGlob: String): String =
    s"""p AS (SELECT url, decode(html) AS h
       |  FROM read_parquet('$pagesGlob', hive_partitioning=1)),
       |anc AS (SELECT ${sqlUrlHost("url")} AS src_host,
       |    unnest(regexp_extract_all(h, 'href="([^"]*)"', 1)) AS href FROM p),
       |res AS (SELECT src_host,
       |    ${sqlResolveHost("href", "src_host")} AS dst_host
       |  FROM anc WHERE href <> ''),
       |edges AS (SELECT src_host, dst_host, CAST(count(*) AS BIGINT) AS n_links
       |  FROM res WHERE dst_host IS NOT NULL GROUP BY src_host, dst_host)""".stripMargin

  def linkEdgesSql(pagesGlob: String): String =
    s"""WITH ${linkEdgesCoreSql(pagesGlob)}
       |SELECT src_host, dst_host, n_links FROM edges
       |ORDER BY src_host, dst_host""".stripMargin

  /** x7 oracle: the anchor (href, text) pairs re-derived by regex — the
    * two capture groups extracted as parallel lists and zipped by index —
    * then the same resolve/split/count/top-k. The entity replace-chain
    * mirrors the engine's decode for the named entities the corpus can
    * emit (escape() writes no numeric refs).
    */
  def anchorTermsSql(pagesGlob: String, k: Int = 5): String = {
    val pat = "<a href=\"([^\"]*)\">([^<]*)</a>"
    val decoded = "replace(replace(replace(replace(replace(atext," +
      "'&lt;','<'),'&gt;','>'),'&quot;','\"'),'&apos;',''''),'&amp;','&')"
    s"""WITH p AS (SELECT url, decode(html) AS h
       |  FROM read_parquet('$pagesGlob', hive_partitioning=1)),
       |ex AS (SELECT ${sqlUrlHost("url")} AS src_host,
       |    regexp_extract_all(h, '$pat', 1) AS hs,
       |    regexp_extract_all(h, '$pat', 2) AS ts FROM p),
       |zi AS (SELECT src_host, hs, ts, unnest(generate_series(1, len(hs))) AS i FROM ex),
       |pair AS (SELECT src_host, hs[i] AS href, ts[i] AS atext FROM zi),
       |res AS (SELECT ${sqlResolveHost("href", "src_host")} AS dst_host, $decoded AS dtext
       |  FROM pair WHERE href <> ''),
       |t AS (SELECT dst_host,
       |    unnest(list_filter(string_split(dtext, ' '), w -> w <> '')) AS term
       |  FROM res WHERE dst_host IS NOT NULL),
       |c AS (SELECT dst_host, term, CAST(count(*) AS BIGINT) AS n
       |  FROM t GROUP BY dst_host, term),
       |rk AS (SELECT dst_host, term, n,
       |    CAST(ROW_NUMBER() OVER (PARTITION BY dst_host ORDER BY n DESC, term) AS INT) AS rn
       |  FROM c)
       |SELECT dst_host, term, n, rn FROM rk WHERE rn <= $k
       |ORDER BY dst_host, rn""".stripMargin
  }

  /** CTE chain ending in `r$iters(host, pr)` — the PageRank recurrence
    * unrolled (aggregation inside a recursive CTE is non-standard; a
    * fixed-depth unroll is portable and exactly mirrors the engine's
    * fixed-iteration loop).
    */
  private[ops] def hostRankCoreSql(pagesGlob: String, iters: Int): String = {
    val sb = new StringBuilder
    sb ++= linkEdgesCoreSql(pagesGlob)
    sb ++= s""",
       |nodes AS (SELECT DISTINCT host FROM (
       |  SELECT src_host AS host FROM edges
       |  UNION ALL SELECT dst_host AS host FROM edges)),
       |outw AS (SELECT src_host, CAST(sum(n_links) AS BIGINT) AS ow
       |  FROM edges GROUP BY src_host),
       |r0 AS (SELECT host, CAST($RankScale AS BIGINT) AS pr FROM nodes)""".stripMargin
    var i = 1
    while (i <= iters) {
      sb ++= s""",
         |r$i AS (SELECT n.host,
         |    CAST(150000 + (85 * COALESCE(s.m, 0)) // 100 AS BIGINT) AS pr
         |  FROM nodes n LEFT JOIN (
         |    SELECT e.dst_host AS host,
         |      CAST(sum((r.pr * e.n_links) // o.ow) AS BIGINT) AS m
         |    FROM edges e
         |    JOIN r${i - 1} r ON r.host = e.src_host
         |    JOIN outw o ON o.src_host = e.src_host
         |    GROUP BY e.dst_host) s ON s.host = n.host)""".stripMargin
      i += 1
    }
    sb.toString
  }

  def hostRankSql(pagesGlob: String, iters: Int = 3): String =
    s"""WITH ${hostRankCoreSql(pagesGlob, iters)}
       |SELECT host, pr FROM r$iters ORDER BY host""".stripMargin

  def frontierScheduleSql(pagesGlob: String, iters: Int = 3): String =
    s"""WITH ${hostRankCoreSql(pagesGlob, iters)},
       |pg AS (SELECT url, ${sqlUrlHost("url")} AS host
       |  FROM read_parquet('$pagesGlob', hive_partitioning=1)),
       |slotted AS (SELECT url, host,
       |    CAST(ROW_NUMBER() OVER (PARTITION BY host
       |      ORDER BY ${sqlH32("url")}, url) AS INT) AS slot
       |  FROM pg)
       |SELECT s.url, s.host, s.slot, r.pr
       |FROM slotted s JOIN r$iters r ON r.host = s.host
       |ORDER BY s.slot, r.pr DESC, s.host, s.url""".stripMargin
}
