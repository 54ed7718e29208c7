package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.engine.Pipeline
import graft.ops.ColFns.{h32, sqlH32}

/** The composed crawl-side flagship (x9) — the web half of what p8 is for
  * the prep side: policy gate -> extraction -> authority join -> host cap
  * as ONE query, so one oracle pins every cross-operator contract:
  *
  *   1. [[Prep.robotsRules]] decides fetchability per url (Google
  *      longest-match) and the DISALLOWED pages never reach the parse
  *      kernel (the policy-before-parse cost rule: at 10^12 pages, every
  *      skipped parse is the win);
  *   2. [[Pipeline.extract]] runs only on the allowed slice (semi-join —
  *      no payload duplication);
  *   3. [[LinkGraph.hostRank]] computed over the FULL crawl's link graph
  *      (authority comes from everyone who links to you, including pages
  *      you may not fetch) joins each extracted doc's host;
  *   4. a per-host contribution cap (the staged top-k,
  *      [[Ranks.topKPerGroup]], k smallest salted hashes) bounds any one
  *      host's share of the output corpus.
  *
  * Output: (url, host, nKv, pr, rn) per surviving doc. The oracle
  * composes the SAME pieces: the p15 SQL as a nested subquery, the g1
  * unrolled-CTE rank, the golden extraction parquet as the kernel truth,
  * and the single-window cap the two-stage form provably equals.
  */
object WebPipeline {

  def webPipeline(pages: DataFrame, k: Int = 10): DataFrame = {
    // the robots gate is row-local (Prep.robotsAllowed): the former
    // allowed-set SEMI-JOIN shuffled every page's payload by url to make a
    // per-row yes/no decision (guide §8 anti-pattern); as a filter the
    // disallowed pages die in the scan and NOTHING shuffles before the
    // parse kernel
    val gated = pages.filter(Prep.robotsAllowed(col("url")))
    val ext = Pipeline.extract(gated)
      .toDF().select(col("url"), col("host"), col("nKv"))
    val ranked = ext.join(LinkGraph.hostRank(pages), Seq("host"))
      .withColumn("pri", h32(concat(col("url"), lit(":wp"))))
    Ranks.topKPerGroup(ranked, col("host"), col("pri"), Seq(col("pri"), col("url")), k, "rn")
      .select(col("url"), col("host"), col("nKv"), col("pr"), col("rn"))
      .orderBy(col("url"))
  }

  /** DuckDB mirror: the p15/g1 builders nested as subqueries (one
    * definition each), the golden parquet as extraction truth, and the
    * semantically-equal single-window cap.
    */
  def webPipelineSql(pagesGlob: String, goldenGlob: String, k: Int = 10): String =
    s"""WITH allowed AS (SELECT url FROM (
       |${Prep.robotsRulesSql(pagesGlob)}
       |) WHERE allow = 1),
       |rnk AS (SELECT * FROM (
       |${LinkGraph.hostRankSql(pagesGlob)}
       |)),
       |g AS (SELECT url, host, nKv FROM read_parquet('$goldenGlob')),
       |j AS (SELECT g.url, g.host, g.nKv, r.pr,
       |    ${sqlH32("g.url || ':wp'")} AS pri
       |  FROM g JOIN allowed USING (url) JOIN rnk r ON r.host = g.host),
       |capped AS (SELECT url, host, nKv, pr,
       |    ROW_NUMBER() OVER (PARTITION BY host ORDER BY pri, url) AS rn
       |  FROM j)
       |SELECT url, host, nKv, pr, CAST(rn AS INT) AS rn
       |FROM capped WHERE rn <= $k ORDER BY url""".stripMargin
}
