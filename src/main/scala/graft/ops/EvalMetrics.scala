package graft.ops

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.PairMetrics
import graft.engine.Eval
import graft.functions.H32Expression
import ColFns._

/** The reference's evaluation semantics (SURVEY.md §2 E1–E6) exposed as
  * oracle-checked queries: micro P/R/F1 of a prediction set against the
  * golden items of two granularities at a time (e1 kv + line, e2 entHead +
  * groupHead, e3 entTail + groupTail) and the kv + line TP/FP/FN detail
  * records (e4).
  *
  * The "prediction" is the golden set deterministically perturbed
  * (md5-derived per-item verdict: ~80% kept, ~10% duplicated, ~10%
  * dropped), so precision/recall are non-trivial AND the reference's
  * duplicate-membership counting quirk (evaluation.py:31-33 — a duplicated
  * correct prediction counts twice) is genuinely exercised end-to-end.
  *
  * Each query is one [[Gran]] pair fed to one Spark function and one SQL
  * generator. The engine path runs the real kernels
  * ([[PairMetrics.membershipCounts]], [[PairMetrics.detail]]) inside a
  * typed map + hash aggregate; the DuckDB oracle recomputes the same counts
  * relationally with list functions — two independent code paths over the
  * same algebra. Items are strings, printed as [[Eval]] prints them
  * (`key U+0001 value`, `head:tail`), so both engines hash the same text.
  */
object EvalMetrics {

  /** One granularity as the perturbed-eval queries read it: its column
    * prefix, the SQL aliases of its golden and perturbed item lists, the
    * golden fields it selects, the typed item builder over those fields
    * (starting at a row offset) and the DuckDB item expression.
    */
  private final case class Gran(name: String, gold: String, fields: Seq[String],
      items: (Row, Int) => Seq[String], sqlItems: String) {
    def pred: String = "p" + name
    def counted: Seq[String] = Eval.countColumns(name)
  }

  private def kvItems(keys: Seq[String], values: Seq[String]): Seq[String] =
    keys.iterator.zip(values.iterator).map { case (k, v) => Eval.showKv(k, v) }.toVector

  private val Kv = Gran("kv", "gkv", Seq("kv.key", "kv.value"),
    (r, i) => kvItems(r.getSeq[String](i), r.getSeq[String](i + 1)),
    """list_transform(kv, x -> x."key" || chr(1) || x."value")""")

  private val Line = Gran("ln", "gln", Seq("lines.text"), (r, i) => r.getSeq[String](i),
    "list_transform(lines, l -> l.text)")

  /** A head -> tails multimap flattened to one item per (head, tail). */
  private def multimap(name: String, gold: String, field: String): Gran =
    Gran(name, gold, Seq(s"$field.head", s"$field.tails"),
      (r, i) => r.getSeq[Int](i).iterator.zip(r.getSeq[collection.Seq[Int]](i + 1).iterator)
        .flatMap { case (h, ts) => ts.map(t => Eval.showPair(h, t)) }.toVector,
      s"flatten(list_transform($field, x -> list_transform(x.tails, t -> x.head || ':' || t)))")

  private def pairList(name: String, gold: String, field: String): Gran =
    Gran(name, gold, Seq(s"$field.head", s"$field.tail"),
      (r, i) => r.getSeq[Int](i).iterator.zip(r.getSeq[Int](i + 1).iterator)
        .map { case (h, t) => Eval.showPair(h, t) }.toVector,
      s"list_transform($field, p -> p.head || ':' || p.tail)")

  // e3's entTail alias is `get1`; the oracle text keeps it
  private val EntHead = multimap("eh", "geh", "entHead")
  private val GroupHead = pairList("gh", "ggh", "groupHead")
  private val EntTail = multimap("et", "get1", "entTail")
  private val GroupTail = pairList("gl", "ggl", "groupTail")

  /** verdict bucket 0..9 for one item: < 8 keep, == 8 duplicate, else drop.
    * Runs inside the typed eval kernels (the earlier `flatten(transform(..))`
    * column form was CodegenFallback — interpreted per element — and sat in
    * four oracle queries' hot loop).
    */
  private def perturbItems(url: String, items: Seq[String]): Seq[String] =
    items.flatMap { x =>
      val m = H32Expression.compute(url + "|" + x) % 10
      if (m < 8) x :: Nil else if (m == 8) x :: x :: Nil else Nil
    }

  /** url plus the golden fields of `a` and `b`, nothing else. */
  private def golden(spark: SparkSession, goldenPath: String, a: Gran, b: Gran): DataFrame =
    spark.read.parquet(goldenPath).select(col("url") +: (a.fields ++ b.fields).map(col): _*)

  /** The golden items of `a` and `b` in one [[golden]] row. */
  private def goldItems(r: Row, a: Gran, b: Gran): Seq[Seq[String]] =
    Seq(a.items(r, 1), b.items(r, 1 + a.fields.size))

  private def perturbedCounts(spark: SparkSession, goldenPath: String, a: Gran, b: Gran): DataFrame = {
    import spark.implicits._
    val counts = golden(spark, goldenPath, a, b)
      .map { r =>
        val url = r.getString(0)
        val Seq(ca, cb) = goldItems(r, a, b)
          .map(g => PairMetrics.membershipCounts(perturbItems(url, g), g))
        (url, ca.pred, ca.gt, ca.correct, cb.pred, cb.gt, cb.correct)
      }
      .toDF("url" +: (a.counted ++ b.counted): _*)
    val agged = counts.dropDuplicates("url")
      .agg(count(lit(1)).as("nDocs"), (a.counted ++ b.counted).map(c => sum(c).as(c)): _*)
    Seq(a, b).foldLeft(agged) { (df, x) =>
      val (p, r, f1) = Eval.prf(x.name)
      df.withColumn(s"${x.name}PMicro", micro(p))
        .withColumn(s"${x.name}RMicro", micro(r))
        .withColumn(s"${x.name}F1Micro", micro(f1))
    }
  }

  def perturbedEval(spark: SparkSession, goldenPath: String): DataFrame =
    perturbedCounts(spark, goldenPath, Kv, Line)

  /** Linking granularities (SURVEY.md §2 E6 multimap flatten + E1). */
  def perturbedLinkEval(spark: SparkSession, goldenPath: String): DataFrame =
    perturbedCounts(spark, goldenPath, EntHead, GroupHead)

  /** Tail granularities: with e1 and e2 they complete the reference's six
    * (pipeline/evaluation.py:210-665).
    */
  def perturbedTailEval(spark: SparkSession, goldenPath: String): DataFrame =
    perturbedCounts(spark, goldenPath, EntTail, GroupTail)

  /** Per-sample TP/FP/FN detail rows over the perturbed prediction — the
    * reference's `--save_eval_detail` record shape (evaluation.py:72-93)
    * driven through the REAL [[PairMetrics.detail]] kernel, oracle-checked
    * row-by-row (verdict multiplicity and FN semantics pinned exactly).
    */
  def perturbedDetail(spark: SparkSession, goldenPath: String): DataFrame = {
    import spark.implicits._
    // decoded through a typed tuple (url, kv keys, kv values, line texts)
    golden(spark, goldenPath, Kv, Line)
      .as[(String, Seq[String], Seq[String], Seq[String])]
      .flatMap { case (url, keys, values, texts) =>
        Seq("kv" -> kvItems(keys, values), "line" -> texts).flatMap { case (name, g) =>
          PairMetrics.detail(perturbItems(url, g), g).map { case (v, i) => (url, name, v, i) }
        }
      }
      .toDF("url", "granularity", "verdict", "item")
      .orderBy("url", "granularity", "verdict", "item")
  }

  // ----- DuckDB oracles -----

  private def perturbSql(items: String): String = {
    val m = sqlH32("url || '|' || x") + " % 10"
    s"flatten(list_transform($items, x -> CASE WHEN $m < 8 THEN [x] WHEN $m = 8 THEN [x,x] ELSE [] END))"
  }

  private def prfSql(g: String): String = {
    val p = s"CASE WHEN ${g}Pred > 0 THEN CAST(${g}Correct AS DOUBLE)/CAST(${g}Pred AS DOUBLE) ELSE 0.0 END"
    val r = s"CASE WHEN ${g}Gt > 0 THEN CAST(${g}Correct AS DOUBLE)/CAST(${g}Gt AS DOUBLE) ELSE 0.0 END"
    s"""${sqlMicro(p)} AS ${g}PMicro, ${sqlMicro(r)} AS ${g}RMicro,
       |  ${sqlMicro(s"CASE WHEN ($p) + ($r) > 0 THEN 2.0*($p)*($r)/(($p) + ($r)) ELSE 0.0 END")} AS ${g}F1Micro""".stripMargin
  }

  /** The `g` (golden items) and `p` (golden + perturbed items) CTEs. */
  private def itemsSql(goldenGlob: String, a: Gran, b: Gran): String =
    s"""WITH g AS (SELECT url,
       |    ${a.sqlItems} AS ${a.gold},
       |    ${b.sqlItems} AS ${b.gold}
       |  FROM read_parquet('$goldenGlob')),
       |p AS (SELECT url, ${a.gold}, ${b.gold}, ${perturbSql(a.gold)} AS ${a.pred}, ${perturbSql(b.gold)} AS ${b.pred} FROM g)""".stripMargin

  private def evalSql(goldenGlob: String, a: Gran, b: Gran): String = {
    def perDoc(x: Gran): String =
      s"""CAST(len(${x.pred}) AS BIGINT) AS ${x.name}Pred, CAST(len(${x.gold}) AS BIGINT) AS ${x.name}Gt,
         |    CAST(len(list_filter(${x.pred}, x -> list_contains(${x.gold}, x))) AS BIGINT) AS ${x.name}Correct""".stripMargin
    def summed(x: Gran): String =
      s"""CAST(sum(${x.name}Pred) AS BIGINT) AS ${x.name}Pred, CAST(sum(${x.name}Gt) AS BIGINT) AS ${x.name}Gt,
         |    CAST(sum(${x.name}Correct) AS BIGINT) AS ${x.name}Correct""".stripMargin
    s"""${itemsSql(goldenGlob, a, b)},
       |c0 AS (SELECT url,
       |    ${perDoc(a)},
       |    ${perDoc(b)}
       |  FROM p),
       |c AS (SELECT * FROM (SELECT c0.*, row_number() OVER (PARTITION BY url ORDER BY url) AS rn
       |  FROM c0) WHERE rn = 1),
       |a AS (SELECT CAST(count(*) AS BIGINT) AS nDocs,
       |    ${summed(a)},
       |    ${summed(b)}
       |  FROM c)
       |SELECT nDocs, ${(a.counted ++ b.counted).mkString(", ")},
       |  ${prfSql(a.name)},
       |  ${prfSql(b.name)}
       |FROM a""".stripMargin
  }

  def perturbedEvalSql(goldenGlob: String): String = evalSql(goldenGlob, Kv, Line)
  def perturbedLinkEvalSql(goldenGlob: String): String = evalSql(goldenGlob, EntHead, GroupHead)
  def perturbedTailEvalSql(goldenGlob: String): String = evalSql(goldenGlob, EntTail, GroupTail)

  def perturbedDetailSql(goldenGlob: String): String =
    s"""${itemsSql(goldenGlob, Kv, Line)},
       |tpfp AS (
       |  SELECT url, 'kv' AS granularity,
       |    CASE WHEN list_contains(gkv, x) THEN 'TP' ELSE 'FP' END AS verdict, x AS item
       |  FROM p, unnest(pkv) AS t(x)
       |  UNION ALL
       |  SELECT url, 'line',
       |    CASE WHEN list_contains(gln, x) THEN 'TP' ELSE 'FP' END, x
       |  FROM p, unnest(pln) AS t(x)),
       |fn AS (
       |  SELECT url, 'kv' AS granularity, 'FN' AS verdict, x AS item
       |  FROM p, unnest(gkv) AS t(x) WHERE NOT list_contains(pkv, x)
       |  UNION ALL
       |  SELECT url, 'line', 'FN', x
       |  FROM p, unnest(gln) AS t(x) WHERE NOT list_contains(pln, x))
       |SELECT url, granularity, verdict, item
       |FROM (SELECT * FROM tpfp UNION ALL SELECT * FROM fn)
       |ORDER BY url, granularity, verdict, item""".stripMargin
}
