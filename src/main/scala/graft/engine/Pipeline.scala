package graft.engine

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, Dataset, Encoder, Encoders, Observation, SparkSession}
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions._
import graft.core._
import graft.html.Lineizer

/** The engine: Common-Crawl-style pages -> decoded documents, expressed as
  * typed Dataset stages over Catalyst (SURVEY.md §3.4).
  *
  * Scale posture (10^12 docs / 1000 executors):
  *  - the kernel is map-only per document; a run's ONE shuffle is the hash
  *    exchange on `bucket` feeding the write. `bucket` is a url hash,
  *    uniform by construction: no range sampling, no host salting;
  *  - `html` (the fat binary column) is pruned at scan time via an explicit
  *    select, and dropped from the output row immediately after lineize;
  *  - nothing is cached or read back: lineage is tallied during the write;
  *  - files are data-sized: each write task commits one Parquet file sorted
  *    by (bucket, url), so a file's lineage is a url range per bucket and a
  *    call's file count follows the exchange width, not the bucket count;
  *  - the lineage ledger is the commit: a decoded file counts exactly when
  *    its buckets are in the ledger, so a resumed run redoes only the
  *    buckets no earlier run finished (anti-join against the ledger);
  *  - nothing driver-side is O(docs);
  *  - local commits fork nothing: without libhadoop, Hadoop's `file:`
  *    file system forks a `chmod` for every file, `.crc` and directory it
  *    creates, so both writes pass [[LocalFs.WriteOptions]], which route
  *    `file:` through [[LocalFs]] (same modes, set through NIO). The
  *    options name only the `file:` scheme: a no-op elsewhere.
  */
object Pipeline {

  final val DefaultBuckets = 256

  /** The row encoders, derived once: deriving one runs Scala reflection
    * over the case class, which `spark.implicits._` repeats on every call.
    */
  private lazy val PageSlimEnc: Encoder[PageSlim] = Encoders.product[PageSlim]
  private lazy val DocOutEnc: Encoder[DocOut] = Encoders.product[DocOut]
  private lazy val LineageEnc: Encoder[LineageRow] = Encoders.product[LineageRow]
  private lazy val DigestPageEnc: Encoder[(String, Array[Byte], String, Long)] = Encoders.product
  private lazy val DigestDocEnc: Encoder[(DocOut, Long)] = Encoders.product

  /** Cheap host extraction (no java.net.URI exceptions in the hot path). */
  def hostOf(url: String): String = {
    val schemeEnd = url.indexOf("://")
    val start = if (schemeEnd >= 0) schemeEnd + 3 else 0
    var end = start
    while (end < url.length && url.charAt(end) != '/' && url.charAt(end) != ':' &&
      url.charAt(end) != '?' && url.charAt(end) != '#') end += 1
    url.substring(start, end)
  }

  /** Deterministic bucket for resume/write idempotency. */
  def bucketOf(url: String, buckets: Int): Int = UrlBucket.of(url, buckets)

  /** The per-document classify+decode kernel (SURVEY.md §2 D9): html ->
    * lineize -> heuristic spots -> decode. Pure; shared with the oracle.
    */
  def extractDoc(url: String, html: Array[Byte], lang: String, buckets: Int): DocOut = {
    val t0 = System.nanoTime()
    // byte-level scan: the whole-page String conversion (~html-sized
    // allocation per doc) never happens on the hot path
    val ann = Lineizer.lineizeStreamBytes(html, url)
    val sample = DocBuilder.build(ann)
    val d = DocBuilder.decodeSample(sample)
    docOut(url, lang, buckets, sample.nTokens, d, (System.nanoTime() - t0) / 1000L)
  }

  /** A decoded document as the engine's output row; shared by
    * [[extractDoc]] and the golden corpus (`Corpus.goldenFor`).
    */
  def docOut(url: String, lang: String, buckets: Int, nTokens: Int,
      d: DecodedDoc, kernelUs: Long): DocOut =
    DocOut(
      url = url,
      host = hostOf(url),
      lang = lang,
      bucket = bucketOf(url, buckets),
      nTokens = nTokens,
      nLines = d.lines.length,
      nKv = d.kvPairs.length,
      kernelUs = kernelUs,
      text = d.extractedText,
      lines = d.lines.map(l => LineOut(l.text, l.box)),
      kv = d.kvPairs.map(p => KvOut(p.key, p.value, p.keyBox, p.valueBox)),
      lineExtraction = d.lineExtraction.map(p => PairOut(p._1, p._2)),
      entHead = d.entHead.map(m => MultiOut(m._1, m._2)),
      entTail = d.entTail.map(m => MultiOut(m._1, m._2)),
      groupHead = d.groupHead.map(p => PairOut(p._1, p._2)),
      groupTail = d.groupTail.map(p => PairOut(p._1, p._2))
    )

  /** Read the pages table. Iceberg-format when a catalog table name is
    * given and the runtime is present; Parquet path otherwise (identical
    * downstream code — SURVEY.md §7.0). A path is read with the declared
    * [[PageSlim]] schema: no footer pass over the input infers it.
    */
  def readPages(spark: SparkSession, pathOrTable: String): DataFrame =
    if (pathOrTable.contains("/")) spark.read.schema(PageSlimEnc.schema).parquet(pathOrTable)
    else spark.read.table(pathOrTable)

  /** Main extraction stage: prune to (url, html, lang) then run the typed
    * kernel over partitions. `html` never survives this stage.
    */
  def extract(pages: DataFrame, buckets: Int = DefaultBuckets): Dataset[DocOut] =
    pages
      .select(col("url"), col("html"), col("lang"))
      .as(PageSlimEnc)
      .mapPartitions { (it: Iterator[PageSlim]) =>
        it.map(p => extractDoc(p.url, p.html, p.lang, buckets))
      }(DocOutEnc)

  /** [[extract]] plus an `html_x64` column — xxhash64 of the html bytes at
    * extract time, the change-detection key [[extractIncremental]] joins
    * on. The digest is computed in the same codegen projection that feeds
    * the kernel (no second pass over the fat binary column) and rides
    * through `mapPartitions` beside the decoded row, so the output is
    * itself a valid `prev` for the next increment.
    */
  def extractWithDigest(pages: DataFrame, buckets: Int = DefaultBuckets): DataFrame =
    pages
      .select(col("url"), col("html"), col("lang"),
        xxhash64(col("html")).as("html_x64"))
      .as(DigestPageEnc)
      .mapPartitions { (it: Iterator[(String, Array[Byte], String, Long)]) =>
        it.map { case (u, h, l, x) => (extractDoc(u, h, l, buckets), x) }
      }(DigestDocEnc)
      .select(col("_1.*"), col("_2").as("html_x64"))

  /** Digest-level incremental re-extraction — the fine-grained resume the
    * bucket-level lineage gate (SURVEY A8) cannot give: when a new crawl
    * snapshot arrives, only pages whose html CHANGED (or are new) pay the
    * extraction kernel; unchanged pages reuse the prior run's decoded
    * rows verbatim. `prev` is a prior [[extractWithDigest]] output.
    *
    * Semantics mirror the current crawl exactly: deleted urls drop (their
    * prev rows fail the semi-join), changed urls re-extract (digest
    * mismatch routes them to the anti-join side AND drops the stale prev
    * row), new urls extract. So the result equals a full [[extract]] over
    * `pages` — the property the oracle pins — while the kernel leg's cost
    * is proportional to the CHANGE RATE, not the corpus: at 10^12 docs a
    * 1% drift re-parses 10^10 pages, not 10^12. The price is one url+digest
    * equi-join between crawl and prev: the prev side ships only
    * (url, digest), but the crawl side carries html through the anti-join
    * shuffle — the same wide-dependency class as [[runFrom]]'s bucket
    * exchange, i.e. one corpus-wide shuffle, not a new cost tier. Were
    * both tables written as a bucketed table on url, a storage-partitioned
    * join would co-locate the sides and remove even that shuffle;
    * [[runFrom]]'s files are sorted by (bucket, url) but not registered as
    * one. AQE splits hot-url skew either way.
    */
  def extractIncremental(pages: DataFrame, prev: DataFrame,
      buckets: Int = DefaultBuckets): DataFrame = {
    val cur = pages.select(col("url"), col("html"), col("lang"),
      xxhash64(col("html")).as("html_x64"))
    val prevKeys = prev.select(col("url"), col("html_x64"))
    val todo = cur.join(prevKeys, Seq("url", "html_x64"), "left_anti")
    val reuse = prev.join(cur.select(col("url"), col("html_x64")),
      Seq("url", "html_x64"), "left_semi")
    reuse.unionByName(extractWithDigest(todo, buckets))
  }

  /** Per-bucket lineage aggregation (map-side partial agg -> tiny result).
    * `wallMs` sums the per-doc kernel micros measured inside extractDoc —
    * the per-task cost side-output of SURVEY.md §4.2, and the signal a
    * scheduler needs to spot pathological buckets.
    */
  def lineage(decoded: Dataset[DocOut]): Dataset[LineageRow] =
    decoded
      .groupBy(col("bucket"))
      .agg(
        count(lit(1)).as("nDocs"),
        sum(col("nTokens")).as("nTokens"),
        sum(col("nKv")).as("nKv"),
        (sum(col("kernelUs")) / 1000L).cast("long").as("wallMs")
      )
      .withColumn("status", lit("done"))
      .as(LineageEnc)

  /** [[lineage]]'s sums as one typed aggregate, for [[runFrom]] to observe:
    * bucket b's (docs, tokens, kv pairs, kernel micros) sit at `4b` to `4b+3`.
    */
  final class BucketTally(buckets: Int)
      extends Aggregator[(Int, Int, Int, Long), Array[Long], Array[Long]] {
    def zero: Array[Long] = new Array[Long](4 * buckets)
    def reduce(t: Array[Long], d: (Int, Int, Int, Long)): Array[Long] = {
      val i = 4 * d._1
      t(i) += 1; t(i + 1) += d._2; t(i + 2) += d._3; t(i + 3) += d._4
      t
    }
    def merge(a: Array[Long], b: Array[Long]): Array[Long] = { a.indices.foreach(i => a(i) += b(i)); a }
    def finish(t: Array[Long]): Array[Long] = t
    def bufferEncoder: Encoder[Array[Long]] = ExpressionEncoder()
    def outputEncoder: Encoder[Array[Long]] = ExpressionEncoder()
  }

  /** `outDir`'s file system as the writes see it ([[LocalFs.WriteOptions]]
    * applied), for resume's ledger check and deletes.
    */
  private def outFs(spark: SparkSession, outDir: String): FileSystem = {
    val conf = new Configuration(spark.sparkContext.hadoopConfiguration)
    LocalFs.WriteOptions.foreach { case (k, v) => conf.set(k, v) }
    new Path(outDir).getFileSystem(conf)
  }

  /** The buckets `outDir`'s ledger marks done, or None when it has no ledger. */
  private def doneBuckets(spark: SparkSession, fs: FileSystem, outDir: String): Option[DataFrame] =
    if (!fs.exists(new Path(s"$outDir/lineage"))) None
    else Some(spark.read.schema(LineageEnc.schema).parquet(s"$outDir/lineage")
      .filter(col("status") === "done")
      .select(col("bucket")))

  /** Drop pages whose bucket is in `done` (left anti join — broadcast, the
    * ledger side is tiny).
    */
  private def skipDone(pages: DataFrame, done: DataFrame, buckets: Int): DataFrame =
    // native codegen'd expression, NOT a Scala udf: resume re-scans the
    // full input at 10^12-doc scale and must stay in whole-stage codegen
    pages
      .withColumn("bucket",
        graft.functions.GraftFunctions.bucketExpr("url", buckets))
      .join(broadcast(done), Seq("bucket"), "left_anti")
      .drop("bucket")

  /** Resume: drop pages whose bucket is already marked done in the lineage
    * table; all of them when `outDir` has no ledger.
    */
  def resumeFilter(spark: SparkSession, pages: DataFrame, outDir: String, buckets: Int = DefaultBuckets): DataFrame =
    doneBuckets(spark, outFs(spark, outDir), outDir).fold(pages)(skipDone(pages, _, buckets))

  /** Full run: read -> (resume) -> extract -> write + lineage. */
  def run(spark: SparkSession, inputPath: String, outDir: String,
      resume: Boolean = false, buckets: Int = DefaultBuckets): Long =
    runFrom(spark, readPages(spark, inputPath), outDir, 0, 0, resume, buckets)

  /** Full run over a pages frame in one pass: (resume filter) -> extract ->
    * one hash exchange on `bucket` -> sort by (bucket, url) -> one Parquet
    * file per write task. Lineage is a [[BucketTally]] observed after the
    * exchange, in the write's result stage, where Spark applies a task's
    * accumulator update once even if a stage is retried. Returns the docs
    * this call wrote. `partitions` and `salts` are ignored, kept for
    * existing callers: the exchange width is `spark.sql.shuffle.partitions`,
    * which AQE coalesces.
    *
    * Invariant: a file under `decoded` is committed exactly when its
    * buckets are in the `lineage` ledger. It holds because each run writes
    * only buckets outside the ledger, and its ledger rows list every bucket
    * it wrote, so no file mixes ledgered and unledgered buckets.
    *  - A fresh run (`resume = false`, or no ledger yet) deletes the ledger
    *    first, overwrites `decoded`, then writes the ledger. Killed before
    *    the end, it leaves no ledger, and a resume is a fresh run.
    *  - A resumed run first deletes the decoded files holding a bucket the
    *    ledger does not list (the output of a resumed run killed between
    *    its decoded commit and its ledger append) and the committed task
    *    output a killed append left under `decoded/_temporary`, which the
    *    next job commit would otherwise move in. It then skips the done
    *    buckets, appends to `decoded` and appends its ledger rows.
    */
  def runFrom(
      spark: SparkSession,
      pages0: DataFrame,
      outDir: String,
      partitions: Int,
      salts: Int = 8,
      resume: Boolean = false,
      buckets: Int = DefaultBuckets
  ): Long = {
    val fs = outFs(spark, outDir)
    val done = if (resume) doneBuckets(spark, fs, outDir) else None
    val pages = done match {
      case None =>
        fs.delete(new Path(s"$outDir/lineage"), true)
        pages0
      case Some(d) =>
        fs.delete(new Path(s"$outDir/decoded/_temporary"), true)
        spark.read.schema("bucket INT").parquet(s"$outDir/decoded")
          .select(col("bucket"), col("_metadata.file_path").as("file"))
          .join(broadcast(d), Seq("bucket"), "left_anti")
          .select("file").distinct().as(Encoders.STRING).collect()
          .foreach(f => fs.delete(new Path(new java.net.URI(f)), false))
        skipDone(pages0, d, buckets)
    }
    val mode = if (done.isDefined) "append" else "overwrite"
    val tally = Observation()
    extract(pages, buckets)
      .repartition(col("bucket"))
      .observe(tally, udaf(new BucketTally(buckets)).apply(
        col("bucket"), col("nTokens"), col("nKv"), col("kernelUs")).as("t"))
      .sortWithinPartitions(col("bucket"), col("url"))
      .write.options(LocalFs.WriteOptions).mode(mode).parquet(s"$outDir/decoded")
    val t = tally.get("t").asInstanceOf[collection.Seq[Long]]
    // one row per bucket with docs, wallMs truncated as lineage truncates it
    val rows = (0 until buckets).filter(b => t(4 * b) > 0).map(b =>
      LineageRow(b, t(4 * b), t(4 * b + 1), t(4 * b + 2), t(4 * b + 3) / 1000L, "done"))
    spark.createDataset(rows)(LineageEnc).coalesce(1).write.options(LocalFs.WriteOptions).mode(mode)
      .parquet(s"$outDir/lineage")
    rows.map(_.nDocs).sum
  }
}
