package graft.engine

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.app.Corpus

/** Distributed-correctness gates (SURVEY.md §5.2): byte-identical text per
  * url vs the oracle goldens through the REAL Spark pipeline, invariance to
  * partitioning/input order, idempotent resume with a complete lineage
  * ledger, and the windowed-D3 parity backend.
  */
class PipelineSpec extends AnyFunSuite {

  private lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("pipeline-spec")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.session.timeZone", "UTC")
    .withExtensions(new graft.functions.GraftExtensions)
    .getOrCreate()

  private val sfDir = "/root/testdata/sf0.001"

  private def ensured(): Unit = {
    Corpus.ensure(spark, sfDir)
    spark.sparkContext.setLogLevel("WARN")
  }

  test("engine output is byte-identical to oracle goldens per url (sbt gate)") {
    ensured()
    val pages = spark.read.parquet(Corpus.pagesPath(sfDir))
    val decoded = Pipeline.extract(pages)
    val golden = spark.read.parquet(Corpus.goldenPath(sfDir))
    val joined = decoded.toDF().as("e")
      .join(golden.as("g"), col("e.url") === col("g.url"), "full_outer")
    val total = joined.count()
    val matched = joined.filter(
      col("e.url").isNotNull && col("g.url").isNotNull &&
        col("e.text") === col("g.text") && col("e.nTokens") === col("g.nTokens"))
      .count()
    assert(total == Corpus.docsFor(sfDir).toLong)
    assert(matched == total, s"byte-identity: $matched/$total")
    // full decode equality incl. kv/lines/maps via the eval path: P=R=1
    import spark.implicits._
    val report = Eval.aggregate(Eval.metricRows(decoded, golden.as[DocOut])).collect()(0)
    Seq("kv", "line", "entHead", "entTail", "groupHead", "groupTail").foreach { g =>
      assert(report.getAs[Double](s"${g}F1") == 1.0, s"$g F1")
    }
  }

  test("result set invariant to parallelism and input order") {
    ensured()
    val pages = spark.read.parquet(Corpus.pagesPath(sfDir))
    def fingerprint(df: org.apache.spark.sql.DataFrame): Long =
      df.select(xxhash64(col("url"), col("text"), col("nTokens"), col("nKv")).as("h"))
        .agg(expr("bit_xor(h)")).collect()(0).getLong(0)
    val base = fingerprint(Pipeline.extract(pages).toDF())
    val shuffled = fingerprint(Pipeline.extract(pages.orderBy(rand(42))).toDF())
    val coalesced = fingerprint(Pipeline.extract(pages.repartition(1)).toDF())
    assert(base == shuffled && base == coalesced)
  }

  /** The pages of the even buckets: the part of the corpus an interrupted
    * run finished.
    */
  private def evenBuckets(pages: DataFrame): DataFrame = pages.filter(
    udf((u: String) => Pipeline.bucketOf(u, Pipeline.DefaultBuckets) % 2 == 0).apply(col("url")))

  private def tempDir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  test("resume skips done buckets and total output is complete and duplicate-free") {
    ensured()
    val outDir = tempDir("resume")
    val pages = spark.read.parquet(Corpus.pagesPath(sfDir))
    // first run: only half the buckets (simulated interrupted run)
    val half = evenBuckets(pages)
    Pipeline.runFrom(spark, half, outDir, 4)
    val remaining = Pipeline.resumeFilter(spark, pages, outDir)
    val remBuckets = Pipeline.extract(remaining).select("bucket").distinct()
      .collect().map(_.getInt(0)).toSet
    assert(remBuckets.forall(_ % 2 == 1), "resume must only re-run unfinished buckets")
    assert(remaining.count() + half.count() == pages.count())
  }

  test("resume finds the ledger of an output on a non-file: scheme") {
    ensured()
    // viewfs over a local directory: the ledger check goes through Hadoop
    spark.sparkContext.hadoopConfiguration.set(
      "fs.viewfs.mounttable.pipeline-spec.link./out", s"file://${tempDir("viewfs")}")
    val outDir = "viewfs://pipeline-spec/out"
    val pages = spark.read.parquet(Corpus.pagesPath(sfDir))
    val nFirst = Pipeline.runFrom(spark, evenBuckets(pages), outDir, 4)
    assert(Pipeline.resumeFilter(spark, pages, outDir).count() + nFirst == pages.count())
  }

  test("a resumed run appends its lineage: one done row per bucket, no duplicate url") {
    ensured()
    import spark.implicits._
    val outDir = tempDir("resume-lineage")
    val pages = spark.read.parquet(Corpus.pagesPath(sfDir))
    val nFirst = Pipeline.runFrom(spark, evenBuckets(pages), outDir, 4)
    val nResumed = Pipeline.runFrom(spark, pages, outDir, 4, resume = true)
    val nPages = pages.count()
    assert(nFirst > 0 && nResumed > 0 && nFirst + nResumed == nPages)
    val want = pages.select("url").as[String].collect()
      .groupBy(Pipeline.bucketOf(_, Pipeline.DefaultBuckets)).map { case (b, us) => b -> us.length.toLong }
    def ledger() = spark.read.parquet(s"$outDir/lineage").as[LineageRow].collect()
    val rows = ledger()
    assert(rows.map(_.bucket).sorted.toSeq == want.keys.toSeq.sorted,
      "exactly one lineage row per bucket, from both runs")
    assert(rows.forall(r => r.status == "done" && r.nDocs == want(r.bucket)))
    val decoded = spark.read.parquet(s"$outDir/decoded")
    assert(decoded.count() == nPages && decoded.select("url").distinct().count() == nPages)
    // nothing is left, so a further resume writes no doc and no row
    assert(Pipeline.runFrom(spark, pages, outDir, 4, resume = true) == 0L)
    assert(ledger().sortBy(_.bucket).toSeq == rows.sortBy(_.bucket).toSeq)
  }

  /** Asserts that `outDir` holds every url of `pages` exactly once and a
    * ledger whose rows sum to the page count.
    */
  private def assertComplete(outDir: String, pages: DataFrame): Unit = {
    import spark.implicits._
    def urls(df: DataFrame) = df.select("url").as[String].collect().sorted.toSeq
    assert(urls(spark.read.parquet(s"$outDir/decoded")) == urls(pages),
      "decoded must hold every url exactly once")
    assert(spark.read.parquet(s"$outDir/lineage").as[LineageRow].collect().map(_.nDocs).sum ==
      pages.count())
  }

  private def listed(dir: String): Set[String] =
    Option(new java.io.File(dir).listFiles()).toSeq.flatten.map(_.getName).toSet

  test("a resume killed before its ledger append is redone exactly once") {
    ensured()
    val outDir = tempDir("resume-crash")
    val pages = spark.read.parquet(Corpus.pagesPath(sfDir))
    Pipeline.runFrom(spark, evenBuckets(pages), outDir, 4)
    val (ledgerBefore, decodedBefore) = (listed(s"$outDir/lineage"), listed(s"$outDir/decoded"))
    Pipeline.runFrom(spark, pages, outDir, 4, resume = true)
    // the kill: the resumed run's decoded files are committed, its ledger
    // rows (one Parquet file and its .crc) are not
    val appended = listed(s"$outDir/lineage") -- ledgerBefore
    assert(appended.size == 2)
    appended.foreach(f => java.nio.file.Files.delete(java.nio.file.Paths.get(outDir, "lineage", f)))
    // and a killed append's committed task output, never moved by its job
    // commit, which the next job commit would move in
    val part = (listed(s"$outDir/decoded") -- decodedBefore).filter(_.endsWith(".parquet")).min
    val task = java.nio.file.Paths.get(outDir, "decoded", "_temporary", "0", "task_202610190000_0001_m_000000")
    java.nio.file.Files.createDirectories(task)
    java.nio.file.Files.copy(java.nio.file.Paths.get(outDir, "decoded", part), task.resolve(part))
    Pipeline.runFrom(spark, pages, outDir, 4, resume = true)
    assertComplete(outDir, pages)
  }

  test("a fresh run that fails mid-write leaves no ledger, and a resume rebuilds the output") {
    ensured()
    val outDir = tempDir("fresh-crash")
    val pages = spark.read.parquet(Corpus.pagesPath(sfDir))
    Pipeline.runFrom(spark, pages, outDir, 4)
    val victim = pages.select("url").head().getString(0)
    val poisoned = pages.withColumn("url",
      when(col("url") === victim, raise_error(lit("poisoned page"))).otherwise(col("url")))
    intercept[Exception](Pipeline.runFrom(spark, poisoned, outDir, 4))
    assert(!new java.io.File(s"$outDir/lineage").exists(), "a failed fresh run must leave no ledger")
    assert(Pipeline.runFrom(spark, pages, outDir, 4, resume = true) == pages.count())
    assertComplete(outDir, pages)
  }

  test("runFrom writes what extract computes, and lineage equal to the SQL lineage") {
    ensured()
    import spark.implicits._
    val outDir = tempDir("run-from")
    val pages = spark.read.parquet(Corpus.pagesPath(sfDir))
    assert(Pipeline.runFrom(spark, pages, outDir, 4) == pages.count())
    def perUrl(d: Dataset[DocOut]) = d.select("url", "text", "nTokens", "nKv")
      .as[(String, String, Int, Int)].collect().sortBy(_._1).toSeq
    val written = spark.read.parquet(s"$outDir/decoded").as[DocOut]
    assert(perUrl(written) == perUrl(Pipeline.extract(pages)))
    // layout: no bucket directories; at most one file per write task, each
    // in (bucket, url) order
    val files = new java.io.File(s"$outDir/decoded").listFiles()
    assert(!files.exists(_.getName.startsWith("bucket=")), files.map(_.getName).mkString(", "))
    val parts = files.filter(_.getName.endsWith(".parquet"))
    assert(parts.nonEmpty && parts.length <= spark.conf.get("spark.sql.shuffle.partitions").toInt,
      s"${parts.length} files")
    parts.foreach { f =>
      val keys = spark.read.parquet(f.getPath).select("bucket", "url").as[(Int, String)].collect().toSeq
      assert(keys == keys.sorted, s"${f.getName} is not in (bucket, url) order")
    }
    def byBucket(l: Dataset[LineageRow]) = l.collect().sortBy(_.bucket).toSeq
    val observed = byBucket(spark.read.parquet(s"$outDir/lineage").as[LineageRow])
    // kernelUs is a timing, so a fresh extract's wallMs differs; the
    // observed tally must equal the SQL lineage of the rows it wrote,
    // wallMs truncation included
    assert(observed == byBucket(Pipeline.lineage(written)))
    assert(observed.map(_.copy(wallMs = 0L)) ==
      byBucket(Pipeline.lineage(Pipeline.extract(pages))).map(_.copy(wallMs = 0L)))
  }

  test("runFrom spawns no process") {
    ensured()
    import scala.jdk.CollectionConverters._
    // the real path: Hadoop's chmod commands name the canonical file
    val outDir = java.nio.file.Paths.get(tempDir("no-fork")).toRealPath().toString
    val pages = spark.read.parquet(Corpus.pagesPath(sfDir))
    val rec = new jdk.jfr.Recording()
    rec.enable("jdk.ProcessStart")
    rec.start()
    try Pipeline.runFrom(spark, pages, outDir, 4) finally rec.stop()
    val dump = java.nio.file.Files.createTempFile("run-from", ".jfr")
    rec.dump(dump)
    rec.close()
    val spawned = jdk.jfr.consumer.RecordingFile.readAllEvents(dump).asScala
      .map(_.getString("command")).filter(_.contains(outDir))
    java.nio.file.Files.delete(dump)
    assert(spawned.size == 0, s"processes on $outDir, e.g. ${spawned.take(3).mkString("; ")}")
  }

  test("readPages declares the pages schema: building it starts no Spark job") {
    ensured()
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val sc = spark.sparkContext
    val started = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        started.add(String.valueOf(e.properties.getProperty("spark.job.description")))
    }
    sc.addSparkListener(listener)
    val pages = try {
      val p = Pipeline.readPages(spark, Corpus.pagesPath(sfDir))
      // listener events arrive in order: once the marker job's is in, any
      // job readPages started has been seen
      sc.setJobDescription("marker")
      sc.parallelize(Seq(1), 1).count()
      sc.setJobDescription(null)
      val deadline = System.nanoTime() + 60000000000L
      while (!started.contains("marker") && System.nanoTime() < deadline) Thread.sleep(50)
      assert(started.toArray.toSeq == Seq("marker"), s"jobs: ${started.toArray.mkString(", ")}")
      p
    } finally sc.removeSparkListener(listener)
    assert(pages.schema.fieldNames.toSeq == Seq("url", "html", "lang"))
    assert(pages.filter(col("html").isNotNull && col("lang").isNotNull).count() ==
      Corpus.docsFor(sfDir).toLong)
  }

  test("hostOf: ports, scheme case, no trailing slash, userinfo, query and fragment") {
    // current behaviour, pinned: DocOut.host is a golden column
    Seq(
      "https://a.b:8080/x" -> "a.b",
      "HTTPS://Example.COM/x" -> "Example.COM",
      "https://a.b" -> "a.b",
      "https://u@h/" -> "u@h",
      "https://u:p@h/" -> "u",
      "https://a.b?q=1" -> "a.b",
      "https://a.b#top" -> "a.b",
      "a.b/x" -> "a.b"
    ).foreach { case (url, host) => assert(Pipeline.hostOf(url) == host, url) }
  }

  test("incremental re-extraction: kernel leg bounded by the delta, result equals full extract") {
    ensured()
    val pages = spark.read.parquet(Corpus.pagesPath(sfDir))
    // prior run covered urls with pmod(xxhash64(url), 5) != 0; a seventh of
    // those digests are corrupted (stand-in for html drift since that run)
    val covered = pages.filter(pmod(xxhash64(col("url")), lit(5)) =!= 0)
    val prev = Pipeline.extractWithDigest(covered)
      .withColumn("html_x64",
        when(pmod(xxhash64(col("url")), lit(7)) === 0, col("html_x64") + 1)
          .otherwise(col("html_x64")))
      .persist()
    val inc = Pipeline.extractIncremental(pages, prev)
    // 1) byte-identical to the full extraction
    def key(df: org.apache.spark.sql.DataFrame) = df
      .select(col("url"), md5(col("text")).as("h"), col("nTokens"), col("nKv"))
      .collect().map(_.toSeq).sortBy(_.toString)
    assert(key(inc).sameElements(key(Pipeline.extract(pages).toDF())))
    // 2) the kernel leg is the delta, not the corpus: missing + drifted
    val nMissing = pages.count() - covered.count()
    val nDrifted = covered.filter(pmod(xxhash64(col("url")), lit(7)) === 0).count()
    val cur = pages.select(col("url"), xxhash64(col("html")).as("html_x64"))
    val todo = cur.join(prev.select("url", "html_x64"), Seq("url", "html_x64"), "left_anti")
    assert(todo.count() == nMissing + nDrifted,
      s"kernel leg must re-extract exactly the missing+drifted set")
    // 3) deleted urls drop: a prev row whose url left the crawl never survives
    val ghost = prev.limit(1).withColumn("url", lit("https://gone.example/x"))
    val withGhost = Pipeline.extractIncremental(pages, prev.unionByName(ghost))
    assert(withGhost.filter(col("url") === "https://gone.example/x").count() == 0)
    assert(withGhost.count() == pages.count())
    prev.unpersist()
  }

  test("detail sink: decoded-vs-golden detail is all-TP with exact record counts") {
    ensured()
    import spark.implicits._
    val decoded = Pipeline.extract(spark.read.parquet(Corpus.pagesPath(sfDir)))
    val golden = spark.read.parquet(Corpus.goldenPath(sfDir)).as[DocOut]
    val details = Eval.detailRows(decoded, golden)
    val byVerdict = details.groupBy("verdict").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(byVerdict.keySet == Set("TP"), s"identical pred/gt must be all TP: $byVerdict")
    // one record per item per granularity: kv + lines + flattened maps
    val expected = golden.collect().map { g =>
      g.kv.size + g.lines.size + g.entHead.map(_.tails.size).sum +
        g.entTail.map(_.tails.size).sum + g.groupHead.size + g.groupTail.size
    }.sum.toLong
    assert(byVerdict("TP") == expected)
  }

  test("metricRow and detailRows agree: a kv pair matches on (key, value), not on its printed item") {
    import spark.implicits._
    def doc(key: String, value: String) = DocOut("u", "h", "en", 0, 0, 0, 1, 0L, "",
      Seq.empty, Seq(KvOut(key, value, Seq.empty, Seq.empty)),
      Seq.empty, Seq.empty, Seq.empty, Seq.empty, Seq.empty)
    // both pairs print as "a\u0001b\u0001c"
    val pred = doc("a\u0001b", "c")
    val gold = doc("a", "b\u0001c")
    val m = Eval.metricRow("u", pred, gold)
    assert((m.kvPred, m.kvGt, m.kvCorrect) == ((1L, 1L, 0L)))
    val kv = Eval.detailRows(Seq(pred).toDS(), Seq(gold).toDS())
      .filter(col("granularity") === "kv").collect()
    assert(kv.map(_.verdict).sorted.toSeq == Seq("FN", "FP"), kv.mkString(", "))
  }

  test("golden corpus urls are unique (eval fname-dedupe parity precondition)") {
    // The eval oracles mirror the engine's per-url dedupe with an arbitrary
    // row_number pick; that is only deterministic while urls are unique.
    ensured()
    val g = spark.read.parquet(Corpus.goldenPath(sfDir))
    assert(g.count() == g.select("url").distinct().count())
  }

  test("golden corpus digest is frozen (catches silent engine+oracle co-drift)") {
    ensured()
    // md5 over (url  text  nKv) rows joined by  in url order,
    // computed through the ENGINE (not the oracle). Pinned 2026-08-16 for
    // corpus v1 @ sf0.001; a change here means extraction semantics moved
    // even if engine and oracle still agree with each other.
    import spark.implicits._
    val digest = Pipeline.extract(spark.read.parquet(Corpus.pagesPath(sfDir)))
      .toDF().select(col("url"), col("text"), col("nKv").cast("long"))
      .orderBy("url")
      .as[(String, String, Long)]
      .collect()
      .map { case (u, t, k) => s"$u\u0001$t\u0001$k" }
      .mkString("\u0002")
    val md = java.security.MessageDigest.getInstance("MD5")
      .digest(digest.getBytes("UTF-8")).map(b => f"$b%02x").mkString
    assert(md == "67c7d73b47cb609337f3a8552ded7f86")
  }

  test("windowed parse-spots backend matches the kernel (two-backend parity)") {
    ensured()
    import graft.core.{SpotChannel, Spots}
    val spots = spark.read.parquet(Corpus.spotsPath(sfDir))
    val windowed = WindowedSpots.parseTop(spots, triuMode = true)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2))).toSet
    val kernel = spots.collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getInt(3), r.getInt(4), r.getDouble(5)))
      .groupBy(_._1)
      .flatMap { case (doc, rows) =>
        val ordered = rows.sortBy(_._2)
        val channel = new SpotChannel(ordered.map(r => Spots.cell(r._3, r._4, r._5)), ordered.map(_._6))
        Spots.parseTop(channel, triuMode = true).toVector.map { case (h, t) => (doc, h, t) }
      }.toSet
    assert(windowed == kernel)
  }
}
