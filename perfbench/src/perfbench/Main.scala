package perfbench

import java.io.File
import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.lit

import graft.core.UrlBucket
import graft.engine.Pipeline
import graft.synth.CorpusGen

/** Extraction benchmark: one workload per process, closed loop (one batch
  * job at a time) on `local[k]`. Inputs come from the seed; every output is
  * checked against the oracle; the result is one JSON object written to
  * `--result`.
  *
  * Usage: Main --workload <crawl_full|extract_scan> --seed <n> --seconds <s>
  *             --trace <0|1> --work <dir> --result <file>
  */
object Main {

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = opts.getOrElse(k, sys.error(s"--$k required"))
    val cfg = Config(
      workload = need("workload"),
      seed = need("seed").toLong,
      seconds = need("seconds").toDouble,
      trace = need("trace") == "1",
      work = new File(need("work")).getAbsolutePath)
    val json = new Bench(cfg).run()
    java.nio.file.Files.write(new File(need("result")).toPath, json.getBytes("UTF-8"))
    sys.exit(0)
  }
}

final case class Config(workload: String, seed: Long, seconds: Double, trace: Boolean, work: String)

/** One timed call into the engine. `rows` are the fingerprints the scan
  * consumed in-process; the crawl's output stays on disk until checked.
  */
final case class Call(job: Int, wallS: Double, docs: Long, cpuUs: Double, peakHeapB: Long,
    fileReadBytes: Long, stolen: Double, rows: Array[FpRow], traced: Option[(Span, CallCounts)]) {

  /** The call's wall time less the share of it the host took from this
    * machine's cores: every thread that had work lost that share of its
    * time, so this is the wall time the call would have taken on cores of
    * its own.
    */
  def ownWallS: Double = wallS * (1 - stolen)
}

/** The inputs of one run and what the oracle expects of them. */
final case class Inputs(expected: java.util.HashMap[String, FpRow], bucketDocs: Map[Int, Long])

final class Bench(cfg: Config) {
  import Bench._

  private val k = math.min(MaxCores, Runtime.getRuntime.availableProcessors())
  private val work = cfg.work
  private val pagesPath = s"$work/in/pages"
  private val heap = new HeapPeak
  private val osBean = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  private val crawl = cfg.workload match {
    case "crawl_full" => true
    case "extract_scan" => false
    case other => sys.error(s"unknown workload: $other")
  }
  private val docs = if (crawl) CrawlDocs else ScanDocs
  private val warmCalls = if (crawl) CrawlWarmCalls else ScanWarmCalls

  // ---- inputs ----

  /** Writes the seed's pages and, beside them, their goldens, both from one
    * pass over the synthesized annotations.
    */
  private def prepare(spark: SparkSession): Inputs = {
    import spark.implicits._
    val seed = cfg.seed
    val both = spark.sparkContext.parallelize(0L until docs, InputFiles).map { i =>
      val (ann, page) = CorpusGen.pageFor(i, seed)
      (page, Oracle.fingerprint(Oracle.golden(ann, page, Pipeline.DefaultBuckets)))
    }.cache()
    both.map(_._1).toDS().write.mode("overwrite").parquet(pagesPath)
    val golden = both.map(_._2).collect()
    both.unpersist()
    java.nio.file.Files.write(new File(s"$pagesPath.golden.tsv").toPath,
      golden.map(r => s"${r.url}\t${r.hi}\t${r.lo}\t${r.bytes}").toSeq.asJava)
    val expected = new java.util.HashMap[String, FpRow](golden.length * 2)
    golden.foreach(r => expected.put(r.url, r))
    val bucketDocs = golden.groupBy(r => UrlBucket.of(r.url, Pipeline.DefaultBuckets))
      .map { case (b, rs) => b -> rs.length.toLong }
    Inputs(expected, bucketDocs)
  }

  // ---- the timed call ----

  private def outDir(job: Int) = s"$work/out/job-$job"

  /** The workload's engine call over `pages`: the production job, or the
    * kernel with every output column folded into a fingerprint and nothing
    * written.
    */
  private def call(spark: SparkSession, job: Int, pages: DataFrame): (Long, Array[FpRow]) =
    if (crawl)
      (Pipeline.runFrom(spark, pages, outDir(job), Partitions, Salts), null)
    else {
      import spark.implicits._
      val rows = Pipeline.extract(pages).map(d => Oracle.fingerprint(d)).collect()
      (rows.length.toLong, rows)
    }

  /** The first [[WarmFiles]] of the input's Parquet files. All warm-up
    * calls but the last read only these: they run every per-call code
    * path, and enough rows for the per-row ones, for less than a whole
    * call costs. The last reads the whole input, so that the first timed
    * call is not the first to.
    */
  private def warmPages(spark: SparkSession): DataFrame = {
    val files = Option(new File(pagesPath).listFiles()).toSeq.flatten
      .map(_.getPath).filter(_.endsWith(".parquet")).sorted.take(WarmFiles)
    spark.read.parquet(files: _*)
  }

  private def timedCall(spark: SparkSession, job: Int, rec: Option[Recorder]): Call = {
    System.gc()
    val id = rec.map(_.begin(s"${cfg.workload}.call"))
    heap.reset()
    val read0 = fileReadBytes()
    val cpu0 = osBean.getProcessCpuTime
    val jit0 = jitCpuNs()
    val cores0 = coreTicks()
    val t0 = System.nanoTime()
    val (n, rows) = call(spark, job, spark.read.parquet(pagesPath))
    val wall = (System.nanoTime() - t0) / 1e9
    val jit = (jitCpuNs() - jit0) / 1e3
    val stolen = stolenShare(cores0, coreTicks())
    val cpu = (osBean.getProcessCpuTime - cpu0) / 1e3 - jit
    val read = fileReadBytes() - read0
    val peak = heap.peak()
    val traced = for (r <- rec; c <- id) yield r.end(c)
    log(f"call $job: $wall%.3f s, $n docs, ${n / wall}%.0f docs/s, " +
      f"${cpu / math.max(1L, n)}%.0f us/doc cpu + ${jit / math.max(1L, n)}%.0f us/doc jit, " +
      f"${100 * stolen}%.1f%% of core time stolen, peak heap ${peak / 1048576.0}%.0f MB" +
      (if (traced.isDefined) " (traced)" else ""))
    Call(job, wall, n, cpu / math.max(1L, n), peak, read, stolen, rows, traced)
  }

  // ---- checks ----

  /** Checks every call's output against the oracle and returns, per call,
    * the check and the output bytes per doc. The crawl's lineage must hold
    * one `done` row per bucket with that bucket's doc count; each doc it
    * misses or adds counts as failed.
    *
    * The checker's self-test rides along: a copy of one output with three
    * known defects ([[Oracle.tamper]]) goes through the same fingerprinting
    * and compare, and the count it gets is returned beside the checks.
    */
  private def checkCalls(spark: SparkSession, calls: Seq[Call], in: Inputs): (Seq[(CheckResult, Double)], Long) = {
    val victims = in.expected.keySet.asScala.toSeq.sorted.take(3)
    def selfTest(rows: Array[FpRow]) = Oracle.check(rows, in.expected).failed
    if (!crawl) {
      val tampered = Oracle.tamper(Pipeline.extract(spark.read.parquet(pagesPath)).toDF(), victims)
      (calls.map(c => (Oracle.check(c.rows, in.expected), c.rows.map(_.bytes).sum.toDouble / c.docs)),
        selfTest(Oracle.fingerprints(tampered).map(_._2)))
    } else {
      // list the 256 bucket directories in this process instead of in a
      // Spark job; the engine calls are over, so this cannot touch them
      spark.conf.set("spark.sql.sources.parallelPartitionDiscovery.threshold", Int.MaxValue.toString)
      def decoded(job: Int) = spark.read.parquet(s"${outDir(job)}/decoded")
      val outputs = calls.map(c => decoded(c.job).withColumn("_job", lit(c.job))) :+
        Oracle.tamper(decoded(calls.head.job), victims).withColumn("_job", lit(-1))
      val rows = Oracle.fingerprints(outputs.reduce(_ unionByName _), tag = "_job")
        .groupBy(_._1).map { case (j, rs) => j -> rs.map(_._2) }
      val lineage = calls.map(c => spark.read.parquet(s"${outDir(c.job)}/lineage")
        .withColumn("_job", lit(c.job))).reduce(_ unionByName _)
        .select("_job", "bucket", "nDocs", "status").collect()
        .groupBy(_.getInt(0))
      val checks = calls.map { c =>
        val buckets = lineage.getOrElse(c.job, Array.empty)
          .map(r => r.getInt(1) -> (r.getLong(2), r.getString(3))).toMap
        val lineageOff = (in.bucketDocs.keySet ++ buckets.keySet).toSeq.map { b =>
          val want = in.bucketDocs.getOrElse(b, 0L)
          buckets.get(b) match {
            case Some((n, "done")) => math.abs(n - want)
            case _ => math.max(want, 1L)
          }
        }.sum
        val check = Oracle.check(rows.getOrElse(c.job, Array.empty), in.expected)
        (check.copy(failed = check.failed + lineageOff),
          dirBytes(new File(outDir(c.job))).toDouble / c.docs)
      }
      (checks, selfTest(rows.getOrElse(-1, Array.empty)))
    }
  }

  // ---- the run ----

  def run(): String = {
    Seq("in", "out").foreach(d => deleteRecursively(new File(s"$work/$d")))
    val t0 = System.nanoTime()
    val spark = session()
    val sessionS = (System.nanoTime() - t0) / 1e9

    // input set-up (pages and goldens) is repeated and its median kept, so
    // one slow round does not decide setup_s
    val rounds = (0 until SetupRounds).map { r =>
      val p0 = System.nanoTime()
      val in = prepare(spark)
      val dt = (System.nanoTime() - p0) / 1e9
      log(f"input set-up round $r: $dt%.2f s")
      (in, dt)
    }
    val in = rounds.last._1
    // warm-up: JIT and Spark's code generation settle before timing. A
    // traced run warms once more: its traced and untraced calls are
    // compared, so neither may still be warming
    val w0 = System.nanoTime()
    val nWarm = warmCalls + (if (cfg.trace) 1 else 0)
    (0 until nWarm).foreach { j =>
      call(spark, -1 - j, if (j < nWarm - 1) warmPages(spark) else spark.read.parquet(pagesPath))
      deleteRecursively(new File(outDir(-1 - j)))
    }
    val warmS = (System.nanoTime() - w0) / 1e9
    val setupS = sessionS + median(rounds.map(_._2)) + warmS
    log(f"session $sessionS%.2f s, warm-up $warmS%.2f s: set-up $setupS%.2f s")

    val rec = if (cfg.trace) Some(new Recorder(spark.sparkContext)) else None
    rec.foreach(spark.sparkContext.addSparkListener)
    // a traced run alternates untraced and traced calls: the untraced ones
    // are the base of trace.overhead_frac
    val calls = mutable.ArrayBuffer.empty[Call]
    def enough(traced: Boolean) = calls.count(_.traced.isDefined == traced) >= MinCalls
    while (!enough(false) || (cfg.trace && !enough(true)) || calls.map(_.wallS).sum < cfg.seconds)
      calls += timedCall(spark, calls.length, rec.filter(_ => calls.length % 2 == 1))
    val kernel = if (cfg.trace) Some(kernelTrace()) else None

    val (checked, selfTestSeen) = checkCalls(spark, calls.toSeq, in)
    log(s"checked; checker self-test: $selfTestSeen of $SelfTestDefects defects seen")
    spark.stop()
    deleteRecursively(new File(s"$work/out"))
    deleteRecursively(new File(s"$work/in"))

    val total = checked.map(_._1).reduce(_ + _)
    val correct = total.failed == 0 && selfTestSeen == SelfTestDefects
    if (selfTestSeen != SelfTestDefects)
      System.err.println(s"checker self-test counted $selfTestSeen bad docs, expected $SelfTestDefects")
    if (total.failed != 0)
      System.err.println(s"${total.failed} of ${total.expected} expected docs failed the oracle check")

    // the host lends this machine's cores to others, and a call that lost
    // more of its core time is slower and holds more heap for it: each
    // metric is the median over the untraced calls that lost at most
    // CalmSlack more of it than the calmest one
    val untraced = calls.indices.filter(i => calls(i).traced.isEmpty)
    val calmest = untraced.map(calls(_).stolen).min
    val calm = untraced.filter(calls(_).stolen <= calmest + CalmSlack)
    def med(f: Int => Double) = median(calm.map(f))
    val metrics: Seq[(String, Double, String)] = if (!cfg.trace) Seq(
      ("docs_per_s", med(i => calls(i).docs / calls(i).ownWallS), "docs/s"),
      ("cpu_us_per_doc", med(i => calls(i).cpuUs), "us"),
      ("out_bytes_per_doc", med(i => checked(i)._2), "B"),
      ("peak_heap_mb", med(i => calls(i).peakHeapB / 1048576.0), "MB"),
      ("setup_s", setupS, "s")
    ) else layerMetrics(calls.toSeq, kernel.get, rec.get)

    rec.foreach(r => writeSpans(r.spans))
    resultJson(correct, total.expected, total.failed, metrics)
  }

  private def kernelTrace(): KernelTracer.Result = {
    val pages = (0L until math.min(docs, TraceDocs.toLong))
      .map(i => CorpusGen.pageFor(i, cfg.seed)._2).toArray
    KernelTracer.run(pages, Pipeline.DefaultBuckets, TraceWarmDocs)
  }

  private def layerMetrics(calls: Seq[Call], kt: KernelTracer.Result,
      rec: Recorder): Seq[(String, Double, String)] = {
    val traced = calls.flatMap(c => c.traced.map { case (s, n) => (c, s, n) })
    def per(f: CallCounts => Double): Double = median(traced.map(t => f(t._3)))
    def perDoc(f: CallCounts => Double): Double = median(traced.map(t => f(t._3) / t._1.docs))
    val plainWall = median(calls.filter(_.traced.isEmpty).map(_.ownWallS))
    Seq(
      ("html.lineize_us_per_doc", kt.lineizeUs, "us"),
      ("html.lineize_kb_per_doc", kt.lineizeKb, "KB"),
      ("core.build_us_per_doc", kt.buildUs, "us"),
      ("core.build_kb_per_doc", kt.buildKb, "KB"),
      ("core.decode_us_per_doc", kt.decodeUs, "us"),
      ("core.decode_kb_per_doc", kt.decodeKb, "KB"),
      ("engine.kernel_us_per_doc", kt.kernelUs, "us"),
      ("engine.kernel_us_p99", kt.kernelP99Us, "us"),
      ("engine.kernel_unattributed_us_per_doc", kt.unattributedUs, "us"),
      ("engine.jobs", per(_.jobs), "count"),
      ("engine.stages", per(_.stages), "count"),
      ("engine.exchanges", per(_.exchanges), "count"),
      ("engine.exchange_bytes_per_doc", perDoc(_.exchangeBytes), "B"),
      ("engine.cached_bytes_per_doc", perDoc(_.cachedBytes), "B"),
      ("engine.spill_bytes_per_doc", perDoc(_.spillBytes), "B"),
      // Spark's task input metric misses the Parquet reader's pooled reads,
      // so the scan is the process's file reads less the shuffle's
      ("engine.scan_bytes_per_doc",
        median(traced.map(t => (t._1.fileReadBytes - t._3.shuffleReadBytes).toDouble / t._1.docs)), "B"),
      ("engine.task_run_us_per_doc", perDoc(_.runMs * 1e3), "us"),
      ("engine.task_cpu_us_per_doc", perDoc(_.cpuNs / 1e3), "us"),
      ("engine.task_gc_us_per_doc", perDoc(_.gcMs * 1e3), "us"),
      ("engine.task_skew", per(_.taskSkew), "ratio"),
      ("host.stolen_frac", median(calls.map(_.stolen)), "ratio"),
      ("trace.unattributed_frac", rec.unattributed(traced.map(_._2)), "ratio"),
      ("trace.overhead_frac", median(traced.map(_._1.ownWallS)) / plainWall - 1.0, "ratio")
    )
  }

  private def writeSpans(spans: Seq[Span]): Unit = {
    val dir = new File(s"$work/trace")
    dir.mkdirs()
    val lines = spans.sortBy(_.startMs).map { s =>
      s"""{"id":${s.id},"parent":${s.parent},"name":${quote(s.name)},""" +
        s""""start_ms":${s.startMs},"end_ms":${s.endMs}}"""
    }
    java.nio.file.Files.write(new File(dir, s"${cfg.workload}-${cfg.seed}.spans.jsonl").toPath,
      lines.asJava)
  }

  private def session(): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$k]")
      .appName("perfbench")
      // the production job's settings (graft.app.Main)
      .config("spark.sql.shuffle.partitions", Partitions.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}

object Bench {
  final val MaxCores = 4
  // graft.app.Main's defaults: 32 partitions (also the shuffle width) and
  // 8 salts per host
  final val Partitions = 32
  final val Salts = 8
  final val InputFiles = 8

  // docs per call: the crawl's cost is mostly per bucket file (256 of them
  // whatever the input size), the scan's is per doc
  final val CrawlDocs = 6000L
  final val ScanDocs = 12000L

  final val SetupRounds = 3
  // warm-up calls: Spark's planner and writer are a long tail of code that
  // the JIT reaches only after several calls; a crawl call takes six times
  // as long as a scan call, so it gets fewer
  final val CrawlWarmCalls = 3
  final val ScanWarmCalls = 10
  // of InputFiles
  final val WarmFiles = 2
  final val MinCalls = 3
  final val CalmSlack = 0.05
  final val SelfTestDefects = 3L
  final val TraceDocs = 2000
  final val TraceWarmDocs = 2000

  def log(msg: String): Unit = System.err.println(
    f"[perfbench] ${ManagementFactory.getRuntimeMXBean.getUptime / 1e3}%7.2f $msg")

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.length % 2 == 1) s(s.length / 2)
    else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
  }

  /** Bytes this process has read through read(2) and friends, files
    * included whether or not the page cache served them (`rchar`).
    */
  def fileReadBytes(): Long =
    scala.io.Source.fromFile("/proc/self/io").getLines()
      .collectFirst { case l if l.startsWith("rchar:") => l.drop(6).trim.toLong }.getOrElse(0L)

  /** CPU time of the JIT compiler's threads, from `/proc/self/task`
    * (0 where that does not exist). Their set is fixed by
    * `-XX:-UseDynamicNumberOfCompilerThreads`, so differences are exact.
    */
  def jitCpuNs(): Long = {
    def read(f: File) = new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8").trim
    Option(new File("/proc/self/task").listFiles()).toSeq.flatten.map { t =>
      try {
        if (read(new File(t, "comm")).contains("CompilerThre"))
          read(new File(t, "schedstat")).split(' ')(0).toLong
        else 0L
      } catch { case _: java.io.IOException => 0L }
    }.sum
  }

  /** This machine's busy and stolen core time so far, over all its cores,
    * in `/proc/stat` ticks: busy is user, nice, system, irq and softirq
    * time; stolen is time in which a core had work and the host ran
    * something else on it. (0, 0) where `/proc/stat` does not exist.
    */
  def coreTicks(): (Long, Long) = {
    val f = new File("/proc/stat")
    if (!f.canRead) (0L, 0L)
    else {
      val src = scala.io.Source.fromFile(f)
      try {
        val t = src.getLines().next().trim.split("\\s+").drop(1).map(_.toLong)
        (t(0) + t(1) + t(2) + t(5) + t(6), t(7))
      } finally src.close()
    }
  }

  /** Share of the core time this machine had work for, between two
    * [[coreTicks]] readings, that the host took.
    */
  def stolenShare(a: (Long, Long), b: (Long, Long)): Double = {
    val busy = b._1 - a._1
    val stolen = b._2 - a._2
    if (busy + stolen <= 0) 0.0 else stolen.toDouble / (busy + stolen)
  }

  def dirBytes(f: File): Long =
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.map(dirBytes).sum
    else if (f.getName.startsWith(".") || f.getName.startsWith("_")) 0L
    else f.length()

  def deleteRecursively(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.foreach(deleteRecursively)
    f.delete()
  }

  def quote(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  def resultJson(correct: Boolean, attempted: Long, failed: Long,
      metrics: Seq[(String, Double, String)]): String = {
    val ms = metrics.map { case (n, v, u) =>
      val num = if (v.isNaN || v.isInfinite) "null" else java.lang.Double.toString(v)
      s"${quote(n)}: {\"value\": $num, \"unit\": ${quote(u)}}"
    }.mkString(", ")
    s"""{"correct": $correct, "attempted": $attempted, "failed": $failed, "metrics": {$ms}}"""
  }
}

/** Highest heap occupancy right after a collection, since [[reset]]. */
final class HeapPeak {
  import com.sun.management.GarbageCollectionNotificationInfo
  import javax.management.{Notification, NotificationEmitter, NotificationListener}
  import javax.management.openmbean.CompositeData

  @volatile private var max = 0L
  private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == java.lang.management.MemoryType.HEAP).map(_.getName).toSet

  ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
    case e: NotificationEmitter =>
      e.addNotificationListener(new NotificationListener {
        def handleNotification(n: Notification, hb: Any): Unit =
          if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
            val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
            val used = info.getGcInfo.getMemoryUsageAfterGc.asScala
              .collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum
            HeapPeak.this.synchronized { if (used > max) max = used }
          }
      }, null, null)
    case _ =>
  }

  def reset(): Unit = synchronized { max = 0L }

  /** Falls back to the live heap when no collection ran since [[reset]]. */
  def peak(): Long = synchronized {
    if (max > 0) max
    else ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
  }
}
