package graft

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

/** Ad-hoc per-query timing harness for optimization work (guide §1).
  *
  * NOT the driver contract — that is Bench.scala (frozen). This main exists
  * so a single query (or a short list) can be measured in isolation with the
  * SAME session shape and action as the official bench (`local[$cpus]`,
  * shuffle.partitions=cpus, AQE on, one untimed warm pass, timed `.count()`),
  * plus optional repeats and a noop-sink mode (guide §1.4) that forces every
  * column to be computed so projection-pruning can't flatter a number.
  *
  * Each query prints one line: `med`/`min` seconds, every rep's seconds,
  * then the Spark work of the median rep — `jobs`, `stages` (completed),
  * `tasks`, `taskSec` (summed executor run time) and `gcSec` (summed JVM GC
  * time); a query whose every rep fails prints none. Many jobs/stages over
  * little task time mark a query whose wall clock is orchestration, not
  * compute. The counts come from a listener and are read after each timed
  * region closes, so the timings are unaffected.
  *
  * Usage: runMain graft.BenchExtra [--reps N] [--noop] q1 q2 ...  (or: all)
  */
object BenchExtra {

  /** Counts the Spark work submitted between [[reset]] and [[drain]]. */
  private final class JobCounter extends SparkListener {
    private var jobs, stages, tasks = 0
    private var taskMs, gcMs = 0L
    private var open = 0 // jobs started and not yet ended; survives reset
    private var lastEventNs = System.nanoTime()

    private def event(f: => Unit): Unit = synchronized { f; lastEventNs = System.nanoTime() }
    override def onJobStart(e: SparkListenerJobStart): Unit = event { jobs += 1; open += 1 }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = event(open -= 1)
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = event(stages += 1)
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = event {
      tasks += 1
      Option(e.taskMetrics).foreach { m => taskMs += m.executorRunTime; gcMs += m.jvmGCTime }
    }

    def reset(): Unit = synchronized { jobs = 0; stages = 0; tasks = 0; taskMs = 0L; gcMs = 0L }

    /** Waits (at most 5 s) until every started job has ended and the
      * listener bus has been quiet for 100 ms — the bus delivers events
      * asynchronously — then formats the counts since [[reset]].
      */
    def drain(): String = {
      val until = System.nanoTime() + 5000000000L
      while (System.nanoTime() < until &&
        synchronized(open > 0 || System.nanoTime() - lastEventNs < 100000000L))
        Thread.sleep(10)
      synchronized(f"jobs=$jobs%3d stages=$stages%3d tasks=$tasks%5d " +
        f"taskSec=${taskMs / 1e3}%8.2f gcSec=${gcMs / 1e3}%6.2f")
    }
  }

  private def session(cpus: Int): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(s"graft-benchextra-$cpus")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.files.maxPartitionBytes", "128m")
      .config("spark.ui.enabled", "false")
      .withExtensions(new graft.functions.GraftExtensions)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  private def time(f: => Unit): Double = {
    val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    var reps = 3
    var noop = false
    val names = scala.collection.mutable.ArrayBuffer.empty[String]
    var i = 0
    while (i < args.length) {
      args(i) match {
        case "--reps" => reps = args(i + 1).toInt; i += 2
        case "--noop" => noop = true; i += 1
        case n        => names += n; i += 1
      }
    }
    val all = SparkEntry.queries
    val sel =
      if (names.isEmpty || names.contains("all")) all.keys.toSeq.sorted
      else names.toSeq
    val spark = session(cpus)
    val counter = new JobCounter
    spark.sparkContext.addSparkListener(counter)
    graft.app.Corpus.ensure(spark, sfDir)
    def run(name: String): Unit = {
      val df = all(name)(spark, sfDir)
      if (noop) df.write.format("noop").mode("overwrite").save() else df.count()
    }
    // one untimed warm pass per selected query (matches Bench's protocol)
    sel.foreach { n =>
      spark.sparkContext.setJobDescription(s"warm:$n")
      try run(n) catch { case scala.util.control.NonFatal(e) =>
        System.err.println(s"warm $n failed: $e") }
    }
    val out = sel.map { n =>
      val runs = (1 to reps).map { r =>
        spark.sparkContext.setJobDescription(s"timed:$n:$r")
        counter.reset()
        val t = try time(run(n)) catch { case scala.util.control.NonFatal(_) => -1.0 }
        (t, counter.drain())
      }
      val ts = runs.map(_._1)
      val ok = runs.filter(_._1 >= 0).sortBy(_._1)
      val (med, counts) = if (ok.isEmpty) (-1.0, "") else ok(ok.size / 2)
      println(f"$n%-24s med=${med}%8.3f min=${if (ok.isEmpty) -1.0 else ok.head._1}%8.3f  ${ts.map(t => f"$t%.3f").mkString(" ")}  $counts")
      n -> med
    }
    println("TOTAL(med) " + f"${out.map(_._2).filter(_ >= 0).sum}%.3f")
    spark.stop()
  }
}
