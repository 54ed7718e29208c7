package graft.app

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col
import graft.engine.{DocOut, Eval, Pipeline}

/** spark-submit entry point for the extraction engine.
  *
  * Usage (prints the docs this run wrote; a resume counts only what it redid):
  *   Main --input <pages path|table> --output <dir>
  *        [--partitions N] [--buckets B] [--resume] [--eval <golden path>]
  *
  * On a real cluster this is `spark-submit --class graft.app.Main ...`; in
  * the sandbox it runs under sbt with a local master. The session honors an
  * externally-provided master (spark-submit) and falls back to local[*].
  */
object Main {

  def main(args: Array[String]): Unit = {
    val opts = parse(args.toList, Map.empty)
    val input = opts.getOrElse("input", sys.error("--input required"))
    val output = opts.getOrElse("output", sys.error("--output required"))
    val partitions = opts.get("partitions").map(_.toInt).getOrElse(32)
    val buckets = opts.get("buckets").map(_.toInt).getOrElse(Pipeline.DefaultBuckets)
    val resume = opts.contains("resume")

    val builder = SparkSession.builder().appName("graft-extract")
      .config("spark.sql.shuffle.partitions", partitions.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
    val spark =
      if (sys.props.contains("spark.master") || sys.env.contains("SPARK_MASTER"))
        builder.getOrCreate()
      else builder.master("local[*]").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val t0 = System.nanoTime()
    val n = Pipeline.run(spark, input, output, resume, buckets)
    val sec = (System.nanoTime() - t0) / 1e9
    println(f"[graft] wrote $n docs in $sec%.1f s (${n / sec}%.1f docs/s) -> $output")

    opts.get("eval").foreach { goldenPath =>
      import spark.implicits._
      val decoded = spark.read.parquet(s"$output/decoded").as[DocOut]
      val golden = spark.read.parquet(goldenPath).as[DocOut]
      val metrics = Eval.metricRows(decoded, golden)
      metrics.write.mode("overwrite").parquet(s"$output/metrics")
      // per-sample TP/FP/FN detail table (reference --save_eval_detail)
      Eval.detailRows(decoded, golden)
        .write.mode("overwrite").parquet(s"$output/detail")
      val report = Eval.aggregate(spark.read.parquet(s"$output/metrics").as[graft.engine.MetricRow])
      report.select(col("numSamples"), col("kvF1"), col("lineF1"),
        col("entHeadF1"), col("entTailF1"), col("groupHeadF1"), col("groupTailF1"))
        .show(false)
      report.coalesce(1).write.mode("overwrite").json(s"$output/report")
    }
    spark.stop()
  }

  @annotation.tailrec
  private def parse(args: List[String], acc: Map[String, String]): Map[String, String] =
    args match {
      case Nil => acc
      case "--resume" :: rest => parse(rest, acc + ("resume" -> "true"))
      case key :: value :: rest if key.startsWith("--") =>
        parse(rest, acc + (key.drop(2) -> value))
      case other :: _ => sys.error(s"unexpected arg: $other")
    }
}
