package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The two skew-safe ranking devices every operator in `graft.ops` shares.
  * Each is the distributed form of one single-window rank, and each
  * operator's DuckDB mirror computes that single window: the proofs below
  * are why the two engines agree.
  */
object Ranks {

  /** Top `k` rows per `group` by `order`, ranked 1..k into column `rank`
    * (an Int, as `row_number()`), with no group sorted in one task.
    *
    * A single `row_number() OVER (PARTITION BY group ORDER BY order)`
    * sorts a hot group's rows in ONE task. Instead:
    *  - stage 1 ranks over `(group, pmod(sub, nSub))` and keeps ranks
    *    <= k: bounded partitions however skewed `group` is, and Spark 4
    *    plans the filter as a map-side `WindowGroupLimit`;
    *  - stage 2 re-ranks the survivors per group, at most nSub*k rows
    *    per group by construction.
    *
    * Exactly the single-window answer: the sub-buckets partition each
    * group, and every row of the group's top k is in its own
    * sub-bucket's top k (a row beaten by k rows of its sub-bucket is
    * beaten by k rows of the group). So stage 2 ranks a superset of the
    * group's top k in the same order. `order` must be a total order
    * within a group (end it with a unique key) for the kept set to be
    * deterministic, as it must for the single window too.
    */
  def topKPerGroup(df: DataFrame, group: Column, sub: Column, order: Seq[Column],
      k: Int, rank: String, nSub: Int = 16): DataFrame = {
    val stage1 = Window.partitionBy(group, pmod(sub, lit(nSub.toLong))).orderBy(order: _*)
    val stage2 = Window.partitionBy(group).orderBy(order: _*)
    df.withColumn("rn1", row_number().over(stage1)).filter(col("rn1") <= k).drop("rn1")
      .withColumn(rank, row_number().over(stage2)).filter(col(rank) <= k)
  }

  /** Global running `sum(value)` in the order (`bucketOrder` over the
    * `buckets` columns, then `order` within a bucket), into the long
    * column `out`, with no window over the whole frame.
    *
    * The single window `sum(value) OVER (ORDER BY ... ROWS UNBOUNDED
    * PRECEDING)` runs in ONE task. Instead:
    *  - each bucket's offset is the exclusive running sum of the
    *    per-bucket totals in `bucketOrder`, taken over the aggregated
    *    bucket frame (one row per bucket) and broadcast back;
    *  - `out` is the offset plus the running sum inside the bucket, a
    *    window partitioned by the buckets.
    *
    * Exactly the single-window answer when the global order sorts by
    * bucket first (`bucketOrder`) and by `order` inside a bucket: every
    * row before a given row is either in an earlier bucket, counted by the
    * offset, or earlier in its own bucket, counted by the running sum.
    * With `value = lit(1L)` the sum counts rows, so `out` is the global
    * `row_number()`.
    */
  def bucketedPrefix(df: DataFrame, buckets: Seq[String], bucketOrder: Seq[Column],
      order: Seq[Column], value: Column, out: String): DataFrame = {
    val keys = buckets.map(col)
    val offsets = df.groupBy(keys: _*).agg(sum(value).as("n"))
      .select(keys :+ coalesce(sum(col("n")).over(Window.orderBy(bucketOrder: _*)
        .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)).as("off"): _*)
    val within = Window.partitionBy(keys: _*).orderBy(order: _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // the running sum covers the current row, so it is never null for a
    // non-null value; the coalesce says so in the schema, as row_number does
    df.join(broadcast(offsets), buckets)
      .withColumn(out, col("off") + coalesce(sum(value).over(within), lit(0L)))
      .drop("off")
  }
}
