package graft.operators

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame}

/** Generic per-key operators (SURVEY §2.3-§2.4).
  *
  * Scale notes are part of the contract: each op documents its shuffle
  * behavior, because at 100 TB the shuffle IS the cost model.
  */
object KeyedOps {

  /** Top-K rows per key (reference `Top.largestPerKey`,
    * `AutoComplete.scala:246-249`).
    *
    * One shuffle on `keys`; within-partition sort only (no global sort).
    * `order` must be a total order (include a unique tiebreaker) or
    * results are nondeterministic.
    */
  def topKPerKey(df: DataFrame, keys: Seq[Column], order: Seq[Column], k: Int,
                 rankCol: String = "rank"): DataFrame = {
    val w = Window.partitionBy(keys: _*).orderBy(order: _*)
    df.withColumn(rankCol, row_number().over(w)).filter(col(rankCol) <= k)
  }

  /** Skew-resistant two-phase top-K (reference `withHotKeyFanout`,
    * `AutoComplete.scala:249-254`): salt each key into `fanout` buckets,
    * take local top-K per (key, salt), then re-rank the <= k*fanout
    * survivors per key. This bounds the per-task sort group for a hot key
    * at ~1/fanout of its rows (no single executor sorts the whole key);
    * for a hard shuffle-volume cap use the bounded-buffer
    * [[graft.operators.TopKAggregator]] (≤ K rows per key per map
    * partition cross the exchange).
    */
  def topKPerKeySalted(df: DataFrame, keys: Seq[Column], order: Seq[Column],
                       k: Int, fanout: Int, rankCol: String = "rank"): DataFrame = {
    val salted = df.withColumn("__salt", pmod(spark_partition_id(), lit(fanout)))
    val local = topKPerKey(salted, keys :+ col("__salt"), order, k, "__local_rank")
      .drop("__local_rank")
    topKPerKey(local.drop("__salt"), keys, order, k, rankCol)
  }

  /** Arg-max: the whole row achieving the max of `ord` per key (reference
    * `Combine.perKey(MaxFlow)`, `TrafficMaxLaneFlow.scala:245-248`).
    *
    * Implemented as max-of-struct so it is ONE hash aggregation with
    * map-side partial combine — strictly cheaper than the window-function
    * formulation (no per-key sort, shuffle carries one row per key per
    * map partition). `ord` columns must make the ordering total for
    * deterministic results (the reference's reduce was order-dependent on
    * ties; we fix that, SURVEY §7.4 risk 5).
    */
  def argMaxPerKey(df: DataFrame, keys: Seq[Column], ord: Seq[Column],
                   payload: Seq[(String, Column)]): DataFrame = {
    val packed = struct(ord ++ payload.map { case (n, c) => c.as(n) }: _*)
    val aggd = df.groupBy(keys: _*).agg(max(packed).as("__m"))
    payload.foldLeft(aggd) { case (acc, (n, _)) =>
      acc.withColumn(n, col(s"__m.$n"))
    }.drop("__m")
  }

  /** Per-key sorted string concat (reference `ConcatWords`,
    * `CombinePerKeyExamples.scala:128-148`). Sorting the collected list
    * makes the result deterministic under any shuffle order.
    */
  def concatPerKey(value: Column, sep: String = ","): Column =
    array_join(array_sort(collect_list(value)), sep)

  /** Broadcast a single global aggregate into every row (reference
    * `View.asSingleton`, `TfIdf.scala:195-200`, `FilterExamples.scala:146-166`).
    * The 1-row side is broadcast by Catalyst (BroadcastNestedLoopJoin) —
    * no shuffle of the big side, no driver collect.
    */
  def withGlobalAgg(df: DataFrame, aggs: Column*): DataFrame =
    df.crossJoin(broadcast(df.agg(aggs.head, aggs.tail: _*)))
}
