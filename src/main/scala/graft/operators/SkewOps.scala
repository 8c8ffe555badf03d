package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.Tables.table

/** Skew-resistant aggregation: the two-phase salted pattern for the 100 TB
  * case where a handful of hot keys (here: 3 return flags over the whole
  * lineitem table) would otherwise pin the final reducers.
  *
  * Phase 1 groups by (key, salt) — fan-out `buckets`× so hot keys spread
  * over many reducers; phase 2 re-aggregates the tiny partial table by key.
  * The salt must be deterministic per row (a hash of high-cardinality
  * columns), never `rand()`, so retries and the DuckDB oracle agree.
  *
  * Note Spark's own map-side partial aggregation already handles *sum-like*
  * skew; the salted form matters when phase 1 itself needs a shuffle
  * (collect_list/distinct-style states) or under AQE-less engines — it is
  * included as the engine's documented, tested skew tool.
  */
object SkewOps {

  /** Two-phase salted sum: exact same result as a direct groupBy-sum. */
  def saltedSum(
      df: DataFrame,
      keys: Seq[Column],
      value: Column,
      saltSource: Column,
      buckets: Int,
      outName: String): DataFrame = {
    val salted = df.withColumn("_salt", pmod(xxhash64(saltSource), lit(buckets)))
    salted
      .groupBy(keys :+ col("_salt"): _*)
      .agg(sum(value).as("_partial"))
      .groupBy(keys: _*)
      .agg(sum(col("_partial")).as(outName))
  }

  /** Salted pricing roll-up by return flag (3 hot keys × whole lineitem);
    * values pre-scaled to exact integer cents so the two-phase sum is
    * order-independent.
    */
  def saltedPricingByFlag(spark: SparkSession, dir: String): DataFrame =
    saltedSum(
      table(spark, dir, "lineitem").withColumn("qty_e2", Exact.e(col("l_quantity"), 2)),
      keys = Seq(col("l_returnflag")),
      value = col("qty_e2"),
      saltSource = col("l_orderkey") * lit(8) + col("l_linenumber"),
      buckets = 32,
      outName = "sum_qty_e2")

  /** Exact heavy hitters via a bounded-memory candidate pass. Phase 1 is a
    * Karp–Papadimitriou–Shenker sketch (`stat.freqItems`: one map-side
    * pass keeping ≤ 1/support counters per partition, merged on the
    * driver) that is guaranteed to propose a SUPERSET of every key with
    * frequency > support·N. Phase 2 filters the table to those ≤ 1/support
    * candidates — a broadcast-able literal list, so the scan prunes rather
    * than shuffles the full key space — and confirms exact counts,
    * discarding sketch false positives. Net: exact answer, and the 100 TB
    * groupBy over every key is replaced by an agg over a sliver. The same
    * sketch-then-confirm shape is how frequent-token and hot-shard audits
    * stay cheap on full-corpus scans.
    */
  /** Shared with the a8 DuckDB oracle so the two sides cannot drift. */
  val DefaultSupport = 0.008

  def heavyHitterUsers(
      spark: SparkSession, dir: String, support: Double = DefaultSupport): DataFrame = {
    val events = RelationalOps.eventsTable(spark, dir).select(col("user_id"))
    val candidates =
      events.stat.freqItems(Seq("user_id"), support).first().getSeq[Long](0)
    val total = events.count()
    events
      .filter(col("user_id").isin(candidates: _*))
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n"))
      .filter(col("n") > lit(support) * lit(total))
  }
}
