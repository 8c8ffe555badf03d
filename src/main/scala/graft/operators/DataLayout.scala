package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.Tables

/** Physical data-layout operators — the write-side half of scan
  * performance at 100 TB, where how bytes land on disk decides how many
  * of them every later query has to read.
  *
  *  - [[writeRangeClustered]]: range-partition + sort by a clustering key
  *    before writing, so parquet row-group min/max stats align with the
  *    key and a selective predicate skips whole row groups/files. The
  *    single-column cousin of Z-ordering: one sorted dimension, zero
  *    extra write cost beyond the range exchange.
  *  - [[writeZOrdered]]: two-column Morton-curve clustering, so BOTH
  *    columns get file/row-group locality — range clustering on one key
  *    leaves predicates on any other key reading everything.
  *  - [[compact]]: bounded-size file rewrite. Streaming appends and
  *    per-batch jobs leave thousands of KB-sized files; object-store
  *    listing and task scheduling are per-file costs, so periodic
  *    compaction to a target file size is standard pipeline hygiene.
  */
object DataLayout {

  /** Write `df` clustered by `key` into ~`numFiles` files: a range
    * exchange gives disjoint key ranges per file, the within-partition
    * sort gives monotone pages inside each, and parquet's footer stats
    * then make `key`-selective scans skip everything else.
    */
  def writeRangeClustered(
      df: DataFrame, key: Column, numFiles: Int, path: String): Unit =
    df.repartitionByRange(numFiles, key)
      .sortWithinPartitions(key)
      .write.mode("overwrite").parquet(path)

  /** Spread the low 8 bits of an int column so bit i lands at position 2i
    * (the classic power-of-two masked-shift sequence) — composed from
    * built-in shift/and/or columns, so it stays inside whole-stage
    * codegen with no custom Expression.
    */
  private def spread8(c: Column): Column = {
    val s1 = (c.bitwiseOR(shiftleft(c, 4))).bitwiseAND(lit(0x0F0F))
    val s2 = (s1.bitwiseOR(shiftleft(s1, 2))).bitwiseAND(lit(0x3333))
    (s2.bitwiseOR(shiftleft(s2, 1))).bitwiseAND(lit(0x5555))
  }

  /** 16-bit Morton (Z-curve) code of two 8-bit bucket ids: a's bits on
    * even positions, b's on odd.
    */
  private[operators] def morton8(a: Column, b: Column): Column =
    spread8(a).bitwiseOR(shiftleft(spread8(b), 1))

  /** Quantile-bucket `c` into 0..255 against boundaries sampled once on
    * the driver (the same bounded-sample pattern as IVF centroid
    * training): per row, the bucket is how many boundaries lie at or
    * below the value — a 255-element literal-array scan, codegen'd.
    * Quantile (not min/max) boundaries keep skewed columns from
    * collapsing into a handful of hot buckets.
    */
  private def quantileBucket(c: Column, boundaries: Array[Double]): Column = {
    val arr = array(boundaries.map(lit(_)): _*)
    size(filter(arr, b => b <= c.cast("double")))
  }

  /** Write `df` Z-ordered on `(ca, cb)` into ~`numFiles` files: bucket
    * each column by its own quantiles (256 ways), interleave the bucket
    * bits into a Morton code, then range-partition + sort by that code.
    * Each file/row-group covers a small Z-interval, i.e. a RECTANGLE in
    * (ca, cb) space, so parquet min/max stats prune selective predicates
    * on EITHER column — the property 1-D clustering only gives its one
    * key. This is the standard multi-dimensional layout for fact tables
    * queried along several axes (Delta/Iceberg OPTIMIZE ZORDER does the
    * same bucketing+interleave server-side).
    */
  def writeZOrdered(
      df: DataFrame, ca: Column, cb: Column, numFiles: Int, path: String): Unit = {
    val probs = (1 until 256).map(_ / 256.0).toArray
    // one multi-column approxQuantile pass — both boundary sets from a
    // single scan, then broadcast as literals
    val Array(ba, bb) = df
      .select(ca.cast("double").as("_qa"), cb.cast("double").as("_qb"))
      .stat.approxQuantile(Array("_qa", "_qb"), probs, 0.01)
    df.withColumn("_z", morton8(quantileBucket(ca, ba), quantileBucket(cb, bb)))
      .repartitionByRange(numFiles, col("_z"))
      .sortWithinPartitions(col("_z"))
      .drop("_z")
      .write.mode("overwrite").parquet(path)
  }

  /** Write `df` Hilbert-ordered on `(ca, cb)`: same quantile bucketing as
    * [[writeZOrdered]], but the bucket pair maps through the Hilbert
    * curve ([[graft.functions.Hilbert]]) instead of the Morton code.
    * Consecutive Hilbert cells are always grid-adjacent, so a file's
    * index interval covers a more compact (ca, cb) region than the same
    * interval of the Z curve, which jumps at power-of-two seams —
    * tighter per-file min/max bounds, better pruning on both axes.
    */
  def writeHilbertOrdered(
      df: DataFrame, ca: Column, cb: Column, numFiles: Int, path: String): Unit = {
    val probs = (1 until 256).map(_ / 256.0).toArray
    val Array(ba, bb) = df
      .select(ca.cast("double").as("_qa"), cb.cast("double").as("_qb"))
      .stat.approxQuantile(Array("_qa", "_qb"), probs, 0.01)
    df.withColumn("_h",
        graft.functions.Hilbert.hilbert16(quantileBucket(ca, ba), quantileBucket(cb, bb)))
      .repartitionByRange(numFiles, col("_h"))
      .sortWithinPartitions(col("_h"))
      .drop("_h")
      .write.mode("overwrite").parquet(path)
  }

  /** Write `df` as a BUCKETED table: rows are hash-partitioned into
    * `numBuckets` files by `key` and sorted within each, and the bucket
    * spec lands in the catalog. A later equi-join or aggregation on the
    * bucket key then needs NO shuffle at all — the scan's output
    * partitioning already satisfies the join's required distribution, so
    * two tables bucketed the same way join with zero exchanges. At
    * 100 TB this converts the single most expensive operation in the
    * pipeline (the fact↔fact shuffle, terabytes over the network on
    * every run) into a write-once cost paid at ingest.
    */
  def writeBucketed(
      df: DataFrame, key: String, numBuckets: Int,
      path: String, tableName: String): Unit =
    df.write.mode("overwrite")
      .option("path", path)
      .bucketBy(numBuckets, key)
      .sortBy(key)
      .format("parquet")
      .saveAsTable(tableName)

  /** Write `df` hive-partitioned by the DATE of `tsCol`: one directory
    * per day, so any time-windowed query prunes at the DIRECTORY level
    * before a single footer is read — the coarse complement to row-group
    * clustering, and the standard first partition axis for an
    * append-only fact table (each ingest day writes only its own
    * partition, compaction and retention operate per-directory).
    */
  def writeDatePartitioned(df: DataFrame, tsCol: Column, path: String): Unit =
    df.withColumn("dt", to_date(tsCol))
      .write.mode("overwrite")
      .partitionBy("dt")
      .parquet(path)

  /** Rewrite `inPath` with at most `targetRecordsPerFile` rows per file:
    * a sizing count, then a NARROW coalesce write — no shuffle, each
    * write task merges whole input files. Coalesced tasks can be uneven
    * (they inherit input-partition grouping), so `maxRecordsPerFile` is
    * the hard per-file bound and the coalesce target only steers the
    * file count near rows/target.
    */
  /** Materialize the training-shard layout a trainer streams: one
    * `shard=` directory per shard, each holding ONE file whose rows are
    * ordered by `shard_pos` — so a per-shard reader is a single
    * sequential scan with no sort and no cross-shard read amplification.
    * `assignment` is a [[TrainingPrep.shardAssignment]] /
    * [[TrainingPrep.stableShardAssignment]]-shaped frame joined with
    * whatever payload columns the trainer needs; the repartition on
    * `shard` puts each shard in exactly one task (shard count is chosen
    * to make shard ≫ task overhead at any scale — see
    * [[TrainingPrep.NumShards]]), and the within-partition sort plus
    * parquet's record ordering preserve `shard_pos` order inside the
    * file.
    */
  def writeShards(assignment: DataFrame, path: String): Unit =
    assignment
      .repartition(col("shard"))
      .sortWithinPartitions(col("shard"), col("shard_pos"))
      .write.mode("overwrite")
      .partitionBy("shard")
      .parquet(path)

  def compact(
      spark: SparkSession, inPath: String, outPath: String,
      targetRecordsPerFile: Long): Unit = {
    require(targetRecordsPerFile > 0,
      s"targetRecordsPerFile must be positive, got $targetRecordsPerFile")
    val in = Tables.read(spark, inPath)
    val rows = in.count()
    val parts = math.min(Int.MaxValue.toLong,
      math.max(1L, (rows + targetRecordsPerFile - 1) / targetRecordsPerFile)).toInt
    in.coalesce(parts)
      .write.mode("overwrite")
      .option("maxRecordsPerFile", targetRecordsPerFile)
      .parquet(outPath)
  }
}
