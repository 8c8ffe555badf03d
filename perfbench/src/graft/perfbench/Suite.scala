package graft.perfbench

import scala.util.control.NonFatal

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.SparkEntry

/** Order-insensitive digest of every column of a query's output: row
  * count, and the sum and xor of a per-row xxhash64. Floating-point values
  * are hashed at six significant digits, so a last-bit difference from a
  * changed summation order does not read as a wrong result.
  */
final case class Digest(rows: Long, sum: BigDecimal, xor: Long) {
  def line: String = s"$rows\t$sum\t$xor"
}

object Digest {
  private def hasFloat(t: DataType): Boolean = t match {
    case DoubleType | FloatType => true
    case ArrayType(e, _) => hasFloat(e)
    case StructType(fs) => fs.exists(f => hasFloat(f.dataType))
    case MapType(k, v, _) => hasFloat(k) || hasFloat(v)
    case _ => false
  }

  private def normalize(c: Column, t: DataType): Column = t match {
    case DoubleType | FloatType => format_string("%.5e", c)
    case _ if !hasFloat(t) => t match {
      case _: MapType => array_sort(map_entries(c))
      case _ => c
    }
    case ArrayType(e, _) => transform(c, x => normalize(x, e))
    case StructType(fs) =>
      when(c.isNull, lit(null)).otherwise(
        struct(fs.toSeq.map(f => normalize(c.getField(f.name), f.dataType).as(f.name)): _*))
    case MapType(k, v, _) =>
      array_sort(transform(map_entries(c), e =>
        struct(normalize(e.getField("key"), k).as("key"), normalize(e.getField("value"), v).as("value"))))
    case _ => c
  }

  /** The one-row digest query over `df`; collecting it runs `df` in full. */
  def frame(df: DataFrame): DataFrame = {
    val named = df.toDF(df.columns.indices.map(i => s"c$i"): _*)
    val h = xxhash64(named.schema.fields.toSeq.map(f => normalize(col(f.name), f.dataType)): _*)
    named.select(h.as("h"))
      .agg(count(lit(1)), sum(col("h").cast("decimal(38,0)")), bit_xor(col("h")))
  }

  def read(r: org.apache.spark.sql.Row): Digest =
    Digest(r.getLong(0),
      if (r.isNullAt(1)) BigDecimal(0) else BigDecimal(r.getDecimal(1)),
      if (r.isNullAt(2)) 0L else r.getLong(2))

  def parse(line: String): (String, Digest) = line.split('\t') match {
    case Array(n, rows, s, x) => n -> Digest(rows.toLong, BigDecimal(s), x.toLong)
    case _ => sys.error(s"bad reference line: $line")
  }
}

/** One row of the suite's per-query profile (`reference/profile_sf0.01.tsv`). */
final case class Profiled(name: String, total: Double, build: Double, buildJobs: Int, exec: Double)

object Profiled {
  def parse(line: String): Profiled = line.split('\t') match {
    case Array(n, _, total, build, _, buildJobs, _, exec, _) =>
      Profiled(n, total.toDouble, build.toDouble, buildJobs.toInt, exec.toDouble)
    case _ => sys.error(s"bad profile line: $line")
  }
}

/** The graded query suite: a stratified selection of `SparkEntry.queries`
  * ([[Suite.select]]), each timed as build + plan + digest, visited in a
  * seeded order.
  */
final class Suite(spark: SparkSession, dir: String, seed: Long, reference: Map[String, Digest],
    profile: Seq[Profiled], tracer: Tracer) extends Workload {

  private val all: Seq[(String, String, (SparkSession, String) => DataFrame)] = Seq(
    "importer" -> SparkEntry.importerQueries, "relational" -> SparkEntry.relationalQueries,
    "text" -> SparkEntry.textQueries, "dedup" -> SparkEntry.dedupQueries,
    "similarity" -> SparkEntry.similarityQueries, "source" -> SparkEntry.sourceQueries,
    "multimodal" -> SparkEntry.multimodalQueries
  ).flatMap { case (g, qs) => qs.toSeq.sortBy(_._1).map { case (n, f) => (g, n, f) } }

  val selection: Seq[(String, String, (SparkSession, String) => DataFrame)] = {
    val names = Suite.select(profile, Suite.Size).toSet
    all.filter(q => names(q._2))
  }

  /** One untimed pass over the selection, so the timed pass meets warm
    * code: the JIT and codegen have seen every query's shapes, and the
    * `IndexStore` artifacts the selection reads are built (on first use,
    * as in any process).
    */
  def setup(): Unit = {
    System.err.println(s"[perfbench] selection: ${selection.map(_._2).mkString(" ")}")
    new scala.util.Random(seed * 1000003L - 1).shuffle(selection).foreach { case (g, n, f) =>
      runOne(g, n, f, "warmup")
    }
  }

  /** Time one query: build its DataFrame, plan the digest query, run it.
    * The span is `<kind>/<group>/<name>`; only `query` spans count in the
    * per-layer metrics, not the warm pass's.
    */
  private def runOne(group: String, name: String, f: (SparkSession, String) => DataFrame,
      kind: String = "query"): (Double, Option[Digest]) = {
    val t0 = System.nanoTime()
    val d =
      try tracer.span(s"$kind/$group/$name") {
        val q = tracer.span("build")(Digest.frame(f(spark, dir)))
        tracer.span("plan")(q.queryExecution.executedPlan)
        Some(Digest.read(tracer.span("exec")(q.collect()).head))
      } catch { case NonFatal(e) =>
        System.err.println(s"[perfbench] $name failed: ${e.getClass.getName}: ${Option(e.getMessage).getOrElse("").take(300)}")
        None
      }
    spark.catalog.clearCache()
    ((System.nanoTime() - t0) / 1e9, d)
  }

  private def ok(name: String, d: Option[Digest]): Boolean = (d, reference.get(name)) match {
    case (Some(got), Some(want)) =>
      val same = if (Suite.RowsOnly(name)) got.rows == want.rows else got == want
      if (!same) System.err.println(s"[perfbench] $name digest ${got.line} != reference ${want.line}")
      same
    case (Some(_), None) =>
      System.err.println(s"[perfbench] $name has no reference digest")
      false
    case _ => false
  }

  /** Timed passes, each in its own seeded order; `growth` is the last
    * pass over the first, so cost that piles up across queries in one JVM
    * shows.
    */
  def run(seconds: Double): Section = {
    val start = System.nanoTime()
    val ops = Seq.newBuilder[Double]
    val passes = Seq.newBuilder[Double]
    var attempted, failed = 0L
    var pass = 0
    while (pass < Suite.MinPasses || (System.nanoTime() - start) / 1e9 < seconds) {
      val order = new scala.util.Random(seed * 1000003L + pass).shuffle(selection)
      var passS = 0.0
      order.foreach { case (g, n, f) =>
        val (t, d) = runOne(g, n, f)
        System.err.println(f"[perfbench] $n%s $t%.3f s")
        ops += t
        passS += t
        attempted += 1
        if (!ok(n, d)) failed += 1
      }
      passes += passS
      pass += 1
    }
    val ps = passes.result()
    Section(ops.result(), ps, ps.last / ps.head, attempted, attempted, failed, ps.size)
  }

  def layers(s: Section): Seq[(String, Double, String)] = Layers.metrics(tracer, s.passes, Layers.NoIngest)

  /** Two passes over every query in the suite, in name order: an untimed
    * warm pass and a traced one. Returns the digest of every query for the
    * reference file and the traced pass's per-query profile
    * ([[Layers.profile]]), from which [[Suite.select]] takes the selection.
    * A digest that differs between the two passes is reported.
    */
  def record(): (Seq[String], Seq[String]) = {
    val byName = all.sortBy(_._2)
    val warm = byName.map { case (g, n, f) => runOne(g, n, f, "warmup")._2 }
    tracer.start()
    val digests = byName.zip(warm).map { case ((g, n, f), w) =>
      val (_, d) = runOne(g, n, f)
      if (d != w && !Suite.RowsOnly(n))
        System.err.println(s"[perfbench] $n digest differs between passes: ${w.map(_.line)} vs ${d.map(_.line)}")
      s"$n\t${d.map(_.line).getOrElse("FAILED\t0\t0")}"
    }
    tracer.stop()
    (digests, Layers.ProfileHeader +: Layers.profile(tracer))
  }

  def close(): Unit = ()
}

object Suite {
  /** Queries in the selection; see `README.md` for how its split compares
    * with the whole suite's.
    */
  val Size = 11

  /** Eager builders launch at least this many Spark jobs (other than
    * parquet schema reads) while building their DataFrame.
    */
  val EagerJobs = 10

  /** A selection of `size` queries from the profiled suite, drawn with
    * probability proportional to time and stratified by where a query spends
    * it. The profile is sorted into the queries whose execution outlasts
    * their build, then those whose build outlasts it, then the eager
    * builders, each class by total time; the selection is the query at the
    * midpoint of each of `size` equal shares of the cumulative time. Each
    * class so gets a share of the selection in proportion to its share of
    * the suite's time, and the selection's build/plan/exec split follows
    * the suite's.
    */
  def select(profile: Seq[Profiled], size: Int): Seq[String] = {
    def cls(p: Profiled) = if (p.buildJobs >= EagerJobs) 2 else if (p.build > p.exec) 1 else 0
    val sorted = profile.sortBy(p => (cls(p), p.total, p.name))
    val ends = sorted.scanLeft(0.0)(_ + _.total).tail
    val total = ends.lastOption.getOrElse(0.0)
    (0 until size).flatMap { i =>
      val mid = (i + 0.5) * total / size
      sorted.zip(ends).find(_._2 > mid).map(_._1.name)
    }.distinct
  }

  /** Approximate-quantile queries: checked by row count only. */
  val RowsOnly: Set[String] = Set("a7_approx_value_quantiles", "a7x_gk_error_bound")
  val MinPasses = 2
}
