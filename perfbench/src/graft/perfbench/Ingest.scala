package graft.perfbench

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.ImporterPipeline._
import graft.sources.Fixtures
import graft.streaming.ImporterStream

/** The importer's streaming path: the `Fixtures.importerEvents` log,
  * seed-shuffled into fixed-size micro-batches, fed to
  * `ImporterStream.processBatch` by one client in a closed loop.
  *
  * Each pass ingests the whole log into empty sinks of its own.
  */
final class Ingest(spark: SparkSession, dir: String, work: Path, seed: Long,
    tracer: Tracer) extends Workload {
  import spark.implicits._

  // the same lazy fixture frames the streaming specs hand to processBatch
  private val dims = projectDimensions(Fixtures.apiDimensions(spark, dir))
  private val codeLists = Fixtures.codeLists(spark, dir)
  private val log: Vector[(String, String)] =
    Fixtures.importerEvents(spark, dir).as[(String, String)].collect().toVector.sorted

  private def batches(salt: Long): Vector[Vector[(String, String)]] =
    new scala.util.Random(seed * 1000003L + salt).shuffle(log).grouped(Ingest.BatchSize).toVector

  /** processBatch over `bs` in order; wall seconds per batch. */
  private def ingest(sinks: ImporterStream.Sinks, runNs: String, bs: Seq[Seq[(String, String)]]): Seq[Double] =
    bs.zipWithIndex.map { case (b, i) =>
      val df = b.toDF("file_url", "instance_id")
      val t0 = System.nanoTime()
      tracer.span("process_batch")(
        ImporterStream.processBatch(spark, df, dims, codeLists, sinks, runNs, i.toLong))
      (System.nanoTime() - t0) / 1e9
    }

  /** A throwaway ingest of [[Ingest.WarmupBatches]] batches into a scratch
    * sink, since the first batches of a JVM run several times slower than
    * steady state (JIT, codegen).
    */
  def setup(): Unit = {
    val scratch = work.resolve("warmup")
    ingest(ImporterStream.Sinks(scratch.toString), "warmup", batches(-1L).take(Ingest.WarmupBatches))
    Ingest.delete(scratch)
  }

  private var extras = Layers.NoIngest
  private var passNo = 0

  def run(seconds: Double): Section = {
    val start = System.nanoTime()
    val ops = Seq.newBuilder[Double]
    val passes = Seq.newBuilder[Double]
    val growths = Seq.newBuilder[Double]
    var attempted, failed = 0L
    var stats = Seq.empty[(Double, Double, Double, Double)]
    var n = 0
    while (n < 1 || (System.nanoTime() - start) / 1e9 < seconds) {
      val bs = batches(passNo.toLong)
      val sinks = ImporterStream.Sinks(work.resolve(s"pass$passNo").toString)
      val lat = ingest(sinks, s"pass$passNo", bs)
      System.err.println(s"[perfbench] pass $passNo batch seconds: ${lat.map(t => f"$t%.3f").mkString(" ")}")
      ops ++= lat
      passes += lat.sum
      growths += Stats.growth(lat)
      val (a, f) = check(sinks, bs.flatten)
      attempted += a
      failed += f
      stats :+= diskStats(sinks, bs.size, bs.flatten)
      Ingest.delete(Paths.get(sinks.outDir))
      passNo += 1
      n += 1
    }
    extras = Layers.IngestExtras(
      Stats.median(stats.map(_._1)), Stats.median(stats.map(_._2)),
      Stats.median(stats.map(_._3)), Stats.median(stats.map(_._4)))
    val ps = passes.result()
    Section(ops.result(), ps, Stats.median(growths.result()), attempted, attempted, failed, ps.size)
  }

  /** (processed_instances files, their bytes, sink files written per batch,
    * new instances over valid events) for one checked sink directory.
    */
  private def diskStats(sinks: ImporterStream.Sinks, nBatches: Int,
      events: Seq[(String, String)]): (Double, Double, Double, Double) = {
    val state = Ingest.parquetFiles(Paths.get(sinks.processed))
    val written = Seq(sinks.updates, sinks.completed, sinks.errors, sinks.processed)
      .map(p => Ingest.parquetFiles(Paths.get(p)).size).sum
    val valid = events.count(_._2.nonEmpty)
    val newInst = events.filter(_._2.nonEmpty).map(_._2).distinct.size
    (state.size.toDouble, state.map(Files.size).sum.toDouble,
      written.toDouble / math.max(nBatches, 1), newInst.toDouble / math.max(valid, 1))
  }

  /** Check a sink directory against the events delivered into it; returns
    * (events attempted, events failed). An event fails if its instance is
    * missing from, duplicated in or wrong in `updates`, `completed` or
    * `processed_instances`, or reported by the failure branch; an invalid
    * event fails unless `errors` holds it once per delivery.
    */
  private def check(sinks: ImporterStream.Sinks, events: Seq[(String, String)]): (Long, Long) = {
    val validIds = events.map(_._2).filter(_.nonEmpty).distinct
    val ids = validIds.toDF("instance_id")
    val expected = optionUpdates(
      withOrder(dedupOptions(validDimensions(dims)).join(ids, Seq("instance_id"), "left_semi"), codeLists),
      enablePatchNodeId = true)
    val cols = expected.columns.toSeq.map(col)
    val bad = scala.collection.mutable.Set.empty[String]
    def read(p: String): Option[DataFrame] =
      if (Ingest.parquetFiles(Paths.get(p)).isEmpty) None else Some(spark.read.parquet(p))

    val updates = read(sinks.updates).map(_.select(cols: _*))
      .getOrElse(expected.limit(0))
    bad ++= updates.exceptAll(expected).union(expected.exceptAll(updates))
      .select("instance_id").distinct().as[String].collect()

    Seq(sinks.completed, sinks.processed).foreach { p =>
      val counts = read(p).map(_.groupBy("instance_id").count().as[(String, Long)].collect().toMap)
        .getOrElse(Map.empty[String, Long])
      bad ++= validIds.filter(i => counts.getOrElse(i, 0L) != 1L)
      bad ++= counts.keySet -- validIds
    }

    val errors = read(sinks.errors).map(_.select("file_url", "instance_id", "err_context")
      .as[(String, String, String)].collect().toSeq).getOrElse(Nil)
    bad ++= errors.filter(_._3.startsWith("failed to")).map(_._2)
    val reported = errors.filter(_._3 == "unable to process message").groupBy(_._1).map { case (k, v) => k -> v.size }
    val invalid = events.filter(_._2.isEmpty).groupBy(_._1).map { case (k, v) => k -> v.size }
    val invalidFailed = invalid.map { case (url, n) => math.min(n, math.abs(reported.getOrElse(url, 0) - n)) }.sum +
      (reported.keySet -- invalid.keySet).size

    val failed = events.count(e => e._2.nonEmpty && bad.contains(e._2)) + invalidFailed
    if (failed > 0)
      System.err.println(s"[perfbench] ingest check: $failed of ${events.size} events failed; instances ${bad.toSeq.sorted.take(10).mkString(",")}")
    (events.size.toLong, failed.toLong)
  }

  def layers(s: Section): Seq[(String, Double, String)] = Layers.metrics(tracer, s.passes, extras)

  def close(): Unit = Ingest.delete(work)
}

object Ingest {
  /** Divides the 230-event log: every batch of a pass is full. */
  val BatchSize = 23
  val WarmupBatches = 8

  def parquetFiles(p: Path): Seq[Path] =
    if (!Files.exists(p)) Nil
    else {
      val s = Files.walk(p)
      try s.iterator().asScala.filter(f => Files.isRegularFile(f) && f.toString.endsWith(".parquet")).toList
      finally s.close()
    }

  def delete(p: Path): Unit = if (Files.exists(p)) {
    val s = Files.walk(p)
    try s.iterator().asScala.toList.reverse.foreach(Files.deleteIfExists)
    finally s.close()
  }
}
