package graft.perfbench

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

/** What one timed section measured. `opSeconds` are per-operation wall
  * times (one query, or one micro-batch); `items` are the operations the
  * throughput counts (queries, or events); `attempted`/`failed` are the
  * checked operations (queries, or event deliveries).
  */
final case class Section(
    opSeconds: Seq[Double], passSeconds: Seq[Double], growth: Double,
    items: Long, attempted: Long, failed: Long, passes: Int) {

  def endToEnd(setupS: Double): Seq[(String, Double, String)] = Seq(
    ("setup_s", setupS, "s"),
    ("pass_s", Stats.median(passSeconds), "s"),
    ("op_p50_s", Stats.quantile(opSeconds, 0.5), "s"),
    ("op_p90_s", Stats.quantile(opSeconds, 0.9), "s"),
    ("ops_per_s", items / opSeconds.sum, "1/s"),
    ("growth", growth, "ratio"),
    ("success_ratio", 1.0 - failed.toDouble / math.max(attempted, 1L), "ratio"))
}

trait Workload {
  /** Warm-up and any state the timed part starts from; counted in setup_s. */
  def setup(): Unit
  /** Timed passes until `seconds` have elapsed (at least one pass). */
  def run(seconds: Double): Section
  /** Per-layer metrics from the tracer, after a traced [[run]]. */
  def layers(s: Section): Seq[(String, Double, String)]
  def close(): Unit
}

/** Benchmark entry point.
  *
  * {{{
  * Main --workload suite|ingest_fresh --seed N --seconds S --trace 0|1
  *      --data DIR --work DIR --reference FILE --trace-file FILE
  * Main --record FILE --profile FILE --data DIR --work DIR
  * }}}
  *
  * Prints one JSON object as its last line of stdout: the end-to-end
  * metrics (`--trace 0`) or the per-layer metrics (`--trace 1`). A traced
  * run times an untraced, a traced and another untraced section, and
  * reports the traced one minus the mean of the others as the tracing
  * overhead.
  */
object Main {
  private def loadavg(): String =
    try new String(Files.readAllBytes(Paths.get("/proc/loadavg")), "UTF-8").trim
    catch { case _: Throwable => "" }

  private def environment(): Seq[(String, String)] = Seq(
    "nproc" -> Runtime.getRuntime.availableProcessors().toString,
    "spark_graft_cpus" -> Json.str(sys.env.getOrElse("SPARK_GRAFT_CPUS", "")),
    "loadavg" -> Json.str(loadavg()))

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def opt(k: String): String = opts.getOrElse(k, sys.error(s"missing --$k"))
    val work = Paths.get(opt("work"))
    Files.createDirectories(work)
    val start = environment()
    System.err.println(s"[perfbench] start ${start.map { case (k, v) => s"$k=$v" }.mkString(" ")}")
    val line = graft.RunnerLock.withLock {
      val t0 = System.nanoTime()
      val spark = graft.Bench.session()
      try {
        val tracer = new Tracer(spark, java.util.UUID.randomUUID().toString)
        opts.get("record") match {
          case Some(out) =>
            val (digests, profile) = new Suite(spark, opt("data"), 0L, Map.empty, Nil, tracer).record()
            Files.write(Paths.get(out), digests.asJava)
            Files.write(Paths.get(opt("profile")), profile.asJava)
            s"""{"recorded":${digests.size}}"""
          case None =>
            val seed = opt("seed").toLong
            val seconds = opt("seconds").toDouble
            val workload: Workload = opt("workload") match {
              case "suite" =>
                val ref = Files.readAllLines(Paths.get(opt("reference"))).asScala
                  .filter(_.nonEmpty).map(Digest.parse).toMap
                val profile = Files.readAllLines(Paths.get(opt("profile"))).asScala
                  .drop(1).filter(_.nonEmpty).map(Profiled.parse).toSeq
                new Suite(spark, opt("data"), seed, ref, profile, tracer)
              case "ingest_fresh" => new Ingest(spark, opt("data"), work.resolve("ingest"), seed, tracer)
              case w => sys.error(s"unknown workload $w")
            }
            try {
              workload.setup()
              val setupS = (System.nanoTime() - t0) / 1e9
              val plain = workload.run(seconds)
              val (metrics, attempted, failed) =
                if (opt("trace") == "1") {
                  tracer.start()
                  val traced = workload.run(seconds)
                  tracer.stop()
                  val layers = workload.layers(traced)
                  // a second untraced section after the traced one: the
                  // baseline is the mean of the two, so code still warming
                  // up across sections does not read as (negative) overhead
                  val after = workload.run(seconds)
                  def value(s: Section, m: String) = s.endToEnd(setupS).find(_._1 == m).get._2
                  val overhead = Seq("pass_s", "op_p50_s").map { m =>
                    (s"trace.overhead_$m", value(traced, m) - (value(plain, m) + value(after, m)) / 2, "s")
                  }
                  tracer.write(Paths.get(opt("trace-file")),
                    Seq("workload" -> Json.str(opt("workload")), "seed" -> seed.toString) ++
                      start.map { case (k, v) => s"start_$k" -> v } ++
                      environment().map { case (k, v) => s"end_$k" -> v })
                  val sections = Seq(plain, traced, after)
                  (layers ++ overhead, sections.map(_.attempted).sum, sections.map(_.failed).sum)
                } else (plain.endToEnd(setupS), plain.attempted, plain.failed)
              val ms = metrics.map { case (k, v, u) => s"${Json.str(k)}:{\"value\":${Json.num(v)},\"unit\":${Json.str(u)}}" }
              s"""{"correct":${failed == 0},"attempted":$attempted,"failed":$failed,"metrics":{${ms.mkString(",")}}}"""
            } finally workload.close()
        }
      } finally spark.stop()
    }
    System.err.println(s"[perfbench] end ${environment().map { case (k, v) => s"$k=$v" }.mkString(" ")}")
    println(line)
  }
}
