package graft

import java.nio.file.Files

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

import graft.operators.ImporterPipeline
import graft.sources.{Fixtures, Tables}
import graft.streaming.ImporterStream

/** The parquet accessor: reads equal a plain `spark.read.parquet`, a
  * rewritten path is re-inferred, and a warmed read launches no
  * schema-inference job.
  */
class TablesSpec extends SparkSuite {
  import spark.implicits._

  /** (call site, launched inside a SQL execution) of every job `body`
    * starts, with the call site read as Spark's UI shows it: the name of
    * the job's result stage.
    */
  private def jobsOf(body: => Any): Seq[(String, Boolean)] = {
    val seen = mutable.ArrayBuffer.empty[(String, Boolean)]
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = seen.synchronized {
        val site = if (j.stageInfos.isEmpty) "" else j.stageInfos.maxBy(_.stageId).name
        val inSql = Option(j.properties).exists(_.getProperty("spark.sql.execution.id") != null)
        seen += ((site, inSql))
      }
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      body
      org.apache.spark.graft.ListenerBus.drain(spark.sparkContext)
    } finally spark.sparkContext.removeSparkListener(listener)
    seen.synchronized(seen.toList)
  }

  private def parquetJobs(jobs: Seq[(String, Boolean)]): Seq[String] =
    jobs.collect { case (site, _) if site.startsWith("parquet at ") => site }

  /** Schema inference runs at read time, outside any SQL execution; a
    * parquet write's jobs run inside one.
    */
  private def schemaJobs(jobs: Seq[(String, Boolean)]): Seq[String] =
    jobs.collect { case (site, false) if site.startsWith("parquet at ") => site }

  test("every sf0.001 fixture reads through Tables exactly as a plain parquet read") {
    val names = new java.io.File(sf0001).list().toSeq
      .filter(_.endsWith(".parquet")).map(_.stripSuffix(".parquet")).sorted
    assert(names.size >= 10, names)
    names.foreach { n =>
      val plain = spark.read.parquet(s"$sf0001/$n.parquet")
      val got = Tables.table(spark, sf0001, n)
      assert(got.schema === plain.schema, n)
      assert(got.count() === plain.count(), n)
      assert(got.exceptAll(plain).isEmpty && plain.exceptAll(got).isEmpty, n)
    }
  }

  test("a parquet rewritten at the same path with another schema is re-inferred") {
    val p = Files.createTempDirectory("tables-rewrite").resolve("t.parquet").toString
    Seq((1, "a"), (2, "b")).toDF("k", "v").write.parquet(p)
    assert(Tables.read(spark, p).as[(Int, String)].collect().toSet === Set((1, "a"), (2, "b")))
    assert(schemaJobs(jobsOf(Tables.read(spark, p))).isEmpty, "the warm read re-inferred")

    Seq((3L, 1.5, true)).toDF("id", "x", "flag").write.mode("overwrite").parquet(p)
    val again = Tables.read(spark, p)
    assert(again.schema === spark.read.parquet(p).schema)
    assert(again.as[(Long, Double, Boolean)].collect().toSeq === Seq((3L, 1.5, true)))

    // an append keeps the schema but changes the stamp: the new rows show
    Seq((4L, 2.5, false)).toDF("id", "x", "flag").write.mode("append").parquet(p)
    assert(Tables.read(spark, p).count() === 2L)
  }

  test("a missing path fails as a plain parquet read does") {
    val missing = s"${Files.createTempDirectory("tables-missing")}/absent.parquet"
    val plain = intercept[Exception](spark.read.parquet(missing))
    val got = intercept[Exception](Tables.read(spark, missing))
    assert(got.getClass === plain.getClass)
  }

  test("a malformed SPARK_GRAFT_SMALL_INPUT_BYTES fails naming the variable") {
    val k = "SPARK_GRAFT_SMALL_INPUT_BYTES"
    assert(Tables.byteCount(k, None, 7L) === 7L)
    assert(Tables.byteCount(k, Some(" 1024 "), 7L) === 1024L)
    val e = intercept[IllegalArgumentException](Tables.byteCount(k, Some("64MB"), 7L))
    assert(e.getMessage.contains(k) && e.getMessage.contains("64MB"))
  }

  test("building a warmed SparkEntry query launches no parquet schema job") {
    val q8 = SparkEntry.queries("q8_market_share")
    q8(spark, sf0001).count()
    val jobs = jobsOf(q8(spark, sf0001))
    assert(parquetJobs(jobs).isEmpty, jobs)
  }

  test("processBatch reads processed_instances without a schema-inference job") {
    val sinks = ImporterStream.Sinks(Files.createTempDirectory("tables-processed").toString)
    val dims = ImporterPipeline.projectDimensions(Fixtures.apiDimensions(spark, sf0001))
    val codeLists = Fixtures.codeLists(spark, sf0001)
    val valid = Fixtures.importerEvents(spark, sf0001).as[(String, String)].collect()
      .filter(_._2.nonEmpty).distinct.sorted.take(3).toSeq
    assert(valid.size === 3)
    // the second batch redelivers the first's instances: only the state
    // read can filter them
    val first = valid.take(2).toDF("file_url", "instance_id")
    val second = valid.toDF("file_url", "instance_id")
    val jobs = jobsOf {
      ImporterStream.processBatch(spark, first, dims, codeLists, sinks, "run1", 0L)
      ImporterStream.processBatch(spark, second, dims, codeLists, sinks, "run1", 1L)
    }
    assert(schemaJobs(jobs).isEmpty, jobs)
    val completed = spark.read.parquet(sinks.completed).select("instance_id").as[String].collect()
    assert(completed.sorted.toSeq === valid.map(_._2).sorted)
  }
}

/** Keeps [[Tables]] the one parquet reader of the program: a plain
  * `.read.parquet(` anywhere else in `src/main/scala` would bring back a
  * schema-inference job per read. The timed bench harness and the offline
  * tools are allowed by name.
  */
class ParquetReadLintSpec extends org.scalatest.funsuite.AnyFunSuite {
  private val Allowed = Set("sources/Tables.scala", "Bench.scala")

  test("no .read.parquet( outside the Tables accessor in src/main/scala") {
    val root = java.nio.file.Paths.get("src/main/scala/graft")
    assert(Files.isDirectory(root), s"run from the repository root: no $root")
    val readCall = """\.read\s*\.parquet\(""".r
    val offenders = {
      val s = Files.walk(root)
      try s.iterator().asScala.toList
      finally s.close()
    }.filter(_.toString.endsWith(".scala")).flatMap { f =>
      val rel = root.relativize(f).toString.replace('\\', '/')
      if (Allowed(rel) || rel.startsWith("tools/")) Nil
      else {
        val text = new String(Files.readAllBytes(f), "UTF-8")
        readCall.findAllMatchIn(text).map(m => s"$rel:${text.take(m.start).count(_ == '\n') + 1}").toList
      }
    }
    assert(offenders.isEmpty, offenders.mkString("\n"))
  }
}
