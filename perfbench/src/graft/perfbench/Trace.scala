package graft.perfbench

import scala.collection.mutable

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand
import org.apache.spark.sql.util.QueryExecutionListener

/** One traced interval around a call into a layer. Times are wall-clock
  * milliseconds (the clock Spark's listener events carry), `parent` is the
  * enclosing span's id or -1.
  */
final case class Span(id: Int, parent: Int, name: String, start: Long, end: Long) {
  def seconds: Double = (end - start) / 1e3
}

/** A Spark job seen by the listener, with the span that launched it (read
  * from the job's local properties) and the call site of its result stage.
  */
final case class JobRec(id: Int, span: Int, callSite: String, start: Long, end: Long, stageIds: Seq[Int]) {
  def seconds: Double = (end - start) / 1e3
}

final case class StageRec(
    id: Int, name: String, tasks: Int, ms: Long, inputBytes: Long,
    shuffleReadBytes: Long, shuffleWriteBytes: Long, cpuNs: Long)

/** A finished SQL execution from the QueryExecutionListener: the action
  * name, the file path it wrote (writes only) and its duration.
  */
final case class ExecRec(funcName: String, outputPath: Option[String], end: Long, durationNs: Long, ok: Boolean)

/** Span recorder plus Spark listeners. Everything stays in memory until
  * [[write]] at the end of the run. With `enabled = false` no listener is
  * attached and [[span]] only runs its body, so an untraced run pays for
  * nothing but a flag test.
  */
final class Tracer(spark: SparkSession, val runId: String) {
  val SpanKey = "perfbench.span"

  private var enabled = false
  private var nextId = 0
  private val stack = mutable.Stack[Int]()
  val spans = mutable.ArrayBuffer.empty[Span]
  val jobs = mutable.ArrayBuffer.empty[JobRec]
  val stages = mutable.Map.empty[Int, StageRec]
  val execs = mutable.ArrayBuffer.empty[ExecRec]

  private val jobStarts = mutable.Map.empty[Int, (Int, String, Long, Seq[Int])]

  private val jobListener = new SparkListener {
    override def onJobStart(j: SparkListenerJobStart): Unit = synchronized {
      val span = Option(j.properties).flatMap(p => Option(p.getProperty(SpanKey))).map(_.toInt).getOrElse(-1)
      val site = if (j.stageInfos.isEmpty) "" else j.stageInfos.maxBy(_.stageId).name
      jobStarts(j.jobId) = (span, site, j.time, j.stageIds)
    }
    override def onJobEnd(j: SparkListenerJobEnd): Unit = synchronized {
      jobStarts.remove(j.jobId).foreach { case (span, site, start, ids) =>
        jobs += JobRec(j.jobId, span, site, start, j.time, ids)
      }
    }
    override def onStageCompleted(s: SparkListenerStageCompleted): Unit = synchronized {
      val i = s.stageInfo
      val m = i.taskMetrics
      val ms = (for { a <- i.completionTime; b <- i.submissionTime } yield a - b).getOrElse(0L)
      stages(i.stageId) = StageRec(i.stageId, i.name, i.numTasks, ms,
        m.inputMetrics.bytesRead, m.shuffleReadMetrics.totalBytesRead,
        m.shuffleWriteMetrics.bytesWritten, m.executorCpuTime)
    }
  }

  private val execListener = new QueryExecutionListener {
    private def path(qe: QueryExecution): Option[String] =
      qe.analyzed.collectFirst { case c: InsertIntoHadoopFsRelationCommand => c.outputPath.toString }
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = synchronized {
      execs += ExecRec(funcName, path(qe), System.currentTimeMillis(), durationNs, ok = true)
    }
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = synchronized {
      execs += ExecRec(funcName, path(qe), System.currentTimeMillis(), 0L, ok = false)
    }
  }

  /** Attach the listeners and drop anything recorded before. */
  def start(): Unit = {
    clear()
    enabled = true
    spark.sparkContext.addSparkListener(jobListener)
    spark.listenerManager.register(execListener)
  }

  /** Detach the listeners once every queued listener event is delivered. */
  def stop(): Unit = if (enabled) {
    drain()
    spark.sparkContext.removeSparkListener(jobListener)
    spark.listenerManager.unregister(execListener)
    enabled = false
  }

  private def clear(): Unit = synchronized {
    spans.clear(); jobs.clear(); stages.clear(); execs.clear(); jobStarts.clear()
  }

  /** Wait until the listener bus has delivered every event posted so far. */
  def drain(): Unit = if (enabled) org.apache.spark.perfbench.ListenerBus.drain(spark.sparkContext)

  /** Run `body` inside a span named `name`; Spark jobs it launches carry the
    * span id in their local properties.
    */
  def span[A](name: String)(body: => A): A =
    if (!enabled) body
    else {
      val id = nextId
      nextId += 1
      val parent = stack.headOption.getOrElse(-1)
      val sc = spark.sparkContext
      stack.push(id)
      sc.setLocalProperty(SpanKey, id.toString)
      val t0 = System.currentTimeMillis()
      try body
      finally {
        val t1 = System.currentTimeMillis()
        stack.pop()
        sc.setLocalProperty(SpanKey, stack.headOption.map(_.toString).orNull)
        synchronized { spans += Span(id, parent, name, t0, t1) }
      }
    }

  /** Self time of every span: its duration minus the part of it covered by
    * its child spans.
    */
  def selfSeconds: Map[Int, Double] = {
    val children = spans.groupBy(_.parent)
    spans.map { s =>
      val covered = Intervals.union(children.getOrElse(s.id, Nil).map(c => (c.start, c.end)).toSeq)
      s.id -> (s.end - s.start - covered) / 1e3
    }.toMap
  }

  /** Spans, jobs, stages and SQL executions as one JSON document. */
  def write(path: java.nio.file.Path, header: Seq[(String, String)]): Unit = {
    val self = selfSeconds
    def q(s: String) = Json.str(s)
    val spanRows = spans.map(s =>
      s"""{"id":${s.id},"parent":${s.parent},"name":${q(s.name)},"start":${s.start},"end":${s.end},"self_s":${self(s.id)}}""")
    val jobRows = jobs.map(j =>
      s"""{"id":${j.id},"span":${j.span},"call_site":${q(j.callSite)},"start":${j.start},"end":${j.end},"stages":${j.stageIds.mkString("[", ",", "]")}}""")
    val stageRows = stages.values.toSeq.sortBy(_.id).map(s =>
      s"""{"id":${s.id},"name":${q(s.name)},"tasks":${s.tasks},"ms":${s.ms},"input_bytes":${s.inputBytes},"shuffle_read_bytes":${s.shuffleReadBytes},"shuffle_write_bytes":${s.shuffleWriteBytes},"cpu_ns":${s.cpuNs}}""")
    val execRows = execs.map(e =>
      s"""{"func":${q(e.funcName)},"output":${e.outputPath.map(q).getOrElse("null")},"end":${e.end},"duration_ns":${e.durationNs},"ok":${e.ok}}""")
    val head = header.map { case (k, v) => s"${q(k)}:$v" }.mkString(",")
    val doc = s"""{$head,"run_id":${q(runId)},"spans":${spanRows.mkString("[", ",\n", "]")},""" +
      s""""jobs":${jobRows.mkString("[", ",\n", "]")},"stages":${stageRows.mkString("[", ",\n", "]")},""" +
      s""""sql_executions":${execRows.mkString("[", ",\n", "]")}}"""
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.write(path, (doc + "\n").getBytes("UTF-8"))
  }
}

object Intervals {
  /** Total length of the union of closed intervals. */
  def union(xs: Seq[(Long, Long)]): Long = {
    var total = 0L
    var cur: Option[(Long, Long)] = None
    xs.sortBy(_._1).foreach { case (a, b) =>
      cur match {
        case Some((s, e)) if a <= e => cur = Some((s, math.max(e, b)))
        case Some((s, e)) => total += e - s; cur = Some((a, b))
        case None => cur = Some((a, b))
      }
    }
    total + cur.map { case (s, e) => e - s }.getOrElse(0L)
  }
}

object Json {
  def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.lang.Double.toString(v)
}
