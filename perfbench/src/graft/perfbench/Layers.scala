package graft.perfbench

/** Per-layer metrics computed from a traced section. Every workload reports
  * the same names; a layer the workload does not enter reads 0.
  *
  * Suite spans are `query/<group>/<name>` with children `build`, `plan` and
  * `exec`; suite figures are per pass. Ingest spans are `process_batch`;
  * streaming figures are per batch.
  */
object Layers {
  val Groups: Seq[String] = Seq("importer", "relational", "text", "dedup", "similarity", "source", "multimodal")

  /** Figures the ingest workloads read from disk rather than from the trace. */
  final case class IngestExtras(stateFiles: Double, stateBytes: Double, sinkFilesPerBatch: Double, newRatio: Double)
  val NoIngest: IngestExtras = IngestExtras(0, 0, 0, 0)

  private def isSchemaRead(j: JobRec): Boolean = j.callSite.startsWith("parquet at ")

  /** A traced query: its `query/<group>/<name>` span and the `build`, `plan`
    * and `exec` spans inside it.
    */
  final case class Q(group: String, name: String, span: Span, build: Span, plan: Option[Span], exec: Option[Span])

  def queries(t: Tracer): Seq[Q] = {
    val byParent = t.spans.groupBy(_.parent)
    t.spans.filter(_.name.startsWith("query/")).flatMap { q =>
      val kids = byParent.getOrElse(q.id, Nil)
      val Array(_, g, n) = q.name.split('/')
      kids.find(_.name == "build").map(b => Q(g, n, q, b, kids.find(_.name == "plan"), kids.find(_.name == "exec")))
    }.toSeq
  }

  /** One row per traced query, as in `reference/profile_sf0.01.tsv`. */
  val ProfileHeader = "name\tgroup\ttotal_s\tbuild_s\tschema_jobs\tbuild_jobs\tplan_s\texec_s\texec_jobs"

  def profile(t: Tracer): Seq[String] = {
    val jobsBySpan = t.jobs.groupBy(_.span)
    def jobsOf(s: Span): Seq[JobRec] = jobsBySpan.getOrElse(s.id, Nil).toSeq
    queries(t).sortBy(_.name).map { q =>
      val (schema, build) = jobsOf(q.build).partition(isSchemaRead)
      Seq(q.name, q.group, q.span.seconds, q.build.seconds, schema.size, build.size,
        q.plan.map(_.seconds).getOrElse(0.0), q.exec.map(_.seconds).getOrElse(0.0),
        q.exec.map(e => jobsOf(e).size).getOrElse(0)).mkString("\t")
    }
  }

  def metrics(t: Tracer, passes: Int, extras: IngestExtras): Seq[(String, Double, String)] = {
    val jobsBySpan = t.jobs.groupBy(_.span)
    def jobsOf(id: Int): Seq[JobRec] = jobsBySpan.getOrElse(id, Nil).toSeq
    def stagesOf(js: Seq[JobRec]): Seq[StageRec] = js.flatMap(_.stageIds).distinct.flatMap(t.stages.get)
    val perPass = 1.0 / math.max(passes, 1)

    val queries = Layers.queries(t)

    val buildJobsAll = queries.flatMap(q => jobsOf(q.build.id))
    val (schema, otherBuild) = buildJobsAll.partition(isSchemaRead)
    val schemaS = schema.map(_.seconds).sum
    val buildS = queries.map(_.build.seconds).sum - schemaS
    val planS = queries.flatMap(_.plan).map(_.seconds).sum
    val execSpans = queries.flatMap(_.exec)

    val batches = t.spans.filter(_.name == "process_batch").toSeq
    val perBatch = 1.0 / math.max(batches.size, 1)
    val batchJobs = batches.flatMap(b => jobsOf(b.id))

    // exec: Spark running physical plans — the suite's exec phase, or every
    // job a micro-batch launches
    val execJobs = execSpans.flatMap(e => jobsOf(e.id)) ++ batchJobs
    val execStages = stagesOf(execJobs)
    val execScale = if (batches.nonEmpty) perBatch else perPass
    val execS =
      if (batches.nonEmpty) batches.map(b => Intervals.union(jobsOf(b.id).map(j => (j.start, j.end)))).sum / 1e3
      else execSpans.map(_.seconds).sum

    // streaming: the state read (schema job for processed_instances plus the
    // isEmpty probe that runs the anti-join) and the four sink writes
    val stateRead = batchJobs.filter(isSchemaRead).map(_.seconds).sum
    val probe = t.execs.filter(_.funcName == "isEmpty").map(_.durationNs / 1e9).sum
    def sinkS(name: String): Double =
      t.execs.filter(_.outputPath.exists(p => p.contains(s"/$name/") || p.endsWith(s"/$name")))
        .map(_.durationNs / 1e9).sum
    val sinks = Seq("updates", "completed", "processed_instances", "errors").map(n => n -> sinkS(n)).toMap
    val batchS = batches.map(_.seconds).sum
    val idem = stateRead + probe

    val base = Seq(
      ("sources.schema_jobs", schema.size * perPass, "count"),
      ("sources.schema_s", schemaS * perPass, "s"),
      ("operators.build_s", buildS * perPass, "s"),
      ("operators.build_jobs", otherBuild.size * perPass, "count"),
      ("plans.plan_s", planS * perPass, "s"),
      ("exec.exec_s", execS * execScale, "s"),
      ("exec.jobs", execJobs.size * execScale, "count"),
      ("exec.stages", execStages.size * execScale, "count"),
      ("exec.tasks", execStages.map(_.tasks.toDouble).sum * execScale, "count"),
      ("exec.serial_stage_s", execStages.filter(_.tasks == 1).map(_.ms / 1e3).sum * execScale, "s"),
      ("exec.input_bytes", execStages.map(_.inputBytes.toDouble).sum * execScale, "bytes"),
      ("exec.shuffle_read_bytes", execStages.map(_.shuffleReadBytes.toDouble).sum * execScale, "bytes"),
      ("exec.shuffle_write_bytes", execStages.map(_.shuffleWriteBytes.toDouble).sum * execScale, "bytes"),
      ("exec.task_cpu_s", execStages.map(_.cpuNs / 1e9).sum * execScale, "s"),
      ("streaming.process_batch_s", batchS * perBatch, "s"),
      ("streaming.idempotency_s", idem * perBatch, "s"),
      ("streaming.state_files", extras.stateFiles, "count"),
      ("streaming.state_bytes", extras.stateBytes, "bytes"),
      ("streaming.sink_updates_s", sinks("updates") * perBatch, "s"),
      ("streaming.sink_completed_s", sinks("completed") * perBatch, "s"),
      ("streaming.sink_processed_s", sinks("processed_instances") * perBatch, "s"),
      ("streaming.sink_errors_s", sinks("errors") * perBatch, "s"),
      ("streaming.sink_files", extras.sinkFilesPerBatch, "count"),
      ("streaming.jobs_per_batch", batchJobs.size * perBatch, "count"),
      ("streaming.new_ratio", extras.newRatio, "ratio"),
      ("streaming.other_s", (batchS - idem - sinks.values.sum) * perBatch, "s"))

    // per group, build figures include the schema jobs
    val groups = Groups.flatMap { g =>
      val qs = queries.filter(_.group == g)
      Seq(
        (s"group.$g.build_s", qs.map(_.build.seconds).sum * perPass, "s"),
        (s"group.$g.build_jobs", qs.flatMap(q => jobsOf(q.build.id)).size * perPass, "count"),
        (s"group.$g.plan_s", qs.flatMap(_.plan).map(_.seconds).sum * perPass, "s"),
        (s"group.$g.exec_s", qs.flatMap(_.exec).map(_.seconds).sum * perPass, "s"))
    }
    base ++ groups
  }
}
