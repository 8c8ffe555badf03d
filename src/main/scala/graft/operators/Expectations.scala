package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.Tables
import graft.sources.Tables.table

/** Declarative data-quality expectations — the validation gate a corpus
  * passes before anything trains on it (the unit-tests-for-data idea of
  * Schelter et al. 2018, "Automating Large-Scale Data Quality
  * Verification", VLDB — public Amazon deequ paper; no code from it).
  *
  * Two scale shapes, both minimal by construction:
  *   - column expectations (completeness, uniqueness, accepted values,
  *     bounds) collapse to ONE aggregation pass over the table — every
  *     observed statistic is a conditional sum/min/max/count-distinct in
  *     the same `agg`, so a 100 TB corpus pays a single scan and a
  *     1-row result regardless of how many checks ride it;
  *   - the referential-integrity check is one anti-join count (the price
  *     of FK validation — there is no cheaper shape), left-semi-pruned to
  *     the key columns so the scan reads two integer columns.
  *
  * Output is the long-form report a pipeline alerts on: one row per
  * check, `(check, subject, observed, threshold, passed)`. Units are
  * exact integers per check: fraction-valued checks report e6 fractions
  * (`x · 1e6 div n` — integer div, oracle-replayable), bound checks
  * report the raw observed value against the raw bound.
  */
object Expectations {

  private[operators] val AcceptedLangs = Seq("en", "es", "de", "fr", "zh")
  private[operators] val MaxCharsBound = 2000L

  /** The six column expectations over ANY `(doc_id, text, lang, n_chars)`
    * frame — one aggregation pass, a 1-row intermediate, a 6-row report.
    * Shared by the corpus query (t40) and the per-micro-batch streaming
    * twin ([[expectationsStream]]).
    */
  private[graft] def docExpectations(docs: DataFrame): DataFrame = {
    val agg = docs.agg(
      count(lit(1)).as("n"),
      sum(when(col("text").isNotNull && length(col("text")) > 0, 1L).otherwise(0L))
        .as("n_text"),
      sum(when(col("lang").isin(AcceptedLangs: _*), 1L).otherwise(0L)).as("n_lang_ok"),
      countDistinct(col("doc_id")).as("n_doc_distinct"),
      min(col("n_chars")).as("min_chars"),
      max(col("n_chars")).as("max_chars"),
      sum(when(col("n_chars") === length(col("text")), 1L).otherwise(0L))
        .as("n_chars_consistent"))
    agg.select(expr(
      s"""stack(6,
         |  'completeness', 'documents.text', (n_text * 1000000) div n, 1000000L,
         |    n_text = n,
         |  'uniqueness', 'documents.doc_id', (n_doc_distinct * 1000000) div n, 1000000L,
         |    n_doc_distinct = n,
         |  'accepted_values', 'documents.lang', (n_lang_ok * 1000000) div n, 1000000L,
         |    n_lang_ok = n,
         |  'consistency', 'documents.n_chars = length(text)',
         |    (n_chars_consistent * 1000000) div n, 1000000L, n_chars_consistent = n,
         |  'min_bound', 'documents.n_chars', min_chars, 1L, min_chars >= 1,
         |  'max_bound', 'documents.n_chars', max_chars, ${MaxCharsBound}L,
         |    max_chars <= ${MaxCharsBound}L
         |) AS (check_name, subject, observed, threshold, passed)""".stripMargin))
      .select(col("check_name"), col("subject"),
        col("observed").cast("bigint").as("observed"),
        col("threshold").cast("bigint").as("threshold"), col("passed"))
  }

  /** The ROW-LEVEL conjunction of the t40 column checks — the per-doc
    * form the composed at-arrival gate uses as its expectations leg
    * ([[graft.streaming.OnlineGate.fullIngestGate]]). Row-level on
    * purpose: the aggregate report's ratios depend on how a feed is
    * sliced into micro-batches, so gating on them would not be
    * prefix-consistent; the per-row predicate is a pure function of the
    * document and judges identically at arrival and cold.
    */
  private[graft] def docRowPass: org.apache.spark.sql.Column =
    col("text").isNotNull && length(col("text")) > 0 &&
      col("lang").isin(AcceptedLangs: _*) &&
      col("n_chars") === length(col("text")) &&
      col("n_chars").between(1L, MaxCharsBound)

  /** t40: the corpus expectation report. */
  def dataExpectations(spark: SparkSession, dir: String): DataFrame = {
    // FK: every lineitem order key must resolve; one anti-join count over
    // two pruned integer columns
    val fk = table(spark, dir, "lineitem").select(col("l_orderkey"))
      .join(table(spark, dir, "orders").select(col("o_orderkey")),
        col("l_orderkey") === col("o_orderkey"), "left_anti")
      .agg(count(lit(1)).as("n_orphans"))
      .select(
        lit("referential_integrity").as("check_name"),
        lit("lineitem.l_orderkey -> orders.o_orderkey").as("subject"),
        col("n_orphans").cast("bigint").as("observed"),
        lit(0L).as("threshold"),
        (col("n_orphans") === 0).as("passed"))
    docExpectations(table(spark, dir, "documents")).unionByName(fk)
  }

  /** t43: the importer-side expectation report — the reference's
    * validation matrix (handler/incoming_instance_handler.go:100-133 and
    * model/models.go:55-69: instance_id, dimension_id and option must be
    * non-empty) plus the S9 uniqueness constraint and the dimension →
    * code-list FK, re-expressed as the same declarative one-pass checks
    * t40 runs over the documents corpus. The raw API feed DELIBERATELY
    * carries the defects the pipeline stages filter (P6 invalid rows, A3
    * duplicates), so the report shows exactly which raw-feed checks bind:
    * the completeness and uniqueness rows fail on the planted rows, and
    * the FK row passes over the post-validation attach set (valid,
    * deduplicated, `time` excluded per P7 — the reference never
    * code-list-attaches the time dimension).
    *
    * Shape: one aggregation pass over the raw dimensions, one over the
    * events, and one distinct+anti-join FK count over the
    * vocabulary-bounded `(code_list_id, option)` pairs (distinct FIRST,
    * so the anti-join input is dictionary-sized, then a broadcast-sized
    * code-list side) — three scans total, nothing quadratic.
    */
  def importerExpectations(spark: SparkSession, dir: String): DataFrame =
    importerExpectationsFrames(
      graft.sources.Fixtures.apiDimensions(spark, dir),
      graft.sources.Fixtures.importerEvents(spark, dir),
      graft.sources.Fixtures.codeLists(spark, dir))

  /** The t43 matrix over ANY (dimensions, events, code-lists) frames —
    * shared by the corpus query above and the per-micro-batch streaming
    * twin ([[importerExpectationsStream]]) so the check arithmetic has
    * exactly one home.
    */
  private[graft] def importerExpectationsFrames(
      dims: DataFrame, events: DataFrame, codeLists: DataFrame): DataFrame = {
    val dimRows = dims.agg(
      count(lit(1)).as("n"),
      sum(when(col("dimension_id") =!= "", 1L).otherwise(0L)).as("n_dim_ok"),
      sum(when(col("option") =!= "", 1L).otherwise(0L)).as("n_opt_ok"),
      countDistinct(col("instance_id"), col("dimension_id"), col("option"))
        .as("n_distinct"))
      .select(expr(
        // n = 0 guard (same discipline as metricDrift's prev-side): an
        // empty feed is vacuously complete/unique — observed pins to the
        // full-scale 1e6 instead of a null `div 0` that would diverge
        // from the DuckDB twin's `// 0` error
        s"""stack(3,
           |  'completeness', 'dimensions.dimension_id',
           |    CASE WHEN n = 0 THEN 1000000L ELSE (n_dim_ok * 1000000) div n END,
           |    1000000L, n_dim_ok = n,
           |  'completeness', 'dimensions.option',
           |    CASE WHEN n = 0 THEN 1000000L ELSE (n_opt_ok * 1000000) div n END,
           |    1000000L, n_opt_ok = n,
           |  'uniqueness', 'dimensions.(instance_id, dimension_id, option)',
           |    CASE WHEN n = 0 THEN 1000000L ELSE (n_distinct * 1000000) div n END,
           |    1000000L, n_distinct = n
           |) AS (check_name, subject, observed, threshold, passed)""".stripMargin))
    val evRows = events
      .agg(
        count(lit(1)).as("n"),
        sum(when(col("instance_id") =!= "", 1L).otherwise(0L)).as("n_iid_ok"))
      .select(
        lit("completeness").as("check_name"),
        lit("events.instance_id").as("subject"),
        expr("CASE WHEN n = 0 THEN 1000000L ELSE (n_iid_ok * 1000000) div n END")
          .as("observed"),
        lit(1000000L).as("threshold"),
        (col("n_iid_ok") === col("n")).as("passed"))
    val fkRows = dims
      .filter(col("dimension_id") =!= "" && col("option") =!= "" &&
        col("links.code_list.id") =!= "time")
      .select(col("links.code_list.id").as("code_list_id"), col("option"))
      .distinct()
      .join(broadcast(codeLists
        .select(col("code_list_id").as("cl_id"), col("code"))),
        col("code_list_id") === col("cl_id") && col("option") === col("code"),
        "left_anti")
      .agg(count(lit(1)).as("n_orphans"))
      .select(
        lit("referential_integrity").as("check_name"),
        lit("dimensions.(code_list_id, option) -> code_lists").as("subject"),
        col("n_orphans").cast("bigint").as("observed"),
        lit(0L).as("threshold"),
        (col("n_orphans") === 0).as("passed"))
    dimRows
      .select(col("check_name"), col("subject"),
        col("observed").cast("bigint").as("observed"),
        col("threshold").cast("bigint").as("threshold"), col("passed"))
      .unionByName(evRows).unionByName(fkRows)
  }

  /** Streaming twin of the column expectations: each micro-batch's report
    * lands under `outPath/batch_id=N` as an idempotent per-batch
    * directory overwrite (the same replay discipline as the LM stream
    * scorer — a foreachBatch redelivery rewrites the same files), so the
    * accumulated table is an append-only quality timeline a pipeline
    * alerts on. Per batch the work is one aggregation over the
    * micro-batch — nothing global is scanned.
    */
  def expectationsStream(
      docs: DataFrame, outPath: String, checkpoint: String)
      : org.apache.spark.sql.streaming.StreamingQuery =
    docs.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], id: Long) =>
        // n = 0 short-circuit (same zero-snapshot discipline as the drift
        // monitors): the ratio checks divide by n, so an empty trigger
        // would emit 6 rows with null observed/passed — and a consumer
        // unboxing `passed` as Boolean reads null as false, silently
        // alerting on an idle stream. No documents → no verdict → no rows.
        if (!b.isEmpty) {
          docExpectations(b.toDF()).coalesce(1)
            .write.mode("overwrite").parquet(s"$outPath/batch_id=$id")
        }
        ()
      }
      .start()

  /** t43 streaming twin: the importer validation matrix
    * (handler/incoming_instance_handler.go:100-133) evaluated per
    * micro-batch at ARRIVAL — each batch's report covers the arriving
    * events plus the dimensions slice of exactly the arriving instances
    * (static dims side, left-semi-pruned by a broadcast of the batch's
    * instance ids — the batch is always the small side), so a bad feed is
    * flagged the trigger it lands, the same way [[expectationsStream]]
    * gates documents. Same replay discipline too: each report is an
    * idempotent per-`batch_id` directory overwrite, and an empty trigger
    * writes nothing (no vacuous all-pass rows on an idle stream — the
    * n = 0 guard exists for consumers of the BATCH operator, not to let
    * idle triggers mint reports).
    */
  def importerExpectationsStream(
      events: DataFrame, dims: DataFrame, codeLists: DataFrame,
      outPath: String, checkpoint: String)
      : org.apache.spark.sql.streaming.StreamingQuery =
    events.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], id: Long) =>
        if (!b.isEmpty) {
          val batch = b.toDF()
          val batchDims = dims.join(
            broadcast(batch.select(col("instance_id")).distinct()),
            Seq("instance_id"), "left_semi")
          importerExpectationsFrames(batchDims, batch, codeLists).coalesce(1)
            .write.mode("overwrite").parquet(s"$outPath/batch_id=$id")
        }
        ()
      }
      .start()

  /** Prefix cutoff standing in for "the previous snapshot" (t41): the
    * docs with id below it model the corpus as of the last refresh —
    * the same prefix-corpus discipline the stable-shard and online-gate
    * equivalence specs use.
    */
  private[graft] val DriftPrefixCutoff = 250L

  /** Drift thresholds, e6 relative change per metric. */
  private[operators] val DriftMaxRelE6 = 250000L // 25%

  /** t41: metric drift between the current corpus and its previous
    * snapshot (modeled as the doc_id-prefix) — the monitor a recurring
    * corpus refresh alerts on (the anomaly-detection half of deequ:
    * yesterday's statistics are the baseline for today's).
    *
    * ONE conditional-aggregation pass computes both sides: every metric
    * is aggregated twice in the same `agg` (full corpus vs
    * `doc_id < cutoff`), so the monitor costs a single scan and a 1-row
    * frame no matter how many metrics ride it. Relative change is exact
    * integer arithmetic: `|cur·1e6 - prev·1e6| div prev` over
    * count-valued metrics (doc count, token count, distinct langs,
    * mean chars e2), flagged against [[DriftMaxRelE6]].
    */
  def metricDrift(
      spark: SparkSession, dir: String,
      cutoff: Long = DriftPrefixCutoff,
      maxRelE6: Long = DriftMaxRelE6): DataFrame = {
    val d = table(spark, dir, "documents")
    val prev = when(col("doc_id") < cutoff, 1L).otherwise(0L)
    val agg = d.agg(
      count(lit(1)).as("cur_docs"),
      sum(prev).as("prev_docs"),
      sum(TextAnalysis.nTokensCol(col("text"))).as("cur_tokens"),
      sum(TextAnalysis.nTokensCol(col("text")) * prev).as("prev_tokens"),
      countDistinct(col("lang")).as("cur_langs"),
      countDistinct(when(col("doc_id") < cutoff, col("lang"))).as("prev_langs"),
      // mean chars, e2-quantized BEFORE the ratio so the drift arithmetic
      // stays integer-exact
      expr("sum(n_chars) * 100 div count(1)").as("cur_mchars_e2"),
      // 0 when the snapshot is empty — the stack row below then reports
      // prev_value = 0 → drifted, instead of an ANSI division error
      expr(s"CASE WHEN sum(CASE WHEN doc_id < $cutoff THEN 1 ELSE 0 END) = 0 THEN 0L" +
        s" ELSE sum(CASE WHEN doc_id < $cutoff THEN n_chars ELSE 0 END) * 100" +
        s" div sum(CASE WHEN doc_id < $cutoff THEN 1 ELSE 0 END) END").as("prev_mchars_e2"))
    metricDriftReport(agg, maxRelE6)
  }

  /** The t41 report layer over ANY 1-row frame carrying the eight
    * `cur_…`/`prev_…` metric columns — shared by the batch monitor and the
    * per-micro-batch streaming twin so the drift arithmetic has exactly
    * one home. prev = 0 (nothing in the snapshot — a fresh corpus) is
    * DRIFT by definition, not a division error: report a null relative
    * change and let the flag read prev_value = 0 as drifted.
    */
  private def metricDriftReport(agg: DataFrame, maxRelE6: Long): DataFrame = {
    def row(metric: String, cur: String, prevC: String) =
      s"'$metric', cast($cur AS bigint), cast($prevC AS bigint), " +
        s"CASE WHEN $prevC = 0 THEN cast(null AS bigint) " +
        s"ELSE cast(abs($cur * 1000000L - $prevC * 1000000L) div $prevC AS bigint) END"
    agg.select(expr(
      s"""stack(4,
         |  ${row("doc_count", "cur_docs", "prev_docs")},
         |  ${row("token_count", "cur_tokens", "prev_tokens")},
         |  ${row("distinct_langs", "cur_langs", "prev_langs")},
         |  ${row("mean_chars_e2", "cur_mchars_e2", "prev_mchars_e2")}
         |) AS (metric, cur_value, prev_value, rel_change_e6)""".stripMargin))
      .withColumn("drifted",
        col("prev_value") === 0L || col("rel_change_e6") > maxRelE6)
  }

  def metricDriftOracleSql: String = {
    val cutoff = DriftPrefixCutoff
    def row(metric: String, cur: String, prevC: String) =
      s"""SELECT '$metric' AS metric, cast($cur AS bigint) AS cur_value,
         |    cast($prevC AS bigint) AS prev_value,
         |    CASE WHEN $prevC = 0 THEN cast(NULL AS bigint)
         |    ELSE cast(abs($cur * 1000000 - $prevC * 1000000) // $prevC AS bigint) END
         |      AS rel_change_e6 FROM agg""".stripMargin
    s"""WITH agg AS (
       |  SELECT count(*) AS cur_docs,
       |    sum(CASE WHEN doc_id < $cutoff THEN 1 ELSE 0 END) AS prev_docs,
       |    sum(len(text) - len(replace(text, ' ', '')) + 1) AS cur_tokens,
       |    sum(CASE WHEN doc_id < $cutoff
       |        THEN len(text) - len(replace(text, ' ', '')) + 1 ELSE 0 END)
       |      AS prev_tokens,
       |    count(DISTINCT lang) AS cur_langs,
       |    count(DISTINCT CASE WHEN doc_id < $cutoff THEN lang END) AS prev_langs,
       |    sum(n_chars) * 100 // count(*) AS cur_mchars_e2,
       |    CASE WHEN sum(CASE WHEN doc_id < $cutoff THEN 1 ELSE 0 END) = 0 THEN 0
       |    ELSE sum(CASE WHEN doc_id < $cutoff THEN n_chars ELSE 0 END) * 100
       |      // sum(CASE WHEN doc_id < $cutoff THEN 1 ELSE 0 END) END AS prev_mchars_e2
       |  FROM documents),
       |rows_out AS (
       |  ${row("doc_count", "cur_docs", "prev_docs")}
       |  UNION ALL ${row("token_count", "cur_tokens", "prev_tokens")}
       |  UNION ALL ${row("distinct_langs", "cur_langs", "prev_langs")}
       |  UNION ALL ${row("mean_chars_e2", "cur_mchars_e2", "prev_mchars_e2")})
       |SELECT cast(metric AS varchar) AS metric, cur_value, prev_value, rel_change_e6,
       |  prev_value = 0 OR rel_change_e6 > $DriftMaxRelE6 AS drifted
       |FROM rows_out""".stripMargin
  }

  /** Max per-label centroid shift², in fx² units (t42): (0.3 · FxScale)²
    * — a 0.3 float-unit L2 move of a class centroid flags. Sized ABOVE
    * the sampling-noise floor of the graded corpus (tens of vectors per
    * label in 64 dims put pure-noise shifts near 0.2 units; observed max
    * ≈ 4.4e10 fx² vs this 9.9e10 cut), so steady-state refreshes pass and
    * only a genuine encoder move trips — the binding spec plants one.
    */
  private[graft] val MaxCentroidShift2Fx2: Long = {
    val s = (0.3 * PqAnn.FxScale).toLong
    s * s
  }

  /** t42: EMBEDDING-space drift — the vector-modality counterpart of
    * [[metricDrift]]: per label, the squared L2 shift of the class
    * centroid between the previous snapshot (doc_id-prefix discipline)
    * and the current corpus, plus the membership counts. A retrained or
    * silently re-normalized encoder moves class centroids long before any
    * scalar metric notices; this is the monitor that catches it at
    * refresh time.
    *
    * Exactness discipline: components quantize to the engine-wide fx
    * fixed-point grid ([[PqAnn.FxScale]]), per-(label, dim) SUMS are
    * exact integer aggregates (order-free in any engine), each mean is
    * quantized by ONE IEEE double division + floor (identical scalar
    * chain both engines), and the shift² is an exact integer sum of
    * squared bigint deltas — no float accumulation anywhere. (At extreme
    * corpus sizes the exact-sum-into-double mean division assumes
    * sum_fx < 2^53 per (label, dim) — ~8e8 vectors per label at fx=2^20
    * component scale; past that, rescale FxScale or shard the mean.)
    *
    * Plan: one posexplode scan (dim-fan-out, map-only), one
    * (label × dim)-keyed aggregation with map-side combine, one tiny
    * label-keyed collapse. Nothing joins the corpus.
    */
  def embeddingDrift(
      spark: SparkSession, dir: String,
      cutoff: Long = DriftPrefixCutoff,
      maxShift2Fx2: Long = MaxCentroidShift2Fx2): DataFrame =
    embeddingDriftFrames(table(spark, dir, "embeddings"), cutoff, maxShift2Fx2)

  /** The t42 body over any `(vec_id, label, embedding)` frame — the seam
    * the planted-shift binding spec injects through.
    */
  private[graft] def embeddingDriftFrames(
      emb: DataFrame, cutoff: Long, maxShift2Fx2: Long): DataFrame = {
    val e = emb
      .select(col("vec_id"), col("label"), posexplode(col("embedding")).as(Seq("i", "v")))
    val fx = expr(s"cast(floor(cast(v AS double) * ${PqAnn.FxScale}.0 + 0.5) AS bigint)")
    val isPrev = col("vec_id") < cutoff
    val per = e.groupBy(col("label"), col("i")).agg(
      sum(fx).as("cur_sum"),
      count(lit(1)).as("cur_n"),
      sum(when(isPrev, fx).otherwise(0L)).as("prev_sum"),
      sum(when(isPrev, 1L).otherwise(0L)).as("prev_n"))
    embeddingDriftReport(per, maxShift2Fx2)
  }

  /** The t42 collapse layer over ANY `(label, i, cur_sum, cur_n,
    * prev_sum, prev_n)` frame — shared by the batch monitor and the
    * streaming twin so the centroid-shift arithmetic has one home.
    * A label with NO snapshot members (new class since the refresh) is
    * drift by definition: null shift, flag forced — never a div-by-zero.
    */
  private def embeddingDriftReport(per: DataFrame, maxShift2Fx2: Long): DataFrame = {
    val d = per.select(
      col("label"), col("cur_n"), col("prev_n"),
      when(col("prev_n") === 0L, lit(null).cast("bigint")).otherwise(
        expr("cast(floor(cast(cur_sum AS double) / cur_n + 0.5) AS bigint)") -
          expr("cast(floor(cast(prev_sum AS double) / prev_n + 0.5) AS bigint)")).as("dm"))
    d.groupBy(col("label"))
      .agg(
        max(col("cur_n")).as("cur_n"),
        max(col("prev_n")).as("prev_n"),
        sum(col("dm") * col("dm")).as("shift2_fx2"))
      .select(col("label"), col("cur_n"), col("prev_n"), col("shift2_fx2"),
        (col("prev_n") === 0L || col("shift2_fx2") > maxShift2Fx2).as("drifted"))
  }

  def embeddingDriftOracleSql: String =
    s"""WITH lf AS (
       |  SELECT e.vec_id, e.label, i, cast(e.embedding[i] AS float) AS v
       |  FROM embeddings e,
       |       LATERAL (SELECT unnest(range(1, len(e.embedding) + 1)) AS i) r),
       |per AS (
       |  SELECT label, i,
       |    sum(cast(floor(cast(v AS double) * ${PqAnn.FxScale}.0 + 0.5) AS bigint))
       |      AS cur_sum,
       |    count(*) AS cur_n,
       |    sum(CASE WHEN vec_id < $DriftPrefixCutoff
       |        THEN cast(floor(cast(v AS double) * ${PqAnn.FxScale}.0 + 0.5) AS bigint)
       |        ELSE 0 END) AS prev_sum,
       |    sum(CASE WHEN vec_id < $DriftPrefixCutoff THEN 1 ELSE 0 END) AS prev_n
       |  FROM lf GROUP BY label, i),
       |dm AS (
       |  SELECT label, cur_n, prev_n,
       |    CASE WHEN prev_n = 0 THEN cast(NULL AS bigint)
       |    ELSE cast(floor(cast(cur_sum AS double) / cur_n + 0.5) AS bigint) -
       |         cast(floor(cast(prev_sum AS double) / prev_n + 0.5) AS bigint) END AS dm
       |  FROM per)
       |SELECT label,
       |  cast(max(cur_n) AS bigint) AS cur_n,
       |  cast(max(prev_n) AS bigint) AS prev_n,
       |  cast(sum(dm * dm) AS bigint) AS shift2_fx2,
       |  max(prev_n) = 0 OR cast(sum(dm * dm) AS bigint) > $MaxCentroidShift2Fx2 AS drifted
       |FROM dm GROUP BY label""".stripMargin

  /** Streaming twin of the metric-drift monitor (t41): the corpus arrives
    * as a stream, the snapshot is a FROZEN baseline frame, and every
    * micro-batch emits the drift report of the ACCUMULATED corpus against
    * that baseline — quality (t40) and drift now ride the same
    * foreachBatch gate discipline.
    *
    * State is a per-batch per-lang partial-aggregate table (idempotent
    * `batch_id=N` overwrite, the t40 replay rule): `(lang, docs, tokens,
    * chars)` rows, so the accumulated side a report reads is bounded by
    * |langs| × batches — never the corpus. The baseline collapses to four
    * numbers collected ONCE at stream start (a deliberate 1-row driver
    * collect). Ingesting the full corpus (baseline prefix included)
    * makes the final report equal the batch [[metricDrift]] bit-for-bit:
    * partial sums are exact integers, and the report layer
    * ([[metricDriftReport]]) is shared code.
    */
  def metricDriftStream(
      docs: DataFrame, baseline: DataFrame, outPath: String, checkpoint: String,
      maxRelE6: Long = DriftMaxRelE6)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    val prevRow = baseline.agg(
      count(lit(1)).as("prev_docs"),
      coalesce(sum(TextAnalysis.nTokensCol(col("text"))), lit(0L)).as("prev_tokens"),
      countDistinct(col("lang")).as("prev_langs"),
      expr("CASE WHEN count(1) = 0 THEN 0L ELSE sum(n_chars) * 100 div count(1) END")
        .as("prev_mchars_e2")).collect()(0)
    docs.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], id: Long) =>
        val s = b.sparkSession
        b.toDF().groupBy(col("lang")).agg(
          count(lit(1)).as("docs"),
          sum(TextAnalysis.nTokensCol(col("text"))).as("tokens"),
          sum(col("n_chars")).as("chars"))
          .coalesce(1).write.mode("overwrite").parquet(s"$outPath/state/batch_id=$id")
        val agg = Tables.read(s, s"$outPath/state").agg(
          coalesce(sum(col("docs")), lit(0L)).as("cur_docs"),
          coalesce(sum(col("tokens")), lit(0L)).as("cur_tokens"),
          countDistinct(col("lang")).as("cur_langs"),
          expr("CASE WHEN coalesce(sum(docs), 0L) = 0 THEN 0L" +
            " ELSE sum(chars) * 100 div sum(docs) END").as("cur_mchars_e2"))
          .withColumn("prev_docs", lit(prevRow.getLong(0)))
          .withColumn("prev_tokens", lit(prevRow.getLong(1)))
          .withColumn("prev_langs", lit(prevRow.getLong(2)))
          .withColumn("prev_mchars_e2", lit(prevRow.getLong(3)))
        metricDriftReport(agg, maxRelE6).coalesce(1)
          .write.mode("overwrite").parquet(s"$outPath/report/batch_id=$id")
        ()
      }
      .start()
  }

  /** Streaming twin of the embedding-drift monitor (t42): same contract
    * as [[metricDriftStream]] — frozen baseline, accumulated current,
    * per-batch report — over the vector modality. State is the per-batch
    * per-(label, dim) fx partial sums (bounded by labels × dims ×
    * batches); the baseline's per-(label, dim) sums are computed once and
    * persisted for the stream's life (unpersisted on termination, the
    * OnlineGate discipline). With the full corpus ingested the final
    * report equals batch [[embeddingDrift]] exactly: integer partials,
    * shared collapse layer ([[embeddingDriftReport]]).
    */
  def embeddingDriftStream(
      vecs: DataFrame, baseline: DataFrame, outPath: String, checkpoint: String,
      maxShift2Fx2: Long = MaxCentroidShift2Fx2)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    val owner = vecs.sparkSession
    val fx = expr(s"cast(floor(cast(v AS double) * ${PqAnn.FxScale}.0 + 0.5) AS bigint)")
    val prev = baseline
      .select(col("label"), posexplode(col("embedding")).as(Seq("i", "v")))
      .groupBy(col("label"), col("i"))
      .agg(sum(fx).as("prev_sum"), count(lit(1)).as("prev_n"))
      .persist()
    val query = vecs.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], id: Long) =>
        val s = b.sparkSession
        b.toDF().select(col("label"), posexplode(col("embedding")).as(Seq("i", "v")))
          .groupBy(col("label"), col("i"))
          .agg(sum(fx).as("psum"), count(lit(1)).as("pn"))
          .coalesce(1).write.mode("overwrite").parquet(s"$outPath/state/batch_id=$id")
        val acc = Tables.read(s, s"$outPath/state")
          .groupBy(col("label"), col("i"))
          .agg(sum(col("psum")).as("cur_sum"), sum(col("pn")).as("cur_n"))
        val per = acc.join(prev, Seq("label", "i"), "left")
          .select(col("label"), col("i"), col("cur_sum"), col("cur_n"),
            coalesce(col("prev_sum"), lit(0L)).as("prev_sum"),
            coalesce(col("prev_n"), lit(0L)).as("prev_n"))
        embeddingDriftReport(per, maxShift2Fx2).coalesce(1)
          .write.mode("overwrite").parquet(s"$outPath/report/batch_id=$id")
        ()
      }
      .start()
    // cleanup must run exactly once whether termination races the
    // addListener below or not
    val done = new java.util.concurrent.atomic.AtomicBoolean(false)
    def cleanup(self: org.apache.spark.sql.streaming.StreamingQueryListener): Unit =
      if (done.compareAndSet(false, true)) {
        prev.unpersist()
        owner.streams.removeListener(self)
      }
    val listener: org.apache.spark.sql.streaming.StreamingQueryListener =
      new org.apache.spark.sql.streaming.StreamingQueryListener {
        override def onQueryStarted(
            e: org.apache.spark.sql.streaming.StreamingQueryListener.QueryStartedEvent): Unit = ()
        override def onQueryProgress(
            e: org.apache.spark.sql.streaming.StreamingQueryListener.QueryProgressEvent): Unit = ()
        override def onQueryTerminated(
            e: org.apache.spark.sql.streaming.StreamingQueryListener.QueryTerminatedEvent): Unit =
          if (e.id == query.id) cleanup(this)
      }
    owner.streams.addListener(listener)
    // a query that failed before the listener attached never emits its
    // QueryTerminated to us — check and clean inline (idempotent)
    if (!query.isActive) cleanup(listener)
    query
  }

  def dataExpectationsOracleSql: String =
    s"""WITH agg AS (
       |  SELECT count(*) AS n,
       |    sum(CASE WHEN text IS NOT NULL AND len(text) > 0 THEN 1 ELSE 0 END) AS n_text,
       |    sum(CASE WHEN lang IN (${AcceptedLangs.map("'" + _ + "'").mkString(", ")})
       |        THEN 1 ELSE 0 END) AS n_lang_ok,
       |    count(DISTINCT doc_id) AS n_doc_distinct,
       |    min(n_chars) AS min_chars,
       |    max(n_chars) AS max_chars,
       |    sum(CASE WHEN n_chars = len(text) THEN 1 ELSE 0 END) AS n_chars_consistent
       |  FROM documents),
       |orph AS (
       |  SELECT count(*) AS n_orphans FROM lineitem l
       |  WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey)),
       |rows_out AS (
       |  SELECT 'completeness' AS check_name, 'documents.text' AS subject,
       |    (n_text * 1000000) // n AS observed, 1000000 AS threshold,
       |    n_text = n AS passed FROM agg
       |  UNION ALL SELECT 'uniqueness', 'documents.doc_id',
       |    (n_doc_distinct * 1000000) // n, 1000000, n_doc_distinct = n FROM agg
       |  UNION ALL SELECT 'accepted_values', 'documents.lang',
       |    (n_lang_ok * 1000000) // n, 1000000, n_lang_ok = n FROM agg
       |  UNION ALL SELECT 'consistency', 'documents.n_chars = length(text)',
       |    (n_chars_consistent * 1000000) // n, 1000000, n_chars_consistent = n FROM agg
       |  UNION ALL SELECT 'min_bound', 'documents.n_chars',
       |    min_chars, 1, min_chars >= 1 FROM agg
       |  UNION ALL SELECT 'max_bound', 'documents.n_chars',
       |    max_chars, $MaxCharsBound, max_chars <= $MaxCharsBound FROM agg
       |  UNION ALL SELECT 'referential_integrity',
       |    'lineitem.l_orderkey -> orders.o_orderkey',
       |    n_orphans, 0, n_orphans = 0 FROM orph)
       |SELECT cast(check_name AS varchar) AS check_name, cast(subject AS varchar) AS subject,
       |  cast(observed AS bigint) AS observed, cast(threshold AS bigint) AS threshold,
       |  passed
       |FROM rows_out""".stripMargin

  /** DuckDB twin of [[importerExpectations]]: same checks over the
    * [[graft.sources.OracleCtes]] fixture CTEs. */
  def importerExpectationsOracleSql: String =
    s"""${graft.sources.OracleCtes.all.trim},
       |agg AS (
       |  SELECT count(*) AS n,
       |    sum(CASE WHEN dimension_id <> '' THEN 1 ELSE 0 END) AS n_dim_ok,
       |    sum(CASE WHEN option <> '' THEN 1 ELSE 0 END) AS n_opt_ok,
       |    (SELECT count(*) FROM
       |      (SELECT DISTINCT instance_id, dimension_id, option FROM dims_raw))
       |      AS n_distinct
       |  FROM dims_raw),
       |ev AS (
       |  SELECT count(*) AS n,
       |    sum(CASE WHEN instance_id <> '' THEN 1 ELSE 0 END) AS n_iid_ok
       |  FROM ievents),
       |orph AS (
       |  SELECT count(*) AS n_orphans FROM (
       |    SELECT DISTINCT code_list_id, option FROM dims_valid
       |    WHERE code_list_id <> 'time') dv
       |  WHERE NOT EXISTS (SELECT 1 FROM code_lists c
       |    WHERE c.code_list_id = dv.code_list_id AND c.code = dv.option)),
       |rows_out AS (
       |  SELECT 'completeness' AS check_name, 'dimensions.dimension_id' AS subject,
       |    CASE WHEN n = 0 THEN 1000000 ELSE (n_dim_ok * 1000000) // n END AS observed,
       |    1000000 AS threshold,
       |    n_dim_ok = n AS passed FROM agg
       |  UNION ALL SELECT 'completeness', 'dimensions.option',
       |    CASE WHEN n = 0 THEN 1000000 ELSE (n_opt_ok * 1000000) // n END,
       |    1000000, n_opt_ok = n FROM agg
       |  UNION ALL SELECT 'uniqueness', 'dimensions.(instance_id, dimension_id, option)',
       |    CASE WHEN n = 0 THEN 1000000 ELSE (n_distinct * 1000000) // n END,
       |    1000000, n_distinct = n FROM agg
       |  UNION ALL SELECT 'completeness', 'events.instance_id',
       |    CASE WHEN n = 0 THEN 1000000 ELSE (n_iid_ok * 1000000) // n END,
       |    1000000, n_iid_ok = n FROM ev
       |  UNION ALL SELECT 'referential_integrity',
       |    'dimensions.(code_list_id, option) -> code_lists',
       |    n_orphans, 0, n_orphans = 0 FROM orph)
       |SELECT cast(check_name AS varchar) AS check_name, cast(subject AS varchar) AS subject,
       |  cast(observed AS bigint) AS observed, cast(threshold AS bigint) AS threshold,
       |  passed
       |FROM rows_out""".stripMargin
}
