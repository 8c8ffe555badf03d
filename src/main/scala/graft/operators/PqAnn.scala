package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.Tables.table

/** Product quantization (Jégou, Douze, Schmid 2011, public) — the
  * compression-side ANN path that completes the vector stack next to
  * brute-force ([[Similarity]]), LSH, IVF ([[IvfAnn]]) and int8
  * quantization: each 64-dim vector becomes [[M]] 4-bit codes (one per
  * 8-dim subspace), a 64× size reduction, and queries rank candidates by
  * asymmetric distance (ADC): the exact query subvector against each
  * candidate's quantized code, summed over subspaces.
  *
  * Scale shape: codebooks are [[M]]·[[Ks]] tiny arrays trained on a
  * bounded sample (same driver-side k-means-lite and [[IvfAnn.MaxTrain]]
  * bound as IVF) and broadcast as plan literals; encoding is one map-only
  * pass; a query precomputes its M×Ks distance table once (per-row
  * expressions) and each candidate costs M table lookups — no
  * per-candidate float dot products. In production PQ composes with IVF
  * (probe lists, then ADC within them); here the two stay separate
  * queries so each is oracle-checkable on its own.
  *
  * All subspace distances are EXACT integers: every embedding element and
  * codebook element is first quantized to a 2^20 fixed-point long
  * (floor(v·2^20 + 0.5) — one float→long conversion, identical in any
  * engine), and |q − c|² is then integer arithmetic with code-index
  * tie-breaks. The earlier e6-quantize-the-double discipline straddled a
  * rounding boundary at sf0.001 (the two engines' double accumulations
  * differed by one ulp exactly at a .5 edge, and the M-entry ADC sum
  * amplifies the exposure); integer distances cannot straddle at any sf.
  *
  * Bench note: at sf ≤ 0.1 the wall time of the PQ queries is dominated
  * by fixed per-query costs (codegen compilation of the encode tree,
  * plan setup), not by data — the per-row work is 128 8-float dot
  * products at encode and M lookups at query, which is the part that
  * scales. The query-side M×Ks distance table is computed driver-side
  * over the bounded query sample and shipped as literals
  * ([[queryDtq]]), halving the compiled expression surface.
  */
object PqAnn {

  private[operators] val M = 8 // subspaces
  private[operators] val SubDim = 8 // 64-dim vectors / M
  private[operators] val Ks = 16 // codes per subspace (4 bits)
  // MUST equal the IVF probe bundle's query bound: ivfPqTopK inner-joins
  // queryDtq's output against IvfAnn.probeRows, so a drift between the two
  // would silently drop queries from the join rather than fail. Deriving
  // from the one shared constant makes drift impossible.
  private val NumQueries = IvfAnn.NumQueries
  private val TopK = 10

  // memoized per data snapshot, same discipline as IvfAnn.centroidCache:
  // [m][code][subdim]
  private val codebookCache =
    scala.collection.concurrent.TrieMap.empty[String, Array[Array[Array[Float]]]]

  private[operators] def codebooksFor(
      spark: SparkSession, dir: String): Array[Array[Array[Float]]] = {
    val key = IvfAnn.snapshotKey(spark, dir)
    codebookCache.getOrElseUpdate(key, {
      codebookCache.keySet
        .filter(k => k != key && k.startsWith(s"$dir@"))
        .foreach(codebookCache.remove)
      import spark.implicits._
      val sample = table(spark, dir, "embeddings")
        .select(col("vec_id"), col("embedding"))
        .orderBy(col("vec_id"))
        .limit(IvfAnn.MaxTrain)
        .as[(Long, Array[Float])].collect()
      Array.tabulate(M) { m =>
        IvfAnn.trainCentroids(
          sample.map { case (id, v) => (id, v.slice(m * SubDim, (m + 1) * SubDim)) },
          Ks)
      }
    })
  }

  /** Fixed-point scale: floats become floor(v·2^20 + 0.5) longs; with
    * |v| ≲ 8 the squared-diff subspace sums stay far below 2^63.
    * Alias of [[graft.functions.FloatVecUtil.FxScaleLong]] — the engine
    * kernels (fx/fxCosine/fxL2To) and every operator-layer quantization +
    * oracle SQL string MUST share one scale, or engine vs oracle silently
    * desync. Tune it there, never here.
    */
  private[graft] val FxScale: Long = graft.functions.FloatVecUtil.FxScaleLong

  private def toFx(v: Float): Long = graft.functions.FloatVecUtil.fx(v)

  private[operators] def fxQuantize(
      cbs: Array[Array[Array[Float]]]): Array[Array[Array[Long]]] =
    cbs.map(_.map(_.map(toFx)))

  /** |q_m − c|² via the codegen'd [[graft.functions.FxL2To]] kernel over
    * the m-th subspace slice — quantizes inline, exact integer sum, no fx
    * array materializes.
    */
  private def fxDist(m: Int, cFx: Array[Long], embCol: String): Column =
    graft.functions.VectorFunctions.fxL2ToF(
      slice(col(embCol), m * SubDim + 1, SubDim), cFx)

  private def codeCol(m: Int, cbFx: Array[Array[Long]], embCol: String): Column =
    array_min(array(cbFx.zipWithIndex.map { case (c, i) =>
      struct(fxDist(m, c, embCol).as("d"), lit(i).as("c"))
    }.toSeq: _*)).getField("c")

  private def codesCol(cbsFx: Array[Array[Array[Long]]], embCol: String): Column =
    array((0 until M).map(m => codeCol(m, cbsFx(m), embCol)): _*)

  /** PQ codes per vector — one int column per subspace (the driver's
    * comparator can't sort array columns). Map-only; codebooks are plan
    * literals.
    */
  def pqCodes(spark: SparkSession, dir: String): DataFrame = {
    val cbsFx = fxQuantize(codebooksFor(spark, dir))
    table(spark, dir, "embeddings")
      .select(col("vec_id"), codesCol(cbsFx, "embedding").as("codes"))
      .select(
        col("vec_id") +:
          (0 until M).map(m => col("codes")(m).as(s"c$m")): _*)
  }

  /** The per-query ADC distance tables, computed driver-side over the
    * bounded query sample ([[NumQueries]] rows — the same probe-bundle
    * discipline as the IVF path) and shipped as literal rows. The
    * arithmetic is exactly [[fxDist]]'s (one fx quantization per element,
    * integer squared-diff sum), but the M·Ks `FxL2To` expression trees
    * the previous formulation carried are gone: they were evaluated over
    * only [[NumQueries]] rows yet their whole-stage-codegen COMPILATION
    * was a fixed per-query cost dominating the PQ queries' wall time at
    * toy scale, and the table is a per-query constant that never needed
    * executor-side recomputation at any scale.
    */
  private def queryDtq(
      spark: SparkSession, dir: String,
      cbsFx: Array[Array[Array[Long]]]): DataFrame = {
    import spark.implicits._
    val qs = table(spark, dir, "embeddings")
      .filter(col("vec_id") < NumQueries)
      .select(col("vec_id"), col("embedding"))
      .as[(Long, Array[Float])].collect()
    qs.toSeq.map { case (qid, e) =>
      val dt = Seq.tabulate(M) { m =>
        cbsFx(m).toSeq.map { c =>
          var s = 0L
          var i = 0
          while (i < SubDim) {
            val d = graft.functions.FloatVecUtil.fx(e(m * SubDim + i)) - c(i)
            s += d * d
            i += 1
          }
          s
        }
      }
      (qid, dt)
    }.toDF("qid", "dt")
  }

  /** ADC top-k: each query row carries its M×Ks distance table as a
    * driver-computed literal ([[queryDtq]]); candidates pay M lookups
    * (the codegen'd [[graft.functions.AdcSumF]] lookup-sum kernel),
    * ranked by the TopKPerKey plan.
    */
  def pqTopK(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val cbsFx = fxQuantize(codebooksFor(spark, dir))
    val emb = table(spark, dir, "embeddings")
    val coded = emb.select(col("vec_id"), codesCol(cbsFx, "embedding").as("codes"))
    val queries = queryDtq(spark, dir, cbsFx)
      .select(col("qid"), col("dt"))
    val adc = graft.functions.VectorFunctions.adcSumF(col("dt"), col("codes"))
    coded.crossJoin(broadcast(queries))
      .select(col("qid"), (-adc).as("score"), col("vec_id"), adc.as("adc_fx"))
      .transform(Similarity.rankTopK(_, TopK, "vec_id", "adc_fx"))
  }

  /** IVF+PQ composed top-k — the production pairing: IVF probe lists cut
    * the candidate set ~K/nprobe-fold, then PQ ADC ranks the survivors
    * with M table lookups each. Neither full vectors nor float math
    * touch the candidate path; the only full-vector work is the
    * per-query probe selection and distance table (both per-row
    * expressions over [[IvfAnn.NumQueries]] rows).
    */
  def ivfPqTopK(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val cbsFx = fxQuantize(codebooksFor(spark, dir))
    val coded = IvfAnn.assignedCorpus(spark, dir)
      .select(col("vec_id"), col("centroid"), codesCol(cbsFx, "embedding").as("codes"))
    val probes = IvfAnn.probeRows(spark, dir, IvfAnn.NProbe)
      .select(col("qid"), col("centroid"))
      .join(queryDtq(spark, dir, cbsFx), "qid")
    val adc = graft.functions.VectorFunctions.adcSumF(col("dt"), col("codes"))
    coded.join(broadcast(probes), "centroid")
      .select(col("qid"), (-adc).as("score"), col("vec_id"), adc.as("adc_fx"))
      .transform(Similarity.rankTopK(_, TopK, "vec_id", "adc_fx"))
  }

  /** v14: recall@k of both ADC ranking paths ([[pqTopK]] flat,
    * [[ivfPqTopK]] IVF-composed) against the exact
    * [[Similarity.bruteForceTopK]] ground truth — the PQ twin of the v12
    * probing gate, and the family's NON-circular check: v9–v11's oracles
    * replay the engine-trained codebooks (they verify encoding and
    * ranking GIVEN the training), so a codebook regression would pass
    * them; the brute-force ground truth never touches the codebooks, so
    * it surfaces as a recall drop here. Left joins from the exact qid
    * set: ADC ranks by QUANTIZED distance, so unlike v12 a query's own
    * vector is not guaranteed to survive its top-k — a qid with zero
    * hits must report 0, not vanish. Scale shape is v12's: the expensive
    * side is the deliberate brute-force scan over the bounded query
    * sample, exactly how recall evaluation runs in production.
    */
  def pqRecall(spark: SparkSession, dir: String): DataFrame = {
    val exact = Similarity.bruteForceTopK(spark, dir).select(col("qid"), col("vec_id"))
    def hits(approx: DataFrame, name: String) =
      exact.join(
          approx.select(col("qid").as("a_qid"), col("vec_id").as("a_vid")),
          col("qid") === col("a_qid") && col("vec_id") === col("a_vid"), "left_semi")
        .groupBy(col("qid")).agg(count(lit(1)).as(name))
    exact.select(col("qid")).distinct()
      .join(hits(pqTopK(spark, dir), "pq_hits"), Seq("qid"), "left")
      .join(hits(ivfPqTopK(spark, dir), "ivfpq_hits"), Seq("qid"), "left")
      .select(
        col("qid"),
        coalesce(col("pq_hits"), lit(0L)).as("pq_hits"),
        coalesce(col("ivfpq_hits"), lit(0L)).as("ivfpq_hits"),
        (coalesce(col("pq_hits"), lit(0L)) * (10000L / TopK)).as("pq_recall_e4"),
        (coalesce(col("ivfpq_hits"), lit(0L)) * (10000L / TopK)).as("ivfpq_recall_e4"))
  }

  /** DuckDB oracle for [[pqRecall]]: the exact, PQ and IVF+PQ top-k
    * statements nest as CTEs (nested WITH is fine in DuckDB), then one
    * semi-join count per path per qid.
    */
  def pqRecallOracleSql(spark: SparkSession, dir: String): String =
    s"""WITH exact_tk AS (
       |${Similarity.bruteForceTopKOracleSql}
       |),
       |pq_tk AS (
       |${pqTopKOracleSql(spark, dir)}
       |),
       |ivfpq_tk AS (
       |${ivfPqTopKOracleSql(spark, dir)}
       |),
       |ph AS (
       |  SELECT e.qid, cast(count(*) AS bigint) AS h FROM exact_tk e
       |  WHERE EXISTS (
       |    SELECT 1 FROM pq_tk a WHERE a.qid = e.qid AND a.vec_id = e.vec_id)
       |  GROUP BY e.qid),
       |ih AS (
       |  SELECT e.qid, cast(count(*) AS bigint) AS h FROM exact_tk e
       |  WHERE EXISTS (
       |    SELECT 1 FROM ivfpq_tk a WHERE a.qid = e.qid AND a.vec_id = e.vec_id)
       |  GROUP BY e.qid)
       |SELECT q.qid,
       |  cast(coalesce(ph.h, 0) AS bigint) AS pq_hits,
       |  cast(coalesce(ih.h, 0) AS bigint) AS ivfpq_hits,
       |  cast(coalesce(ph.h, 0) * ${10000 / TopK} AS bigint) AS pq_recall_e4,
       |  cast(coalesce(ih.h, 0) * ${10000 / TopK} AS bigint) AS ivfpq_recall_e4
       |FROM (SELECT DISTINCT qid FROM exact_tk) q
       |LEFT JOIN ph USING (qid)
       |LEFT JOIN ih USING (qid)""".stripMargin

  // ---- DuckDB oracle twins (data-dependent: codebook literals) --------

  /** Fixed-point codebooks as a VALUES clause: (m, c, vec BIGINT[]) —
    * integer literals, no float round-trip at all.
    */
  private def codebookValues(cbsFx: Array[Array[Array[Long]]]): String =
    (for {
      m <- 0 until M
      (c, i) <- cbsFx(m).zipWithIndex
    } yield s"($m, $i, [${c.mkString(", ")}]::BIGINT[])")
      .mkString(",\n    ")

  /** The engine's per-element fixed-point conversion as SQL text. */
  private def fxSql(valueExpr: String): String =
    s"cast(floor(cast($valueExpr AS double) * $FxScale.0 + 0.5) AS bigint)"

  /** Shared CTE text: codebook + per-(vector, subspace) code assignment —
    * all distance arithmetic on exact fixed-point integers.
    */
  private def codesCte(cbsFx: Array[Array[Array[Long]]]): String =
    s"""cb(m, c, vec) AS (VALUES
       |    ${codebookValues(cbsFx)}),
       |encdist AS (
       |  SELECT vec_id, m, c, cast(sum((qf - cf) * (qf - cf)) AS bigint) AS d
       |  FROM (
       |    SELECT e.vec_id, cb.m, cb.c,
       |      ${fxSql(s"e.embedding[cb.m * $SubDim + i]")} AS qf,
       |      cb.vec[i] AS cf
       |    FROM embeddings e, cb,
       |         LATERAL (SELECT unnest(range(1, $SubDim + 1)) AS i) r)
       |  GROUP BY vec_id, m, c),
       |codes AS (
       |  SELECT vec_id, m, c
       |  FROM (
       |    SELECT vec_id, m, c,
       |      row_number() OVER (PARTITION BY vec_id, m ORDER BY d, c) AS rn
       |    FROM encdist)
       |  WHERE rn = 1)""".stripMargin

  /** DuckDB oracle for [[pqCodes]]. */
  def pqCodesOracleSql(spark: SparkSession, dir: String): String = {
    val cbsFx = fxQuantize(codebooksFor(spark, dir))
    val cols = (0 until M)
      .map(m => s"cast(max(CASE WHEN m = $m THEN c END) AS int) AS c$m")
      .mkString(",\n  ")
    s"""WITH ${codesCte(cbsFx)}
       |SELECT vec_id,
       |  $cols
       |FROM codes GROUP BY vec_id""".stripMargin
  }

  /** CTE text for the per-query ADC distance table `dtq(qid, m, c, d)`. */
  private def dtqCte: String =
    s"""dtq AS (
       |  SELECT qid, m, c, cast(sum((qf - cf) * (qf - cf)) AS bigint) AS d
       |  FROM (
       |    SELECT q.vec_id AS qid, cb.m, cb.c,
       |      ${fxSql(s"q.embedding[cb.m * $SubDim + i]")} AS qf,
       |      cb.vec[i] AS cf
       |    FROM embeddings q, cb,
       |         LATERAL (SELECT unnest(range(1, $SubDim + 1)) AS i) r
       |    WHERE q.vec_id < $NumQueries)
       |  GROUP BY qid, m, c)""".stripMargin

  private def rankedSelect(fromAdc: String): String =
    s"""SELECT qid, vec_id, cast(adc_fx AS bigint) AS adc_fx, cast(rn AS int) AS rn
       |FROM (
       |  SELECT qid, vec_id, adc_fx,
       |    row_number() OVER (PARTITION BY qid ORDER BY adc_fx, vec_id) AS rn
       |  FROM $fromAdc)
       |WHERE rn <= $TopK""".stripMargin

  /** DuckDB oracle for [[pqTopK]]: the query's ADC table is the full
    * |q_m − c|² per (m, c); candidates sum their code's entries.
    */
  def pqTopKOracleSql(spark: SparkSession, dir: String): String = {
    val cbsFx = fxQuantize(codebooksFor(spark, dir))
    s"""WITH ${codesCte(cbsFx)},
       |$dtqCte,
       |adc AS (
       |  SELECT d.qid, k.vec_id, cast(sum(d.d) AS bigint) AS adc_fx
       |  FROM codes k
       |  JOIN dtq d ON d.m = k.m AND d.c = k.c
       |  GROUP BY d.qid, k.vec_id)
       |${rankedSelect("adc")}""".stripMargin
  }

  // ---- v27/v28: residual-encoding IVFADC (Jégou et al. 2011, §IV-A) ----

  /** Residual-PQ codebooks — trained on r = v − q_c(v), the residual to
    * the assigned COARSE centroid, instead of the raw vector (IVFADC
    * proper): at the same M×Ks bit budget the quantizer spends its
    * codewords on the within-cell distribution, which is tighter than
    * the global one, so quantization error and recall both improve
    * (`v28 ≥ v14` is spec-asserted on the graded corpus). Residuals live
    * in the fx-long domain (fx(v) − centroid_fx — exact integers; the
    * driver-side assignment replays [[IvfAnn.nearestCentroid]]'s
    * integer argmin with lower-index ties), then train as floats at the
    * same 2^20 scale. Same bounded-sample memoized-training discipline
    * as [[codebooksFor]].
    */
  private val resCodebookCache =
    scala.collection.concurrent.TrieMap.empty[String, Array[Array[Array[Float]]]]

  private[operators] def resCodebooksFor(
      spark: SparkSession, dir: String): Array[Array[Array[Float]]] = {
    val key = IvfAnn.snapshotKey(spark, dir) + "#res"
    resCodebookCache.getOrElseUpdate(key, {
      resCodebookCache.keySet
        .filter(k => k != key && k.startsWith(s"$dir@"))
        .foreach(resCodebookCache.remove)
      import spark.implicits._
      val centsFx = IvfAnn.centroidsFx(spark, dir)
      val sample = table(spark, dir, "embeddings")
        .select(col("vec_id"), col("embedding"))
        .orderBy(col("vec_id"))
        .limit(IvfAnn.MaxTrain)
        .as[(Long, Array[Float])].collect()
      val residuals = sample.map { case (id, v) =>
        val fxv = v.map(graft.functions.FloatVecUtil.fx)
        var best = 0
        var bestD = Long.MaxValue
        var c = 0
        while (c < centsFx.length) {
          var d = 0L
          var i = 0
          while (i < fxv.length) {
            val t = fxv(i) - centsFx(c)(i); d += t * t; i += 1
          }
          if (d < bestD) { bestD = d; best = c } // strict <: ties → lower index
          c += 1
        }
        (id, Array.tabulate(v.length)(i =>
          ((fxv(i) - centsFx(best)(i)).toDouble / FxScale).toFloat))
      }
      Array.tabulate(M) { m =>
        IvfAnn.trainCentroids(
          residuals.map { case (id, r) =>
            (id, r.slice(m * SubDim, (m + 1) * SubDim))
          }, Ks)
      }
    })
  }

  /** The fx-domain residual array for a row carrying `centroid`:
    * fx(v_i) − centroid_fx_i, exact longs — the same element-wise fx()
    * the [[graft.functions.FxL2To]] kernel applies inline, expressed as
    * a column so the residual materializes once per row and the M×Ks
    * encode distances read it via the long-domain kernel.
    */
  private def rfxCol(centsFx: Array[Array[Long]]): Column = {
    val csel = element_at(
      array(centsFx.map(c => typedLit(c.toSeq)).toSeq: _*),
      col("centroid") + 1)
    zip_with(
      transform(col("embedding"), v =>
        floor(v.cast("double") * lit(FxScale.toDouble) + lit(0.5)).cast("long")),
      csel,
      (a, b) => a - b)
  }

  private def resCodeCol(m: Int, cbFx: Array[Array[Long]]): Column =
    array_min(array(cbFx.zipWithIndex.map { case (cb, i) =>
      struct(
        graft.functions.VectorFunctions.l2LongToF(
          slice(col("rfx"), m * SubDim + 1, SubDim), cb).as("d"),
        lit(i).as("c"))
    }.toSeq: _*)).getField("c")

  private def resCodesCol(cbsFx: Array[Array[Array[Long]]]): Column =
    array((0 until M).map(m => resCodeCol(m, cbsFx(m))): _*)

  /** Per-(query, probed centroid) residual ADC tables, driver-computed
    * over the bounded query sample ([[NumQueries]]·[[IvfAnn.NProbe]]
    * rows) and shipped as literals — the residual twin of [[queryDtq]]:
    * under residual encoding the query's table depends on WHICH coarse
    * cell is probed (q − c_a varies with a), so the join key is
    * (centroid) and each candidate is scored against its own cell's
    * table, exactly Jégou's IVFADC scan.
    */
  private[operators] def queryResDtqRows(
      spark: SparkSession, dir: String,
      centsFx: Array[Array[Long]],
      cbsFx: Array[Array[Array[Long]]]): Seq[(Long, Int, Seq[Seq[Long]])] = {
    import spark.implicits._
    val qs = table(spark, dir, "embeddings")
      .filter(col("vec_id") < NumQueries)
      .select(col("vec_id"), col("embedding"))
      .as[(Long, Array[Float])].collect()
    qs.toSeq.flatMap { case (qid, e) =>
      val fxq = e.map(graft.functions.FloatVecUtil.fx)
      val probed = centsFx.zipWithIndex.map { case (cv, ci) =>
        var d = 0L
        var i = 0
        while (i < fxq.length) { val t = fxq(i) - cv(i); d += t * t; i += 1 }
        (d, ci)
      }.sorted.take(IvfAnn.NProbe).map(_._2)
      probed.toSeq.map { a =>
        val dt = Seq.tabulate(M) { m =>
          cbsFx(m).toSeq.map { cb =>
            var s = 0L
            var i = 0
            while (i < SubDim) {
              val d = fxq(m * SubDim + i) - centsFx(a)(m * SubDim + i) - cb(i)
              s += d * d
              i += 1
            }
            s
          }
        }
        (qid, a, dt)
      }
    }
  }

  private def queryResDtq(
      spark: SparkSession, dir: String,
      centsFx: Array[Array[Long]],
      cbsFx: Array[Array[Array[Long]]]): DataFrame = {
    import spark.implicits._
    queryResDtqRows(spark, dir, centsFx, cbsFx).toDF("qid", "centroid", "dt")
  }

  /** The (vec_id, centroid, codes) residual-encoded corpus under an
    * EXPLICIT geometry — the encode pass [[residualIvfPqTopK]] runs
    * inline and [[VectorIndex.pqBuild]] materializes next to the
    * persisted lists (assignment and residuals against the SAME supplied
    * centroids, so stored and inline codes are bit-equal for the same
    * trained geometry).
    */
  private[operators] def residualCodes(
      spark: SparkSession, dir: String,
      centsFx: Array[Array[Long]],
      cbsFx: Array[Array[Array[Long]]]): DataFrame =
    table(spark, dir, "embeddings")
      .withColumn("centroid", IvfAnn.nearestCentroid(centsFx))
      .withColumn("rfx", rfxCol(centsFx))
      .select(col("vec_id"), col("centroid"), resCodesCol(cbsFx).as("codes"))

  /** v27: residual-encoding IVFADC top-k — [[ivfPqTopK]] with the PQ
    * stage encoding RESIDUALS to the coarse centroid (subtract before
    * encode, add back inside the per-cell distance table). Candidates
    * still pay M table lookups ([[graft.functions.AdcSumF]]); the only
    * new per-row work is the one residual projection at encode.
    *
    * Scale shape: identical to v11 — the broadcast side grows from
    * NumQueries to NumQueries·nprobe literal rows (still query-bounded),
    * the corpus side is one map-only encode pass, and the probe join
    * stays on `centroid`.
    */
  def residualIvfPqTopK(spark: SparkSession, dir: String): DataFrame = {
    val centsFx = IvfAnn.centroidsFx(spark, dir)
    val cbsFx = fxQuantize(resCodebooksFor(spark, dir))
    rankResidualAdc(
      residualCodes(spark, dir, centsFx, cbsFx),
      queryResDtq(spark, dir, centsFx, cbsFx))
  }

  /** The shared ADC ranking tail over a (vec_id, centroid, codes) corpus
    * and a (qid, centroid, dt) probe frame — v27 inline and v27i's
    * persisted-index probe ([[VectorIndex.residualIvfPqTopK]]) both end
    * here, so the twins cannot diverge on the scoring arithmetic.
    */
  private[operators] def rankResidualAdc(
      coded: DataFrame, probes: DataFrame): DataFrame = {
    val adc = graft.functions.VectorFunctions.adcSumF(col("dt"), col("codes"))
    coded.join(broadcast(probes), "centroid")
      .select(col("qid"), (-adc).as("score"), col("vec_id"), adc.as("adc_fx"))
      .transform(Similarity.rankTopK(_, TopK, "vec_id", "adc_fx"))
  }

  /** v28: recall@k of residual IVFADC (v27) vs raw-encoding IVF+PQ (v11)
    * against the exact brute-force ground truth — the non-circular gate
    * for the residual path (same rationale as [[pqRecall]]), and the
    * measurement behind Jégou's claim that residual encoding tightens
    * the same bit budget: `rivfpq ≥ ivfpq` is asserted on the graded
    * corpus in `ScaleOpsSpec`.
    */
  def residualRecall(spark: SparkSession, dir: String): DataFrame = {
    val exact = Similarity.bruteForceTopK(spark, dir).select(col("qid"), col("vec_id"))
    def hits(approx: DataFrame, name: String) =
      exact.join(
          approx.select(col("qid").as("a_qid"), col("vec_id").as("a_vid")),
          col("qid") === col("a_qid") && col("vec_id") === col("a_vid"), "left_semi")
        .groupBy(col("qid")).agg(count(lit(1)).as(name))
    exact.select(col("qid")).distinct()
      .join(hits(residualIvfPqTopK(spark, dir), "rivfpq_hits"), Seq("qid"), "left")
      .join(hits(ivfPqTopK(spark, dir), "ivfpq_hits"), Seq("qid"), "left")
      .select(
        col("qid"),
        coalesce(col("rivfpq_hits"), lit(0L)).as("rivfpq_hits"),
        coalesce(col("ivfpq_hits"), lit(0L)).as("ivfpq_hits"),
        (coalesce(col("rivfpq_hits"), lit(0L)) * (10000L / TopK)).as("rivfpq_recall_e4"),
        (coalesce(col("ivfpq_hits"), lit(0L)) * (10000L / TopK)).as("ivfpq_recall_e4"))
  }

  /** DuckDB oracle for [[residualIvfPqTopK]]: the IVF candidate CTEs +
    * the residual codebook literals; residuals, encode distances and the
    * per-(qid, centroid) tables all replay in exact fx-long arithmetic.
    */
  def residualIvfPqTopKOracleSql(spark: SparkSession, dir: String): String = {
    val centsFx = IvfAnn.centroidsFx(spark, dir)
    val cbsFx = fxQuantize(resCodebooksFor(spark, dir))
    s"""WITH ${IvfAnn.candCtes(centsFx, IvfAnn.NProbe)},
       |rcb(m, c, vec) AS (VALUES
       |    ${codebookValues(cbsFx)}),
       |fxe AS (
       |  SELECT e.vec_id, i, ${fxSql("e.embedding[i]")} AS q
       |  FROM embeddings e,
       |       LATERAL (SELECT unnest(range(1, len(e.embedding) + 1)) AS i) r),
       |rfx AS (
       |  SELECT f.vec_id, f.i, f.q - ct.vec[f.i] AS rv
       |  FROM fxe f
       |  JOIN assigned a ON a.vec_id = f.vec_id
       |  JOIN cents ct ON ct.c = a.centroid),
       |rencdist AS (
       |  SELECT r.vec_id, b.m, b.c,
       |    cast(sum((r.rv - b.vec[r.i - b.m * $SubDim])
       |           * (r.rv - b.vec[r.i - b.m * $SubDim])) AS bigint) AS d
       |  FROM rfx r JOIN rcb b
       |    ON r.i > b.m * $SubDim AND r.i <= (b.m + 1) * $SubDim
       |  GROUP BY r.vec_id, b.m, b.c),
       |rcodes AS (
       |  SELECT vec_id, m, c FROM (
       |    SELECT vec_id, m, c,
       |      row_number() OVER (PARTITION BY vec_id, m ORDER BY d, c) AS rn
       |    FROM rencdist)
       |  WHERE rn = 1),
       |qrfx AS (
       |  SELECT p.qid, p.centroid, f.i, f.q - ct.vec[f.i] AS rv
       |  FROM probes p
       |  JOIN fxe f ON f.vec_id = p.qid
       |  JOIN cents ct ON ct.c = p.centroid),
       |rdtq AS (
       |  SELECT q.qid, q.centroid, b.m, b.c,
       |    cast(sum((q.rv - b.vec[q.i - b.m * $SubDim])
       |           * (q.rv - b.vec[q.i - b.m * $SubDim])) AS bigint) AS d
       |  FROM qrfx q JOIN rcb b
       |    ON q.i > b.m * $SubDim AND q.i <= (b.m + 1) * $SubDim
       |  GROUP BY q.qid, q.centroid, b.m, b.c),
       |adc AS (
       |  SELECT cd.qid, cd.vec_id, cast(sum(t.d) AS bigint) AS adc_fx
       |  FROM cand cd
       |  JOIN assigned a ON a.vec_id = cd.vec_id
       |  JOIN rcodes k ON k.vec_id = cd.vec_id
       |  JOIN rdtq t ON t.qid = cd.qid AND t.centroid = a.centroid
       |    AND t.m = k.m AND t.c = k.c
       |  GROUP BY cd.qid, cd.vec_id)
       |${rankedSelect("adc")}""".stripMargin
  }

  /** DuckDB oracle for [[residualRecall]] — exact, residual and raw
    * IVF+PQ top-k nested as CTEs, one semi-join count per path.
    */
  def residualRecallOracleSql(spark: SparkSession, dir: String): String =
    s"""WITH exact_tk AS (
       |${Similarity.bruteForceTopKOracleSql}
       |),
       |r_tk AS (
       |${residualIvfPqTopKOracleSql(spark, dir)}
       |),
       |i_tk AS (
       |${ivfPqTopKOracleSql(spark, dir)}
       |),
       |rh AS (
       |  SELECT e.qid, cast(count(*) AS bigint) AS h FROM exact_tk e
       |  WHERE EXISTS (
       |    SELECT 1 FROM r_tk a WHERE a.qid = e.qid AND a.vec_id = e.vec_id)
       |  GROUP BY e.qid),
       |ih AS (
       |  SELECT e.qid, cast(count(*) AS bigint) AS h FROM exact_tk e
       |  WHERE EXISTS (
       |    SELECT 1 FROM i_tk a WHERE a.qid = e.qid AND a.vec_id = e.vec_id)
       |  GROUP BY e.qid)
       |SELECT q.qid,
       |  cast(coalesce(rh.h, 0) AS bigint) AS rivfpq_hits,
       |  cast(coalesce(ih.h, 0) AS bigint) AS ivfpq_hits,
       |  cast(coalesce(rh.h, 0) * ${10000 / TopK} AS bigint) AS rivfpq_recall_e4,
       |  cast(coalesce(ih.h, 0) * ${10000 / TopK} AS bigint) AS ivfpq_recall_e4
       |FROM (SELECT DISTINCT qid FROM exact_tk) q
       |LEFT JOIN rh USING (qid)
       |LEFT JOIN ih USING (qid)""".stripMargin

  /** DuckDB oracle for [[ivfPqTopK]]: IVF candidate CTEs composed with
    * the PQ code/table CTEs — two independent literal sets, one query.
    */
  def ivfPqTopKOracleSql(spark: SparkSession, dir: String): String = {
    val centsFx = IvfAnn.centroidsFx(spark, dir)
    val cbsFx = fxQuantize(codebooksFor(spark, dir))
    s"""WITH ${IvfAnn.candCtes(centsFx, IvfAnn.NProbe)},
       |${codesCte(cbsFx)},
       |$dtqCte,
       |adc AS (
       |  SELECT d.qid, k.vec_id, cast(sum(d.d) AS bigint) AS adc_fx
       |  FROM cand cd
       |  JOIN codes k ON k.vec_id = cd.vec_id
       |  JOIN dtq d ON d.qid = cd.qid AND d.m = k.m AND d.c = k.c
       |  GROUP BY d.qid, k.vec_id)
       |${rankedSelect("adc")}""".stripMargin
  }
}
