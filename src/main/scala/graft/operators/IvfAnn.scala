package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.VectorFunctions.{cosFxF, fxL2ToF}
import graft.sources.Tables
import graft.sources.Tables.table

/** IVF (inverted-file) ANN — the coarse-quantizer scale path next to the
  * LSH variant in [[Similarity]]:
  *
  *   1. TRAIN: pick k centroids with a deterministic k-means-lite
  *      (seeded init = first k vectors by vec_id, fixed iteration count,
  *      mean update) over a BOUNDED sample — the first [[MaxTrain]] vectors
  *      by vec_id via orderBy+limit (TakeOrdered: one scan, k-heap, never a
  *      full-corpus collect). Centroids are tiny → broadcast as literals.
  *   2. ASSIGN: every corpus vector goes to its nearest centroid — one
  *      map-only pass (centroid literals in codegen), giving the inverted
  *      lists.
  *   3. QUERY: probe the `nprobe` nearest lists only — the candidate set
  *      shrinks ~k/nprobe-fold vs brute force; per-query top-k via the
  *      bounded-heap aggregator (map-side partials, no global window).
  *
  * Distances are compared on 6 dp scaled integers (see [[Exact]]) with a
  * centroid-index tie-break, so assignment/probe choices never hinge on a
  * sub-ulp float comparison — which is what lets the DuckDB oracle replay
  * them exactly from inlined centroid literals
  * ([[assignmentsOracleSql]]/[[ivfTopKOracleSql]]).
  */
object IvfAnn {

  // 16 lists for the graded (sf ≤ 0.1) corpora; candidate work per query is
  // n·nprobe/K, so K must grow with the corpus — see [[recommendedLists]].
  private[graft] val K = 16
  private val Iterations = 3
  private[graft] val NProbe = 4
  private[operators] val NumQueries = 8
  private val TopK = 10
  private[operators] val MaxTrain = 4096

  /** Inverted lists needed to keep per-probe candidate work near
    * `targetList` rows: the standard √n-to-n/target heuristic, K ≈
    * n/target. At 10⁹ vectors and a 4096-row target that is ~244k lists
    * (trained on a sample, centroids still broadcastable) — the knob a
    * 100 TB deployment turns instead of accepting O(n) lists.
    */
  def recommendedLists(corpusSize: Long, targetList: Int = 4096): Int = {
    // clamp BEFORE narrowing: corpusSize beyond ~2^31·targetList would
    // otherwise wrap in the Long-to-Int cast — exactly the 100 TB regime
    // this helper exists for
    val lists = math.min(corpusSize, corpusSize / math.max(1, targetList))
    math.max(1L, math.min(Int.MaxValue.toLong, lists)).toInt
  }

  /** Deterministic k-means-lite on the driver over a (small, sorted)
    * training sample — collect is bounded by [[MaxTrain]], never the
    * corpus. Shared with [[PqAnn]]'s per-subspace codebook training.
    */
  private[operators] def trainCentroids(
      sample: Array[(Long, Array[Float])], k: Int = K): Array[Array[Float]] = {
    val data = sample.sortBy(_._1) // deterministic accumulation order
    val dim = data.head._2.length
    var centroids = data.take(k).map(_._2.map(_.toDouble))
    for (_ <- 0 until Iterations) {
      val sums = Array.fill(k)(new Array[Double](dim))
      val counts = new Array[Int](k)
      data.foreach { case (_, v) =>
        var best = 0; var bestD = Double.MaxValue
        var c = 0
        while (c < k) {
          var d = 0.0; var i = 0
          while (i < dim) { val t = v(i) - centroids(c)(i); d += t * t; i += 1 }
          if (d < bestD) { bestD = d; best = c }
          c += 1
        }
        counts(best) += 1
        var i = 0
        while (i < dim) { sums(best)(i) += v(i); i += 1 }
      }
      centroids = Array.tabulate(k) { c =>
        if (counts(c) == 0) centroids(c)
        else sums(c).map(_ / counts(c))
      }
    }
    centroids.map(_.map(_.toFloat))
  }

  // memoized per data snapshot: training is a pure function of the parquet,
  // and assignments/topk/both oracle generators all need the same centroids.
  // The key includes the embeddings' snapshot stamp so a regenerated parquet
  // at the same path (tests, long-lived drivers) retrains instead of
  // silently reusing stale centroids.
  private val centroidCache =
    scala.collection.concurrent.TrieMap.empty[String, Array[Array[Float]]]

  /** `<dir>@<stamp>`: the embeddings table's [[Tables.stamp]] (file count,
    * total length, latest mtime), the key of every per-snapshot memo of
    * derived vector artifacts.
    */
  private[operators] def snapshotKey(spark: SparkSession, dir: String): String =
    s"$dir@${Tables.stamp(spark, s"$dir/embeddings.parquet")}"

  private[operators] def centroidsFor(spark: SparkSession, dir: String): Array[Array[Float]] = {
    val key = snapshotKey(spark, dir)
    centroidCache.getOrElseUpdate(key, {
      // evict superseded snapshots of the same dir: a long-lived driver
      // regenerating data repeatedly must not accumulate stale arrays
      centroidCache.keySet
        .filter(k => k != key && k.startsWith(s"$dir@"))
        .foreach(centroidCache.remove)
      import spark.implicits._
      val sample = table(spark, dir, "embeddings")
        .select(col("vec_id"), col("embedding"))
        .orderBy(col("vec_id"))
        .limit(MaxTrain)
        .as[(Long, Array[Float])].collect()
      trainCentroids(sample)
    })
  }

  /** Squared-L2-to-centroid in EXACT integer arithmetic: the codegen'd
    * [[graft.functions.FxL2To]] kernel quantizes elements inline to 2^20
    * longs and accumulates an order-free integer sum — the rank-key
    * discipline shared with [[PqAnn]] (the earlier e6-of-double key class
    * straddled a rounding edge at sf0.001). Training stays float (the
    * centroids are a spec constant once computed); only the
    * assignment/probe METRIC quantizes.
    */
  private[graft] def centroidsFx(
      spark: SparkSession, dir: String): Array[Array[Long]] =
    centroidsFor(spark, dir).map(_.map(v =>
      math.floor(v.toDouble * PqAnn.FxScale + 0.5).toLong))

  /** Nearest-centroid id for the `embedding` column: argmin over (d,
    * centroid index) via array_min on structs.
    */
  private[graft] def nearestCentroid(centsFx: Array[Array[Long]]): Column = {
    val scored = centsFx.zipWithIndex.map { case (c, i) =>
      struct(fxL2ToF(col("embedding"), c).as("d"), lit(i).as("c"))
    }
    array_min(array(scored.toSeq: _*)).getField("c")
  }

  /** Inverted lists: vec_id → centroid assignment (map-only). */
  def assignments(spark: SparkSession, dir: String): DataFrame =
    table(spark, dir, "embeddings")
      .select(col("vec_id"), nearestCentroid(centroidsFx(spark, dir)).as("centroid"))

  /** (qid, qe, centroid) probe rows for the first [[NumQueries]] queries:
    * distances to all K centroids, keep the nprobe best. Shared by
    * [[ivfTopK]] and [[PqAnn.ivfPqTopK]].
    */
  private[operators] def probeRows(
      spark: SparkSession, dir: String, nprobe: Int): DataFrame =
    probeRowsFor(spark, dir, nprobe, centroidsFx(spark, dir))

  /** Same probe derivation against an EXPLICIT centroid set — the seam
    * [[VectorIndex]] uses to probe with the centroids persisted at index
    * build instead of retraining.
    */
  private[operators] def probeRowsFor(
      spark: SparkSession, dir: String, nprobe: Int,
      centsFx: Array[Array[Long]]): DataFrame = {
    val probeScored = centsFx.zipWithIndex.map { case (c, i) =>
      struct(fxL2ToF(col("embedding"), c).as("d"), lit(i).as("c"))
    }
    table(spark, dir, "embeddings").filter(col("vec_id") < NumQueries)
      .select(
        col("vec_id").as("qid"), col("embedding").as("qe"),
        slice(array_sort(array(probeScored.toSeq: _*)), 1, nprobe).as("probe_list"))
      .select(col("qid"), col("qe"), explode(col("probe_list").getField("c")).as("centroid"))
  }

  /** Corpus with its centroid assignment column. */
  private[operators] def assignedCorpus(spark: SparkSession, dir: String): DataFrame =
    table(spark, dir, "embeddings")
      .withColumn("centroid", nearestCentroid(centroidsFx(spark, dir)))

  /** IVF top-k: probe the `nprobe` nearest centroids per query (default
    * [[NProbe]]); bounded-heap top-k over the probed candidates. Raising
    * `nprobe` trades candidate-scan cost for recall — the recall curve is
    * asserted in IvfBucketingSpec.
    */
  def ivfTopK(spark: SparkSession, dir: String, nprobe: Int = NProbe): DataFrame =
    topKFromAssigned(assignedCorpus(spark, dir), probeRows(spark, dir, nprobe))

  /** The ranking tail over any (vec_id, embedding, centroid) corpus and
    * (qid, qe, centroid) probe rows — shared by the inline path above and
    * the persisted-index path ([[VectorIndex.ivfTopK]]).
    */
  private[operators] def topKFromAssigned(
      assigned: DataFrame, probes: DataFrame): DataFrame = {
    val cos = cosFxF(col("qe"), col("embedding"))
    val scored = assigned.join(broadcast(probes), "centroid")
      .select(col("qid"), Exact.e(cos, 6).as("s6"), col("vec_id"), Exact.e(cos, 4).as("c4"))
    Similarity.rankTopK(scored, TopK, "vec_id", "cosine_e4")
  }

  /** Recall@k of [[ivfTopK]] against the exact
    * [[Similarity.bruteForceTopK]] ground truth — the engine evaluating
    * its own approximation, as a first-class query: per qid, how many of
    * the true top-k the probe path recovered. Both inputs use identical
    * rank keys and tie-breaks, so the intersection is deterministic.
    * Scale shape: the ground-truth side is the expensive one (it is the
    * brute-force scan), which is exactly how recall evaluation runs in
    * production — on a small query sample, not the full corpus. Every
    * qid survives the semi join: rank 1 is the query itself under both
    * paths (cosine 1.0, and the query's own centroid is always probed).
    */
  def ivfRecall(spark: SparkSession, dir: String, nprobe: Int = NProbe): DataFrame = {
    val exact = Similarity.bruteForceTopK(spark, dir).select(col("qid"), col("vec_id"))
    val approx = ivfTopK(spark, dir, nprobe)
      .select(col("qid").as("a_qid"), col("vec_id").as("a_vid"))
    exact.join(approx,
        col("qid") === col("a_qid") && col("vec_id") === col("a_vid"), "left_semi")
      .groupBy(col("qid"))
      .agg(count(lit(1)).as("n_hits"))
      // scale derived from TopK (same guard as v18): a TopK change
      // re-scales engine and oracle through one formula
      .select(col("qid"), col("n_hits"),
        (col("n_hits") * lit(10000L / TopK)).as("recall_e4"))
  }

  /** DuckDB oracle for [[ivfRecall]]: the exact and IVF top-k statements
    * nest as CTEs (both engines support nested WITH), then one semi-join
    * count per qid.
    */
  def ivfRecallOracleSql(spark: SparkSession, dir: String): String =
    s"""WITH exact_tk AS (
       |${Similarity.bruteForceTopKOracleSql}
       |),
       |approx_tk AS (
       |${ivfTopKOracleSql(spark, dir)}
       |)
       |SELECT e.qid,
       |  cast(count(*) AS bigint) AS n_hits,
       |  cast(count(*) * ${10000L / TopK} AS bigint) AS recall_e4
       |FROM exact_tk e
       |WHERE EXISTS (
       |  SELECT 1 FROM approx_tk a
       |  WHERE a.qid = e.qid AND a.vec_id = e.vec_id)
       |GROUP BY e.qid""".stripMargin

  // ---- v25/v26: filtered (metadata-constrained) ANN ----------------------

  /** nprobe under the label filter: the filter keeps ~1/|labels| of each
    * probed list, so the probe budget doubles to restore the candidate
    * count — the standard selectivity boost a filtered-search deployment
    * applies (pre-filtering inside the probed lists, never post-filtering
    * an already-truncated top-k, which silently returns short lists).
    */
  private[operators] val FilteredNProbe = NProbe * 2

  /** v25: filtered IVF top-k — vector search constrained by a metadata
    * predicate (each graded query retrieves only within its own label
    * shard, `label = qid % 10`), the feature every production vector
    * store ships next to plain ANN. The filter applies to the probed
    * candidates BEFORE ranking (pre-filter), so the heap always ranks
    * the full filtered candidate set.
    *
    * Scale shape: identical to v7 (probe nprobe lists, bounded-heap
    * rank) plus one pushed-down predicate on the scanned lists; at
    * 100 TB with a partitioned/clustered label column the filter prunes
    * list FILES, making filtered search cheaper than unfiltered, not
    * costlier.
    */
  def filteredIvfTopK(
      spark: SparkSession, dir: String, nprobe: Int = FilteredNProbe): DataFrame = {
    val assigned = assignedCorpus(spark, dir)
    val probes = probeRows(spark, dir, nprobe)
    val cos = cosFxF(col("qe"), col("embedding"))
    val scored = assigned.join(broadcast(probes), "centroid")
      .filter(col("label") === pmod(col("qid"), lit(10)))
      .select(col("qid"), Exact.e(cos, 6).as("s6"), col("vec_id"), Exact.e(cos, 4).as("c4"))
    Similarity.rankTopK(scored, TopK, "vec_id", "cosine_e4")
  }

  /** The filtered ground truth: brute-force cosine over exactly the
    * query's label shard.
    */
  private[graft] def filteredBruteTopK(spark: SparkSession, dir: String): DataFrame = {
    val emb = table(spark, dir, "embeddings")
    val queries = emb.filter(col("vec_id") < NumQueries)
      .select(col("vec_id").as("qid"), col("embedding").as("qe"))
    val cos = cosFxF(col("qe"), col("embedding"))
    val scored = emb.crossJoin(broadcast(queries))
      .filter(col("label") === pmod(col("qid"), lit(10)))
      .select(col("qid"), Exact.e(cos, 6).as("s6"), col("vec_id"), Exact.e(cos, 4).as("c4"))
    Similarity.rankTopK(scored, TopK, "vec_id", "cosine_e4")
  }

  /** v26: recall@k of [[filteredIvfTopK]] against the filtered
    * brute-force ground truth — the evaluation that catches the classic
    * filtered-ANN failure (probed lists empty of the filter's label →
    * silent short results). Recall denominates by the PER-QID exact list
    * size (a label shard smaller than TopK has a shorter ground-truth
    * list, and retrieving all of it is 100%), and a qid whose probes
    * covered none of its shard stays in the output at n_hits = 0.
    */
  def filteredRecall(
      spark: SparkSession, dir: String, nprobe: Int = FilteredNProbe): DataFrame = {
    val exact = filteredBruteTopK(spark, dir).select(col("qid"), col("vec_id"))
    val approx = filteredIvfTopK(spark, dir, nprobe)
      .select(col("qid").as("a_qid"), col("vec_id").as("a_vid"))
    // denominate by the PER-QID ground-truth list size, not TopK: a label
    // shard holding fewer than TopK vectors has a shorter exact list, and
    // perfect retrieval of it must read as 100%. The left join also keeps
    // zero-hit qids in the output (n_hits = 0) instead of dropping them.
    exact.join(approx,
        col("qid") === col("a_qid") && col("vec_id") === col("a_vid"), "left")
      .groupBy(col("qid"))
      .agg(count(col("a_vid")).as("n_hits"), count(lit(1)).as("n_exact"))
      .select(col("qid"), col("n_hits"),
        expr("(n_hits * 10000) div n_exact").as("recall_e4"))
  }

  /** The filtered-brute-force CTE body (shared by the v25-independent
    * ground truth and the v26 oracle): [[Similarity
    * .bruteForceTopKOracleSql]] with the label predicate in the dot
    * aggregation.
    */
  private def filteredBruteSql: String =
    s"""WITH lf AS (
       |  SELECT e.vec_id, i, cast(e.embedding[i] AS float) AS v
       |  FROM embeddings e, LATERAL (SELECT unnest(range(1, len(e.embedding) + 1)) AS i) r),
       |${Similarity.fxSqlCte("lf")},
       |n2 AS (SELECT vec_id, cast(sum(q * q) AS bigint) AS n2 FROM fxc GROUP BY vec_id),
       |shard AS (SELECT vec_id, label FROM embeddings),
       |dots AS (
       |  SELECT a.vec_id AS qid, b.vec_id, cast(sum(a.q * b.q) AS bigint) AS d
       |  FROM fxc a
       |  JOIN fxc b ON b.i = a.i
       |  JOIN shard s ON s.vec_id = b.vec_id
       |  WHERE a.vec_id < $NumQueries AND s.label = a.vec_id % 10
       |  GROUP BY 1, 2),
       |scored AS (
       |  SELECT dt.qid, dt.vec_id,
       |    CASE WHEN nq.n2 = 0 OR nv.n2 = 0 THEN 0.0
       |         ELSE cast(dt.d AS double)
       |           / (sqrt(cast(nq.n2 AS double)) * sqrt(cast(nv.n2 AS double))) END AS cos
       |  FROM dots dt
       |  JOIN n2 nq ON nq.vec_id = dt.qid
       |  JOIN n2 nv ON nv.vec_id = dt.vec_id)
       |SELECT qid, vec_id,
       |  cast(floor(cos * 10000.0 + 0.5) AS bigint) AS cosine_e4,
       |  cast(rn AS int) AS rn
       |FROM (
       |  SELECT qid, vec_id, cos,
       |    row_number() OVER (PARTITION BY qid
       |      ORDER BY cast(floor(cos * 1000000.0 + 0.5) AS bigint) DESC, vec_id) AS rn
       |  FROM scored)
       |WHERE rn <= $TopK""".stripMargin

  /** DuckDB oracle for [[filteredIvfTopK]]: the v7 candidate CTEs at the
    * boosted nprobe, label-filtered before ranking.
    */
  def filteredIvfTopKOracleSql(spark: SparkSession, dir: String): String = {
    val centsFx = centroidsFx(spark, dir)
    s"""WITH ${candCtes(centsFx, FilteredNProbe)},
       |candf AS (
       |  SELECT c.qid, c.vec_id FROM cand c
       |  JOIN embeddings e ON e.vec_id = c.vec_id
       |  WHERE e.label = c.qid % 10),
       |lf AS (
       |  SELECT e.vec_id, i, cast(e.embedding[i] AS float) AS v
       |  FROM embeddings e, LATERAL (SELECT unnest(range(1, len(e.embedding) + 1)) AS i) r),
       |${Similarity.fxSqlCte("lf")},
       |n2 AS (SELECT vec_id, cast(sum(q * q) AS bigint) AS n2 FROM fxc GROUP BY vec_id),
       |pc AS (
       |  SELECT c.qid, c.vec_id, cast(sum(qf.q * cf.q) AS bigint) AS dd
       |  FROM candf c
       |  JOIN fxc qf ON qf.vec_id = c.qid
       |  JOIN fxc cf ON cf.vec_id = c.vec_id AND cf.i = qf.i
       |  GROUP BY c.qid, c.vec_id),
       |scored AS (
       |  SELECT pc.qid, pc.vec_id,
       |    CASE WHEN nq.n2 = 0 OR nv.n2 = 0 THEN 0.0
       |         ELSE cast(pc.dd AS double)
       |           / (sqrt(cast(nq.n2 AS double)) * sqrt(cast(nv.n2 AS double))) END AS cos
       |  FROM pc
       |  JOIN n2 nq ON nq.vec_id = pc.qid
       |  JOIN n2 nv ON nv.vec_id = pc.vec_id)
       |SELECT qid, vec_id,
       |  cast(floor(cos * 10000.0 + 0.5) AS bigint) AS cosine_e4,
       |  cast(rn AS int) AS rn
       |FROM (
       |  SELECT qid, vec_id, cos,
       |    row_number() OVER (PARTITION BY qid
       |      ORDER BY cast(floor(cos * 1000000.0 + 0.5) AS bigint) DESC, vec_id) AS rn
       |  FROM scored)
       |WHERE rn <= $TopK""".stripMargin
  }

  def filteredRecallOracleSql(spark: SparkSession, dir: String): String =
    s"""WITH exact_tk AS (
       |$filteredBruteSql
       |),
       |approx_tk AS (
       |${filteredIvfTopKOracleSql(spark, dir)}
       |)
       |SELECT e.qid,
       |  cast(count(a.vec_id) AS bigint) AS n_hits,
       |  cast((count(a.vec_id) * 10000) // count(*) AS bigint) AS recall_e4
       |FROM exact_tk e
       |LEFT JOIN approx_tk a ON a.qid = e.qid AND a.vec_id = e.vec_id
       |GROUP BY e.qid""".stripMargin

  /** Fixed-point centroids as a DuckDB VALUES clause: (c, vec BIGINT[]) —
    * integer literals, no float round-trip at all.
    */
  private def centroidValues(centsFx: Array[Array[Long]]): String =
    centsFx.zipWithIndex.map { case (c, i) =>
      s"($i, [${c.mkString(", ")}]::BIGINT[])"
    }.mkString(",\n    ")

  /** The engine's per-element fixed-point conversion as SQL text. */
  private def fxSql(valueExpr: String): String =
    s"cast(floor(cast($valueExpr AS double) * ${PqAnn.FxScale}.0 + 0.5) AS bigint)"

  private def distCte(centsFx: Array[Array[Long]]): String =
    s"""cents(c, vec) AS (VALUES
       |    ${centroidValues(centsFx)}),
       |dist AS (
       |  SELECT vec_id, c, cast(sum((qf - cf) * (qf - cf)) AS bigint) AS d
       |  FROM (
       |    SELECT e.vec_id, ct.c,
       |      ${fxSql("e.embedding[i]")} AS qf,
       |      ct.vec[i] AS cf
       |    FROM embeddings e, cents ct,
       |         LATERAL (SELECT unnest(range(1, len(e.embedding) + 1)) AS i) r)
       |  GROUP BY vec_id, c)""".stripMargin

  /** DuckDB oracle for [[assignments]] — centroids inlined as literals;
    * data-dependent, so generated at Verify time with a live session.
    */
  def assignmentsOracleSql(spark: SparkSession, dir: String): String = {
    val centsFx = centroidsFx(spark, dir)
    s"""WITH ${distCte(centsFx)}
       |SELECT vec_id, cast(c AS int) AS centroid
       |FROM (
       |  SELECT vec_id, c, row_number() OVER (PARTITION BY vec_id ORDER BY d, c) AS rn
       |  FROM dist)
       |WHERE rn = 1""".stripMargin
  }

  /** CTE text for the IVF candidate relation `cand(qid, vec_id)` —
    * assignment + probe lists from the centroid literals. Shared with
    * [[PqAnn.ivfPqTopKOracleSql]].
    */
  private[operators] def candCtes(centsFx: Array[Array[Long]], nprobe: Int): String =
    s"""${distCte(centsFx)},
       |assigned AS (
       |  SELECT vec_id, c AS centroid
       |  FROM (
       |    SELECT vec_id, c, row_number() OVER (PARTITION BY vec_id ORDER BY d, c) AS rn
       |    FROM dist)
       |  WHERE rn = 1),
       |probes AS (
       |  SELECT vec_id AS qid, c AS centroid
       |  FROM (
       |    SELECT vec_id, c, row_number() OVER (PARTITION BY vec_id ORDER BY d, c) AS rn
       |    FROM dist WHERE vec_id < $NumQueries)
       |  WHERE rn <= $nprobe),
       |cand AS (
       |  SELECT p.qid, a.vec_id FROM probes p JOIN assigned a ON a.centroid = p.centroid)""".stripMargin

  /** DuckDB oracle for [[ivfTopK]] — assignment + probe lists + ranked
    * fixed-point cosine, all from the same centroid literals.
    */
  def ivfTopKOracleSql(spark: SparkSession, dir: String): String = {
    val centsFx = centroidsFx(spark, dir)
    s"""WITH ${candCtes(centsFx, NProbe)},
       |lf AS (
       |  SELECT e.vec_id, i, cast(e.embedding[i] AS float) AS v
       |  FROM embeddings e, LATERAL (SELECT unnest(range(1, len(e.embedding) + 1)) AS i) r),
       |${Similarity.fxSqlCte("lf")},
       |n2 AS (SELECT vec_id, cast(sum(q * q) AS bigint) AS n2 FROM fxc GROUP BY vec_id),
       |pc AS (
       |  SELECT c.qid, c.vec_id, cast(sum(qf.q * cf.q) AS bigint) AS dd
       |  FROM cand c
       |  JOIN fxc qf ON qf.vec_id = c.qid
       |  JOIN fxc cf ON cf.vec_id = c.vec_id AND cf.i = qf.i
       |  GROUP BY c.qid, c.vec_id),
       |scored AS (
       |  SELECT pc.qid, pc.vec_id,
       |    CASE WHEN nq.n2 = 0 OR nv.n2 = 0 THEN 0.0
       |         ELSE cast(pc.dd AS double)
       |           / (sqrt(cast(nq.n2 AS double)) * sqrt(cast(nv.n2 AS double))) END AS cos
       |  FROM pc
       |  JOIN n2 nq ON nq.vec_id = pc.qid
       |  JOIN n2 nv ON nv.vec_id = pc.vec_id)
       |SELECT qid, vec_id,
       |  cast(floor(cos * 10000.0 + 0.5) AS bigint) AS cosine_e4,
       |  cast(rn AS int) AS rn
       |FROM (
       |  SELECT qid, vec_id, cos,
       |    row_number() OVER (PARTITION BY qid
       |      ORDER BY cast(floor(cos * 1000000.0 + 0.5) AS bigint) DESC, vec_id) AS rn
       |  FROM scored)
       |WHERE rn <= $TopK""".stripMargin
  }

  // ---- v21/v22: the IVF × binary hybrid ---------------------------------

  /** v21: IVF-pruned binary retrieval — the memory-bandwidth composition a
    * large vector store actually ships: IVF decides WHICH lists to read
    * (nprobe of [[K]] — the scanned fraction), 1-bit sign signatures
    * decide HOW to scan them (XOR+popcount over 8 bytes/vector — the
    * bytes per scanned row, 32× below float), and the float corpus is
    * touched only for the RerankC·|queries| exact-rescore rows. Sits next
    * to v11 (IVF × PQ) as the other quantized-scan composition; unlike
    * PQ there is no codebook to train, so the signature column is
    * ingest-time-computable and never drifts.
    *
    * With `rerankC` ≥ the probed candidate count this IS [[ivfTopK]]
    * (the Hamming stage passes everything through) — pinned bit-equal in
    * `IvfBucketingSpec`, the same full-budget-collapses-to-exact contract
    * v19 has against brute force.
    */
  def ivfBinaryTopK(spark: SparkSession, dir: String,
      nprobe: Int = NProbe,
      rerankC: Int = Similarity.HammingRerankC): DataFrame = {
    val signed = assignedCorpus(spark, dir).select(
      col("vec_id"), col("centroid"),
      expr(Similarity.signWordSql("embedding", 0)).as("s0"),
      expr(Similarity.signWordSql("embedding", 32)).as("s1"))
    val probes = probeRows(spark, dir, nprobe)
      .select(col("qid"), col("centroid"),
        expr(Similarity.signWordSql("qe", 0)).as("q0"),
        expr(Similarity.signWordSql("qe", 32)).as("q1"))
    val coarse = signed.join(broadcast(probes), "centroid")
      .select(col("qid"), col("vec_id"),
        (bit_count(col("s0").bitwiseXOR(col("q0"))) +
          bit_count(col("s1").bitwiseXOR(col("q1")))).cast("int").as("ham"))
    val cand = graft.plans.TopKPerKey(
        coarse, Seq(col("qid")), Seq(col("ham"), col("vec_id")), rerankC)
      .select(col("qid"), col("vec_id"))
    val emb = table(spark, dir, "embeddings")
    val queries = emb.filter(col("vec_id") < NumQueries)
      .select(col("vec_id").as("qid"), col("embedding").as("qe"))
    val cos = cosFxF(col("qe"), col("embedding"))
    val scored = emb
      .join(broadcast(cand.join(queries, "qid")), "vec_id")
      .select(col("qid"), Exact.e(cos, 6).as("s6"), col("vec_id"), Exact.e(cos, 4).as("c4"))
    Similarity.rankTopK(scored, TopK, "vec_id", "cosine_e4")
  }

  def ivfBinaryTopKOracleSql(spark: SparkSession, dir: String): String = {
    val centsFx = centroidsFx(spark, dir)
    val rerankC = Similarity.HammingRerankC
    s"""WITH ${candCtes(centsFx, NProbe)},
       |lf AS (
       |  SELECT e.vec_id, i, cast(e.embedding[i] AS float) AS v
       |  FROM embeddings e, LATERAL (SELECT unnest(range(1, len(e.embedding) + 1)) AS i) r),
       |${Similarity.sigSqlCte("lf")},
       |ham AS (
       |  SELECT c.qid, c.vec_id,
       |    bit_count(xor(qs.s0, cs.s0)) + bit_count(xor(qs.s1, cs.s1)) AS ham
       |  FROM cand c
       |  JOIN sig qs ON qs.vec_id = c.qid
       |  JOIN sig cs ON cs.vec_id = c.vec_id),
       |cand2 AS (
       |  SELECT qid, vec_id FROM (
       |    SELECT qid, vec_id,
       |      row_number() OVER (PARTITION BY qid ORDER BY ham, vec_id) AS rn
       |    FROM ham)
       |  WHERE rn <= $rerankC),
       |${Similarity.fxSqlCte("lf")},
       |n2 AS (SELECT vec_id, cast(sum(q * q) AS bigint) AS n2 FROM fxc GROUP BY vec_id),
       |dots AS (
       |  SELECT c.qid, c.vec_id, cast(sum(a.q * b.q) AS bigint) AS d
       |  FROM cand2 c
       |  JOIN fxc a ON a.vec_id = c.qid
       |  JOIN fxc b ON b.vec_id = c.vec_id AND b.i = a.i
       |  GROUP BY 1, 2),
       |scored AS (
       |  SELECT dt.qid, dt.vec_id,
       |    CASE WHEN nq.n2 = 0 OR nv.n2 = 0 THEN 0.0
       |         ELSE cast(dt.d AS double)
       |           / (sqrt(cast(nq.n2 AS double)) * sqrt(cast(nv.n2 AS double))) END AS cos
       |  FROM dots dt
       |  JOIN n2 nq ON nq.vec_id = dt.qid
       |  JOIN n2 nv ON nv.vec_id = dt.vec_id)
       |SELECT qid, vec_id,
       |  cast(floor(cos * 10000.0 + 0.5) AS bigint) AS cosine_e4,
       |  cast(rn AS int) AS rn
       |FROM (
       |  SELECT qid, vec_id, cos,
       |    row_number() OVER (PARTITION BY qid
       |      ORDER BY cast(floor(cos * 1000000.0 + 0.5) AS bigint) DESC, vec_id) AS rn
       |  FROM scored)
       |WHERE rn <= $TopK""".stripMargin
  }

  /** v22: recall@k of the hybrid vs the brute-force ground truth — the
    * composed path grading itself like v12 (IVF alone) and v20 (binary
    * alone); the hybrid's recall is bounded above by v12's (the Hamming
    * stage can only drop IVF candidates).
    */
  def ivfBinaryRecall(spark: SparkSession, dir: String,
      nprobe: Int = NProbe): DataFrame = {
    val exact = Similarity.bruteForceTopK(spark, dir).select(col("qid"), col("vec_id"))
    val approx = ivfBinaryTopK(spark, dir, nprobe)
      .select(col("qid").as("a_qid"), col("vec_id").as("a_vid"))
    exact.join(approx,
        col("qid") === col("a_qid") && col("vec_id") === col("a_vid"), "left_semi")
      .groupBy(col("qid"))
      .agg(count(lit(1)).as("n_hits"))
      .select(col("qid"), col("n_hits"),
        (col("n_hits") * lit(10000L / TopK)).as("recall_e4"))
  }

  def ivfBinaryRecallOracleSql(spark: SparkSession, dir: String): String =
    s"""WITH exact_tk AS (
       |${Similarity.bruteForceTopKOracleSql}
       |),
       |approx_tk AS (
       |${ivfBinaryTopKOracleSql(spark, dir)}
       |)
       |SELECT e.qid,
       |  cast(count(*) AS bigint) AS n_hits,
       |  cast(count(*) * ${10000L / TopK} AS bigint) AS recall_e4
       |FROM exact_tk e
       |WHERE EXISTS (
       |  SELECT 1 FROM approx_tk a
       |  WHERE a.qid = e.qid AND a.vec_id = e.vec_id)
       |GROUP BY e.qid""".stripMargin

  // ---- SemDeDup-style semantic deduplication (v13) ----------------------

  /** Cosine threshold for semantic duplicates — interpolated into the
    * oracle SQL below so engine and oracle can't desync.
    */
  val SemDedupThreshold = 0.95

  /** Semantic deduplication via coarse clustering (the SemDeDup recipe,
    * Abbas et al. 2023, arXiv 2303.09540): assign every vector to its
    * nearest IVF centroid, compare pairs ONLY within a cluster, and drop
    * any vector that has a lower-id cluster-mate with cosine ≥ threshold
    * (min-id survivor, the same deterministic keep rule as exact dedup's
    * d2). The clustering is what bounds the quadratic: per-cluster pair
    * work is O((n/K)²) and K scales with the corpus via
    * [[recommendedLists]], so cluster size — and with it the pair fan-out
    * per shuffle key — stays constant as the corpus grows. Output is one
    * row per vector with its cluster and keep/drop verdict.
    *
    * `plantClones` unions in [[Similarity.nearDupCorpus]]'s deterministic
    * near-duplicate clones (graded path only — the raw corpus has no
    * cosine-0.95 pairs at any sf, so the drop set would be vacuously
    * empty).
    */
  def semanticDedup(
      spark: SparkSession, dir: String,
      threshold: Double = SemDedupThreshold,
      plantClones: Boolean = false,
      cloneOffset: Long = Similarity.CloneIdOffset): DataFrame =
    semanticDedupCore(
      Similarity.nearDupCorpus(spark, dir, plantClones, cloneOffset)
        .select(col("vec_id"), col("embedding"),
          nearestCentroid(centroidsFx(spark, dir)).as("centroid")),
      threshold)

  /** [[semanticDedup]] with the corpus-side ASSIGNMENT read from the
    * persisted IVF index ([[VectorIndex]] lists) instead of recomputed:
    * at 100 TB the assignment pass is a full corpus scan with K×dim
    * distance arithmetic per row — exactly the work the index paid once
    * at build. Planted clones (the graded fixture, a pruned
    * constant-size read) are assigned on the fly against the SAME stored
    * centroids; build persists the inline path's training verbatim, so
    * the output is bit-equal and the same oracle applies
    * (`ScaleOpsSpec` pins it).
    */
  def semanticDedupFromIndex(
      spark: SparkSession, dir: String, path: String,
      centsFx: Array[Array[Long]],
      threshold: Double = SemDedupThreshold,
      plantClones: Boolean = false,
      cloneOffset: Long = Similarity.CloneIdOffset): DataFrame = {
    val corpus = Tables.read(spark, s"$path/lists", VectorIndex.storedListsSchema(spark, path))
      .select(col("vec_id"), col("embedding"), col("centroid").cast("int").as("centroid"))
    val assigned =
      if (!plantClones) corpus
      else corpus.unionByName(
        Similarity.nearDupClones(spark, dir, cloneOffset)
          .select(col("vec_id"), col("embedding"),
            nearestCentroid(centsFx).cast("int").as("centroid")))
    semanticDedupCore(assigned, threshold)
  }

  /** The cluster-then-pair tail both SemDeDup paths share, over any
    * (vec_id, embedding, centroid) frame.
    */
  private def semanticDedupCore(
      assignedIn: DataFrame, threshold: Double): DataFrame = {
    // materialize the assigned corpus ONCE before the self-join (same
    // rationale as v5: exchange reuse does not survive AQE re-planning, so
    // without this both join sides re-derive the assignment input);
    // repartition by centroid so the pairing join is co-located
    val assigned = assignedIn
      .repartition(col("centroid"))
      .localCheckpoint()
    val cos = cosFxF(col("x.embedding"), col("y.embedding"))
    val dropped = assigned.as("x")
      .join(assigned.as("y"),
        col("x.centroid") === col("y.centroid") && col("x.vec_id") < col("y.vec_id"))
      .filter(Exact.e(cos, 6) >= lit(math.round(threshold * 1e6)))
      .select(col("y.vec_id").as("vec_id"))
      .distinct()
    assigned
      .join(dropped.withColumn("hit", lit(1)), Seq("vec_id"), "left")
      .select(col("vec_id"), col("centroid").cast("int").as("centroid"),
        col("hit").isNull.as("kept"))
  }

  /** DuckDB oracle for [[semanticDedup]]: centroid literals + long-form
    * corpus + within-cluster cosine, mirroring the v5 clone CTE and the
    * v6 assignment CTE. `plant` ON (the graded v13 configuration) unions
    * the deterministic clones in; OFF replays the natural corpus (the
    * t25 composition).
    */
  def semanticDedupOracleSql(
      spark: SparkSession, dir: String,
      cloneOffset: Long = Similarity.CloneIdOffset,
      plant: Boolean = true): String = {
    val centsFx = centroidsFx(spark, dir)
    val corpusCtes =
      if (plant)
        s"""clones AS (
           |  SELECT vec_id + ($cloneOffset) AS vec_id, i,
           |    CASE WHEN (i - 1) % 2 = 1 THEN cast(cast(v AS double) * 1.2 AS float) ELSE v END AS v
           |  FROM base WHERE vec_id < ${Similarity.CloneCount}),
           |corpus AS (SELECT * FROM base UNION ALL SELECT * FROM clones)""".stripMargin
      else "corpus AS (SELECT * FROM base)"
    s"""WITH cents(c, vec) AS (VALUES
       |    ${centroidValues(centsFx)}),
       |base AS (
       |  SELECT e.vec_id, i, cast(e.embedding[i] AS float) AS v
       |  FROM embeddings e,
       |       LATERAL (SELECT unnest(range(1, len(e.embedding) + 1)) AS i) r),
       |$corpusCtes,
       |${Similarity.fxSqlCte("corpus")},
       |dist AS (
       |  SELECT vec_id, c, cast(sum((q - cf) * (q - cf)) AS bigint) AS d
       |  FROM (
       |    SELECT f.vec_id, ct.c, f.q, ct.vec[f.i] AS cf
       |    FROM fxc f, cents ct)
       |  GROUP BY vec_id, c),
       |assigned AS (
       |  SELECT vec_id, c AS centroid
       |  FROM (
       |    SELECT vec_id, c, row_number() OVER (PARTITION BY vec_id ORDER BY d, c) AS rn
       |    FROM dist)
       |  WHERE rn = 1),
       |n2 AS (SELECT vec_id, cast(sum(q * q) AS bigint) AS n2 FROM fxc GROUP BY vec_id),
       |cand AS (
       |  SELECT x.vec_id AS a, y.vec_id AS b
       |  FROM assigned x
       |  JOIN assigned y ON y.centroid = x.centroid AND x.vec_id < y.vec_id),
       |pc AS (
       |  SELECT cand.a, cand.b, cast(sum(xa.q * yb.q) AS bigint) AS dd
       |  FROM cand
       |  JOIN fxc xa ON xa.vec_id = cand.a
       |  JOIN fxc yb ON yb.vec_id = cand.b AND yb.i = xa.i
       |  GROUP BY cand.a, cand.b),
       |dropped AS (
       |  SELECT DISTINCT pc.b FROM pc
       |  JOIN n2 na ON na.vec_id = pc.a
       |  JOIN n2 nb ON nb.vec_id = pc.b
       |  WHERE cast(floor((CASE WHEN na.n2 = 0 OR nb.n2 = 0 THEN 0.0
       |      ELSE cast(pc.dd AS double)
       |        / (sqrt(cast(na.n2 AS double)) * sqrt(cast(nb.n2 AS double))) END)
       |    * 1000000.0 + 0.5) AS bigint) >= ${math.round(SemDedupThreshold * 1e6)})
       |SELECT a.vec_id, cast(a.centroid AS int) AS centroid, (d.b IS NULL) AS kept
       |FROM assigned a LEFT JOIN dropped d ON d.b = a.vec_id""".stripMargin
  }

  /** Representatives kept per cluster by [[clusterBalancedSample]]. */
  val SampleK = 8

  /** v16: cluster-balanced diversity sampling (the SSL-prototypes /
    * "sample across clusters, not across the corpus" selection rule —
    * Sorscher et al. 2022): keep the [[SampleK]] most prototypical
    * vectors of every cluster, i.e. the smallest exact-integer L2
    * distance to the OWN centroid, vec_id tie-break. A corpus-uniform
    * sample over-represents dense regions; sampling a fixed quota per
    * cluster equalizes coverage of the embedding space — the curation
    * step between clustering (v6/v15) and semantic dedup (v13).
    *
    * Plan shape: map-only assignment (centroid literals in codegen, same
    * kernel as v6) followed by the [[graft.plans.TopKPerKey]] node keyed
    * on centroid — bounded per-partition heaps, top-k-only exchange,
    * never a corpus sort. At 100 TB this is one scan + one K·k-row
    * exchange.
    */
  def clusterBalancedSample(
      spark: SparkSession, dir: String, k: Int = SampleK): DataFrame = {
    val centsFx = centroidsFx(spark, dir)
    val scored = centsFx.zipWithIndex.map { case (c, i) =>
      struct(fxL2ToF(col("embedding"), c).as("d"), lit(i).as("c"))
    }
    val assigned = table(spark, dir, "embeddings")
      .select(col("vec_id"), array_min(array(scored.toSeq: _*)).as("best"))
      .select(col("vec_id"),
        col("best").getField("c").cast("int").as("centroid"),
        col("best").getField("d").as("d"))
    graft.plans.TopKPerKey(
        assigned, Seq(col("centroid")), Seq(col("d"), col("vec_id")), k)
      .select(col("centroid"), col("vec_id"), col("d"), col("rn"))
  }

  def clusterBalancedSampleOracleSql(
      spark: SparkSession, dir: String, k: Int = SampleK): String = {
    val centsFx = centroidsFx(spark, dir)
    s"""WITH ${distCte(centsFx)},
       |assigned AS (
       |  SELECT vec_id, c AS centroid, d
       |  FROM (
       |    SELECT vec_id, c, d,
       |      row_number() OVER (PARTITION BY vec_id ORDER BY d, c) AS rn
       |    FROM dist)
       |  WHERE rn = 1)
       |SELECT cast(centroid AS int) AS centroid, vec_id, d, cast(rn AS int) AS rn
       |FROM (
       |  SELECT centroid, vec_id, d,
       |    row_number() OVER (PARTITION BY centroid ORDER BY d, vec_id) AS rn
       |  FROM assigned)
       |WHERE rn <= $k""".stripMargin
  }

  /** v15: one DISTRIBUTED Lloyd refinement of the trained centroids — the
    * full-corpus counterpart of [[trainCentroids]]'s bounded-sample loop.
    * The driver-side trainer is the right tool for picking K initial
    * centroids (its collect is bounded by [[MaxTrain]]); refining them
    * against ALL vectors is corpus-sized work and must never collect, so
    * it runs as: map-only nearest-centroid assignment (exact-integer
    * metric, centroid literals in codegen) → `posexplode` to
    * (centroid, dim, element) → one partial-aggregated `groupBy` whose
    * key space is K×dim regardless of corpus size. Element sums are
    * fixed-point longs (`floor(v·2^20 + 0.5)` — exact for floats, since
    * scaling by a power of two is lossless), so the reduction is
    * order-free and replays exactly in the oracle; the refreshed centroid
    * for (c, d) is `sum_fx / n_vectors` at the caller's preferred
    * rounding. Chaining this step is how a 100 TB deployment turns the
    * sample-trained geometry into corpus-trained geometry: each iteration
    * is one scan + one K×dim-row shuffle.
    */
  def kmeansRefine(spark: SparkSession, dir: String): DataFrame =
    table(spark, dir, "embeddings")
      .select(nearestCentroid(centroidsFx(spark, dir)).as("centroid"),
        col("embedding"))
      .select(col("centroid"), posexplode(col("embedding")).as(Seq("dim", "v")))
      .groupBy(col("centroid"), col("dim"))
      .agg(
        count(lit(1)).as("n_vectors"),
        sum(floor(col("v").cast("double") * lit(PqAnn.FxScale.toDouble) + lit(0.5))
          .cast("long")).as("sum_fx"))
      .select(col("centroid").cast("int").as("centroid"),
        col("dim").cast("int").as("dim"),
        col("n_vectors"), col("sum_fx"))

  def kmeansRefineOracleSql(spark: SparkSession, dir: String): String = {
    val centsFx = centroidsFx(spark, dir)
    s"""WITH ${distCte(centsFx)},
       |assigned AS (
       |  SELECT vec_id, c AS centroid
       |  FROM (
       |    SELECT vec_id, c, row_number() OVER (PARTITION BY vec_id ORDER BY d, c) AS rn
       |    FROM dist)
       |  WHERE rn = 1)
       |SELECT cast(centroid AS int) AS centroid, cast(dim AS int) AS dim,
       |  cast(count(*) AS bigint) AS n_vectors,
       |  cast(sum(fx) AS bigint) AS sum_fx
       |FROM (
       |  SELECT a.centroid,
       |    unnest(range(0, len(e.embedding))) AS dim,
       |    ${fxSql("unnest(e.embedding)")} AS fx
       |  FROM embeddings e JOIN assigned a ON a.vec_id = e.vec_id)
       |GROUP BY centroid, dim""".stripMargin
  }
}
