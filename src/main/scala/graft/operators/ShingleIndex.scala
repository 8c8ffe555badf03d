package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.Tables
import graft.sources.Tables.table

/** Materialized shingle/segment index for the dedup family.
  *
  * The inline dedup pipelines (d3 Jaccard, d4 MinHash+LSH, d10 segment,
  * d11 containment) each re-scan and re-shingle the corpus — correct, but
  * at 100 TB a production pipeline tokenizes the corpus ONCE, writes the
  * derived index, and feeds every dedup pass from it (re-reading a compact
  * index beats re-tokenizing petabytes four times, and the index write is
  * amortized across every later pass, incremental ingest included).
  *
  * [[build]] scans `documents` exactly once — planted partial copies and
  * BOTH derivations (word 3-shingles and non-overlapping token segments)
  * are emitted by a single projection, never a self-union, because each
  * branch of a DataFrame union performs its own file scan. The result
  * lands as ONE catalog table:
  *
  *   - hive-partitioned by `kind` (`shingle` | `segment`) so each pass
  *     prunes to its derivation at the directory level, and
  *   - bucketed + sorted by `s`, so the aggregation that opens every pass
  *     runs with ZERO exchanges: the shingle side stores the raw shingle
  *     (MinHash needs the string) and its posting-list `groupBy(s)` rides
  *     the bucketing directly; the segment side stores the md5 SEGMENT
  *     HASH (d10 never needs the text back), so both its per-(hash, doc)
  *     aggregation and the cross-doc frequency window are already
  *     distributed correctly. The per-pass shuffle of the inline path
  *     becomes a write-once cost paid at build.
  *
  * Readers reconstruct each graded query's exact input: the raw-corpus
  * passes (d3/d4) filter planted ids out (`doc_id < PartialCopyOffset`),
  * the planted passes (d10/d11) read everything. `ScaleOpsSpec` asserts
  * bit-equality with the inline derivations and the single corpus scan.
  */
object ShingleIndex {

  val ShingleKind = "shingle"
  val SegmentKind = "segment"

  /** The exploded (doc_id, kind, s) frame — ONE FileScan of `documents`.
    * Exposed separately from [[build]] so tests can assert the scan count
    * on the exact plan that gets written.
    */
  private def corpusDocs(spark: SparkSession, dir: String): DataFrame =
    table(spark, dir, "documents").select(col("doc_id"), col("text"))

  def buildFrame(
      spark: SparkSession, dir: String,
      segTokens: Int = Dedup.SegmentTokens): DataFrame =
    frameOf(corpusDocs(spark, dir), segTokens, plant = true)

  /** Same derivation over an arbitrary (doc_id, text) frame — the seam
    * [[append]] uses for incremental ingest batches. `plant` seeds the
    * graded partial-copy fixture (doc_id < PartialCopyCount duplicated at
    * +PartialCopyOffset, truncated); it defaults OFF here because a real
    * ingest batch that happens to carry low doc ids must NOT silently
    * write extra planted rows into the index — only the graded [[build]]
    * path turns it on.
    */
  private[operators] def frameOf(
      docsIn: DataFrame, segTokens: Int = Dedup.SegmentTokens,
      plant: Boolean = false): DataFrame = {
    import Dedup.{PartialCopyCount, PartialCopyOffset, PartialCopyTokens}
    // planted partial copies as extra (doc_id, toks) structs in the SAME
    // projection — a unionAll with a filtered branch would scan the
    // parquet twice
    val structs =
      if (plant)
        s"""concat(
           |  array(struct(doc_id, toks)),
           |  CASE WHEN doc_id < ${PartialCopyCount}L
           |       THEN array(struct(doc_id + ${PartialCopyOffset}L AS doc_id,
           |                         slice(toks, 1, $PartialCopyTokens) AS toks))
           |       ELSE array() END)""".stripMargin
      else "array(struct(doc_id, toks))"
    val docs = docsIn
      .withColumn("toks", split(col("text"), " "))
      .select(explode(expr(structs)).as("d"))
      .select(col("d.doc_id").as("doc_id"), col("d.toks").as("toks"))
    // both derivations from one pass over the token arrays: distinct
    // 3-shingles (the d3/d4/d11 input) and every non-overlapping
    // segTokens-token segment OCCURRENCE (the d10 input — multiplicity
    // matters, so no distinct on that side)
    docs.select(
        col("doc_id"),
        explode(expr(
          s"""concat(
             |  CASE WHEN size(toks) >= 3
             |       THEN transform(
             |              array_distinct(transform(sequence(1, size(toks) - 2),
             |                i -> concat_ws(' ', toks[i-1], toks[i], toks[i+1]))),
             |              v -> struct('$ShingleKind' AS kind, v AS s))
             |       ELSE array() END,
             |  CASE WHEN size(toks) >= $segTokens
             |       THEN transform(sequence(0, size(toks) div $segTokens - 1),
             |              j -> struct('$SegmentKind' AS kind,
             |                          md5(cast(concat_ws(' ', slice(toks, j * $segTokens + 1, $segTokens)) AS binary)) AS s))
             |       ELSE array() END)""".stripMargin)).as("ks"))
      .select(col("doc_id"), col("ks.kind").as("kind"), col("ks.s").as("s"))
  }

  /** Name of the materialized MinHash-signature side table. */
  def sigsTable(tableName: String): String = s"${tableName}_sigs"

  /** Name of the optional banded-signature probe table: (doc_id, band,
    * bucket), bucketed and sorted by `bucket` — the online judge's probe
    * side, so a micro-batch's candidate lookup prunes to the buckets its
    * own band keys hash into instead of scanning every stored signature.
    * Created by [[dedupIngestStream]] (backfilled from the signatures on
    * first use) and maintained by [[append]] WHENEVER IT EXISTS — the
    * single append choke point keeps it impossible to go stale, which
    * matters because a stale probe table would silently miss duplicates.
    */
  def bandsTable(tableName: String): String = s"${tableName}_bands"

  /** Name of the tombstone side table: the deletion log of doc ids
    * logically removed from the index ([[delete]]). Kept as data, not
    * applied as a rewrite: at 100 TB the postings of one document are
    * spread across every bucket (the index is bucketed by shingle, not by
    * doc), so a physical per-delete rewrite would re-shuffle the whole
    * table for a handful of ids. Readers instead subtract the log with a
    * broadcast anti-join (the log is tiny relative to the index —
    * deletion-vector semantics, same trade as Delta/Iceberg deletes), and
    * [[vacuum]] folds it into a physical rewrite on the operator's
    * schedule.
    */
  def tombstonesTable(tableName: String): String = s"${tableName}_tombstones"

  /** Logical takedown: append `ids` (a doc_id frame) to the deletion log.
    * O(|ids|) — no index rewrite, effective for every reader immediately.
    * The use case is the one a training-data pipeline cannot schedule:
    * opt-out/right-to-be-forgotten requests and contamination purges must
    * take effect now, not at the next compaction window.
    */
  def delete(spark: SparkSession, tableName: String, ids: DataFrame): Unit = {
    require(spark.catalog.tableExists(tableName),
      s"delete before build: table '$tableName' does not exist")
    val tomb = tombstonesTable(tableName)
    val rows = ids.select(col("doc_id")).distinct()
    if (spark.catalog.tableExists(tomb))
      rows.write.mode("append").format("parquet").saveAsTable(tomb)
    else
      rows.write.mode("overwrite")
        .option("path", s"${tableLocation(spark, tableName)}_tombstones")
        .format("parquet").saveAsTable(tomb)
    // derived artifacts (the persisted cluster labels) were computed from
    // the pre-delete postings — drop the memo so the next reader rebuilds
    IndexStore.onIndexMutation(tableName)
  }

  private def tableLocation(spark: SparkSession, tbl: String): String =
    spark.sessionState.catalog
      .getTableMetadata(org.apache.spark.sql.catalyst.TableIdentifier(tbl))
      .location.toString

  /** `df` minus the deletion log — a broadcast anti-join, so a bucketed
    * scan keeps its output partitioning and every downstream aggregation
    * stays exchange-free (broadcast joins preserve the streamed side's
    * partitioning). Identity when no log exists.
    */
  private[graft] def minusTombstones(
      spark: SparkSession, tableName: String, df: DataFrame): DataFrame =
    if (spark.catalog.tableExists(tombstonesTable(tableName)))
      df.join(
        broadcast(spark.table(tombstonesTable(tableName)).select(col("doc_id"))),
        Seq("doc_id"), "left_anti")
    else df

  /** Physically fold the deletion log into the index: rewrite postings,
    * signatures (and the banded probe table when present) minus the
    * tombstoned ids at `newPath` — same layout specs as [[compact]], so
    * downstream plans keep their exchange-free shape — then drop the log.
    * Crash-safe in the same re-runnable sense as compact: the log is
    * dropped LAST, so a crash mid-vacuum leaves the anti-join filter in
    * force (re-running is a no-op rewrite, never a resurrection). Old
    * files stay at the old path for the caller to delete, like compact.
    */
  def vacuum(
      spark: SparkSession, tableName: String, newPath: String,
      numBuckets: Int = 32): Unit = {
    val tomb = tombstonesTable(tableName)
    if (!spark.catalog.tableExists(tomb)) return
    val ids = spark.table(tomb).select(col("doc_id"))
    def purge(df: DataFrame): DataFrame =
      df.join(broadcast(ids), Seq("doc_id"), "left_anti")
    swapInto(spark,
      purge(spark.table(tableName))
        .repartition(numBuckets, pmod(hash(col("s")), lit(numBuckets))),
      tableName, newPath,
      _.partitionBy("kind").bucketBy(numBuckets, "s").sortBy("s"))
    swapInto(spark,
      purge(spark.table(sigsTable(tableName))).repartition(numBuckets),
      sigsTable(tableName), s"${newPath}_sigs", identity)
    if (spark.catalog.tableExists(bandsTable(tableName)))
      swapInto(spark,
        purge(spark.table(bandsTable(tableName)))
          .repartition(numBuckets, pmod(hash(col("bucket")), lit(numBuckets))),
        bandsTable(tableName), s"${newPath}_bands",
        _.bucketBy(numBuckets, "bucket").sortBy("bucket"))
    spark.sql(s"DROP TABLE $tomb")
    IndexStore.onIndexMutation(tableName)
  }

  /** Write the index as an external bucketed table (see class doc). */
  def build(
      spark: SparkSession, dir: String, path: String, tableName: String,
      numBuckets: Int = 32, segTokens: Int = Dedup.SegmentTokens): Unit =
    buildFor(spark, corpusDocs(spark, dir), path, tableName, numBuckets,
      segTokens, plant = true)

  /** [[build]] over an arbitrary (doc_id, text) frame — e.g. an initial
    * corpus snapshot that later [[append]] batches extend. `plant`
    * defaults false: only the graded-fixture [[build]] seeds copies.
    *
    * Writes TWO tables: the bucketed shingle/segment postings, then the
    * per-doc MinHash signatures derived FROM the just-written postings —
    * a compact index read, never a second corpus scan. Materializing the
    * signatures moves d4's dominant front-half (one md5 per shingle + the
    * 32-column min-agg shuffle) from per-pass to build-once; every later
    * pass reads 33 columns per doc and goes straight to banding.
    */
  def buildFor(
      spark: SparkSession, docs: DataFrame, path: String, tableName: String,
      numBuckets: Int = 32, segTokens: Int = Dedup.SegmentTokens,
      plant: Boolean = false): Unit = {
    frameOf(docs, segTokens, plant)
      .write.mode("overwrite")
      .option("path", path)
      .partitionBy("kind")
      .bucketBy(numBuckets, "s")
      .sortBy("s")
      .format("parquet")
      .saveAsTable(tableName)
    // packed b-bit columns stored NEXT TO the wide signature: the d4b
    // screen (and the d18 1-bit estimator's storage claim) read 3 longs
    // per doc instead of 32 — derived here once, at the build
    val sigs = Dedup.minhashSignatures(shingles(spark, tableName, includePlanted = true))
    sigs.select(sigs.columns.map(col) ++ Dedup.packedBbitCols: _*)
      .write.mode("overwrite")
      .option("path", s"${path}_sigs")
      .format("parquet")
      .saveAsTable(sigsTable(tableName))
  }

  /** Incremental ingest: derive and append ONLY the new documents'
    * shingles/segments — the same one-scan projection as [[build]],
    * declared with the identical bucket spec so the appended files keep
    * the table's bucketing and every downstream pass keeps its
    * exchange-free plan. At 100 TB this is the point of materializing the
    * index at all: each ingest batch pays its own derivation once, and NO
    * pass ever re-derives the accumulated corpus. (`numBuckets` must
    * match the build — Spark rejects a mismatched spec.)
    */
  def append(
      spark: SparkSession, docs: DataFrame, tableName: String,
      numBuckets: Int = 32, segTokens: Int = Dedup.SegmentTokens,
      plant: Boolean = false): Unit = {
    // SaveMode.Append on a MISSING table would silently create a managed
    // table at the warehouse location, disconnected from build's external
    // path — a later build would then replace the catalog entry and lose
    // this batch. Misordering must fail, not corrupt.
    require(spark.catalog.tableExists(tableName),
      s"append before build: table '$tableName' does not exist")
    require(spark.catalog.tableExists(sigsTable(tableName)),
      s"append before build: table '${sigsTable(tableName)}' does not exist")
    // a doc id appearing TWICE in one batch would write its postings and
    // signature twice — the same silent corruption the replay purge exists
    // to prevent (inflated common-shingle counts, double-counted bands),
    // but arising inside a batch where no marker can catch it. Fail loudly;
    // the caller owns within-batch dedup (it knows which copy to keep).
    val batchRows = docs.count()
    require(docs.select(col("doc_id")).distinct().count() == batchRows,
      "batch contains duplicate doc ids — dedup the batch before appending")
    // cache: the frame feeds TWO write actions (postings, then the sig
    // derivation) — uncached, each would re-scan and re-shingle the batch
    // source, exactly the re-derivation the index exists to avoid
    val frame = frameOf(docs, segTokens, plant).cache()
    val sigs = Dedup.minhashSignatures(
      frame.filter(col("kind") === ShingleKind).select(col("doc_id"), col("s")))
      .cache() // feeds the sigs write AND (when present) the bands write
    try {
      frame
        .write.mode("append")
        .partitionBy("kind")
        .bucketBy(numBuckets, "s")
        .sortBy("s")
        .format("parquet")
        .saveAsTable(tableName)
      // signatures for the NEW docs only — per-doc signatures never need
      // the rest of the corpus, so the appended rows are identical to
      // what a full rebuild would compute (packed b-bit columns included,
      // matching the build-time schema)
      sigs.select(sigs.columns.map(col) ++ Dedup.packedBbitCols: _*)
        .write.mode("append")
        .format("parquet")
        .saveAsTable(sigsTable(tableName))
      // the banded probe table is maintained HERE, the single append
      // choke point, whenever it exists — any ingest flavor keeps it
      // consistent, so it can never silently go stale (a stale probe
      // table would miss duplicates)
      if (spark.catalog.tableExists(bandsTable(tableName)))
        Dedup.bandBuckets(sigs)
          .write.mode("append")
          .bucketBy(numBuckets, "bucket")
          .sortBy("bucket")
          .format("parquet")
          .saveAsTable(bandsTable(tableName))
      IndexStore.onIndexMutation(tableName)
    } finally { sigs.unpersist(); frame.unpersist() }
  }

  /** Compact the index into fresh files at `newPath`: every [[append]] /
    * streamed batch adds up to one file per (task, bucket, kind), so a
    * long-lived ingested index accumulates small files until listing and
    * scan setup dominate reads — the standard small-files failure of
    * streaming ingest. The rewrite keeps the bucket spec (downstream
    * passes stay exchange-free) and pre-shuffles rows by the EXACT bucket
    * id function bucketed writes use (`pmod(hash(s), numBuckets)`), so
    * each task owns whole buckets and the result is one file per
    * (kind, bucket).
    *
    * The catalog swap (drop + rename) is two operations, not one commit:
    * a crash between them leaves both file sets intact but no table
    * under `tableName` — re-runnable, never silent data loss. A
    * transactional table format would make this atomic; with plain
    * parquet external tables this is the honest trade. The OLD files are
    * left at the old path for the caller to delete after the swap.
    */
  def compact(
      spark: SparkSession, tableName: String, newPath: String,
      numBuckets: Int = 32): Unit = {
    swapInto(spark,
      spark.table(tableName)
        .repartition(numBuckets, pmod(hash(col("s")), lit(numBuckets))),
      tableName, newPath,
      _.partitionBy("kind").bucketBy(numBuckets, "s").sortBy("s"))
    // numBuckets files, not 1: the sig table is one row per DOCUMENT and
    // a single output task would bottleneck (and overflow) at corpus scale
    swapInto(spark,
      spark.table(sigsTable(tableName)).repartition(numBuckets),
      sigsTable(tableName), s"${newPath}_sigs", identity)
    if (spark.catalog.tableExists(bandsTable(tableName)))
      swapInto(spark,
        spark.table(bandsTable(tableName))
          .repartition(numBuckets, pmod(hash(col("bucket")), lit(numBuckets))),
        bandsTable(tableName), s"${newPath}_bands",
        _.bucketBy(numBuckets, "bucket").sortBy("bucket"))
  }

  /** Rewrite `df` as table `tbl` at a fresh `path` (layout declared by
    * `spec`) and swap the catalog name over — the shared tail of
    * [[compact]] and the crash-repair purge in [[ingestBatch]]. Drop +
    * rename is two catalog ops, not one commit (see [[compact]]'s doc for
    * the honest trade).
    */
  private def swapInto(
      spark: SparkSession, df: DataFrame, tbl: String, path: String,
      spec: org.apache.spark.sql.DataFrameWriter[org.apache.spark.sql.Row] =>
        org.apache.spark.sql.DataFrameWriter[org.apache.spark.sql.Row]): Unit = {
    val tmp = s"${tbl}_compacting"
    spec(df.write.mode("overwrite").option("path", path).format("parquet"))
      .saveAsTable(tmp)
    spark.sql(s"DROP TABLE $tbl")
    spark.sql(s"ALTER TABLE $tmp RENAME TO $tbl")
  }

  /** One micro-batch of streaming ingest with an at-least-once replay
    * guard that is SAFE for postings: a `done` marker skips clean
    * redeliveries, and a `started`-but-not-`done` marker (crash mid-
    * append) triggers a purge of the batch's doc ids before re-appending
    * — blindly re-appending would duplicate posting rows, and duplicate
    * postings CORRUPT every index-fed pass (self-pairs at jaccard 1.0,
    * double-counted intersections), unlike an idempotent sink where
    * replay is merely visible. The purge is a filter-rewrite-swap of
    * both tables (crash-only path, so the full rewrite cost is paid only
    * when a batch actually died mid-append).
    */
  def ingestBatch(
      spark: SparkSession, docs: DataFrame, tableName: String,
      markerRoot: String, batchId: Long,
      numBuckets: Int = 32, segTokens: Int = Dedup.SegmentTokens): Unit = {
    val done = new org.apache.hadoop.fs.Path(s"$markerRoot/batch-$batchId.done")
    val started = new org.apache.hadoop.fs.Path(s"$markerRoot/batch-$batchId.started")
    val fs = done.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(done)) return
    if (fs.exists(started)) purgeCrashedBatch(spark, docs, tableName, markerRoot, batchId, numBuckets)
    fs.mkdirs(started.getParent)
    fs.create(started, true).close()
    append(spark, docs, tableName, numBuckets, segTokens)
    fs.create(done, true).close()
  }

  /** The crash-repair half of [[ingestBatch]]: the batch may be partially
    * or fully appended, so purge every row the redelivered batch could
    * have written (the source replays the same data for a given batch id);
    * the caller then falls through to a clean append. The repair target
    * must be FRESH per attempt: after a first crash repair, the table's
    * current LOCATION is the previous attempt's repair path, and a second
    * crash (during the re-append) would make a fixed target overwrite the
    * very directory the rewrite is reading — either a permanent wedge or
    * files deleted mid-scan.
    */
  private def purgeCrashedBatch(
      spark: SparkSession, docs: DataFrame, tableName: String,
      markerRoot: String, batchId: Long, numBuckets: Int): Unit = {
    val fs = new org.apache.hadoop.fs.Path(markerRoot)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def fresh(base: String): String = {
      var p = base
      var n = 0
      while (fs.exists(new org.apache.hadoop.fs.Path(p))) { n += 1; p = s"$base-$n" }
      p
    }
    val ids = docs.select(col("doc_id")).distinct()
    swapInto(spark,
      spark.table(tableName).join(ids, Seq("doc_id"), "left_anti"),
      tableName, fresh(s"$markerRoot/repair-$batchId"),
      _.partitionBy("kind").bucketBy(numBuckets, "s").sortBy("s"))
    swapInto(spark,
      spark.table(sigsTable(tableName)).join(ids, Seq("doc_id"), "left_anti"),
      sigsTable(tableName), fresh(s"$markerRoot/repair-${batchId}_sigs"), identity)
    if (spark.catalog.tableExists(bandsTable(tableName)))
      swapInto(spark,
        spark.table(bandsTable(tableName)).join(ids, Seq("doc_id"), "left_anti"),
        bandsTable(tableName), fresh(s"$markerRoot/repair-${batchId}_bands"),
        _.bucketBy(numBuckets, "bucket").sortBy("bucket"))
  }

  /** Streaming twin of [[append]]: each micro-batch of (doc_id, text)
    * documents is derived (postings + signatures) and appended under the
    * table's bucket spec, so every later dedup pass — batch or the next
    * micro-batch's — reads the accumulated corpus exchange-free without
    * ever re-deriving it. Build first; append fails loudly otherwise.
    *
    * foreachBatch executes in a CLONE of the owning session, whose
    * post-insert refresh only clears the clone's own caches — the owner
    * would keep serving a stale cached file listing for the table (rows
    * silently missing, the worst failure mode an index can have). Each
    * batch therefore refreshes BOTH tables in the owning session; any
    * third session reading the index across this stream needs Spark's
    * standard `REFRESH TABLE`, same as for any external writer.
    *
    * Markers land under [[markerNamespace]], not `markerRoot` directly:
    * batch ids are only unique within one checkpoint lineage, and markers
    * outlive checkpoints — an un-namespaced `batch-0.done` from a previous
    * run would silently drop a fresh checkpoint's first batch (see
    * [[IngestRun]]). Callers driving [[ingestBatch]] by hand own that
    * 1:1 markerRoot↔batch-id-lineage pairing themselves.
    */
  def ingestStream(
      docs: DataFrame, tableName: String, markerRoot: String,
      checkpoint: String): org.apache.spark.sql.streaming.StreamingQuery = {
    val owner = docs.sparkSession
    val ns = markerNamespace(owner, markerRoot, checkpoint)
    docs.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], id: Long) =>
        ingestBatch(batch.sparkSession, batch.toDF(), tableName, ns, id)
        owner.catalog.refreshTable(tableName)
        owner.catalog.refreshTable(sigsTable(tableName))
        // append maintains the banded probe table whenever it exists (any
        // ingest flavor), so the owner's listing of it must be refreshed
        // here too — a stale probe table silently misses duplicates
        if (owner.catalog.tableExists(bandsTable(tableName)))
          owner.catalog.refreshTable(bandsTable(tableName))
      }
      .start()
  }

  /** Online fuzzy (MinHash+LSH) dedup over streaming ingest — the
    * index-backed counterpart of the in-memory streaming near-dup
    * (`StatefulOps`): state-store dedup forgets documents past its TTL,
    * while this judge compares every arriving micro-batch against the
    * ENTIRE accumulated corpus via the persisted signatures — the shape of
    * deduping a continuous crawl against full history. Verdicts land under
    * `decisionsPath/batch_id=N` as (doc_id, kept); the batch is then
    * appended (kept AND dropped — the d4 drop rule judges `b` against
    * every lower-id `a` regardless of `a`'s own verdict, so a kept-only
    * store would silently weaken later verdicts).
    *
    * Expects an ingest-built (unplanted) index: the graded-fixture
    * [[build]] seeds partial copies whose rows would otherwise join the
    * judging corpus ([[buildFor]]/streamed ingest never plant).
    *
    * Semantics: an arriving doc `b` is dropped iff a verified
    * jaccard ≥ threshold partner `a` with `a.doc_id < b.doc_id` exists
    * among everything indexed so far or earlier in `b`'s own batch. With
    * monotone doc_id arrival the accumulated verdicts equal the cold d4
    * drop set (`b`-side membership of `Dedup.minhashLshPairs` over the
    * full corpus — `StreamingSpec` pins it); out-of-order arrival keeps a
    * superset, never extra drops.
    *
    * Scale shape per batch: band the micro-batch's signatures (tiny,
    * broadcast), probe them against the banded signature table
    * ([[bandsTable]], bucketed+sorted by bucket — literal `isin` pushdown
    * prunes the scan to the batch's own bucket hashes, plan-asserted via
    * `SelectedBucketsCount`, with row-group skipping inside), verify only
    * colliding pairs against the postings of the candidate `a` docs
    * (broadcast semi-join pushdown) — never a re-derivation, never a
    * shuffle of the store. Batches too large for literal pushdown
    * ([[MaxProbeLiterals]]) switch to a broadcast LEFT SEMI join on
    * `bucket` — no literal limit, still un-shuffled, and the stored side
    * is row-pruned at the scan exit instead of flowing on un-pruned.
    */
  /** Literal-pushdown cap for the banded probe: above this many distinct
    * batch bucket strings the `isin` predicate stops paying for itself
    * (planner cost, no selectivity) and the judge switches to the
    * broadcast semi-join probe — still un-shuffled, row-pruned at the
    * scan exit, no literal limit.
    */
  private val MaxProbeLiterals = 10000

  /** The stored side of the judge's candidate probe: the banded table
    * bucket-pruned to the batch's own bucket strings when small enough
    * for literal pushdown (physical-bucket skip + row-group skip), a
    * broadcast LEFT SEMI join on `bucket` when the batch is too large
    * for literals (row-pruned at the scan exit — the full banded table
    * is never materialized downstream, and there is no literal limit),
    * or an on-the-fly banding of the signatures when no banded table
    * exists. All three branches yield identical candidates after the
    * (band, bucket) join — the pruning removes only rows that join
    * would drop anyway (`StreamingSpec` asserts branch equivalence and
    * pins the semi-join plan shape).
    *
    * The driver-side collect is bounded by `maxLits + 1` regardless of
    * batch size (`limit` before `collect`): a huge batch must not ship
    * millions of bucket strings to the driver just to learn it is over
    * the cap.
    */
  private[graft] def probeStored(
      spark: SparkSession, tableName: String, batchBuckets: DataFrame,
      maxLits: Int): DataFrame =
    if (spark.catalog.tableExists(bandsTable(tableName))) {
      val distinctBuckets = batchBuckets.select(col("bucket")).distinct()
      // overflow-safe cap: limit(maxLits + 1) would wrap at Int.MaxValue,
      // and literal pushdown past ~1M strings is planner abuse regardless
      val cap = math.min(maxLits.toLong, 1000000L)
      val lits = distinctBuckets.limit(cap.toInt + 1).collect().map(_.getString(0))
      val stored = spark.table(bandsTable(tableName))
      if (lits.length <= cap)
        stored.filter(col("bucket").isin(lits.toIndexedSeq: _*))
      else
        // a USING-column join reorders `bucket` first; callers consume the
        // probe positionally, so restore the table's own column order
        stored.join(broadcast(distinctBuckets), Seq("bucket"), "left_semi")
          .select(stored.columns.map(col).toIndexedSeq: _*)
    } else Dedup.bandBuckets(spark.table(sigsTable(tableName)))

  /** Delete the default MANAGED location of `tbl` when the catalog does
    * not know the table. A killed JVM leaves the location on disk while
    * the in-memory catalog entry dies with the process, and the next
    * `CREATE TABLE AS` at the same warehouse path then throws
    * `LOCATION_ALREADY_EXISTS` — so a catalog-orphaned directory is
    * never live data, only a crash dropping, and deleting it is the
    * isolation-correct move. No-op when the table IS registered (its
    * location is then owned by the catalog, not stale).
    */
  private[graft] def clearStaleLocation(spark: SparkSession, tbl: String): Unit =
    if (!spark.catalog.tableExists(tbl)) {
      val loc = new org.apache.hadoop.fs.Path(
        spark.sessionState.catalog.defaultTablePath(
          org.apache.spark.sql.catalyst.TableIdentifier(tbl)))
      val fs = loc.getFileSystem(spark.sessionState.newHadoopConf())
      if (fs.exists(loc)) fs.delete(loc, true)
    }

  /** Create the banded probe table from the CURRENT signatures if absent
    * — the backfill [[dedupIngestStream]] runs once at start; afterwards
    * [[append]] maintains it on every ingest flavor.
    */
  private[graft] def ensureBandsTable(
      spark: SparkSession, tableName: String, numBuckets: Int = 32): Unit =
    if (!spark.catalog.tableExists(bandsTable(tableName))) {
      clearStaleLocation(spark, bandsTable(tableName))
      Dedup.bandBuckets(spark.table(sigsTable(tableName)))
        .write.mode("overwrite")
        .bucketBy(numBuckets, "bucket")
        .sortBy("bucket")
        .format("parquet")
        .saveAsTable(bandsTable(tableName))
    }

  def dedupIngestStream(
      docs: DataFrame, tableName: String, markerRoot: String,
      checkpoint: String, decisionsPath: String,
      threshold: Double = Dedup.DefaultThreshold): org.apache.spark.sql.streaming.StreamingQuery = {
    val owner = docs.sparkSession
    ensureBandsTable(owner, tableName)
    val ns = markerNamespace(owner, markerRoot, checkpoint)
    docs.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], id: Long) =>
        dedupIngestBatch(batch.sparkSession, batch.toDF(), tableName, ns, id,
          decisionsPath, threshold)
        owner.catalog.refreshTable(tableName)
        owner.catalog.refreshTable(sigsTable(tableName))
        owner.catalog.refreshTable(bandsTable(tableName))
      }
      .start()
  }

  /** One micro-batch of [[dedupIngestStream]]: judge against the
    * accumulated index, record verdicts, append. Same marker protocol as
    * [[ingestBatch]]; the judge runs BEFORE the append (and after any
    * crash purge), so the store holds exactly the completed batches, and
    * the decisions write is an idempotent per-batch directory overwrite.
    *
    * The online judge deliberately carries NO band-bucket cap: an arrival
    * colliding with ANY prior doc is a genuine near-dup candidate, and
    * its per-arrival verify cost is bounded by the bucket it touches.
    * The cold d4 pass, by contrast, caps ultra-dense buckets
    * ([[Dedup.MaxBandBucket]]) to keep a batch sweep out of the
    * quadratic clone-group regime — so the online ≡ cold drop-set
    * equivalence holds exactly when no stored bucket exceeds the cap (a
    * corpus dense enough to break that precondition is exact dedup's
    * territory, and both paths still agree on every sub-cap pair).
    */
  def dedupIngestBatch(
      spark: SparkSession, docs: DataFrame, tableName: String,
      markerRoot: String, batchId: Long, decisionsPath: String,
      threshold: Double = Dedup.DefaultThreshold,
      numBuckets: Int = 32, segTokens: Int = Dedup.SegmentTokens): Unit = {
    val done = new org.apache.hadoop.fs.Path(s"$markerRoot/batch-$batchId.done")
    val started = new org.apache.hadoop.fs.Path(s"$markerRoot/batch-$batchId.started")
    val fs = done.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(done)) return
    if (fs.exists(started)) purgeCrashedBatch(spark, docs, tableName, markerRoot, batchId, numBuckets)
    // the batch's shingle relation feeds the signature derivation, both
    // judge joins, and the size aggregation — cache once, micro-batch-sized
    val batchSh = frameOf(docs, segTokens)
      .filter(col("kind") === ShingleKind).select(col("doc_id"), col("s"))
      .cache()
    val batchBuckets = Dedup.bandBuckets(Dedup.minhashSignatures(batchSh))
      .cache() // feeds the literal collect and both candidate joins
    // the probe's bucket pruning only happens on the BUCKETED scan path,
    // and the planner's auto-disable rule (DisableUnnecessaryBucketedScan)
    // turns that path off for a filter-only scan — no join here wants the
    // bucketing's output partitioning, the PRUNING is the point. Pin it
    // on for the judge, restore after (foreachBatch runs in a session
    // clone, so the streaming path never leaks the setting).
    val autoBucketKey = "spark.sql.sources.bucketing.autoBucketedScan.enabled"
    val autoBucketWas = spark.conf.get(autoBucketKey)
    spark.conf.set(autoBucketKey, "false")
    try {
      // stored-vs-batch collisions, cheapest available probe: with the
      // banded table ([[bandsTable]]) present and the batch small enough
      // for literal pushdown, the scan prunes to the batch's own bucket
      // hashes (SelectedBucketsCount) and row-group-skips inside them
      // (bucket-sorted files); otherwise ONE scan of the compact
      // signature table, banded on the fly. Either way the store is never
      // shuffled (broadcast probe); `a < b` keeps only lower-id partners
      // (the online rule).
      val cross = probeStored(spark, tableName, batchBuckets, MaxProbeLiterals)
        .toDF("a", "band", "bucket")
        .join(broadcast(batchBuckets.toDF("b", "band", "bucket")), Seq("band", "bucket"))
        .filter(col("a") < col("b"))
        .select(col("a"), col("b"))
      // within-batch collisions (both sides micro-batch-sized)
      val self = batchBuckets.toDF("a", "band", "bucket")
        .join(batchBuckets.toDF("b", "band", "bucket"), Seq("band", "bucket"))
        .filter(col("a") < col("b"))
        .select(col("a"), col("b"))
      val cands = cross.unionByName(self).distinct()
      // a-side shingles: stored postings of candidate partners only
      // (broadcast semi-join — candidate ids are bounded by batch size ×
      // collision fan-out, id columns only) plus the batch's own
      val aSh = spark.table(tableName)
        .filter(col("kind") === ShingleKind).select(col("doc_id"), col("s"))
        .join(broadcast(cands.select(col("a").as("doc_id")).distinct()),
          Seq("doc_id"), "left_semi")
        .unionByName(batchSh)
      val dropped = Dedup.verifyJaccard(cands, aSh, batchSh, threshold)
        .select(col("b").as("doc_id")).distinct()
      docs.select(col("doc_id")).distinct()
        .join(dropped.withColumn("hit", lit(1)), Seq("doc_id"), "left")
        .select(col("doc_id"), col("hit").isNull.as("kept"))
        .write.mode("overwrite").parquet(s"$decisionsPath/batch_id=$batchId")
    } finally {
      spark.conf.set(autoBucketKey, autoBucketWas)
      batchBuckets.unpersist(); batchSh.unpersist()
    }
    fs.mkdirs(started.getParent)
    fs.create(started, true).close()
    append(spark, docs, tableName, numBuckets, segTokens)
    fs.create(done, true).close()
  }

  /** Accumulated [[dedupIngestStream]] verdicts: (doc_id, kept, batch_id). */
  def decisions(spark: SparkSession, decisionsPath: String): DataFrame =
    Tables.read(spark, decisionsPath)

  /** The per-run marker directory [[ingestStream]] keys its replay guard
    * by: `markerRoot/run-<id>` where the id's lifetime is the
    * checkpoint's ([[IngestRun.runId]]).
    */
  private[graft] def markerNamespace(
      spark: SparkSession, markerRoot: String, checkpoint: String): String =
    s"$markerRoot/run-${IngestRun.runId(spark, checkpoint)}"

  /** The (doc_id, s) shingle relation from the index. `includePlanted`
    * false reconstructs the raw corpus (d3/d4); true keeps the planted
    * partial copies (d11).
    */
  def shingles(
      spark: SparkSession, tableName: String, includePlanted: Boolean): DataFrame = {
    val sh = spark.table(tableName).filter(col("kind") === ShingleKind)
    minusTombstones(spark, tableName,
      if (includePlanted) sh
      else sh.filter(col("doc_id") < Dedup.PartialCopyOffset))
      .select(col("doc_id"), col("s"))
  }

  /** The per-doc MinHash signature relation, deletion log subtracted —
    * the accessor every signature consumer reads through.
    */
  def signatures(spark: SparkSession, tableName: String): DataFrame =
    minusTombstones(spark, tableName, spark.table(sigsTable(tableName)))

  /** The RAW (pre-tombstone-subtraction) segment postings of `ids` — the
    * ONE reader that must see deleted docs' rows: takedown maintenance
    * ([[graft.streaming.OnlineGate.updateSurvivorsAfterDelete]]) needs
    * the hashes a just-deleted doc used to own, to find the surviving
    * docs whose dup stats the delete moved.
    */
  private[graft] def segmentsOfDocsRaw(
      spark: SparkSession, tableName: String, ids: DataFrame): DataFrame =
    spark.table(tableName).filter(col("kind") === SegmentKind)
      .join(broadcast(ids.select(col("doc_id"))), Seq("doc_id"), "left_semi")
      .select(col("doc_id"), col("s").as("h"))

  /** The batch's own (doc_id, h) segment hashes derived MAP-ONLY from its
    * text — the probe key the incremental survivor maintenance
    * ([[graft.streaming.OnlineGate.updateSurvivors]]) uses so the "which
    * hashes did this batch touch" question never reads the index at all.
    */
  private[graft] def segmentHashesOf(
      docs: DataFrame, segTokens: Int = Dedup.SegmentTokens): DataFrame =
    frameOf(docs, segTokens).filter(col("kind") === SegmentKind)
      .select(col("doc_id"), col("s").as("h"))

  /** The (doc_id, h) segment-hash relation (one row per occurrence). The
    * hash was computed at build, so this is a pure read — and because the
    * stored column IS the hash, the bucketing on `s` carries through the
    * rename and the d10 per-(hash, doc) aggregation AND its cross-doc
    * frequency window both run without an exchange. `includePlanted`
    * false reconstructs the raw corpus (the t20/t23 gate input — the
    * planted rows are filtered BEFORE the stats, so cross-doc frequencies
    * count only unplanted documents, exactly the unplanted inline
    * derivation); true keeps the graded partial-copy fixture (d10/d11).
    */
  def segments(
      spark: SparkSession, tableName: String,
      includePlanted: Boolean = true): DataFrame = {
    val sg = spark.table(tableName).filter(col("kind") === SegmentKind)
    // deletion log subtracted like shingles()/signatures(): a tombstoned
    // doc's segments must stop counting toward cross-doc duplication
    // immediately, or a takedown leaves its victims' dup fractions
    // inflated (and the doc itself reachable through segment consumers) —
    // the same stale-reader class as the r16 d4b screen fix
    minusTombstones(spark, tableName,
      if (includePlanted) sg
      else sg.filter(col("doc_id") < Dedup.PartialCopyOffset))
      .select(col("doc_id"), col("s").as("h"))
  }

  /** The distinct segment hashes occurring in MORE THAN ONE document —
    * the cross-doc duplication signal the span scrub (t24/t25) acts on,
    * read from the index instead of a corpus-wide window: min≠max over
    * doc_id ⟺ ≥2 distinct docs (never a countDistinct), and the
    * aggregation rides the table's bucketing on `s` (alias-aware), so
    * this is an exchange-free pass over the compact segment side. The
    * result is the distinct duplicated-span VOCABULARY — tiny relative
    * to corpus occurrences (boilerplate is repeated, which is what makes
    * it boilerplate), which is what makes it broadcastable to the scrub.
    */
  def duplicatedSegmentHashes(spark: SparkSession, tableName: String): DataFrame =
    segments(spark, tableName)
      .groupBy(col("h"))
      .agg(min(col("doc_id")).as("mn"), max(col("doc_id")).as("mx"))
      .filter(col("mn") =!= col("mx"))
      .select(col("h"))

  // The four dedup passes, fed from the index instead of the corpus —
  // same scoring engines as the inline d3/d4/d10/d11, bit-equal output.

  def ngramJaccardPairs(
      spark: SparkSession, tableName: String,
      threshold: Double = Dedup.DefaultThreshold,
      maxDocFreq: Int = Dedup.DefaultMaxDocFreq): DataFrame =
    Dedup.jaccardPairsFromShingles(
      shingles(spark, tableName, includePlanted = false), threshold, maxDocFreq)

  def minhashLshPairs(
      spark: SparkSession, tableName: String,
      threshold: Double = Dedup.DefaultThreshold): DataFrame =
    Dedup.minhashLshVerified(
      spark.table(sigsTable(tableName))
        .filter(col("doc_id") < Dedup.PartialCopyOffset),
      shingles(spark, tableName, includePlanted = false), threshold)

  /** Index-fed d18: the 1-bit MinHash re-estimation from the STORED
    * signatures and the stored-pair leaf — no corpus re-shingling; the
    * inline oracle applies verbatim because the stored sigs are the same
    * PortableHash chain (pinned by the index build tests).
    */
  def bbitMinhashEstimate(
      spark: SparkSession, tableName: String,
      threshold: Double = Dedup.DefaultThreshold): DataFrame =
    // estimation side reads the PACKED 1-bit column only (one long per
    // doc — the 60× storage claim exercised on the read path, r15)
    Dedup.bbitEstimateFromPacked(
      spark.table(sigsTable(tableName))
        .filter(col("doc_id") < Dedup.PartialCopyOffset)
        .select(col("doc_id"), col("bsig1")),
      minhashLshPairs(spark, tableName, threshold))

  /** Index-fed d4b: the packed b-bit screen over the stored bands'
    * candidate set — candidates come from the SAME capped banding as d4,
    * but the per-pair work reads only the 3 STORED packed longs
    * ([[Dedup.packedBbitCols]], written at build) instead of re-joining
    * the full shingle postings: the screen's working set is 16× smaller
    * than the wide signature and ~an order below the posting lists, the
    * IO trade of Li & König 2010 made real at the index level.
    */
  def bbitScreenedPairs(
      spark: SparkSession, tableName: String): DataFrame = {
    // read through the signatures() accessor (deletion log subtracted):
    // unlike d4/d18 the screen has NO posting-list verify downstream to
    // drop logically deleted docs, so the tombstone filter must happen
    // here or delete()'s "effective for every reader immediately"
    // contract breaks for this reader
    val sig = signatures(spark, tableName)
      .filter(col("doc_id") < Dedup.PartialCopyOffset)
    Dedup.bbitScreenFrom(
      sig.select(col("doc_id"), col("bsig1"), col("bsig4_0"), col("bsig4_1")),
      Dedup.bandedCandidates(sig))
  }

  /** Index-fed d9: cross-corpus fuzzy decontamination reading the
    * materialized index instead of re-shingling the corpus. The stored
    * 32-permutation signatures and d9's 16-permutation family are the
    * SAME [[graft.functions.PortableHash]] affine chain over the same
    * md5 base hash, so slicing the first 16 stored columns reproduces
    * d9's per-doc signatures bit-for-bit; only the planted eval clones
    * (~1% of docs, absent from the index) derive their shingles and
    * signatures inline. Verification shingles likewise come from the
    * stored postings union the planted slice — no corpus re-scan
    * anywhere. Same band/cap/join/verify tail as the inline d9
    * ([[Dedup.crossFuzzyFromParts]]), so the output is bit-equal.
    */
  def crossCorpusFuzzyPairs(
      spark: SparkSession, tableName: String, dir: String,
      threshold: Double = Dedup.DefaultThreshold): DataFrame = {
    val storedSig = spark.table(sigsTable(tableName))
      .filter(col("doc_id") < Dedup.PartialCopyOffset)
      .select(col("doc_id") +:
        (0 until Dedup.CrossPerms).map(i => col(s"h$i")): _*)
    // cached: the planted slice feeds its signature derivation AND both
    // sides of the verify join — tiny (1% of docs), so the cache is the
    // right trade against three re-scans of documents.parquet
    val plantedSh = Dedup.shinglesOf(Dedup.crossPlantedDocs(spark, dir)).cache()
    val sig = storedSig.unionByName(Dedup.crossSignatures(plantedSh))
    val sh = shingles(spark, tableName, includePlanted = false)
      .unionByName(plantedSh)
    Dedup.crossFuzzyFromParts(sig, sh, threshold)
  }

  def duplicatedSegments(spark: SparkSession, tableName: String): DataFrame =
    Dedup.segmentDupStats(segments(spark, tableName))

  def containmentPairs(
      spark: SparkSession, tableName: String,
      minContainment: Double = Dedup.DefaultMinContainment,
      maxDocFreq: Int = Dedup.DefaultMaxDocFreq): DataFrame =
    Dedup.containmentFromShingles(
      shingles(spark, tableName, includePlanted = true), minContainment, maxDocFreq)

  /** Duplicate clusters over the index-fed pair graph — same transitive-
    * closure engine as the inline d8, but the pairs leaf reads postings
    * instead of re-shingling the corpus (the heaviest inline query's cost
    * was mostly pair generation, which the index amortizes away).
    */
  def duplicateClusters(
      spark: SparkSession, tableName: String,
      threshold: Double = Dedup.DefaultThreshold): DataFrame =
    Dedup.clustersFromPairs(ngramJaccardPairs(spark, tableName, threshold))

  /** Index-fed d16: the threshold sensitivity sweep from the stored
    * postings — the form you actually run before committing a threshold
    * on 100 TB, since the sweep and the dedup passes it tunes share one
    * index build.
    */
  def thresholdSensitivity(spark: SparkSession, tableName: String): DataFrame =
    Dedup.sweepFromShingles(shingles(spark, tableName, includePlanted = false))
}
