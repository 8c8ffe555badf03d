package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.Tables.table

/** MERGE INTO semantics as a composable operator — the snapshot-refresh
  * primitive every warehouse pipeline needs (Delta/Iceberg expose it as
  * SQL MERGE; plain Spark has no built-in): apply a change batch to a
  * target snapshot with the three classic branches,
  *
  *  - WHEN MATCHED THEN UPDATE (source row replaces the target row),
  *  - WHEN MATCHED AND is_delete THEN DELETE,
  *  - WHEN NOT MATCHED THEN INSERT,
  *
  * producing the next snapshot. Scale shape: ONE full-outer sort-merge
  * join on the key — each side shuffles once, and when both snapshots
  * are bucketed on the key ([[DataLayout.writeBucketed]]) even that
  * shuffle disappears, making the nightly refresh of a 100 TB dimension
  * a map-side merge. No driver-side state, no collect.
  */
object MergeOps {

  /** SCD-1 upsert of `source` into `target` on `keys`. Both frames must
    * share the target's column set; `deleteCol` (boolean, source-side)
    * marks MATCHED-DELETE rows. Source keys must be unique (standard
    * MERGE precondition — Delta throws on multiple matches too).
    */
  def upsert(
      target: DataFrame, source: DataFrame, keys: Seq[String],
      deleteCol: Option[String] = None): DataFrame = {
    // qualified-name aliases, not DataFrame-reference columns: the source
    // batch routinely DERIVES from the target snapshot (self-join), where
    // df("col") disambiguation fails
    val t = target.alias("_t")
    val s = deleteCol
      .map(c => source.withColumnRenamed(c, "_del"))
      .getOrElse(source.withColumn("_del", lit(false)))
      .withColumn("_src", lit(true))
      .alias("_s")
    val cond = keys.map(k => col(s"_t.$k") === col(s"_s.$k")).reduce(_ && _)
    val isSrc = col("_s._src").isNotNull
    t.join(s, cond, "full_outer")
      .filter(!coalesce(col("_s._del"), lit(false)))
      .select(target.columns.toSeq
        .map(c => when(isSrc, col(s"_s.$c")).otherwise(col(s"_t.$c")).as(c)): _*)
  }

  /** Change batches begin at this order date. */
  val UpsertCutoff = "1999-01-01"

  /** The oracled MERGE query: refresh the customer snapshot with a
    * corpus-derived change batch — balances grow by recent order spend
    * (UPDATE), every 89th customer churns (DELETE), every 97th re-signs
    * under a relocated id (INSERT; +1e6 keeps ids disjoint from the
    * corpus). All arithmetic in exact e2 integers.
    */
  def customerUpsert(spark: SparkSession, dir: String): DataFrame = {
    val cust = table(spark, dir, "customer")
      .select(col("c_custkey"), col("c_name"), col("c_nationkey"), col("c_mktsegment"),
        Exact.e(col("c_acctbal"), 2).as("bal_e2"))
    val recent = table(spark, dir, "orders")
      .filter(col("o_orderdate") >= lit(s"$UpsertCutoff 00:00:00").cast("timestamp_ntz"))
      .groupBy(col("o_custkey"))
      .agg(sum(Exact.e(col("o_totalprice"), 2)).as("delta_e2"))
    val updates = cust
      .filter(col("c_custkey") % 89 =!= 0)
      .join(recent, col("c_custkey") === col("o_custkey"))
      .select(col("c_custkey"), col("c_name"), col("c_nationkey"), col("c_mktsegment"),
        (col("bal_e2") + col("delta_e2")).as("bal_e2"), lit(false).as("is_delete"))
    val deletes = cust.filter(col("c_custkey") % 89 === 0)
      .withColumn("is_delete", lit(true))
    val inserts = cust.filter(col("c_custkey") % 97 === 0)
      .select((col("c_custkey") + 1000000L).as("c_custkey"),
        concat(lit("NEW_"), col("c_name")).as("c_name"),
        col("c_nationkey"), col("c_mktsegment"),
        lit(0L).as("bal_e2"), lit(false).as("is_delete"))
    upsert(cust, updates.unionByName(deletes).unionByName(inserts),
      Seq("c_custkey"), Some("is_delete"))
  }

  /** DuckDB twin of [[customerUpsert]] — factored here (it used to live
    * inline in SparkEntry) because u4's diff oracle composes it as the
    * "next" snapshot: the engine query and BOTH oracles must share one
    * definition or a fixture tweak desyncs them silently.
    */
  def customerUpsertOracleSql: String =
    s"""WITH cust AS (
       |  SELECT c_custkey, c_name, c_nationkey, c_mktsegment,
       |    cast(floor(c_acctbal * 100.0 + 0.5) AS bigint) AS bal_e2
       |  FROM customer),
       |recent AS (
       |  SELECT o_custkey,
       |    cast(sum(cast(floor(o_totalprice * 100.0 + 0.5) AS bigint)) AS bigint) AS delta_e2
       |  FROM orders
       |  WHERE o_orderdate >= timestamp '$UpsertCutoff 00:00:00'
       |  GROUP BY o_custkey),
       |src AS (
       |  SELECT c_custkey, c_name, c_nationkey, c_mktsegment,
       |    bal_e2 + delta_e2 AS bal_e2, false AS is_delete
       |  FROM cust JOIN recent ON c_custkey = o_custkey
       |  WHERE c_custkey % 89 <> 0
       |  UNION ALL
       |  SELECT c_custkey, c_name, c_nationkey, c_mktsegment, bal_e2, true
       |  FROM cust WHERE c_custkey % 89 = 0
       |  UNION ALL
       |  SELECT c_custkey + 1000000, 'NEW_' || c_name, c_nationkey, c_mktsegment,
       |    0, false
       |  FROM cust WHERE c_custkey % 97 = 0)
       |SELECT
       |  coalesce(s.c_custkey, t.c_custkey) AS c_custkey,
       |  CASE WHEN s.c_custkey IS NOT NULL THEN s.c_name ELSE t.c_name END AS c_name,
       |  CASE WHEN s.c_custkey IS NOT NULL THEN s.c_nationkey ELSE t.c_nationkey END AS c_nationkey,
       |  CASE WHEN s.c_custkey IS NOT NULL THEN s.c_mktsegment ELSE t.c_mktsegment END AS c_mktsegment,
       |  cast(CASE WHEN s.c_custkey IS NOT NULL THEN s.bal_e2 ELSE t.bal_e2 END AS bigint) AS bal_e2
       |FROM cust t FULL OUTER JOIN src s ON t.c_custkey = s.c_custkey
       |WHERE NOT coalesce(s.is_delete, false)""".stripMargin

  // --------------------------------------------------------------------
  // u2: SCD-2 (slowly-changing-dimension type 2) history merge — the
  // versioned flavor of u1: instead of overwriting, a changed row CLOSES
  // the current version and appends a successor, so the table answers
  // "what did this dimension row look like when batch N ran". The
  // matched-but-UNCHANGED branch is a deliberate no-op — the same rule
  // the reference applies before PATCHing dimension options
  // (EnablePatchNodeID gate / P8: an update carrying identical values
  // must not touch the store).
  // --------------------------------------------------------------------

  /** Apply a change batch to an SCD-2 history table.
    *
    * `history` carries `keys ++ values ++ (version: long, is_current:
    * boolean)`; `source` carries `keys ++ values` (+ `deleteCol`). Rows:
    *
    *   - history rows already closed pass through untouched;
    *   - current row, no source match → unchanged;
    *   - match with every value EQUAL (null-safe) → unchanged (no-op);
    *   - match with any value changed → the current row re-emitted
    *     closed (`is_current = false`) PLUS a successor at `version + 1`;
    *   - match with `deleteCol` → closed, no successor;
    *   - source-only key → opened at version 1.
    *
    * Scale shape: u1's single full-outer join on the key (bucket both
    * sides to make it shuffle-free) over the CURRENT slice only; the
    * closed slice is a pass-through scan. The 0-2 output rows per match
    * are one array-explode — no second join, no window.
    */
  def scd2Merge(
      history: DataFrame, source: DataFrame, keys: Seq[String],
      deleteCol: Option[String] = None): DataFrame = {
    val meta = Seq("version", "is_current")
    val values = history.columns.toSeq.filterNot(c => keys.contains(c) || meta.contains(c))
    val outCols = keys ++ values ++ meta
    val t = history.filter(col("is_current")).alias("_t")
    val s = deleteCol
      .map(c => source.withColumnRenamed(c, "_del"))
      .getOrElse(source.withColumn("_del", lit(false)))
      .withColumn("_src", lit(true))
      .alias("_s")
    val cond = keys.map(k => col(s"_t.$k") === col(s"_s.$k")).reduce(_ && _)
    val matched = col("_t.version").isNotNull && col("_s._src").isNotNull
    val changed = values.map(v => !(col(s"_t.$v") <=> col(s"_s.$v"))).reduce(_ || _)
    def row(side: String, version: org.apache.spark.sql.Column,
        current: org.apache.spark.sql.Column) =
      struct((keys ++ values).map(c => col(s"$side.$c").as(c)) ++
        Seq(version.as("version"), current.as("is_current")): _*)
    val keepT = row("_t", col("_t.version"), lit(true))
    val closeT = row("_t", col("_t.version"), lit(false))
    val nextS = row("_s", col("_t.version") + 1L, lit(true))
    val openS = row("_s", lit(1L), lit(true))
    val arr = when(col("_s._src").isNull, array(keepT))
      .when(col("_t.version").isNull, array(openS))
      .when(matched && col("_s._del"), array(closeT))
      .when(matched && changed, array(closeT, nextS))
      .otherwise(array(keepT))
    t.join(s, cond, "full_outer")
      .select(explode(arr).as("r"))
      .select(outCols.map(c => col(s"r.$c").as(c)): _*)
      .unionByName(history.filter(!col("is_current"))
        .select(outCols.map(col): _*))
  }

  /** Share of u1's update batch turned into deliberate NO-OPS for u2 (a
    * customer with `c_custkey % 13 == 0` re-sends its row unchanged —
    * the P8 case).
    */
  val Scd2NoOpMod = 13L

  /** The oracled SCD-2 query: the customer snapshot seeded as version-1
    * history, refreshed with u1's change batch except that every 13th
    * updated customer re-sends UNCHANGED values (exercising the no-op
    * branch). Output is the full next history.
    */
  def customerScd2(spark: SparkSession, dir: String): DataFrame = {
    val cust = table(spark, dir, "customer")
      .select(col("c_custkey"), col("c_name"), col("c_nationkey"), col("c_mktsegment"),
        Exact.e(col("c_acctbal"), 2).as("bal_e2"))
    val hist = cust
      .withColumn("version", lit(1L)).withColumn("is_current", lit(true))
    val recent = table(spark, dir, "orders")
      .filter(col("o_orderdate") >= lit(s"$UpsertCutoff 00:00:00").cast("timestamp_ntz"))
      .groupBy(col("o_custkey"))
      .agg(sum(Exact.e(col("o_totalprice"), 2)).as("delta_e2"))
    val updates = cust
      .filter(col("c_custkey") % 89 =!= 0)
      .join(recent, col("c_custkey") === col("o_custkey"))
      .select(col("c_custkey"), col("c_name"), col("c_nationkey"), col("c_mktsegment"),
        when(col("c_custkey") % Scd2NoOpMod === 0, col("bal_e2"))
          .otherwise(col("bal_e2") + col("delta_e2")).as("bal_e2"),
        lit(false).as("is_delete"))
    val deletes = cust.filter(col("c_custkey") % 89 === 0)
      .withColumn("is_delete", lit(true))
    val inserts = cust.filter(col("c_custkey") % 97 === 0)
      .select((col("c_custkey") + 1000000L).as("c_custkey"),
        concat(lit("NEW_"), col("c_name")).as("c_name"),
        col("c_nationkey"), col("c_mktsegment"),
        lit(0L).as("bal_e2"), lit(false).as("is_delete"))
    scd2Merge(hist, updates.unionByName(deletes).unionByName(inserts),
      Seq("c_custkey"), Some("is_delete"))
  }

  // --------------------------------------------------------------------
  // u3: changelog / CDC materialization — the third table-maintenance
  // primitive after u1 (apply one batch) and u2 (versioned history):
  // collapse an ORDERED append-only change feed (the Delta/Iceberg
  // change-data-feed shape, or a Debezium topic compacted to a table) to
  // the final snapshot it describes. Last writer per key wins; a winning
  // tombstone erases the key.
  // --------------------------------------------------------------------

  /** Materialize the snapshot described by a change feed.
    *
    * `feed` carries `keys ++ (seqCol: any ordered type, deleteCol:
    * boolean) ++ values`. Precondition (standard for CDC: the log sequence
    * number): `seqCol` is unique within each key — ties would make the
    * winner engine-dependent.
    *
    * Scale shape: ONE groupBy on the key using `max_by`'s partial-merge
    * aggregation, so a key's history compacts map-side — every task ships
    * at most one candidate row per key into the exchange. The
    * `row_number() over (partitionBy key orderBy seq desc)` formulation
    * computes the same thing but routes every key's FULL history through
    * a single reducer partition un-combined and sorts it; at 100 TB of
    * accumulated feed that is shuffling history instead of shuffling
    * snapshots, and a hot key (one entity updated millions of times) is
    * an atomic unsplittable window task. The aggregate form also AQE-skew
    * -splits for free.
    */
  def applyChangelog(
      feed: DataFrame, keys: Seq[String], seqCol: String,
      deleteCol: String): DataFrame = {
    val values = feed.columns.toSeq
      .filterNot(c => keys.contains(c) || c == seqCol || c == deleteCol)
    val payload = struct((Seq(seqCol, deleteCol) ++ values).map(col): _*)
    feed.groupBy(keys.map(col): _*)
      .agg(max_by(payload, col(seqCol)).as("_last"))
      .filter(!col(s"_last.$deleteCol"))
      .select(keys.map(col) ++
        (seqCol +: values).map(c => col(s"_last.$c").as(c)): _*)
  }

  /** Every event whose id hits this modulus is a tombstone for its key —
    * the same mod-arithmetic trick u1 uses to make the delete branch
    * non-vacuous on the synthetic feed.
    */
  val ChangelogTombstoneMod = 7L

  /** The oracled changelog query: the `events` stream read as a CDC feed
    * over per-(user, metric) state — each event upserts its (user_id,
    * event_type) cell with its value (`event_id`, globally unique, is the
    * sequence), and every [[ChangelogTombstoneMod]]-th event is a
    * tombstone. Output is the materialized current state: the latest
    * surviving event per cell.
    */
  def userChangelog(spark: SparkSession, dir: String): DataFrame = {
    val feed = table(spark, dir, "events").select(
      col("user_id"), col("event_type"), col("event_id"),
      (col("event_id") % ChangelogTombstoneMod === 0).as("is_delete"),
      Exact.e(col("value"), 4).as("value_e4"))
    applyChangelog(feed, Seq("user_id", "event_type"), "event_id", "is_delete")
      .withColumnRenamed("event_id", "last_event_id")
      .withColumnRenamed("value_e4", "last_value_e4")
  }

  def userChangelogOracleSql: String =
    s"""SELECT user_id, event_type, event_id AS last_event_id,
       |  value_e4 AS last_value_e4
       |FROM (
       |  SELECT user_id, event_type, event_id,
       |    cast(floor(value * 10000.0 + 0.5) AS bigint) AS value_e4,
       |    (event_id % $ChangelogTombstoneMod = 0) AS is_delete,
       |    row_number() OVER (PARTITION BY user_id, event_type
       |      ORDER BY event_id DESC) AS rn
       |  FROM events)
       |WHERE rn = 1 AND NOT is_delete""".stripMargin

  // --------------------------------------------------------------------
  // u4: snapshot diff — CDC EXTRACTION, the inverse of u3: given two
  // snapshots of the same table, emit the minimal change feed that turns
  // the old one into the new one (the incremental-export primitive: ship
  // the diff, not the table). Identical rows emit NOTHING — the P8
  // no-op-update rule again, this time on the producing side.
  // --------------------------------------------------------------------

  /** Diff `next` against `prev` on `keys`: one row per effective change,
    * `op` ∈ I (key only in next), U (in both, any value differs,
    * null-safe), D (key only in prev). I/U rows carry the POST image,
    * D rows the deleted row's image. Matched-and-equal rows are absent —
    * `upsert(prev, diff)` reproduces `next` exactly (round-trip-tested).
    *
    * Scale shape: u1's single full-outer join on the key — bucket both
    * snapshots ([[DataLayout.writeBucketed]]) and the nightly diff of a
    * 100 TB table is a map-side zip with output proportional to the
    * CHANGE volume, not the table.
    */
  def snapshotDiff(prev: DataFrame, next: DataFrame, keys: Seq[String]): DataFrame = {
    val values = prev.columns.toSeq.filterNot(keys.contains)
    val p = prev.withColumn("_inp", lit(true)).alias("_p")
    val n = next.withColumn("_inn", lit(true)).alias("_n")
    val cond = keys.map(k => col(s"_p.$k") === col(s"_n.$k")).reduce(_ && _)
    val changed = values.map(v => !(col(s"_p.$v") <=> col(s"_n.$v"))).reduce(_ || _)
    val op = when(col("_p._inp").isNull, "I")
      .when(col("_n._inn").isNull, "D")
      .when(changed, "U")
    p.join(n, cond, "full_outer")
      .withColumn("op", op)
      .filter(col("op").isNotNull)
      .select(
        keys.map(k => coalesce(col(s"_n.$k"), col(s"_p.$k")).as(k)) ++
          Seq(col("op")) ++
          values.map(v =>
            when(col("op") === "D", col(s"_p.$v")).otherwise(col(s"_n.$v")).as(v)): _*)
  }

  /** The oracled diff query: previous = the customer snapshot, next =
    * [[customerUpsert]]'s refreshed snapshot — so the emitted feed is
    * exactly u1's EFFECTIVE change set (updates that changed a value,
    * churns, re-signs), and none of its no-ops.
    */
  def customerSnapshotDiff(spark: SparkSession, dir: String): DataFrame = {
    val prev = table(spark, dir, "customer")
      .select(col("c_custkey"), col("c_name"), col("c_nationkey"), col("c_mktsegment"),
        Exact.e(col("c_acctbal"), 2).as("bal_e2"))
    snapshotDiff(prev, customerUpsert(spark, dir), Seq("c_custkey"))
  }

  def customerSnapshotDiffOracleSql(u1OracleSql: String): String =
    s"""WITH prev AS (
       |  SELECT c_custkey, c_name, c_nationkey, c_mktsegment,
       |    cast(floor(c_acctbal * 100.0 + 0.5) AS bigint) AS bal_e2
       |  FROM customer),
       |nxt AS (
       |$u1OracleSql
       |),
       |j AS (
       |  SELECT p.c_custkey AS pk, n.c_custkey AS nk,
       |    p.c_name AS pn, p.c_nationkey AS pnat, p.c_mktsegment AS pseg,
       |    p.bal_e2 AS pbal,
       |    n.c_name AS nn, n.c_nationkey AS nnat, n.c_mktsegment AS nseg,
       |    n.bal_e2 AS nbal
       |  FROM prev p FULL OUTER JOIN nxt n ON n.c_custkey = p.c_custkey)
       |SELECT coalesce(nk, pk) AS c_custkey,
       |  CASE WHEN pk IS NULL THEN 'I' WHEN nk IS NULL THEN 'D' ELSE 'U' END AS op,
       |  CASE WHEN nk IS NULL THEN pn ELSE nn END AS c_name,
       |  CASE WHEN nk IS NULL THEN pnat ELSE nnat END AS c_nationkey,
       |  CASE WHEN nk IS NULL THEN pseg ELSE nseg END AS c_mktsegment,
       |  cast(CASE WHEN nk IS NULL THEN pbal ELSE nbal END AS bigint) AS bal_e2
       |FROM j
       |WHERE pk IS NULL OR nk IS NULL
       |  OR pn IS DISTINCT FROM nn OR pnat IS DISTINCT FROM nnat
       |  OR pseg IS DISTINCT FROM nseg OR pbal IS DISTINCT FROM nbal""".stripMargin

  // --------------------------------------------------------------------
  // u5/u6: incremental materialized-aggregate maintenance — the fourth
  // and fifth table-maintenance primitives: keep a rollup current under
  // an append batch (u5) and under a retraction batch (u6 — the GDPR /
  // opt-out erasure propagated DOWNSTREAM of the base table) without
  // ever rescanning the base corpus. The rollup must be ALGEBRAIC
  // (count / scaled-integer sum — partials merge by addition); that is
  // why the maintained flavor of g1 drops its countDistinct(user_id)
  // column: exact distinct counts do not merge, and the maintainable
  // distinct path is a mergeable sketch (the KMV aggregator behind a10).
  // --------------------------------------------------------------------

  /** Merge a batch of partial aggregates into an algebraic rollup.
    *
    * `rollup` and `partials` share `keys ++ measures`; every measure is
    * additive (counts, scaled-integer sums). Groups whose merged
    * `countCol` reaches 0 are dropped — a fully-retracted group must
    * disappear, not linger as a zero row (and with exact-integer
    * measures, count 0 implies every sum is 0: the group has no rows).
    *
    * Scale shape: one union + one groupBy over ROLLUP-SIZED frames —
    * |groups| + |touched groups| rows, never the base table. The nightly
    * refresh of a 100 TB fact table's rollup costs one scan of the DELTA
    * (to build its partials) plus this tiny merge; partial aggregation
    * compacts map-side on both legs.
    */
  def mergeRollup(
      rollup: DataFrame, partials: DataFrame, keys: Seq[String],
      countCol: String): DataFrame = {
    val measures = rollup.columns.toSeq.filterNot(keys.contains)
    rollup.unionByName(partials)
      .groupBy(keys.map(col): _*)
      .agg(
        sum(col(measures.head)).as(measures.head),
        measures.tail.map(m => sum(col(m)).as(m)): _*)
      .filter(col(countCol) > 0)
  }

  /** Retract a batch of partial aggregates: [[mergeRollup]] with every
    * measure negated. `partials` is the rollup OF THE DELETED ROWS —
    * erasing a user means aggregating only that user's rows (an
    * index/partition-pruned read at scale) and subtracting.
    */
  def retractRollup(
      rollup: DataFrame, partials: DataFrame, keys: Seq[String],
      countCol: String): DataFrame = {
    val measures = rollup.columns.toSeq.filterNot(keys.contains)
    mergeRollup(
      rollup,
      partials.select(keys.map(col) ++ measures.map(m => (-col(m)).as(m)): _*),
      keys, countCol)
  }

  /** The maintainable (algebraic-only) flavor of g1's daily rollup. */
  def algebraicDailyRollup(events: DataFrame): DataFrame =
    events
      .groupBy(col("event_type"), date_trunc("DAY", col("ts")).cast("date").as("day"))
      .agg(count(lit(1)).as("n"), Exact.sumE(col("value"), 2).as("total_value_e2"))

  /** Events whose id hits this modulus form u5's late-arriving batch. */
  val RollupDeltaMod = 10L

  /** Opted-out users (u6's erasure set) hit this modulus. */
  val ErasureMod = 101L

  /** The oracled u5 query: the daily rollup materialized over the
    * on-time events (event_id % [[RollupDeltaMod]] ≠ 0), then maintained
    * with the late batch's partials — the oracle recomputes over the
    * full feed, so a hash match proves the incremental path is lossless.
    */
  def rollupMaintenance(spark: SparkSession, dir: String): DataFrame = {
    val ev = table(spark, dir, "events")
    mergeRollup(
      algebraicDailyRollup(ev.filter(col("event_id") % RollupDeltaMod =!= 0)),
      algebraicDailyRollup(ev.filter(col("event_id") % RollupDeltaMod === 0)),
      Seq("event_type", "day"), "n")
  }

  def rollupMaintenanceOracleSql: String =
    """SELECT event_type, cast(date_trunc('day', ts) AS date) AS day,
      |  cast(count(*) AS bigint) AS n,
      |  cast(sum(cast(floor(value * 100.0 + 0.5) AS bigint)) AS bigint) AS total_value_e2
      |FROM events GROUP BY 1, 2""".stripMargin

  /** The oracled u6 query: the full-feed rollup with every opted-out
    * user's contribution subtracted — erasure reaches the derived
    * aggregate by aggregating ONLY the erased rows and retracting their
    * partials. The oracle recomputes over the retained feed.
    */
  def erasureRetraction(spark: SparkSession, dir: String): DataFrame = {
    val ev = table(spark, dir, "events")
    retractRollup(
      algebraicDailyRollup(ev),
      algebraicDailyRollup(ev.filter(col("user_id") % ErasureMod === 0)),
      Seq("event_type", "day"), "n")
  }

  def erasureRetractionOracleSql: String =
    s"""SELECT event_type, cast(date_trunc('day', ts) AS date) AS day,
       |  cast(count(*) AS bigint) AS n,
       |  cast(sum(cast(floor(value * 100.0 + 0.5) AS bigint)) AS bigint) AS total_value_e2
       |FROM events WHERE user_id % $ErasureMod <> 0 GROUP BY 1, 2""".stripMargin

  def customerScd2OracleSql: String =
    s"""WITH cust AS (
       |  SELECT c_custkey, c_name, c_nationkey, c_mktsegment,
       |    cast(floor(c_acctbal * 100.0 + 0.5) AS bigint) AS bal_e2
       |  FROM customer),
       |recent AS (
       |  SELECT o_custkey,
       |    cast(sum(cast(floor(o_totalprice * 100.0 + 0.5) AS bigint)) AS bigint)
       |      AS delta_e2
       |  FROM orders WHERE o_orderdate >= TIMESTAMP '$UpsertCutoff 00:00:00'
       |  GROUP BY o_custkey),
       |updates AS (
       |  SELECT c.c_custkey, c.c_name, c.c_nationkey, c.c_mktsegment,
       |    cast(CASE WHEN c.c_custkey % $Scd2NoOpMod = 0 THEN c.bal_e2
       |         ELSE c.bal_e2 + r.delta_e2 END AS bigint) AS bal_e2,
       |    false AS is_delete
       |  FROM cust c JOIN recent r ON r.o_custkey = c.c_custkey
       |  WHERE c.c_custkey % 89 <> 0),
       |deletes AS (
       |  SELECT c_custkey, c_name, c_nationkey, c_mktsegment, bal_e2,
       |    true AS is_delete
       |  FROM cust WHERE c_custkey % 89 = 0),
       |inserts AS (
       |  SELECT c_custkey + 1000000 AS c_custkey, 'NEW_' || c_name AS c_name,
       |    c_nationkey, c_mktsegment, cast(0 AS bigint) AS bal_e2,
       |    false AS is_delete
       |  FROM cust WHERE c_custkey % 97 = 0),
       |src AS (
       |  SELECT * FROM updates UNION ALL SELECT * FROM deletes
       |  UNION ALL SELECT * FROM inserts),
       |j AS (
       |  SELECT t.c_custkey AS tk, t.c_name AS tn, t.c_nationkey AS tnat,
       |    t.c_mktsegment AS tseg, t.bal_e2 AS tbal,
       |    s.c_custkey AS sk, s.c_name AS sn, s.c_nationkey AS snat,
       |    s.c_mktsegment AS sseg, s.bal_e2 AS sbal, s.is_delete AS del,
       |    (t.c_custkey IS NOT NULL AND s.c_custkey IS NOT NULL AND
       |     (t.c_name IS DISTINCT FROM s.c_name OR
       |      t.c_nationkey IS DISTINCT FROM s.c_nationkey OR
       |      t.c_mktsegment IS DISTINCT FROM s.c_mktsegment OR
       |      t.bal_e2 IS DISTINCT FROM s.bal_e2)) AS changed
       |  FROM cust t FULL OUTER JOIN src s ON s.c_custkey = t.c_custkey)
       |SELECT tk AS c_custkey, tn AS c_name, tnat AS c_nationkey,
       |  tseg AS c_mktsegment, tbal AS bal_e2,
       |  cast(1 AS bigint) AS version,
       |  NOT (coalesce(del, false) OR changed) AS is_current
       |FROM j WHERE tk IS NOT NULL
       |UNION ALL
       |SELECT sk, sn, snat, sseg, sbal, cast(2 AS bigint) AS version,
       |  true AS is_current
       |FROM j WHERE changed
       |UNION ALL
       |SELECT sk, sn, snat, sseg, sbal, cast(1 AS bigint) AS version,
       |  true AS is_current
       |FROM j WHERE tk IS NULL""".stripMargin
}
