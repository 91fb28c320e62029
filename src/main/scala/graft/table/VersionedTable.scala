package graft.table

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.DeltaLog

/** TRANSACTIONAL VERSIONED TABLE — a keyed table over graft's one table
  * log ([[DeltaLog]]), generalizing the `_version` optimistic-lock idiom
  * of [[graft.ingest.BatchRunStore]] (the reference's per-run conditional
  * write, `lib/batchProcessing.js:288,548`) from ONE run row to a WHOLE
  * table:
  *
  *   - every commit produces version v+1, adding and removing immutable
  *     data files;
  *   - reads PIN a version: `read(k)` reconstructs the exact snapshot any
  *     reader at version k saw, forever (time travel);
  *   - a writer must present the version it based its work on; if another
  *     writer committed first, publication fails LOUDLY instead of
  *     clobbering (optimistic concurrency, detected at the commit point).
  *
  * == Storage: a Delta table partitioned by key bucket ==
  * {{{
  *   <root>/_delta_log/%020d.json                  — one commit per version
  *   <root>/c<N>-<uuid>/b=<bucket>/part-....parquet — files of commit N
  * }}}
  * Table version v is Delta version v − 1 (version 0 means "no table
  * yet"); the bucket count is the metaData configuration entry
  * [[VersionedTable.BucketsKey]], written by the commit that creates or
  * rebuckets the table. Every log operation is a [[DeltaLog]] verb —
  * put-if-absent commits, checkpointed replay, txn-idempotent appends,
  * vacuum — so any Delta reader sees the table (with the `b` column) and
  * this class owns only the keyed algorithms on top: the bucket-pruned
  * copy-on-write merge, the bucket-pruned diff, per-bucket compaction,
  * rebucketing and schema enforcement.
  *
  * == Commit protocol (put-if-absent) ==
  * Two writers who both read version v race on publishing v+1: exactly
  * one wins, the loser gets [[java.util.ConcurrentModificationException]]
  * and its orphaned data directory is invisible to every reader
  * (reclaimed by [[vacuum]]). The conflict check is not a lock around the
  * merge work — both writers do their copy-on-write in parallel — but a
  * single atomic point at publication, which is what lets a 1000-executor
  * merge run lock-free.
  *
  * == Copy-on-write merge, bucket-pruned ==
  * Rows hash into `nBuckets` buckets by key (`pmod(key, nBuckets)`), and
  * each commit's files are bucket-pure (written `partitionBy` bucket). A
  * merge therefore rewrites ONLY the buckets its change batch touches:
  * the touched-bucket set is collected from the (tiny, aggregated)
  * changes frame, untouched files carry over by reference in the log,
  * and the rewrite reads + full-outer-joins just the touched fraction. At
  * 100 TB with a 4096-bucket table, a change batch touching 1% of keys
  * rewrites ~1% of the data and moves zero bytes for the rest — log
  * actions, not file copies. The join itself co-partitions both sides on
  * the key, and because each side is already bucket-pruned the shuffle
  * is change-sized + touched-snapshot-sized, never table-sized.
  *
  * Within-batch semantics match q134's CDC contract: `delete` wins over
  * `upsert` for the same key; an upsert REPLACES the whole payload row;
  * deletes of absent keys are no-ops.
  *
  * == Interop / migration ==
  * OUTBOUND, a table another engine owns (Delta, Iceberg, a warehouse) is
  * kept in sync by bootstrapping it from ONE pinned snapshot (`read(v)`)
  * and thereafter applying `changes(v, latest)`: the typed
  * insert/update/delete rows map 1:1 onto `MERGE INTO … WHEN MATCHED [AND
  * change_type='delete'] THEN DELETE / UPDATE / WHEN NOT MATCHED THEN
  * INSERT`, so each sync costs changes-sized work, never a table rescan —
  * [[graft.queries.IngestOps.q236CdcMirror]] runs that exact loop against
  * a plain-parquet stand-in mirror and hash-proves the replica equals the
  * native snapshot. INBOUND, an existing external table is adopted by
  * `init(snapshotDf)` and kept current by feeding its change stream
  * (Delta CDF / Iceberg changelog rows are already the `(key, op,
  * payload)` shape) through `merge`.
  *
  * @param keyCol  the table's primary-key column (must be LongType)
  * @param nBuckets number of key buckets at creation — the copy-on-write
  *                 granularity
  */
final class VersionedTable(
    spark: SparkSession,
    root: String,
    keyCol: String,
    nBuckets: Int = 16) {

  import VersionedTable.{BatchAppId, BucketsKey}

  /** Highest committed version, 0 if the table doesn't exist yet. */
  def currentVersion(): Long = DeltaLog.currentVersion(root) + 1

  /** Live (bucket, relative-path) data files as of version `v` — Delta
    * log replay, driver-side and never data-sized.
    */
  private def liveFiles(v: Long): Seq[(Int, String)] = {
    require(v >= 1 && v <= currentVersion(),
      s"version $v out of range [1, ${currentVersion()}]")
    DeltaLog.snapshotFileEntries(spark, root, v - 1)
      .map { case (p, pv, _) => (pv("b").toInt, p) }
  }

  /** Persist the live set at the current version as a Delta checkpoint,
    * so future reads replay from here instead of from version 1. Older
    * commits stay on disk, so pre-checkpoint time travel still works (the
    * checkpoint is a replay SHORTCUT, not a history truncation).
    */
  def checkpoint(): Long = {
    require(currentVersion() >= 1, s"table $root has no commits to checkpoint")
    DeltaLog.checkpoint(spark, root) + 1
  }

  /** Live data files per bucket at version `v` — the fragmentation
    * metric [[compact]] acts on (each append/merge leaves one bucket-pure
    * file per touched bucket per commit).
    */
  def bucketFileCounts(v: Long): Map[Int, Int] =
    liveFiles(v).groupBy(_._1).map { case (b, fs) => b -> fs.size }

  /** OPTIMIZE / small-file compaction — the third maintenance verb beside
    * [[checkpoint]] (log-replay cost) and [[rebucket]] (granularity):
    * every bucket whose live set holds more than `maxPerBucket` data
    * files is rewritten into one, published as a CONTENT-IDENTICAL
    * commit (the removes and adds move bytes, nothing else — q196's
    * maintenance contract). Bucket-pruned like merge: only fragmented
    * buckets are read or rewritten, so compacting after K small streaming
    * appends costs the fragmented fraction of the table, not the table.
    * Returns `expectedVersion` unchanged when nothing is fragmented
    * (idempotent); time travel across the boundary keeps working because
    * the old files stay until [[vacuum]].
    *
    * This is the table-side half of the small-file story — the external-
    * file planner (`LayoutOps.q178CompactionPlan`) decides WHAT a
    * directory of loose files should become; this executes the same move
    * inside the commit log with snapshot isolation.
    */
  def compact(expectedVersion: Long, maxPerBucket: Int = 1): Long = {
    val live = liveFiles(expectedVersion)
    val frag = live.groupBy(_._1).collect {
      case (b, fs) if fs.size > maxPerBucket => b
    }.toSet
    if (frag.isEmpty) return expectedVersion
    val old = live.filter { case (b, _) => frag(b) }
    commit(old, spark.read.parquet(old.map { case (_, p) => s"$root/$p" }: _*),
      expectedVersion, bucketCountAt(expectedVersion))
  }

  /** Absolute data paths version `v` reads — the log-level view a caller
    * can existence-probe WITHOUT building a Spark plan (q214's erasure
    * audit: a deliberately-failing `read(v).count()` probe made Spark's
    * ObservationManager listener re-raise the analysis failure into the
    * log of every later observed query in the session).
    */
  private[graft] def liveFilePaths(v: Long): Seq[String] =
    liveFiles(v).map { case (_, p) => s"$root/$p" }

  /** The snapshot exactly as version `v` committed it — time travel. */
  def read(v: Long): DataFrame = {
    val paths = liveFilePaths(v)
    if (paths.isEmpty)
      spark.emptyDataFrame
    else spark.read.parquet(paths: _*)
  }

  /** The latest snapshot. */
  def readLatest(): DataFrame = read(currentVersion())

  private def bucketOf(c: org.apache.spark.sql.Column, n: Int) =
    pmod(c, lit(n)).cast("int")

  /** Bucket count in force at version `v` — the metaData configuration
    * entry init and rebucket write; falls back to the constructor default.
    */
  private def bucketCountAt(v: Long): Int =
    DeltaLog.tableProperties(spark, root, v - 1).get(BucketsKey)
      .map(_.toInt).getOrElse(nBuckets)

  /** `df` (key + payload columns) with its bucket column `b`, one shuffle
    * co-locating each bucket's rows so every commit writes one bucket-pure
    * file per touched bucket.
    */
  private def bucketed(df: DataFrame, nB: Int): DataFrame =
    df.withColumn("b", bucketOf(col(keyCol), nB)).repartition(col("b"))

  /** Commit `rows` as version `expectedVersion + 1`, replacing the
    * `removes` files, under bucket count `nB`; `batchId` rides as the
    * commit's txn action. Throws ConcurrentModificationException if a
    * concurrent writer committed first.
    */
  private def commit(removes: Seq[(Int, String)], rows: DataFrame,
      expectedVersion: Long, nB: Int, batchId: Option[Long] = None): Long =
    DeltaLog.commitReplace(root, removes.map(_._2), bucketed(rows, nB),
      Some(expectedVersion - 1), Map(BucketsKey -> nB.toString),
      batchId.map(BatchAppId -> _)) + 1

  /** Create the table at version 1 from a full snapshot. */
  def init(df: DataFrame): Long = {
    require(currentVersion() == 0L, s"table $root already exists")
    DeltaLog.commitAppendPartitioned(root, bucketed(df, nBuckets), Seq("b"),
      Some(-1L), Map(BucketsKey -> nBuckets.toString)) + 1
  }

  /** Copy-on-write CDC merge: apply `changes` — (key, `op` ∈
    * {upsert, delete}, payload columns matching the table's) — on top of
    * `expectedVersion`, committing `expectedVersion + 1`. Only buckets
    * present in `changes` are rewritten; every other live file carries
    * over by reference. Fails with ConcurrentModificationException if a
    * concurrent writer committed first.
    */
  def merge(changes: DataFrame, expectedVersion: Long): Long =
    mergeImpl(changes, expectedVersion, None)

  private def mergeImpl(changes: DataFrame, expectedVersion: Long,
      batchId: Option[Long]): Long = {
    val nB = bucketCountAt(expectedVersion)
    // schema enforcement: a change batch whose payload columns drift from
    // the table's would write bucket files with a different schema than
    // the carried ones — fail loudly at the merge, not at some future read.
    // The schema of record is the LATEST version that has live files: a
    // table whose keys were all deleted keeps its schema contract (only a
    // table that has NEVER had a data file — a streaming upsert sink's
    // day-zero empty init — lets the first merge's batch define it).
    if (expectedVersion >= 1) {
      val schemaVersion = (expectedVersion to 1L by -1L).iterator
        .find(v => liveFiles(v).nonEmpty)
      val tableCols = schemaVersion
        .map(v => read(v).schema.fieldNames.toSet).getOrElse(Set.empty[String])
      val batchCols = changes.columns.filterNot(_ == "op").toSet
      require(schemaVersion.isEmpty || batchCols == tableCols,
        s"VersionedTable $root: change batch columns ${batchCols.toSeq.sorted} " +
          s"do not match table columns ${tableCols.toSeq.sorted}; " +
          "schema evolution requires an explicit rewrite, not a merge")
    }
    // resolve within-batch overlap: delete wins over upsert for one key
    val resolved = {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col(keyCol))
        .orderBy(when(col("op") === "delete", 0).otherwise(1))
      changes.withColumn("_rk", row_number().over(w))
        .filter(col("_rk") === 1).drop("_rk")
    }
    // the copy-on-write pruning set: tiny (≤ nBuckets), driver-collected
    val touched = resolved.select(bucketOf(col(keyCol), nB).as("b"))
      .distinct().collect().map(_.getInt(0)).toSet
    val oldTouched = liveFiles(expectedVersion).filter { case (b, _) => touched(b) }
    val payloadCols = resolved.columns.filter(c => c != keyCol && c != "op")
    val old =
      if (oldTouched.isEmpty) {
        val empty = resolved.drop("op")
        empty.filter(lit(false))
      } else
        spark.read.parquet(oldTouched.map { case (_, p) => s"$root/$p" }: _*)
    // MERGE INTO kernel: one full-outer join co-partitioned on the key,
    // both sides already pruned to the touched buckets
    val ch = resolved.select(
      col(keyCol) +: col("op").as("_op") +:
        payloadCols.toIndexedSeq.map(c => col(c).as(s"_new_$c")): _*)
    val merged = old.join(ch, Seq(keyCol), "full_outer")
      .filter(col("_op").isNull || col("_op") === "upsert")
      .select(
        col(keyCol) +: payloadCols.toIndexedSeq.map { c =>
          when(col("_op") === "upsert", col(s"_new_$c")).otherwise(col(c)).as(c)
        }: _*)
    commit(oldTouched, merged, expectedVersion, nB, batchId)
  }

  /** Whether micro-batch `batchId` (or a later one) is already committed
    * — the txn cursor [[appendBatch]] and [[mergeBatch]] share.
    */
  private def replayed(batchId: Long): Boolean =
    DeltaLog.txnVersion(spark, root, BatchAppId).exists(_ >= batchId)

  /** IDEMPOTENT KEYED UPSERT for exactly-once streaming sinks — the
    * [[merge]] CDC semantics ((key, op ∈ upsert|delete, payload), delete
    * wins within a batch, copy-on-write of touched buckets only) committed
    * as ONE version carrying the micro-batch id as a txn action, exactly
    * like [[appendBatch]]: a redelivered batch (at-least-once upstream,
    * retried foreachBatch, restarted query) is detected from the committed
    * txn cursor and is a no-op, so at-least-once delivery + idempotent
    * keyed commit = exactly-once UPSERT table contents — the
    * `MERGE INTO` + txn-version idiom, where [[appendBatch]] is the
    * append-only half. The table must already exist (init a base snapshot,
    * possibly empty, first): the merge needs a version to base on.
    */
  def mergeBatch(changes: DataFrame, batchId: Long): Long = {
    val cur = currentVersion()
    require(cur >= 1,
      s"mergeBatch requires an initialized table (call init first): $root")
    if (replayed(batchId)) cur
    else mergeImpl(changes, cur, Some(batchId))
  }

  /** INCREMENTAL CDC READ — `table_changes(vA, vB)`: one row per key whose
    * value differs between snapshot vA and snapshot vB, typed
    * `change_type ∈ {insert, update, delete}` with the vB payload (vA
    * payload for deletes). The diff is BUCKET-PRUNED: a bucket whose live
    * files are the same in both snapshots carries the same immutable rows
    * and is never read — the cost scales with the data the change batches
    * touched, not the table. The join itself co-partitions the two pruned
    * snapshot fragments on the key. This is how a downstream incremental
    * consumer (IVM refresh, replication, audit) subscribes to the table
    * without rescanning it. vA = 0 means "since before the table existed"
    * — every live vB row surfaces as an insert.
    */
  def changes(vA: Long, vB: Long): DataFrame = {
    require(vA >= 0 && vA < vB && vB <= currentVersion(),
      s"need 0 <= vA < vB <= ${currentVersion()}, got ($vA, $vB)")
    val before = if (vA == 0L) Seq.empty[(Int, String)] else liveFiles(vA)
    val after = liveFiles(vB)
    // every commit that changes a bucket replaces or extends its file set,
    // so the buckets of the files live in exactly one snapshot are the
    // touched ones
    val (inA, inB) = (before.toSet, after.toSet)
    val touched = (before.filterNot(inB) ++ after.filterNot(inA)).map(_._1).toSet
    def pruned(files: Seq[(Int, String)]): Seq[String] =
      files.collect { case (b, p) if touched(b) => s"$root/$p" }
    val (oldPaths, newPaths) = (pruned(before), pruned(after))
    if (oldPaths.isEmpty && newPaths.isEmpty)
      return spark.emptyDataFrame
    val template = spark.read.parquet((oldPaths ++ newPaths): _*)
    def side(paths: Seq[String]): DataFrame =
      if (paths.isEmpty) template.filter(lit(false))
      else spark.read.parquet(paths: _*)
    val payloadCols = template.columns.filterNot(_ == keyCol).toSeq
    val o = side(oldPaths).select(
      col(keyCol) +: lit(true).as("_in_old") +:
        payloadCols.map(c => col(c).as(s"_o_$c")): _*)
    val n = side(newPaths).select(
      col(keyCol) +: lit(true).as("_in_new") +:
        payloadCols.map(c => col(c).as(s"_n_$c")): _*)
    val oldStruct = struct(payloadCols.map(c => col(s"_o_$c")): _*)
    val newStruct = struct(payloadCols.map(c => col(s"_n_$c")): _*)
    o.join(n, Seq(keyCol), "full_outer")
      .withColumn("change_type",
        when(col("_in_old").isNull, "insert")
          .when(col("_in_new").isNull, "delete")
          .when(!(oldStruct <=> newStruct), "update"))
      .filter(col("change_type").isNotNull)
      .select(
        col(keyCol) +: col("change_type") +:
          (payloadCols.map { c =>
            when(col("change_type") === "delete", col(s"_o_$c"))
              .otherwise(col(s"_n_$c")).as(c)
          } ++
          // the pre-image, NULL for inserts — what a downstream
          // incremental view needs to RETRACT the old contribution
          payloadCols.map(c => col(s"_o_$c").as(s"old_$c"))): _*)
  }

  /** Re-bucket the whole table to `newBuckets` as commit
    * `expectedVersion + 1` — the layout-maintenance rewrite a table needs
    * when its key volume outgrows the bucket count chosen at creation
    * (copy-on-write granularity, like Delta's OPTIMIZE repartition). The
    * snapshot's logical content is bit-for-bit unchanged — only the
    * file layout moves, and the new bucket count lands in the SAME commit
    * — and the commit point is the same atomic put-if-absent race every
    * writer goes through, so a concurrent merge and a rebucket cannot both
    * land on the same version.
    */
  def rebucket(newBuckets: Int, expectedVersion: Long): Long =
    commit(liveFiles(expectedVersion), read(expectedVersion),
      expectedVersion, newBuckets)

  /** IDEMPOTENT APPEND for exactly-once streaming sinks: commit `df` as a
    * pure-add version carrying the micro-batch id as a txn action
    * ([[DeltaLog.commitAppendIdempotent]]). Structured Streaming's
    * `foreachBatch` re-delivers a batch after a failure with the SAME
    * `batchId`; because the id rides in the committed log, a replayed
    * batch is detected from the log itself and the append is a no-op —
    * at-least-once delivery + idempotent commit = exactly-once table
    * contents, the Delta streaming-sink txn-version idiom. Batch ids must
    * arrive non-decreasing (Structured Streaming's contract for one
    * query); a racing duplicate that loses the publish throws and is
    * ignored on its own retry. Creates the table on first use.
    */
  def appendBatch(df: DataFrame, batchId: Long): Long = {
    val cur = currentVersion()
    val nB = if (cur == 0L) nBuckets else bucketCountAt(cur)
    DeltaLog.commitAppendIdempotent(spark, root, bucketed(df, nB),
      BatchAppId, batchId, Seq("b"), Map(BucketsKey -> nB.toString),
      Some(cur - 1)) + 1
  }

  /** GARBAGE COLLECTION with a retention horizon ([[DeltaLog.vacuum]]):
    * delete (a) ORPHAN commit directories no log action references
    * (losers of the publish race — the commit protocol guarantees they
    * are invisible, vacuum reclaims their bytes) and (b) data files live
    * ONLY in versions below `retainFrom`. Time travel to versions >=
    * `retainFrom` is untouched; reads below the horizon may fail — the
    * retention contract every lakehouse vacuum carries. The log is kept
    * (history is text-sized); only data bytes are reclaimed. Returns the
    * deleted path count.
    */
  def vacuum(retainFrom: Long): Int = {
    val cur = currentVersion()
    require(retainFrom >= 1 && retainFrom <= cur,
      s"retainFrom $retainFrom out of range [1, $cur]")
    DeltaLog.vacuum(spark, root, retainFrom - 1).size
  }
}

object VersionedTable {

  /** The metaData configuration entry holding the table's bucket count. */
  private[graft] val BucketsKey = "graft.versionedTable.buckets"

  /** The txn appId under which [[VersionedTable.appendBatch]] and
    * [[VersionedTable.mergeBatch]] record their micro-batch ids.
    */
  val BatchAppId = "graft.versionedTable.batch"
}
