package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.{DataType, LongType}
import graft.cdc.{BucketedStateStore, StateIO}
import graft.cdc.BucketedStateStore.{Layout, Manifest, NewestCommit, Spec}

/** Bucketed, log-structured persistence for the streaming SCD2 history
  * — the 100 TB form of [[StreamScd2.Scd2Table]] (round-9 verdict
  * "What's wrong" #1: the versioned table rewrote the ENTIRE history
  * every micro-batch, O(history) per trigger; this makes the
  * per-trigger cost a function of the BATCH).
  *
  * The layout is the CDC state's: [[graft.cdc.BucketedStateStore]]
  * owns the pointer, the manifests, the bucket-scoped single scan, the
  * point lookup, the delta commit with threshold compaction, reshard
  * and vacuum. This table passes them its `Layout` — key column
  * `key`, the [[StreamScd2.historySchema]] rows, and replace-all-per-key
  * resolution: the rows from the highest commit `__seq` that contains
  * the key ARE the key's history (each merge emits the full updated
  * version chain; SCD2 never deletes keys, so there are no tombstones).
  *
  * What is its own:
  *  - the merge: a micro-batch point-looks-up the CURRENT history of
  *    exactly the batch's keys, runs the pure [[StreamScd2.applyBatch]]
  *    MERGE over it, and commits the touched keys' complete NEW history
  *    as ONE shared delta — an O(batch) write; untouched keys' files are
  *    never rewritten;
  *  - a fixed bucket count: the manifest's count (or, for a fresh
  *    directory, the constructor's) is also the growth cap, so commits
  *    never re-bucket; [[reshard]] is the explicit step, and it keeps
  *    `retainManifests` of history;
  *  - the KEYTYPE record of the key column's type;
  *  - replay protection: the atomically-swapped pointer carries BOTH
  *    the manifest seq and the last applied foreachBatch id
  *    (`<seq> <batchId>`), so the crash window between table-write and
  *    streaming offset-commit stays exact — a re-offered batch is
  *    skipped, and a crash BEFORE the swap simply re-derives the
  *    identical delta against the old manifest and overwrites it.
  *    Single-writer contract as the CDC store: the pointer is re-read
  *    before each swap and the commit aborts if it moved.
  */
final class Scd2BucketedTable(
    spark: SparkSession,
    dir: String,
    nBuckets: Int = 16,
    compactThreshold: Int = 8,
    retainManifests: Int = 3,
    keyType: DataType = LongType) extends StreamScd2.Scd2History {

  private val layout = Layout("key", StreamScd2.historySchema(keyType), NewestCommit)

  /** The key type is part of the on-disk layout (it shapes every
    * parquet file's schema): it is recorded at first commit and a
    * reopen with a DIFFERENT constructor keyType fails loudly instead
    * of silently null-reading the key column. [[StreamScd2.table]]
    * auto-detects it, so factory callers never hit this. */
  private def keyTypePath = s"$dir/KEYTYPE"

  private def checkKeyType(): Unit =
    if (StateIO.exists(keyTypePath)) {
      val stored = StateIO.readString(keyTypePath).trim
      if (stored != keyType.catalogString)
        throw new IllegalStateException(
          s"scd2 history at $dir was written with key type '$stored' but " +
            s"opened with '${keyType.catalogString}' — pass the stored type " +
            "(StreamScd2.table auto-detects it)")
    }

  private def recordKeyType(): Unit = {
    checkKeyType()
    if (!StateIO.exists(keyTypePath))
      StateIO.writeStringAtomic(keyTypePath, keyType.catalogString)
  }

  /** (manifest seq, last applied batch id); -1 for either when absent. */
  private def pointer(): (Long, Long) =
    BucketedStateStore.readPointer(dir).fold((-1L, -1L)) { case (s, t) => (s, t.getOrElse(-1L)) }

  def lastBatchId: Long = pointer()._2

  /** The current manifest, or an empty one at seq -1. An EXISTING
    * layout's bucket count is authoritative: a restart that constructs
    * the table with a different `nBuckets` (e.g. the factory default)
    * must hash against the on-disk layout, or dirty-set computation and
    * bucket scans silently miss every file. The constructor value only
    * shapes a fresh directory. */
  private def manifest(): Manifest =
    BucketedStateStore.readManifest(dir).getOrElse(Manifest(nBuckets, -1L, Map.empty))

  /** Test hook: runs immediately before each commit's pointer-swap CAS
    * check, letting the spec interpose a concurrent writer (the same
    * discipline as BucketedStateStore.commitDelta's preSwap). */
  private[streaming] var preSwapHook: () => Unit = () => ()

  /** Full history read. Clean buckets (no delta chain) hold exactly
    * the resolved rows and scan straight through with no exchange;
    * only delta-bearing buckets pay the per-key resolution window. */
  def read(): DataFrame = {
    checkKeyType()
    BucketedStateStore.readFrom(spark, dir, BucketedStateStore.readManifest(dir), layout)
  }

  /** Time-travel read: the history AS OF manifest commit `seq` — what
    * a debugging/backfill session uses to diff dimension history
    * across triggers (the `VERSION AS OF` analog the retained-manifest
    * chain exists for; same contract as
    * [[graft.cdc.BucketedStateStore.readAt]]). None once vacuum
    * dropped that manifest. */
  def readAt(seq: Long): Option[DataFrame] =
    BucketedStateStore.manifestAt(dir, seq)
      .map(m => BucketedStateStore.readFrom(spark, dir, Some(m), layout))

  /** Current history rows for exactly the keys of `batch` — the
    * merge's point lookup: only the dirty buckets' files, the batch's
    * key side ([[BucketedStateStore.batchKeys]]: its collected keys
    * broadcast while they fit) in a semi join, the key range pushed to
    * parquet. */
  private[streaming] def priorFor(batch: DataFrame): DataFrame = {
    val m = manifest()
    lookup(m, batch, BucketedStateStore.batchStats(m.nBuckets, batch, layout))
  }

  private def lookup(m: BucketedStateStore.Manifest, batch: DataFrame,
      st: BucketedStateStore.BatchStats): DataFrame =
    BucketedStateStore.lookup(spark, dir, m,
      BucketedStateStore.batchKeys(batch, st, layout.key), st, layout)

  // ---- the per-trigger merge ----

  /** MERGE `batch` unless `batchId` was already applied; returns true
    * when the merge ran. O(batch) IO: point-lookup prior history for
    * the batch's keys, pure [[StreamScd2.applyBatch]] over that
    * restricted history, one shared delta write, pointer swap. */
  def applyIfNew(batch: DataFrame, batchId: Long): Boolean = {
    val (seq, last) = pointer()
    if (batchId <= last) return false
    val m = manifest()
    val st = BucketedStateStore.batchStats(m.nBuckets, batch, layout)
    if (st.rows == 0) {
      // no-op merge: only the replay guard advances. The write still
      // rewrites the two-token pointer, so it must pass the same CAS
      // every data commit does — otherwise a concurrent writer's
      // manifest seq committed between pointer() and here would be
      // silently reverted (and its data later vacuumed).
      preSwapHook()
      BucketedStateStore.checkPointerUnmoved(dir, seq)
      BucketedStateStore.writePointer(dir, seq, Some(batchId))
      false
    } else {
      recordKeyType()
      val prior = lookup(m, batch, st)
      BucketedStateStore.commitOn(m, StreamScd2.applyBatch(prior, batch), dir,
        Spec(m.nBuckets, compactThreshold, retainManifests), st.dirty,
        BucketedStateStore.TargetBucketBytes, layout, Some(batchId), preSwapHook)
      true
    }
  }

  /** Re-bucket the history to `newNBuckets` — the maintenance
    * operation a growing deployment runs when buckets outgrow their
    * target size (same contract as
    * [[graft.cdc.BucketedStateStore.reshard]], except that the retained
    * history is kept): one full resolved read → one partitioned rewrite
    * → one pointer swap carrying the replay guard; readers resolve the
    * old manifest until the swap. Single-writer: run BETWEEN triggers. */
  def reshard(newNBuckets: Int): Unit = {
    checkKeyType()
    BucketedStateStore.reshard(spark, dir, newNBuckets, layout, Some(lastBatchId), retainManifests)
  }

  /** One-time seed of a FRESH bucketed layout from a complete history
    * frame — the offline legacy→bucketed migration entry point
    * ([[graft.tools.MigrateState]]): every key's chain lands as the
    * initial per-bucket BASE (manifest seq 0), and the pointer carries
    * `lastBatchId` so the resuming tail's replay guard survives the
    * backend switch exactly. Refuses a dir that already holds a
    * bucketed layout — migration never overwrites live state. */
  def seed(history: DataFrame, lastBatchId: Long): Unit = {
    require(!BucketedStateStore.exists(dir),
      s"scd2 history at $dir already holds a bucketed layout; seed only initializes fresh layouts")
    recordKeyType()
    BucketedStateStore.writeManifest(dir,
      BucketedStateStore.writeBase(history, dir, 0L, nBuckets, layout), Some(lastBatchId))
  }
}

object Scd2BucketedTable {
  /** Has a bucketed history been initialized at `dir`? (two-token
    * pointer under the CDC store's pointer name). */
  def exists(dir: String): Boolean = BucketedStateStore.exists(dir)
}
