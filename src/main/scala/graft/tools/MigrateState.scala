package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.cdc.{BucketedStateStore, StateIO, StateStore}
import graft.streaming.{Scd2BucketedTable, StreamScd2}

/** Offline legacy→bucketed state migration (VERDICT r10 "What's
  * missing" #2): the existing-layout-is-authoritative rule
  * ([[StateStore.resolveBackend]], [[StreamScd2.table]]) is right for
  * safety but permanently locks a pre-r7 deployment — or any history
  * that ever committed legacy — into the O(state)-per-trigger rewrite
  * path. This tool closes that: read the legacy VERSION store, write
  * an equivalent bucketed base + manifest INTO THE SAME directory,
  * verify row-level equality, and only then retire the legacy pointer.
  *
  * Crash-safety comes from the backends' own resolution order: both
  * `StateStore.read` and `StreamScd2.table` prefer a legacy VERSION
  * pointer over a bucketed manifest, so every intermediate state of
  * this migration (bucketed files written, manifest written, verify
  * running, crash anywhere) still reads as the untouched legacy store.
  * The single pointer-delete at the end IS the swap; the legacy
  * pointer's content is preserved in `VERSION.premigration` and the
  * `v_N` data directories are left on disk for manual rollback
  * (restore the pointer file and delete MANIFEST + data/).
  *
  * Run: `sbt "runMain graft.tools.MigrateState <cdc|scd2> <dir> [nBuckets]"`.
  */
object MigrateState {

  final case class Report(kind: String, dir: String, rows: Long, nBuckets: Int,
      lastBatchId: Long)

  /** Row-level diff both directions; 0 ⇔ multiset-equal modulo exact
    * duplicate multiplicity (the state/history stores never hold
    * duplicate full rows: CDC state is unique by id, SCD2 history by
    * (key, version)). */
  private def diffCount(a: DataFrame, b: DataFrame): Long = {
    val cols = a.columns.sorted.toSeq
    val an = a.select(cols.map(org.apache.spark.sql.functions.col): _*)
    val bn = b.select(cols.map(org.apache.spark.sql.functions.col): _*)
    an.exceptAll(bn).count() + bn.exceptAll(an).count()
  }

  /** Migrate a legacy CDC [[StateStore]] (VERSION + v_N parquet) to the
    * incremental [[BucketedStateStore]] layout in place. No-op error if
    * the dir holds no legacy store. */
  def migrateCdc(spark: SparkSession, dir: String,
      spec: BucketedStateStore.Spec = BucketedStateStore.Spec()): Report = {
    if (StateStore.currentVersion(dir).isEmpty)
      throw new IllegalStateException(s"$dir holds no legacy VERSION store to migrate")
    require(!BucketedStateStore.exists(dir),
      s"$dir already holds a bucketed manifest — refusing to overwrite " +
        "(an earlier migration may have been interrupted after its swap; " +
        "inspect VERSION.premigration)")
    // snapshot the pointer ONCE; everything below (legacy read, seed,
    // verify, swap) is keyed to this content so a live writer moving the
    // pointer mid-migration is caught by the CAS in swapOutLegacy
    val pointer0 = StateIO.readString(s"$dir/VERSION").trim
    val legacy = spark.read.parquet(s"$dir/v_${pointer0.toInt}")
    BucketedStateStore.seed(legacy, dir, spec)
    val diff = diffCount(legacy, BucketedStateStore.read(spark, dir))
    if (diff != 0) {
      // verification failed: withdraw the half-built bucketed layout so
      // the directory stays unambiguously legacy
      BucketedStateStore.withdraw(dir)
      throw new IllegalStateException(
        s"migration verification failed for $dir: $diff differing rows; legacy store untouched")
    }
    swapOutLegacy(dir, pointer0)
    Report("cdc", dir, legacy.count(), spec.nBuckets, -1L)
  }

  /** Migrate a legacy [[StreamScd2.Scd2Table]] history (VERSION holds
    * "version lastBatchId") to [[Scd2BucketedTable]] in place. The
    * legacy pointer's lastBatchId is carried into the bucketed pointer,
    * so a resuming tail's foreachBatch replay guard is preserved
    * exactly across the backend switch. */
  def migrateScd2(spark: SparkSession, dir: String, nBuckets: Int = 16): Report = {
    if (!StateIO.exists(s"$dir/VERSION"))
      throw new IllegalStateException(s"$dir holds no legacy VERSION history to migrate")
    require(!Scd2BucketedTable.exists(dir),
      s"$dir already holds a bucketed manifest — refusing to overwrite " +
        "(an earlier migration may have been interrupted after its swap; " +
        "inspect VERSION.premigration)")
    val pointer0 = StateIO.readString(s"$dir/VERSION").trim
    val keyType = legacyScd2KeyType(spark, dir, pointer0)
    val legacyTable = new StreamScd2.Scd2Table(spark, dir, keyType = keyType)
    val legacy = legacyTable.read()
    val lastBatchId = legacyTable.lastBatchId
    val bucketed = new Scd2BucketedTable(spark, dir, nBuckets = nBuckets, keyType = keyType)
    bucketed.seed(legacy, lastBatchId)
    val diff = diffCount(legacy, bucketed.read())
    if (diff != 0) {
      BucketedStateStore.withdraw(dir)
      throw new IllegalStateException(
        s"migration verification failed for $dir: $diff differing rows; legacy history untouched")
    }
    swapOutLegacy(dir, pointer0)
    Report("scd2", dir, legacy.count(), nBuckets, lastBatchId)
  }

  /** The legacy history's key type, read from its current version's
    * parquet schema (the legacy backend records no KEYTYPE file). */
  private def legacyScd2KeyType(spark: SparkSession, dir: String, pointer: String) = {
    val v = pointer.split(' ')(0).toInt
    if (v < 0) org.apache.spark.sql.types.LongType
    else spark.read.parquet(s"$dir/v_$v").schema("key").dataType
  }

  /** The swap: CAS-check that the legacy pointer still holds the exact
    * content the migration snapshotted at start (the tool is documented
    * offline, but nothing else enforces it — a live tail committing a
    * new legacy version mid-migration would otherwise be silently
    * dropped from the bucketed layout), preserve the pointer content
    * for rollback, then remove the pointer — from here both backends'
    * resolution order selects the bucketed layout. The v_N data dirs
    * stay on disk. Mirrors the online commits' checkPointerUnmoved. */
  /** Test hook: runs immediately before the pointer-swap CAS check,
    * letting the spec interpose a concurrent legacy writer (the same
    * discipline as the online commits' preSwap hooks). */
  private[tools] var preSwapHook: () => Unit = () => ()

  private def swapOutLegacy(dir: String, pointerAtStart: String): Unit = {
    preSwapHook()
    val now = StateIO.readString(s"$dir/VERSION").trim
    if (now != pointerAtStart) {
      // withdraw the half-built bucketed layout so the directory stays
      // unambiguously legacy, exactly like a failed verification
      BucketedStateStore.withdraw(dir)
      throw new IllegalStateException(
        s"concurrent writer on legacy store at $dir during migration: " +
          s"VERSION moved from '$pointerAtStart' to '$now'; bucketed manifest " +
          "withdrawn, legacy store untouched — quiesce writers and re-run")
    }
    StateIO.writeStringAtomic(s"$dir/VERSION.premigration", pointerAtStart)
    StateIO.delete(s"$dir/VERSION")
  }

  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: MigrateState <cdc|scd2> <dir> [nBuckets]")
    val spark = SparkSession.builder()
      .master(sys.env.getOrElse("SPARK_GRAFT_MASTER", "local[8]"))
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.session.timeZone", "UTC")
      .appName("graft-migrate-state")
      .getOrCreate()
    try {
      val r = args(0) match {
        case "cdc" =>
          val spec = if (args.length > 2)
            BucketedStateStore.Spec(nBuckets = args(2).toInt)
          else BucketedStateStore.Spec()
          migrateCdc(spark, args(1), spec)
        case "scd2" =>
          migrateScd2(spark, args(1),
            if (args.length > 2) args(2).toInt else 16)
        case other => throw new IllegalArgumentException(s"unknown store kind '$other'")
      }
      println(s"""{"migrated":"${r.kind}","dir":"${r.dir}","rows":${r.rows},""" +
        s""""n_buckets":${r.nBuckets},"last_batch_id":${r.lastBatchId}}""")
    } finally spark.stop()
  }
}
