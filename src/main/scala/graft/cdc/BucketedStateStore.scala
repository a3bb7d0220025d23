package graft.cdc

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.model.{DArr, DInt, DObj, DStr, DVal, Json, TaskSpec}

/** Incremental, log-structured state persistence for the CDC tail — the
  * 100 TB form of [[StateStore]] (VERDICT r6 #1; the design
  * `BatchApplier`'s Scaladoc promises).
  *
  * The legacy [[StateStore]] path rewrites the ENTIRE state every
  * micro-batch: O(state) shuffle + parquet write per 5 s trigger, which
  * cannot survive state ≫ batch. This store makes the per-batch cost a
  * function of the BATCH, not the state:
  *
  *  - The key space is hash-partitioned into `nBuckets` buckets
  *    (`pmod(hash(id), nBuckets)`); each bucket owns one BASE file
  *    directory (id-sorted parquet). The count is recorded in the
  *    manifest: the scan backfill picks it from the snapshot's size
  *    ([[bucketsFor]]), and compaction doubles it (the rewrite
  *    [[reshard]] does) once a bucket's base outgrows the target (see
  *    Sizing below).
  *  - Data files are immutable. A micro-batch commit writes ONE shared
  *    DELTA directory holding the batch's per-key outcomes (upserts +
  *    delete tombstones) — an O(batch) write in O(task-count) files,
  *    NOT one file per bucket: a hash-bucketed batch dirties many
  *    buckets at once, and per-bucket delta files would drown the
  *    commit in tiny-file overhead.
  *  - A versioned MANIFEST (JSON, atomically swapped pointer — the same
  *    trick a Delta/Iceberg transaction log uses) maps each bucket to
  *    its base + the ordered delta commits that TOUCHED it. Untouched
  *    buckets keep their entries verbatim — their read path never grows
  *    — while dirty buckets reference the shared delta directory.
  *  - Reads resolve last-writer-wins per key across base ∪ deltas:
  *    the row from the highest commit `__seq` wins (each commit's row
  *    already beat the state visible to it, so commit order IS the
  *    resolution order); `action = delete` tombstones erase the key.
  *  - Buckets whose delta chain exceeds `compactThreshold` are merged
  *    (base ∪ deltas → new base, tombstones dropped) in one amortized
  *    job covering all over-threshold buckets.
  *
  * Per-batch state ACCESS is a point lookup, not a scan-and-rewrite:
  * the prior docs for exactly the batch's keys come from a broadcast
  * hash join of the (small) key set against only the dirty buckets'
  * files — the engine-owned analog of the reference's batched ES
  * `mget` (S6, reference src/elasticsearch.ts:30-63). The state side
  * streams through the join co-located with its files: no exchange
  * ever materializes the state (pinned by BucketedStateSpec's plan
  * assertion). A `min(id)..max(id)` range predicate on the scan is
  * pushed to parquet, so with id-sorted bases (written sorted) and a
  * key-local batch, row-group min/max skipping prunes below bucket
  * granularity.
  *
  * Sizing: `nBuckets ≈ state_bytes / TargetBucketBytes` (16 MB),
  * clamped to `[1, Spec.nBuckets]`. The scan backfill
  * ([[graft.pipeline.ScanJob.backfill]]) applies the rule to the
  * snapshot frame's size statistic; a source without a statistic seeds
  * the cap. The target is set by per-trigger cost, not by file-size
  * convention. A bucket is the unit of lookup pruning and of base-write
  * parallelism (a seed, compaction or growth step writes one task per
  * bucket), while every leaf dir costs a listing entry and a file open
  * on each read, and past 32 paths Spark lists them in a job of its
  * own. Measured with `graft.tools.StateScaling` (16 uniform triggers,
  * local[2], BASELINE.md round-7 note): a 56 MB state ran its triggers
  * fastest at 4–16 buckets, 18% slower at 1 and 12% slower at 64; a
  * 6 MB state ran fastest at 1 bucket, in half the time of 64. When a
  * compaction leaves a base above the target and the count is under the
  * cap, the commit doubles the count. That trigger rewrites the whole
  * state, at most `Spec.nBuckets / 2 × TargetBucketBytes` (512 MB at
  * the defaults), once per doubling. Below the cap a store has fewer
  * buckets than a cap-sized layout: a trigger with fewer keys than
  * buckets reads more of the state, and a trigger that dirties every
  * bucket compacts them all in the same trigger (a cap-sized layout
  * does the same once triggers carry more keys than it has buckets).
  * Per-batch read cost is `dirtyBuckets/nBuckets × state` in the worst
  * (uniformly random keys) case and `O(batch)` when updates exhibit key
  * locality (the common CDC regime — hot working set), while the WRITE
  * cost is always O(batch). This is the LSM trade: reads pay a bounded delta-chain
  * merge, writes never touch cold data.
  *
  * Crash safety: data writes land before the manifest pointer swap, so
  * a crash mid-commit leaves an orphaned (unreferenced) delta directory
  * and the previous manifest — readers never see partial commits, and a
  * foreachBatch replay simply re-derives the same outcomes against the
  * old manifest (the LWW ts-guard makes the replayed values identical).
  * [[vacuum]] retains the last `retainManifests` manifests for time
  * travel and deletes data directories no retained manifest references.
  */
object BucketedStateStore {

  /** Tuning. `nBuckets` caps the bucket count: the backfill seeds
    * `min(nBuckets, ceil(snapshot bytes / TargetBucketBytes))` buckets
    * ([[bucketsFor]]), compaction doubles the count up to this cap, and
    * a store the tail creates from nothing (no backfill) starts at it.
    * The manifest records the count in force — a later Spec never
    * re-buckets an existing store by itself. `compactThreshold` bounds
    * a bucket's delta-chain length; `retainManifests` bounds
    * time-travel history (and therefore disk) for [[vacuum]], across
    * growth steps too. */
  final case class Spec(
      nBuckets: Int = 64,
      compactThreshold: Int = 8,
      retainManifests: Int = 3)

  /** The per-bucket base size the sizing rule aims at (the class doc's
    * Sizing paragraph gives the measurements behind it). */
  final val TargetBucketBytes: Long = 16L << 20

  final case class BucketFiles(base: Option[String], deltas: Vector[String]) {
    def paths: Seq[String] = base.toSeq ++ deltas
  }

  final case class Manifest(nBuckets: Int, seq: Long, buckets: Map[Int, BucketFiles]) {
    def livePaths(dir: String, bucket: Int): Seq[String] =
      buckets.get(bucket).toSeq.flatMap(_.paths).map(rel => s"$dir/$rel")
    /** Paths for a SET of buckets, deduplicated: delta dirs are shared
      * across the buckets one commit touched. */
    def livePathsFor(dir: String, bs: Iterable[Int]): Seq[String] =
      bs.toSeq.sorted.flatMap(livePaths(dir, _)).distinct
    def allLivePaths(dir: String): Seq[String] =
      livePathsFor(dir, buckets.keys)
    def render: String = DObj(
      "nBuckets" -> DInt(nBuckets),
      "seq" -> DInt(seq),
      "buckets" -> DObj(buckets.toVector.sortBy(_._1).map { case (b, f) =>
        val fields = f.base.map(p => "base" -> (DStr(p): DVal)).toVector :+
          ("deltas" -> (DArr(f.deltas.map(DStr(_): DVal)): DVal))
        b.toString -> (DObj(fields): DVal)
      })).render
  }

  object Manifest {
    def parse(s: String): Manifest = {
      val o = Json.parseObj(s)
      def int(v: DVal): Long = v match { case DInt(i) => i; case other => other.render.toLong }
      val buckets = o.get("buckets") match {
        case Some(bo: DObj) => bo.fields.map { case (k, v) =>
          val f = v.asInstanceOf[DObj]
          val base = f.get("base").collect { case DStr(p) => p }
          val deltas = f.get("deltas") match {
            case Some(DArr(items)) => items.collect { case DStr(p) => p }
            case _                 => Vector.empty[String]
          }
          k.toInt -> BucketFiles(base, deltas)
        }.toMap
        case _ => Map.empty[Int, BucketFiles]
      }
      Manifest(int(o.get("nBuckets").get).toInt, int(o.get("seq").get), buckets)
    }
  }

  /** Bucket assignment: Spark's codegen'd Murmur3 `hash`, stable across
    * the write and every later read/lookup of the same store. */
  def bucketCol(n: Int): Column = pmod(hash(col("id")), lit(n))

  // ---- manifest persistence (pointer swap, like StateStore.write) ----
  // All metadata IO goes through [[StateIO]] (the Hadoop FileSystem
  // layer), so `dir` may be any URI Spark itself can read — HDFS, an
  // object store via its connector, or a plain local path.

  private def pointer(dir: String) = s"$dir/MANIFEST"

  def exists(dir: String): Boolean = StateIO.exists(pointer(dir))

  def readManifest(dir: String): Option[Manifest] = {
    if (!StateIO.exists(pointer(dir))) None
    else {
      val v = StateIO.readString(pointer(dir)).trim.toLong
      Some(Manifest.parse(StateIO.readString(s"$dir/manifest/m_$v.json")))
    }
  }

  /** A RETAINED manifest by commit seq (None once vacuum dropped it) —
    * the time-travel entry point the retained-manifest chain exists
    * for. */
  def manifestAt(dir: String, seq: Long): Option[Manifest] = {
    val p = s"$dir/manifest/m_$seq.json"
    if (StateIO.exists(p)) Some(Manifest.parse(StateIO.readString(p))) else None
  }

  private def writeManifest(dir: String, m: Manifest): Unit = {
    StateIO.writeStringAtomic(s"$dir/manifest/m_${m.seq}.json", m.render)
    StateIO.writeStringAtomic(pointer(dir), m.seq.toString)
  }

  // ---- reading ----

  private val fileSchema = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("id", org.apache.spark.sql.types.StringType),
    org.apache.spark.sql.types.StructField("doc", org.apache.spark.sql.types.StringType),
    org.apache.spark.sql.types.StructField("parent", org.apache.spark.sql.types.StringType),
    org.apache.spark.sql.types.StructField("ts", org.apache.spark.sql.types.LongType),
    org.apache.spark.sql.types.StructField("action", org.apache.spark.sql.types.StringType),
    org.apache.spark.sql.types.StructField("__seq", org.apache.spark.sql.types.LongType)))

  private def scanPaths(spark: SparkSession, paths: Seq[String]): DataFrame =
    spark.read.schema(fileSchema).parquet(paths: _*)

  /** Scan the rows of `buckets` with per-delta bucket SCOPING — the
    * guard against tombstone resurrection. A shared delta dir can
    * physically hold a row of a bucket that compacted SINCE the commit
    * (its chain no longer references the delta, and compaction dropped
    * the key's tombstone from the new base); reading that row through
    * ANOTHER bucket's chain would revive a deleted key as the highest
    * `__seq` version. So: base dirs scan unscoped (a base leaf holds
    * exactly one bucket's rows by construction), while each delta dir
    * is filtered to the buckets whose CURRENT chain references it.
    *
    * Every live file is read by ONE parquet scan. Each data dir is
    * written by one commit and stamps that commit's seq on all its rows
    * (`data/base_<seq>`, `data/delta_<seq>`), so the scoping is a row
    * predicate on `(__seq, bucket)` rather than a union of per-dir
    * scans — a union would make every join above it (the point
    * lookup's semi join) run once per branch. */
  private def scanBuckets(
      spark: SparkSession, dir: String, m: Manifest, buckets: Iterable[Int]): DataFrame = {
    val bs = buckets.toSeq.sorted
    val baseRels = bs.flatMap(b => m.buckets.get(b).flatMap(_.base))
    // delta dir -> the buckets whose chain references it, grouped by
    // owner set so deltas with the same owners share one predicate term
    val ownerGroups: Seq[(Seq[Int], Seq[String])] = bs
      .flatMap(b => m.buckets.get(b).toSeq.flatMap(_.deltas.map(_ -> b)))
      .groupBy(_._1).toSeq.map { case (rel, owners) => rel -> owners.map(_._2).toSet }
      .groupBy(_._2).toSeq
      .map { case (owners, rels) => (owners.toSeq.sorted, rels.map(_._1).sorted) }
      .sortBy(_._2.head)
    val rels = baseRels ++ ownerGroups.flatMap(_._2)
    if (rels.isEmpty)
      spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], fileSchema)
    else {
      val rows = scanPaths(spark, rels.map(rel => s"$dir/$rel"))
      if (ownerGroups.isEmpty) rows
      else {
        def seqs(rs: Seq[String]): Column = col("__seq").isin(rs.map(commitSeq): _*)
        val scoped = ownerGroups.map { case (owners, deltas) =>
          seqs(deltas) && bucketCol(m.nBuckets).isin(owners.map(Integer.valueOf): _*)
        }
        rows.filter((if (baseRels.isEmpty) scoped else seqs(baseRels) +: scoped).reduce(_ || _))
      }
    }
  }

  /** The commit seq a data dir's rows carry, from its name. */
  private def commitSeq(rel: String): java.lang.Long =
    rel.split('/')(1).dropWhile(_ != '_').drop(1).toLong

  /** LWW resolution across base+delta rows: highest commit wins (a key
    * appears at most once per commit), tombstones erase. */
  private def resolve(rows: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("id")).orderBy(col("__seq").desc)
    rows.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1 && col("action") =!= "delete")
      .select(StateStore.schemaCols.map(col): _*)
  }

  /** Current live state (id, doc, parent, ts) — the full-table read the
    * verify queries and restarts use; per-batch applies never call it.
    *
    * CLEAN buckets (base file, no delta chain) already hold exactly the
    * live rows — compaction resolved them — so they scan straight
    * through with NO exchange; only delta-bearing buckets pay the LWW
    * window. On a mostly-compacted 100 TB store the full read is
    * therefore shuffle-free for almost all of the data instead of
    * re-windowing every row. */
  def read(spark: SparkSession, dir: String): DataFrame =
    readFrom(spark, dir, readManifest(dir))

  /** Time-travel read: the live state AS OF commit `seq`. Safe for any
    * manifest vacuum still retains (vacuum only deletes data files no
    * retained manifest references); None once the manifest is gone. */
  def readAt(spark: SparkSession, dir: String, seq: Long): Option[DataFrame] =
    manifestAt(dir, seq).map(m => readFrom(spark, dir, Some(m)))

  private def readFrom(spark: SparkSession, dir: String, mOpt: Option[Manifest]): DataFrame =
    mOpt match {
      case Some(m) if m.buckets.nonEmpty =>
        val (clean, dirty) = m.buckets.partition(_._2.deltas.isEmpty)
        val parts = Seq(
          if (clean.isEmpty) None
          else Some(scanPaths(spark, m.livePathsFor(dir, clean.keys))
            .select(StateStore.schemaCols.map(col): _*)),
          if (dirty.isEmpty) None
          else Some(resolve(scanBuckets(spark, dir, m, dirty.keys))),
        ).flatten
        parts.reduce(_ unionByName _)
      case _ => StateStore.empty(spark)
    }

  /** Seed the store from a full state DataFrame (the scan backfill, L5
    * start): one id-sorted base file per bucket, manifest seq 0, with
    * exactly `spec.nBuckets` buckets (the backfill passes the count
    * [[bucketsFor]] picked). */
  def seed(state: DataFrame, dir: String, spec: Spec): Unit =
    writeManifest(dir, writeBase(state, dir, 0L, spec.nBuckets))

  /** One partitioned, id-sorted base write of `rows` into
    * `data/base_<seq>` — the layout every seed, compaction and reshard
    * produces — and the manifest whose buckets all point at it. */
  private def writeBase(rows: DataFrame, dir: String, seq: Long, nBuckets: Int): Manifest = {
    val rel = s"data/base_$seq"
    rows.select(StateStore.schemaCols.map(col): _*)
      .withColumn("action", lit("upsert"))
      .withColumn("__seq", lit(seq))
      .withColumn("__bucket", bucketCol(nBuckets))
      .repartition(col("__bucket"))
      .sortWithinPartitions(col("__bucket"), col("id"))
      .write.partitionBy("__bucket").mode("overwrite").parquet(s"$dir/$rel")
    Manifest(nBuckets, seq,
      listBucketDirs(dir, rel).map { case (b, p) => b -> BucketFiles(Some(p), Vector.empty) })
  }

  /** The frame's size statistic in bytes (file bytes for a file
    * source), or None when the plan reports Spark's default size — the
    * value a source without statistics (an RDD frame, a connector that
    * reports none) falls back to. */
  def sizeStatistic(df: DataFrame): Option[BigInt] = {
    val bytes = df.queryExecution.optimizedPlan.stats.sizeInBytes
    if (bytes >= df.sparkSession.sessionState.conf.defaultSizeInBytes) None else Some(bytes)
  }

  /** The sizing rule: `ceil(bytes / TargetBucketBytes)` buckets, clamped
    * to `[1, spec.nBuckets]`; no statistic keeps the cap. */
  def bucketsFor(bytes: Option[BigInt], spec: Spec): Int =
    bucketsFor(bytes, spec, TargetBucketBytes)

  /** [[bucketsFor]] against another target (specs use small ones). */
  private[cdc] def bucketsFor(bytes: Option[BigInt], spec: Spec, target: Long): Int = bytes match {
    case None => spec.nBuckets
    case Some(b) =>
      val n = (b + target - 1) / target
      n.max(BigInt(1)).min(BigInt(spec.nBuckets)).toInt
  }

  /** Prior state rows for EXACTLY the batch's keys — the engine's
    * `mget`. Only dirty buckets' files are touched; the key set is
    * broadcast so the state side never shuffles; the id range predicate
    * reaches parquet row-group stats. */
  def priorFor(spark: SparkSession, dir: String, keys: DataFrame): DataFrame =
    readManifest(dir) match {
      case None => StateStore.empty(spark)
      case Some(m) =>
        val st = batchStats(m.nBuckets, keys)
        priorForStats(spark, dir, m, keys.select(col("id")), st)
    }

  /** One tiny aggregate over the batch: its row count, a bound on its
    * distinct keys (the broadcast-cap probe), the dirty bucket ids and
    * the id range — everything the planner-side pruning needs, in a
    * single job. On a persisted batch this job is also the pass that
    * materialises it. */
  private final case class BatchStats(rows: Long, keys: Long, dirty: Set[Int], lo: String, hi: String)

  private def batchStats(nBuckets: Int, batch: DataFrame): BatchStats = {
    val row = batch.agg(
      count(lit(1)).as("n"),
      approx_count_distinct(col("id")).as("k"),
      collect_set(bucketCol(nBuckets)).as("bs"),
      min(col("id")).as("lo"),
      max(col("id")).as("hi")).head()
    val rows = row.getLong(0)
    // the HLL estimate (5% relative standard deviation) plus a 4-sigma
    // margin, never above the row count
    val keys = math.min(rows, math.ceil(row.getLong(1) * 1.2).toLong)
    BatchStats(rows, keys, row.getSeq[Int](2).toSet, row.getString(3), row.getString(4))
  }

  /** Above this many distinct batch keys the point-lookup stops forcing
    * a broadcast (a catch-up storm batch could be millions of keys —
    * hundreds of MB on every executor) and lets the planner pick the
    * join; correctness is unchanged, the state side merely shuffles for
    * that oversized trigger. */
  private[graft] val BroadcastKeyLimit = 500000L

  /** The lookup is a LEFT SEMI join against the batch's raw ids: a semi
    * join never duplicates a state row however often an id repeats in
    * the batch, so the key side needs no distinct aggregate — no shuffle
    * before the broadcast (the fold's source semi join keys the same
    * way). */
  private def priorForStats(
      spark: SparkSession, dir: String, m: Manifest,
      ids: DataFrame, st: BatchStats): DataFrame = {
    val paths = m.livePathsFor(dir, st.dirty)
    if (paths.isEmpty || st.lo == null) StateStore.empty(spark)
    else {
      val keySide = if (st.keys <= BroadcastKeyLimit) broadcast(ids) else ids
      resolve(
        scanBuckets(spark, dir, m, st.dirty)
          .filter(col("id") >= lit(st.lo) && col("id") <= lit(st.hi))
          .join(keySide, Seq("id"), "left_semi"))
    }
  }

  /** The store is SINGLE-WRITER by contract (one streaming query owns a
    * checkpoint dir); this detects a violated contract rather than
    * silently orphaning one writer's commit: the manifest pointer is
    * re-read immediately before each swap and the commit aborts if
    * another writer advanced it since our manifest was loaded. Only the
    * pointer file is read — the seq is all the check compares. */
  private def checkPointerUnmoved(dir: String, expected: Long): Unit = {
    val cur = if (StateIO.exists(pointer(dir))) StateIO.readString(pointer(dir)).trim.toLong else -1L
    if (cur != expected)
      throw new java.util.ConcurrentModificationException(
        s"concurrent writer on bucketed state at $dir: manifest seq moved " +
          s"$expected -> $cur since this commit loaded it; aborting (single-writer contract)")
  }

  /** Commit one micro-batch's per-key outcomes `(id, doc, parent, ts,
    * action)` as ONE shared delta directory referenced by every dirty
    * bucket, then compact any bucket whose delta chain crossed the
    * threshold. Returns the new manifest seq. Fails (without swapping
    * the pointer) if a concurrent writer committed in between; the
    * `preSwap` hook exists for the spec to interpose exactly that.  */
  def commitDelta(
      applied: DataFrame, dir: String, spec: Spec, dirty: Set[Int],
      preSwap: () => Unit = () => ()): Long =
    commitOn(readManifest(dir).getOrElse(Manifest(spec.nBuckets, -1L, Map.empty)),
      applied, dir, spec, dirty, TargetBucketBytes, preSwap)

  /** [[commitDelta]] against a manifest the caller already loaded (the
    * per-trigger apply reads it once for the lookup and the commit),
    * growing the bucket count past `target` bytes per base. */
  private def commitOn(
      m: Manifest, applied: DataFrame, dir: String, spec: Spec, dirty: Set[Int],
      target: Long, preSwap: () => Unit = () => ()): Long = {
    val spark = applied.sparkSession
    val seq = m.seq + 1
    val rel = s"data/delta_$seq"
    applied
      .withColumn("__seq", lit(seq))
      .sortWithinPartitions(col("id")) // row-group stats for later pruning
      .write.mode("overwrite").parquet(s"$dir/$rel")
    var next = Manifest(m.nBuckets, seq, dirty.foldLeft(m.buckets) { (acc, b) =>
      val cur = acc.getOrElse(b, BucketFiles(None, Vector.empty))
      acc.updated(b, cur.copy(deltas = cur.deltas :+ rel))
    })
    preSwap()
    checkPointerUnmoved(dir, m.seq)
    writeManifest(dir, next)

    // amortized compaction: all over-threshold buckets in ONE job,
    // scanned bucket-scoped so a stale shared-delta row of an
    // already-compacted bucket can never bake into the new base.
    val toCompact = next.buckets.filter(_._2.deltas.size >= spec.compactThreshold).keys.toSeq.sorted
    if (toCompact.nonEmpty) {
      val compacted = writeBase(
        resolve(scanBuckets(spark, dir, next, toCompact)), dir, next.seq + 1, next.nBuckets)
      val rebased = toCompact.foldLeft(next.buckets) { (acc, b) =>
        compacted.buckets.get(b) match {
          case Some(f) => acc.updated(b, f)
          case None    => acc - b // bucket fully deleted
        }
      }
      checkPointerUnmoved(dir, seq) // our own delta swap must still be current
      next = Manifest(next.nBuckets, compacted.seq, rebased)
      writeManifest(dir, next)
      // growth: a compacted base past the target doubles the bucket
      // count, up to the cap — the sizing rule applied as the state grows.
      // The vacuum below keeps `retainManifests` of history across it:
      // each manifest carries its own count, and readAt scopes with it.
      val outgrown = next.nBuckets < spec.nBuckets && compacted.buckets.values
        .exists(_.base.exists(p => dataBytes(s"$dir/$p") > target))
      if (outgrown) next = rebucket(spark, dir, next, math.min(2 * next.nBuckets, spec.nBuckets))
    }
    vacuum(dir, spec.retainManifests)
    next.seq
  }

  /** Bytes of the data files directly under `path` (a base leaf dir). */
  private def dataBytes(path: String): Long =
    StateIO.list(path).filter { st =>
      val n = st.getPath.getName
      st.isFile && !n.startsWith(".") && !n.startsWith("_")
    }.map(_.getLen).sum

  /** The full incremental micro-batch apply: point-lookup prior state
    * for the batch's keys, run the fused compact+dispatch+LWW fold
    * (which itself semi-joins the source snapshot down to the batch's
    * keys), and commit the outcomes as one shared delta. The manifest is
    * read once, and one aggregate over `events` yields its row count,
    * dirty buckets and id range; callers that run several actions over
    * the batch persist it first (the tail does), so that aggregate is
    * the pass that materialises it. Returns the committed manifest seq,
    * or None for an empty batch, which commits nothing. */
  def applyBatch(
      events: Dataset[OplogRow],
      task: TaskSpec,
      dir: String,
      spec: Spec,
      source: Option[DataFrame] = None,
      dropped: Option[org.apache.spark.util.LongAccumulator] = None,
      // load-leg side output: the batch's per-key outcomes (id, doc,
      // parent, ts, action), exactly what the commit writes — e.g. the
      // tail's bulk-body emitter (L2). The frame is persisted around
      // the commit when a consumer is present, so the fold runs once.
      onOutcomes: Option[DataFrame => Unit] = None,
  ): Option[Long] =
    applySized(events, task, dir, spec, source, dropped, onOutcomes, TargetBucketBytes)

  /** [[applyBatch]] with the growth step at another per-bucket target
    * (specs use a tiny one to exercise growth on tiny state). */
  private[cdc] def applySized(
      events: Dataset[OplogRow], task: TaskSpec, dir: String, spec: Spec,
      source: Option[DataFrame], dropped: Option[org.apache.spark.util.LongAccumulator],
      onOutcomes: Option[DataFrame => Unit], target: Long): Option[Long] = {
    val spark = events.sparkSession
    val m = readManifest(dir).getOrElse(Manifest(spec.nBuckets, -1L, Map.empty))
    val st = batchStats(m.nBuckets, events.toDF)
    if (st.rows == 0) None
    else {
      val prior = priorForStats(spark, dir, m, events.select(col("id")), st)
      val applied0 = BatchApplier.applyOplogBatchKeepDeletes(
        events, prior, task, source, dropped, batchKeyCount = Some(st.keys))
      val applied = if (onOutcomes.isDefined) applied0.persist() else applied0
      try {
        val r = commitOn(m, applied, dir, spec, st.dirty, target)
        onOutcomes.foreach(f => f(applied))
        Some(r)
      } finally if (onOutcomes.isDefined) { applied.unpersist(); () }
    }
  }

  /** Re-bucket the store to `newNBuckets` — the maintenance operation
    * for a count the sizing rule (class doc) does not reach on its own,
    * e.g. past `Spec.nBuckets`; a commit's compaction takes the same
    * step by itself while the count is under the cap. One full read →
    * one partitioned rewrite → one manifest swap; the store stays
    * readable throughout (readers resolve the old manifest until the
    * pointer moves). Unlike a growth step, which keeps the retained
    * history, an explicit reshard then drops every older manifest and
    * the old layout's files. Run it BETWEEN micro-batches (same
    * single-writer contract as commits themselves). */
  def reshard(spark: SparkSession, dir: String, newNBuckets: Int): Unit = {
    val m = readManifest(dir).getOrElse(
      throw new IllegalStateException(s"no bucketed state at $dir to reshard"))
    rebucket(spark, dir, m, newNBuckets)
    vacuum(dir, 1) // an explicit reshard reclaims the old layout's disk at once
  }

  private def rebucket(spark: SparkSession, dir: String, m: Manifest, newNBuckets: Int): Manifest = {
    val next = writeBase(readFrom(spark, dir, Some(m)), dir, m.seq + 1, newNBuckets)
    checkPointerUnmoved(dir, m.seq)
    writeManifest(dir, next)
    next
  }

  /** Keep the newest `retain` manifests; delete older manifest files
    * and any data bucket directory none of the retained manifests
    * references. Bounds disk to retained-history size (VERDICT r6 #2).
    */
  def vacuum(dir: String, retain: Int): Unit = {
    if (!StateIO.exists(s"$dir/manifest")) return
    val current = StateIO.readString(pointer(dir)).trim.toLong
    val all = StateIO.list(s"$dir/manifest")
      .flatMap { st =>
        val n = st.getPath.getName
        if (n.startsWith("m_") && n.endsWith(".json"))
          scala.util.Try(n.stripPrefix("m_").stripSuffix(".json").toLong).toOption.map(_ -> n)
        else None
      }.sortBy(_._1)
    val keepSeqs = all.map(_._1).filter(_ <= current).takeRight(math.max(1, retain)).toSet + current
    val referenced: Set[String] = keepSeqs.flatMap { s =>
      val p = s"$dir/manifest/m_$s.json"
      if (!StateIO.exists(p)) Set.empty[String]
      else Manifest.parse(StateIO.readString(p)).buckets.values.flatMap(_.paths).toSet
    }
    all.filterNot(m => keepSeqs.contains(m._1))
      .foreach(m => StateIO.delete(s"$dir/manifest/${m._2}"))
    // two layouts live under data/: shared delta dirs (referenced as a
    // whole, plain parquet inside) and base dirs (referenced per
    // `__bucket=i` leaf). Delete whatever no retained manifest names.
    StateIO.list(s"$dir/data").filter(_.isDirectory).foreach { commitSt =>
      val relDir = s"data/${commitSt.getPath.getName}"
      if (!referenced.contains(relDir)) {
        val leaves = StateIO.list(s"$dir/$relDir")
          .filter(_.getPath.getName.startsWith("__bucket="))
        if (leaves.isEmpty) StateIO.delete(s"$dir/$relDir") // shared delta, unreferenced
        else {
          leaves.foreach { leaf =>
            val rel = s"$relDir/${leaf.getPath.getName}"
            if (!referenced.contains(rel)) StateIO.delete(s"$dir/$rel")
          }
          if (StateIO.list(s"$dir/$relDir").forall(!_.getPath.getName.startsWith("__bucket=")))
            StateIO.delete(s"$dir/$relDir")
        }
      }
    }
  }

  /** Bucket leaf dirs actually written under `dir/rel` → relative path
    * per bucket id (a partitionBy writer only creates dirs for buckets
    * present in the data). */
  private def listBucketDirs(dir: String, rel: String): Map[Int, String] =
    StateIO.list(s"$dir/$rel").collect {
      case st if st.getPath.getName.startsWith("__bucket=") =>
        st.getPath.getName.stripPrefix("__bucket=").toInt -> s"$rel/${st.getPath.getName}"
    }.toMap
}
