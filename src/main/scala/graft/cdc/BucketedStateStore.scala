package graft.cdc

import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{Column, DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.catalyst.CatalystTypeConverters
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String
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
  * `mget` (S6, reference src/elasticsearch.ts:30-63). The key set is
  * the batch's distinct keys, collected by the stats pass and shipped
  * back as one driver-built local relation while they fit under the
  * session's broadcast threshold; the source semi join reads the same
  * frame, so AQE broadcasts it once and reuses the exchange. The state
  * side streams through the join co-located with its files: no
  * exchange ever materializes the state (pinned by BucketedStoreSpec's
  * prior-key lookup plan assertion), and the per-apply lookup hands the
  * fold the raw versions — the fold's own shuffle on the key resolves
  * them. A `min(id)..max(id)` range predicate on the scan is pushed to
  * parquet, so with id-sorted bases (written sorted) and a key-local
  * batch, row-group min/max skipping prunes below bucket granularity.
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
  *
  * This object is the only code that knows the layout. Two tables run
  * on it: the CDC state above, and the streaming SCD2 history
  * ([[graft.streaming.Scd2BucketedTable]]). The pointer, manifest,
  * scan, lookup, commit, compaction, reshard and vacuum helpers take a
  * [[Layout]] for what differs between them (key column, row schema,
  * resolution rule), and the pointer may carry a second token (the
  * history's last applied batch id).
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

  /** How a key's rows resolve across base and delta commits. */
  private[graft] sealed trait Resolution
  /** The key's row from the highest commit wins; an `action = delete`
    * row is a tombstone that erases the key (the CDC state). */
  private[graft] case object NewestRow extends Resolution
  /** Every row of the key's highest commit is the key's value: each
    * commit writes the key's complete row set (the SCD2 history). */
  private[graft] case object NewestCommit extends Resolution

  /** What a table on this layout defines: its key column, its row
    * schema and its resolution rule. Files hold the rows plus `__seq`,
    * and under [[NewestRow]] an `action` column before it. */
  private[graft] final case class Layout(key: String, rows: StructType, resolution: Resolution) {
    val cols: Seq[String] = rows.fieldNames.toSeq
    val fileSchema: StructType = StructType(rows.fields ++
      (if (resolution == NewestRow) Seq(StructField("action", StringType)) else Nil) :+
      StructField("__seq", LongType))
    /** Bucket assignment: Spark's codegen'd Murmur3 `hash`, stable
      * across the write and every later read/lookup of the same store. */
    def bucket(n: Int): Column = pmod(hash(col(key)), lit(n))
    def empty(spark: SparkSession): DataFrame = emptyFrame(spark, rows)
  }

  private def emptyFrame(spark: SparkSession, schema: StructType): DataFrame =
    spark.createDataFrame(spark.sparkContext.emptyRDD[Row], schema)

  private[graft] val Cdc = Layout("id", StateStore.schema, NewestRow)

  def bucketCol(n: Int): Column = Cdc.bucket(n)

  // ---- manifest persistence (pointer swap, like StateStore.write) ----
  // All metadata IO goes through [[StateIO]] (the Hadoop FileSystem
  // layer), so `dir` may be any URI Spark itself can read — HDFS, an
  // object store via its connector, or a plain local path.

  private def pointer(dir: String) = s"$dir/MANIFEST"

  def exists(dir: String): Boolean = StateIO.exists(pointer(dir))

  /** Delete the pointer: `dir` no longer reads as a bucketed layout
    * (its data files stay) — how a migration withdraws a half-built one. */
  def withdraw(dir: String): Unit = StateIO.delete(pointer(dir))

  /** The pointer's manifest seq and its optional second token: the file
    * holds `<seq>` (CDC state) or `<seq> <token>` (SCD2 history, whose
    * token is the last applied batch id). None when there is none. */
  private[graft] def readPointer(dir: String): Option[(Long, Option[Long])] =
    if (!StateIO.exists(pointer(dir))) None
    else StateIO.readString(pointer(dir)).trim.split(' ') match {
      case Array(s, t) => Some((s.toLong, Some(t.toLong)))
      case Array(s)    => Some((s.toLong, None))
    }

  /** Write the pointer. Callers that move it past a seq they loaded
    * check it first ([[checkPointerUnmoved]]). */
  private[graft] def writePointer(dir: String, seq: Long, token: Option[Long]): Unit =
    StateIO.writeStringAtomic(pointer(dir), (seq +: token.toSeq).mkString(" "))

  /** The current manifest; None before the first commit (a pointer may
    * carry a token ahead of any commit, with seq -1). */
  def readManifest(dir: String): Option[Manifest] =
    readPointer(dir).collect { case (s, _) if s >= 0 =>
      Manifest.parse(StateIO.readString(s"$dir/manifest/m_$s.json"))
    }

  /** A RETAINED manifest by commit seq (None once vacuum dropped it) —
    * the time-travel entry point the retained-manifest chain exists
    * for. */
  def manifestAt(dir: String, seq: Long): Option[Manifest] = {
    val p = s"$dir/manifest/m_$seq.json"
    if (StateIO.exists(p)) Some(Manifest.parse(StateIO.readString(p))) else None
  }

  private[graft] def writeManifest(dir: String, m: Manifest, token: Option[Long] = None): Unit = {
    StateIO.writeStringAtomic(s"$dir/manifest/m_${m.seq}.json", m.render)
    writePointer(dir, m.seq, token)
  }

  // ---- reading ----

  private def scanPaths(spark: SparkSession, paths: Seq[String], l: Layout): DataFrame =
    spark.read.schema(l.fileSchema).parquet(paths: _*)

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
      spark: SparkSession, dir: String, m: Manifest, buckets: Iterable[Int], l: Layout): DataFrame = {
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
    if (rels.isEmpty) emptyFrame(spark, l.fileSchema)
    else {
      val rows = scanPaths(spark, rels.map(rel => s"$dir/$rel"), l)
      if (ownerGroups.isEmpty) rows
      else {
        def seqs(rs: Seq[String]): Column = col("__seq").isin(rs.map(commitSeq): _*)
        val scoped = ownerGroups.map { case (owners, deltas) =>
          seqs(deltas) && l.bucket(m.nBuckets).isin(owners.map(Integer.valueOf): _*)
        }
        rows.filter((if (baseRels.isEmpty) scoped else seqs(baseRels) +: scoped).reduce(_ || _))
      }
    }
  }

  /** The commit seq a data dir's rows carry, from its name. */
  private def commitSeq(rel: String): java.lang.Long =
    rel.split('/')(1).dropWhile(_ != '_').drop(1).toLong

  /** Resolution across base+delta rows by the layout's rule. Under
    * [[NewestRow]] the highest commit wins (a key appears at most once
    * per commit) and tombstones erase; under [[NewestCommit]] the key's
    * rows from its highest commit are kept. */
  private def resolve(rows: DataFrame, l: Layout): DataFrame = {
    val w = Window.partitionBy(col(l.key))
    val newest = l.resolution match {
      case NewestRow =>
        rows.withColumn("__rn", row_number().over(w.orderBy(col("__seq").desc)))
          .filter(col("__rn") === 1 && col("action") =!= "delete")
      case NewestCommit =>
        rows.withColumn("__mx", max(col("__seq")).over(w))
          .filter(col("__seq") === col("__mx"))
    }
    newest.select(l.cols.map(col): _*)
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
    readFrom(spark, dir, readManifest(dir), Cdc)

  /** Time-travel read: the live state AS OF commit `seq`. Safe for any
    * manifest vacuum still retains (vacuum only deletes data files no
    * retained manifest references); None once the manifest is gone. */
  def readAt(spark: SparkSession, dir: String, seq: Long): Option[DataFrame] =
    manifestAt(dir, seq).map(m => readFrom(spark, dir, Some(m), Cdc))

  private[graft] def readFrom(
      spark: SparkSession, dir: String, mOpt: Option[Manifest], l: Layout): DataFrame =
    mOpt match {
      case Some(m) if m.buckets.nonEmpty =>
        val (clean, dirty) = m.buckets.partition(_._2.deltas.isEmpty)
        val parts = Seq(
          if (clean.isEmpty) None
          else Some(scanPaths(spark, m.livePathsFor(dir, clean.keys), l).select(l.cols.map(col): _*)),
          if (dirty.isEmpty) None
          else Some(resolve(scanBuckets(spark, dir, m, dirty.keys, l), l)),
        ).flatten
        parts.reduce(_ unionByName _)
      case _ => l.empty(spark)
    }

  /** Seed the store from a full state DataFrame (the scan backfill, L5
    * start): one id-sorted base file per bucket, manifest seq 0, with
    * exactly `spec.nBuckets` buckets (the backfill passes the count
    * [[bucketsFor]] picked). */
  def seed(state: DataFrame, dir: String, spec: Spec): Unit =
    writeManifest(dir, writeBase(state, dir, 0L, spec.nBuckets, Cdc))

  /** One partitioned, key-sorted base write of `rows` into
    * `data/base_<seq>` — the layout every seed, compaction and reshard
    * produces — and the manifest whose buckets all point at it. */
  private[graft] def writeBase(rows: DataFrame, dir: String, seq: Long, nBuckets: Int, l: Layout): Manifest = {
    val rel = s"data/base_$seq"
    val live = rows.select(l.cols.map(col): _*)
    (if (l.resolution == NewestRow) live.withColumn("action", lit("upsert")) else live)
      .withColumn("__seq", lit(seq))
      .withColumn("__bucket", l.bucket(nBuckets))
      .repartition(col("__bucket"))
      .sortWithinPartitions(col("__bucket"), col(l.key))
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
        val st = batchStats(m.nBuckets, keys, Cdc)
        resolve(lookup(spark, dir, m, batchKeys(keys, st, Cdc.key), st, Cdc), Cdc)
    }

  /** What the planner-side pruning needs from a batch: its row count,
    * the dirty bucket ids, the key range (null bounds when every key is
    * null) and its distinct non-null keys while they fit under the
    * session's broadcast threshold (None above it). */
  private[graft] final case class BatchStats(rows: Long, dirty: Set[Int], lo: Any, hi: Any, keys: Option[Seq[Any]])

  /** [[BatchStats]] in ONE pass over the batch (one job): each partition
    * counts its rows, bounds its keys, collects its buckets and its
    * distinct keys, and the driver combines them. On a persisted batch
    * this pass is the one that materialises the cache. A partition
    * stops collecting keys once they pass its share of the threshold,
    * so the driver never receives much more than the threshold; key
    * bytes are counted as 24 bytes of row and slot plus the key's own
    * bytes (a string's UTF-8 length, else the type's size), and a
    * threshold of -1 (broadcast off) collects none. */
  private[graft] def batchStats(nBuckets: Int, batch: DataFrame, l: Layout): BatchStats = {
    val kt = batch.schema(l.key).dataType
    val cap = batch.sparkSession.sessionState.conf.autoBroadcastJoinThreshold
    val rdd = batch.select(col(l.key), l.bucket(nBuckets)).queryExecution.toRdd
    val partCap = if (cap < 0) -1L else cap / math.max(1, rdd.getNumPartitions)
    def bytes(k: Any): Long = 24L + (k match {
      case s: UTF8String => s.numBytes.toLong
      case _             => kt.defaultSize.toLong
    })
    val parts = rdd.mapPartitions { it =>
      var n = 0L
      var lo, hi: Any = null
      val dirty = scala.collection.mutable.HashSet.empty[Int]
      val keys = scala.collection.mutable.HashSet.empty[Any]
      var keyBytes = 0L
      var fits = partCap >= 0
      it.foreach { r =>
        n += 1
        dirty += r.getInt(1)
        if (!r.isNullAt(0)) {
          val k = r.get(0, kt) match {
            case s: UTF8String => s.clone() // the row's buffer is reused
            case v             => v
          }
          if (lo == null || compareKeys(k, lo) < 0) lo = k
          if (hi == null || compareKeys(k, hi) > 0) hi = k
          if (fits && keys.add(k)) {
            keyBytes += bytes(k)
            if (keyBytes > partCap) { fits = false; keys.clear() }
          }
        }
      }
      Iterator.single((n, dirty.toArray, lo, hi, if (fits) Some(keys.toArray) else None))
    }.collect()
    val bounds = parts.flatMap(p => Option(p._3) ++ Option(p._4)).sortWith(compareKeys(_, _) < 0)
    def toScala(v: Any): Any = if (v == null) null else CatalystTypeConverters.convertToScala(v, kt)
    val keys =
      if (parts.exists(_._5.isEmpty)) None
      else Some(parts.flatMap(_._5.get).distinct.toSeq).filter(_.map(bytes).sum <= cap)
    BatchStats(parts.map(_._1).sum, parts.flatMap(_._2).toSet,
      toScala(bounds.headOption.orNull), toScala(bounds.lastOption.orNull), keys.map(_.map(toScala)))
  }

  /** Order of two internal key values of one type (UTF8String bytes,
    * boxed numbers, Decimal — every orderable key type is Comparable). */
  private def compareKeys(a: Any, b: Any): Int = a.asInstanceOf[Comparable[Any]].compareTo(b)

  /** The key side of a batch's point lookups (the state lookup and
    * [[restrictSource]]). While the stats pass collected the keys, they
    * come back as ONE broadcast local relation: both semi joins read the
    * same frame, so AQE runs one broadcast job and reuses its exchange
    * (it never reuses an exchange over a cached relation). Above the
    * threshold the side is the batch's RAW `key` column: both consumers
    * are LEFT SEMI joins, which never duplicate a row however often a
    * key repeats, so no distinct aggregate (no shuffle) precedes the
    * join, and the side is the PLAIN exchange AQE's OptimizeSkewedJoin
    * pattern-matches (pinned by MultiBatchPropertySpec). */
  private[graft] def batchKeys(batch: DataFrame, st: BatchStats, key: String): DataFrame =
    st.keys match {
      case Some(ks) =>
        broadcast(batch.sparkSession.createDataFrame(
          ks.map(Row(_)).asJava, StructType(Seq(batch.schema(key)))))
      case None => batch.select(col(key))
    }

  /** A source snapshot cut down to a [[batchKeys]] key side: O(batch)
    * rows into the fold instead of O(source), and a semantic no-op,
    * since a key without events emits nothing from the fold. */
  private[graft] def restrictSource(source: DataFrame, keys: DataFrame): DataFrame =
    source.join(keys, Seq("id"), "left_semi")

  /** The rows of `m` for the batch keys in `keys` (a [[batchKeys]]
    * frame): a LEFT SEMI join over the dirty buckets' files, with the
    * batch's key range pushed to parquet. Under [[NewestRow]] it returns
    * the scoped RAW versions (the layout's file columns: `action` and
    * `__seq` included) — the CDC fold already shuffles on the key, so it
    * resolves them there instead of a window shuffling them first;
    * [[NewestCommit]] resolves here. */
  private[graft] def lookup(
      spark: SparkSession, dir: String, m: Manifest,
      keys: DataFrame, st: BatchStats, l: Layout): DataFrame = {
    val paths = m.livePathsFor(dir, st.dirty)
    if (paths.isEmpty || st.lo == null)
      if (l.resolution == NewestRow) emptyFrame(spark, l.fileSchema) else l.empty(spark)
    else {
      val raw = scanBuckets(spark, dir, m, st.dirty, l)
        .filter(col(l.key) >= lit(st.lo) && col(l.key) <= lit(st.hi))
        .join(keys, Seq(l.key), "left_semi")
      if (l.resolution == NewestRow) raw else resolve(raw, l)
    }
  }

  /** The store is SINGLE-WRITER by contract (one streaming query owns a
    * checkpoint dir); this detects a violated contract rather than
    * silently orphaning one writer's commit: the manifest pointer is
    * re-read immediately before each swap and the commit aborts if
    * another writer advanced it since our manifest was loaded. Only the
    * pointer file is read — the seq is all the check compares. */
  private[graft] def checkPointerUnmoved(dir: String, expected: Long): Unit = {
    val cur = readPointer(dir).fold(-1L)(_._1)
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
      applied, dir, spec, dirty, TargetBucketBytes, Cdc, None, preSwap)

  /** [[commitDelta]] against a manifest the caller already loaded (the
    * per-trigger apply reads it once for the lookup and the commit),
    * growing the bucket count past `target` bytes per base. Every
    * pointer swap writes `token` as the pointer's second token.
    * `committed` receives the committed delta read back (the columns of
    * `applied`) right after its pointer swap, before compaction and
    * vacuum can retire it: exactly the rows the fold produced, without
    * a cache or a second fold. */
  private[graft] def commitOn(
      m: Manifest, applied: DataFrame, dir: String, spec: Spec, dirty: Set[Int],
      target: Long, l: Layout, token: Option[Long], preSwap: () => Unit = () => (),
      committed: Option[DataFrame => Unit] = None): Long = {
    val spark = applied.sparkSession
    val seq = m.seq + 1
    val rel = s"data/delta_$seq"
    applied
      .withColumn("__seq", lit(seq))
      .sortWithinPartitions(col(l.key)) // row-group stats for later pruning
      .write.mode("overwrite").parquet(s"$dir/$rel")
    var next = Manifest(m.nBuckets, seq, dirty.foldLeft(m.buckets) { (acc, b) =>
      val cur = acc.getOrElse(b, BucketFiles(None, Vector.empty))
      acc.updated(b, cur.copy(deltas = cur.deltas :+ rel))
    })
    preSwap()
    checkPointerUnmoved(dir, m.seq)
    writeManifest(dir, next, token)
    committed.foreach(f => f(scanPaths(spark, Seq(s"$dir/$rel"), l).select(applied.columns.toSeq.map(col): _*)))

    // amortized compaction: all over-threshold buckets in ONE job,
    // scanned bucket-scoped so a stale shared-delta row of an
    // already-compacted bucket can never bake into the new base.
    val toCompact = next.buckets.filter(_._2.deltas.size >= spec.compactThreshold).keys.toSeq.sorted
    if (toCompact.nonEmpty) {
      val compacted = writeBase(
        resolve(scanBuckets(spark, dir, next, toCompact, l), l), dir, next.seq + 1, next.nBuckets, l)
      val rebased = toCompact.foldLeft(next.buckets) { (acc, b) =>
        compacted.buckets.get(b) match {
          case Some(f) => acc.updated(b, f)
          case None    => acc - b // bucket fully deleted
        }
      }
      checkPointerUnmoved(dir, seq) // our own delta swap must still be current
      next = Manifest(next.nBuckets, compacted.seq, rebased)
      writeManifest(dir, next, token)
      // growth: a compacted base past the target doubles the bucket
      // count, up to the cap — the sizing rule applied as the state grows.
      // The vacuum below keeps `retainManifests` of history across it:
      // each manifest carries its own count, and readAt scopes with it.
      val outgrown = next.nBuckets < spec.nBuckets && compacted.buckets.values
        .exists(_.base.exists(p => dataBytes(s"$dir/$p") > target))
      if (outgrown) next = rebucket(spark, dir, next, math.min(2 * next.nBuckets, spec.nBuckets), l, token)
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
    * keys and resolves the looked-up versions), and commit the outcomes
    * as one shared delta. The manifest is read once, and one pass over
    * `events` yields its row count, dirty buckets, id range and key
    * side ([[batchStats]]); callers that run several actions over the
    * batch persist it first (the tail does), so that pass is the one
    * that materialises it. Returns the committed manifest seq, or None
    * for an empty batch, which commits nothing. */
  def applyBatch(
      events: Dataset[OplogRow],
      task: TaskSpec,
      dir: String,
      spec: Spec,
      source: Option[DataFrame] = None,
      dropped: Option[org.apache.spark.util.LongAccumulator] = None,
      // load-leg side output: the batch's per-key outcomes (id, doc,
      // parent, ts, action), exactly what the commit wrote — e.g. the
      // tail's bulk-body emitter (L2). It reads the committed delta
      // back after the pointer swap, so the fold runs once and nothing
      // is cached.
      onOutcomes: Option[DataFrame => Unit] = None,
  ): Option[Long] =
    applySized(events, task, dir, spec, source, dropped, onOutcomes, TargetBucketBytes)

  /** [[applyBatch]] with the growth step at another per-bucket target
    * (specs use a tiny one to exercise growth on tiny state). */
  private[cdc] def applySized(
      events: Dataset[OplogRow], task: TaskSpec, dir: String, spec: Spec,
      source: Option[DataFrame], dropped: Option[org.apache.spark.util.LongAccumulator],
      onOutcomes: Option[DataFrame => Unit], target: Long): Option[Long] = {
    val m = readManifest(dir).getOrElse(Manifest(spec.nBuckets, -1L, Map.empty))
    val batch = events.toDF()
    val st = batchStats(m.nBuckets, batch, Cdc)
    if (st.rows == 0) None
    else {
      val keys = batchKeys(batch, st, Cdc.key)
      val applied = BatchApplier.applyOplogBatchKeepDeletes(
        events, lookup(events.sparkSession, dir, m, keys, st, Cdc), task,
        source.map(restrictSource(_, keys)), dropped)
      Some(commitOn(m, applied, dir, spec, st.dirty, target, Cdc, None, committed = onOutcomes))
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
  def reshard(spark: SparkSession, dir: String, newNBuckets: Int): Unit =
    reshard(spark, dir, newNBuckets, Cdc, None, retain = 1)

  /** [[reshard]] on any layout, keeping `token` on the pointer and
    * `retain` manifests of history afterwards. */
  private[graft] def reshard(spark: SparkSession, dir: String, newNBuckets: Int,
      l: Layout, token: Option[Long], retain: Int): Unit = {
    val m = readManifest(dir).getOrElse(
      throw new IllegalStateException(s"no bucketed state at $dir to reshard"))
    rebucket(spark, dir, m, newNBuckets, l, token)
    vacuum(dir, retain)
  }

  private def rebucket(spark: SparkSession, dir: String, m: Manifest, newNBuckets: Int,
      l: Layout, token: Option[Long]): Manifest = {
    val next = writeBase(readFrom(spark, dir, Some(m), l), dir, m.seq + 1, newNBuckets, l)
    checkPointerUnmoved(dir, m.seq)
    writeManifest(dir, next, token)
    next
  }

  /** Keep the newest `retain` manifests; delete older manifest files
    * and any data bucket directory none of the retained manifests
    * references. Bounds disk to retained-history size (VERDICT r6 #2).
    */
  def vacuum(dir: String, retain: Int): Unit = {
    if (!StateIO.exists(s"$dir/manifest")) return
    val current = readPointer(dir).fold(-1L)(_._1)
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
