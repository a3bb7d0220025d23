package graft.cdc

import org.apache.spark.sql.{DataFrame, Dataset, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.Transformer
import graft.model.{DObj, DStr, Json, Paths, TaskSpec}

/** Row of the fused micro-batch apply: state rows, source-snapshot rows
  * and oplog events tagged and unioned on one key. Top-level so
  * Catalyst codegen can construct it. */
final case class ApplyRow(
    id: String,
    kind: Int, // 0 = state row, 1 = source-snapshot row, 2 = oplog event
    ts: Long,
    op: String,
    ns: String,
    doc: String,
    parent: String,
    fromMigrate: Boolean)

/** The fused micro-batch apply: compact (C2) + dispatch (C1, S5–S7
  * lookups) + LWW state merge (L1/O9/O10) as ONE co-grouped pass.
  *
  * The modular operators ([[Compactor]], [[Dispatcher]],
  * [[StateStore.applyIRs]]) pay three key-hash shuffles per micro-batch
  * (compaction, state join, merge window) — all on the SAME key. Fusing
  * them unions state ∪ source ∪ events with a kind tag and groups once:
  * the whole batch apply is a single hash shuffle + one linear pass per
  * key, with O(events-per-key) group memory. At 100 TB this is the
  * difference between 3x and 1x network pass per micro-batch; with
  * bucketed/partitioned state storage the state side's shuffle drops
  * out entirely (co-located read).
  *
  * Semantics are inherited verbatim from the pure core: the per-key fold
  * is `mergeOplogs` -> `dispatch` -> ts-guarded LWW against the existing
  * state doc (IR wins ties — idempotent replays, O9). The equivalence
  * with the modular path is pinned by CdcPipelineSpec's model-fold test
  * running both.
  */
object BatchApplier {

  /** Apply one compacted-or-raw oplog micro-batch onto the state.
    * @param events raw events of ONE namespace (run P3 filters first)
    * @param state  current state (id, doc, parent, ts)
    * @param source optional source snapshot (id, doc) — the Mongo
    *               fallback for updates to never-seen keys
    * @param dropped optional accumulator counting events discarded by
    *               the per-event error contract (malformed JSON, failed
    *               dispatch) — the engine's side-output form of the
    *               reference's per-event warn logging (P6,
    *               processor.ts:178-181,205-222)
    * @return the full new state (id, doc, parent, ts)
    */
  def applyOplogBatch(
      events: Dataset[OplogRow],
      state: DataFrame,
      task: TaskSpec,
      source: Option[DataFrame] = None,
      dropped: Option[org.apache.spark.util.LongAccumulator] = None,
      batchKeyCount: Option[Long] = None,
  ): DataFrame =
    applyOplogBatchKeepDeletes(events, state, task, source, dropped, batchKeyCount)
      .filter(col("action") =!= "delete")
      .drop("action")

  /** [[applyOplogBatch]] keeping per-key DELETE outcomes as explicit
    * tombstone rows `(id, null, parent, ts, "delete")` instead of
    * dropping them (parent = the routing value dispatch recovered from
    * sink state, which the bulk load leg ships on the delete action).
    * The incremental bucketed store needs tombstones: its delta
    * files record per-key outcomes, and an absent row means "untouched",
    * not "deleted" — exactly a log-structured MERGE's encoding. */
  def applyOplogBatchKeepDeletes(
      events: Dataset[OplogRow],
      state: DataFrame,
      task: TaskSpec,
      source: Option[DataFrame] = None,
      dropped: Option[org.apache.spark.util.LongAccumulator] = None,
      batchKeyCount: Option[Long] = None,
  ): DataFrame = {
    val spark = events.sparkSession
    implicit val applyEnc = Encoders.product[ApplyRow]
    implicit val strEnc = Encoders.STRING

    val stateRows = state.select(
      col("id"), lit(0).as("kind"), col("ts"), lit("").as("op"), lit("").as("ns"),
      col("doc"), col("parent"), lit(false).as("fromMigrate")).as[ApplyRow]
    // a source snapshot may arrive undeduplicated (multiple versions per
    // key, each with its ts) — the earliest wins in-group, so callers
    // need no separate window pass to dedup it first. The snapshot is
    // semi-joined down to the BATCH's keys before the union: a key with
    // source rows but no event emits nothing from the fold, so the
    // filter is a semantic no-op — and it turns an O(source)-per-trigger
    // union (the snapshot can be the whole 100 TB collection) into
    // O(batch), with the snapshot scan streaming through a broadcast
    // hash join instead of entering the shuffle.
    val sourceRows = source.map { src =>
      val srcTs = if (src.columns.contains("ts")) col("ts") else lit(0L)
      // The key set only FILTERS the snapshot, so the operator is a
      // LEFT SEMI join — never an inner join against a distinct()-ed
      // frame. That choice matters twice at scale: semi never duplicates
      // a snapshot row however the key side arrives, and on the
      // oversized-trigger path below it keeps the key side a PLAIN
      // exchange (no post-shuffle distinct aggregate), which is the
      // shape AQE's OptimizeSkewedJoin pattern-matches — a hot document
      // with an undeduplicated version pile-up gets its partition
      // skew-split at runtime (pinned by MultiBatchPropertySpec).
      //
      // The forced broadcast is capped exactly like the bucketed store's
      // point lookup: a catch-up storm batch can hold millions of
      // distinct keys — hundreds of MB resident on every executor — so
      // above the cap the planner picks the join and the snapshot merely
      // shuffles for that oversized trigger. Callers that already hold
      // a bound on the distinct-key count (the legacy tail passes the
      // batch's row count, the bucketed apply a padded HLL estimate)
      // pass it through, and the key side is the
      // batch's RAW ids: a semi join needs no distinct, so no aggregate
      // shuffle precedes the broadcast, and above the cap it is the PLAIN
      // raw-id exchange AQE's OptimizeSkewedJoin pattern-matches (pinned
      // by MultiBatchPropertySpec). Otherwise the distinct-key frame is
      // PINNED and counted — the count job and the broadcast build then
      // share ONE id-derivation pass over the batch instead of each
      // re-deriving it (probed at sf0.1: the separate count job alone
      // cost ~0.2 s of cdc_pipeline_state's ~0.8 s, guide §1.4/§5).
      val (nKeys, pinnedKeys) = batchKeyCount match {
        case Some(n) => (n, None)
        case None =>
          val keys = events.select(col("id")).distinct().localCheckpoint()
          (keys.count(), Some(keys.toDF))
      }
      val ids = pinnedKeys.getOrElse(events.select(col("id")))
      val keyJoin = if (nKeys <= BucketedStateStore.BroadcastKeyLimit) broadcast(ids) else ids
      src.join(keyJoin, Seq("id"), "left_semi")
        .select(
          col("id"), lit(1).as("kind"), srcTs.as("ts"), lit("").as("op"), lit("").as("ns"),
          col("doc"), lit(null: String).as("parent"), lit(false).as("fromMigrate")).as[ApplyRow]
    }
    val eventRows = events.select(
      col("id"), lit(2).as("kind"), col("ts"), col("op"), col("ns"),
      col("doc"), lit(null: String).as("parent"), col("fromMigrate")).as[ApplyRow]

    val all = sourceRows.foldLeft(stateRows.unionByName(eventRows))(_ unionByName _)

    // One explicit hash shuffle on the key + an in-partition sort, then
    // contiguous runs of the same id form the groups. Equivalent to
    // groupByKey(_.id).flatMapGroups, minus one full deserialization
    // pass (the key lambda) — and the explicit partition count keeps
    // AQE from size-coalescing this CPU-heavy fold onto too few tasks
    // (the shuffled bytes are small; the per-key fold work is not).
    val n = spark.sessionState.conf.numShufflePartitions
    all.repartition(n, col("id"))
      .sortWithinPartitions(col("id"))
      .as[ApplyRow]
      .mapPartitions(it => groupRuns(it).flatMap { rows =>
        val id = rows.head.id
        val stateRow = rows.find(_.kind == 0)
        val evs = rows.filter(_.kind == 2)
        if (evs.isEmpty) {
          // untouched key: state passes through unchanged
          stateRow.iterator.map(r => (r.id, r.doc, r.parent, r.ts, "upsert"))
        } else {
          // per-event error tolerance: malformed events are dropped, the
          // batch lives on (reference src/processor.ts:219-222 swallows
          // per-event errors to null)
          // re-inject the stored routing value at the task's parent path
          // (the reference's _mapResponse, elasticsearch.ts:150-157) so
          // parent extraction on re-transform and parent-routed deletes
          // see it
          lazy val sinkDoc = stateRow.flatMap { r =>
            scala.util.Try {
              val d = Json.parseObj(r.doc)
              task.parent match {
                case Some(p) if r.parent != null && r.parent.nonEmpty =>
                  Paths.set(d, p, DStr(r.parent))
                case _ => d
              }
            }.toOption
          }
          lazy val sourceDoc = {
            val srcs = rows.filter(_.kind == 1)
            (if (srcs.isEmpty) None else Some(srcs.minBy(_.ts)))
              .flatMap(r => scala.util.Try(Json.parseObj(r.doc)).toOption)
          }
          val oplogs = evs.flatMap { r =>
            val parsed = scala.util.Try(OplogRow(r.ts, r.op, r.ns, r.id, r.doc, r.fromMigrate).toCore).toOption
            if (parsed.isEmpty) dropped.foreach(_.add(1L))
            parsed
          }
          val irs = Transformer.mergeOplogs(task, oplogs).flatMap { o =>
            val ir = scala.util.Try(Transformer.dispatch(task, o, sinkDoc, sourceDoc)).toOption.flatten
            if (ir.isEmpty) dropped.foreach(_.add(1L))
            ir
          }
          // LWW against existing state; IR wins ties (idempotent replay)
          val candidates =
            stateRow.map(r => (r.ts, 0, "state", r.doc, r.parent)).toVector ++
              irs.map { ir =>
                val doc = ir.data
                  .map(d => DObj(("_id" -> DStr(ir.id)) +: d.fields.filterNot(_._1 == "_id")).render)
                  .orNull
                val parent = ir.parent.map {
                  case DStr(s) => s
                  case other   => other.render
                }.orNull
                (ir.timestamp, 1, ir.action, doc, parent)
              }
          if (candidates.isEmpty) Iterator.empty // all events dropped, no prior state
          else {
            val winner = candidates.maxBy(c => (c._1, c._2))
            // a delete tombstone keeps its recovered routing value: the
            // reference's delete bulk action ships _parent too (ES
            // parent/child deletes route), and state readers drop
            // delete rows before parent could matter
            if (winner._3 == "delete") Iterator.single((id, null: String, winner._5, winner._1, "delete"))
            else Iterator.single((id, winner._4, winner._5, winner._1, "upsert"))
          }
        }
      })(Encoders.product[(String, String, String, Long, String)])
      .toDF("id", "doc", "parent", "ts", "action")
  }

  /** Group an id-sorted row iterator into contiguous same-id runs. */
  private def groupRuns(it: Iterator[ApplyRow]): Iterator[Vector[ApplyRow]] =
    new Iterator[Vector[ApplyRow]] {
      private val b = it.buffered
      def hasNext: Boolean = b.hasNext
      def next(): Vector[ApplyRow] = {
        val id = b.head.id
        val v = Vector.newBuilder[ApplyRow]
        while (b.hasNext && b.head.id == id) v += b.next()
        v.result()
      }
    }
}
