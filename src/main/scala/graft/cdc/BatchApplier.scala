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
    seq: Long, // a state row's commit seq (0 for the other kinds)
    op: String, // an event's op; a state row's action (upsert/delete)
    ns: String,
    doc: String,
    parent: String,
    fromMigrate: Boolean)

/** The CDC apply: compact (C2) + dispatch (C1, S5–S7 lookups) + LWW
  * state merge (L1/O9/O10) as ONE co-grouped pass — the only place the
  * engine folds oplog events into state. The tail applies each
  * micro-batch through it, and the scan backfill seeds state by folding
  * the snapshot as ts-0 inserts onto empty state.
  *
  * It unions state ∪ source ∪ events with a kind tag and groups once,
  * rather than running compaction, the state join and the merge window
  * as three operators that each shuffle on the SAME key: the whole
  * batch apply is a single hash shuffle + one linear pass per key, with
  * O(events-per-key) group memory. The bucketed store hands in only
  * the prior rows of the batch's keys, so the shuffle stays O(batch)
  * whatever the state's size, and restricts the source snapshot to the
  * batch's keys the same way. Those rows are the store's raw versions;
  * the group resolves them, so no window shuffles them first.
  *
  * Semantics are inherited verbatim from the pure core: the per-key fold
  * is `mergeOplogs` -> `dispatch` -> ts-guarded LWW against the existing
  * state doc (IR wins ties — idempotent replays, O9). CdcPipelineSpec's
  * model-fold test pins it against a sequential pure-core fold.
  */
object BatchApplier {

  /** Apply one compacted-or-raw oplog micro-batch onto the state.
    * @param events raw events of ONE namespace (run P3 filters first)
    * @param state  current state (id, doc, parent, ts), or a key's raw
    *               versions with `__seq` and `action` columns added: the
    *               highest `__seq` is the key's state, none if its
    *               action is `delete`
    * @param source optional source snapshot (id, doc[, ts]) — the Mongo
    *               fallback for updates to never-seen keys. Only the
    *               batch's keys matter (a key without events emits
    *               nothing), so callers holding a large snapshot pass it
    *               restricted to the batch
    *               ([[BucketedStateStore.restrictSource]])
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
  ): DataFrame =
    applyOplogBatchKeepDeletes(events, state, task, source, dropped)
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
  ): DataFrame = {
    val spark = events.sparkSession
    implicit val applyEnc = Encoders.product[ApplyRow]
    implicit val strEnc = Encoders.STRING

    def stateCol(c: String, default: Any) = if (state.columns.contains(c)) col(c) else lit(default)
    val stateRows = state.select(
      col("id"), lit(0).as("kind"), col("ts"), stateCol("__seq", 0L).as("seq"),
      stateCol("action", "upsert").as("op"), lit("").as("ns"),
      col("doc"), col("parent"), lit(false).as("fromMigrate")).as[ApplyRow]
    // a source snapshot may arrive undeduplicated (multiple versions per
    // key, each with its ts) — the earliest wins in-group, so callers
    // need no separate window pass to dedup it first
    val sourceRows = source.map { src =>
      val srcTs = if (src.columns.contains("ts")) col("ts") else lit(0L)
      src.select(
        col("id"), lit(1).as("kind"), srcTs.as("ts"), lit(0L).as("seq"), lit("").as("op"), lit("").as("ns"),
        col("doc"), lit(null: String).as("parent"), lit(false).as("fromMigrate")).as[ApplyRow]
    }
    val eventRows = events.select(
      col("id"), lit(2).as("kind"), col("ts"), lit(0L).as("seq"), col("op"), col("ns"),
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
        // the newest version; a delete tombstone means no state
        val stateRow = rows.filter(_.kind == 0).maxByOption(_.seq).filter(_.op != "delete")
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
