package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.cdc.{OplogRow, StateStore}
import graft.model.TaskSpec
import graft.source.EventsOplog

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt. */
object SparkEntry {

  /** The flagship task used by `entry`: events-as-oplog mapped onto a
    * sink doc with fields (value, k, last_type). */
  val flagshipTask: TaskSpec =
    TaskSpec(Vector("value" -> "value", "k" -> "k", "last_type" -> "last_type"))

  /** Flagship query on /root/testdata/sf0.001: the full CDC pipeline —
    * events interpreted as an oplog, per-key compaction (C2), op
    * dispatch with state/source joins (C1/S5-S7), LWW state merge
    * (L1/O10). Driver smoke-checks rows > 0. */
  def entry(spark: SparkSession): DataFrame = {
    val dir = "/root/testdata/sf0.001"
    val events = graft.ops.Tables.events(spark, dir)
    import OplogRow.encoder
    val oplog = EventsOplog.fromEvents(events).as[OplogRow]
    // fused compact+dispatch+merge (BatchApplier): one co-grouped pass
    graft.cdc.BatchApplier.applyOplogBatch(
      oplog, StateStore.empty(spark), flagshipTask,
      source = Some(EventsOplog.sourceSnapshotRaw(events)))
  }

  /** One entry per implemented operator from SURVEY.md §2 (registered in
    * graft.ops.Registry — relational inventory, CDC relational twins,
    * LLM-pipeline extensions). */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    graft.ops.Registry.all.map(q => q.name -> q.fn).toMap

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omitted for non-SQL-expressible ops
    * (typed deep-merge pipeline, xxhash64 sketches, LSH, decode stubs). */
  def oracleSql: Map[String, String] =
    graft.ops.Registry.all.flatMap(q => q.oracle.map(q.name -> _)).toMap
}
