package graft.pipeline

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.cdc.{BatchApplier, BucketedStateStore, OplogRow, StateStore}
import graft.model.TaskSpec

/** The batch scan phase (reference src/processor.ts:299-330, SURVEY.md
  * §3.2): full collection backfill, seeding the engine-owned state
  * through the same per-key fold the tail runs.
  *
  * The resume predicate `id >= checkpoint` (P2, reference
  * src/mongodb.ts:35-39) is applied by the caller ([[Runner.fromConfig]])
  * as a plain filter, so Catalyst pushes it into the source scan
  * (parquet min/max skipping here; DSv2 pushdown on a real connector).
  * Checkpointing per micro-batch is replaced by Spark's per-partition
  * task retry — a failed partition re-runs, and the idempotent sink
  * merge (LWW) absorbs replays, the same correctness contract as the
  * reference's idempotent bulk `index` (O10).
  */
object ScanJob {

  /** The state a snapshot seeds: each (id, doc) row, doc source-shaped
    * JSON, becomes an insert at ts 0, and the batch is folded by
    * [[BatchApplier.applyOplogBatch]] onto empty state. That gives the
    * mapped projection (T1; P5 drops a doc with no mapped field), one
    * row per id and `{_id} ++ data` as the sink doc. A doc whose `_id`
    * is neither a string nor an integer is dropped, as the tail drops
    * such inserts. */
  def snapshotState(source: DataFrame, task: TaskSpec): DataFrame = {
    val inserts = source.select(
      lit(0L).as("ts"), lit("i").as("op"), lit("scan").as("ns"),
      col("id"), col("doc"), lit(false).as("fromMigrate")).as[OplogRow]
    BatchApplier.applyOplogBatch(inserts, StateStore.empty(source.sparkSession), task)
  }

  /** Backfill: snapshot -> [[snapshotState]] -> seed the state store
    * (phase transition L5 start; reference src/index.ts:27-32). Returns
    * the seeded state.
    *
    * With `buckets` set, seeds the incremental [[BucketedStateStore]]
    * (one id-sorted base file per bucket) instead of the legacy
    * versioned layout. The bucket count comes from the snapshot:
    * [[BucketedStateStore.bucketsFor]] its size statistic, with
    * `spec.nBuckets` as the cap (and the count when `source` reports no
    * statistic). The seeded state's own plan is no guide — it derives
    * from an RDD frame, which reports Spark's default size. */
  def backfill(
      source: DataFrame,
      task: TaskSpec,
      stateDir: String,
      buckets: Option[BucketedStateStore.Spec] = None,
      // load leg for the scan phase too: the reference bulk-indexes the
      // backfill (src/index.ts:27-32 scans and ships _bulk bodies), so
      // with a BulkSpec the seeded state mirrors out as one
      // `batch-scan/` bulk directory before tailing begins
      bulk: Option[TailQuery.BulkSpec] = None,
  ): DataFrame = {
    val spark = source.sparkSession
    val state = snapshotState(source, task)
    buckets match {
      case Some(spec) =>
        val n = BucketedStateStore.bucketsFor(BucketedStateStore.sizeStatistic(source), spec)
        BucketedStateStore.seed(state, stateDir, spec.copy(nBuckets = n))
      case None       => StateStore.write(state, stateDir)
    }
    val seeded = StateStore.read(spark, stateDir)
    bulk.foreach { b =>
      seeded
        .select(lit("upsert").as("action"), col("id"), col("doc").as("data"),
          col("parent"), col("ts"))
        .write.format("graft.source.v2.BulkJsonSink")
        .option("path", s"${b.dir}/batch-scan")
        .option("index", b.index).option("type", b.esType)
        .mode("append").save()
      // live leg, like the tail's: a delivery failure fails the
      // backfill before any tailing starts (reference src/index.ts:27-32
      // bulk-indexes the scan through the same client)
      TailQuery.deliverBulkDir(spark, s"${b.dir}/batch-scan", b)
    }
    seeded
  }
}
