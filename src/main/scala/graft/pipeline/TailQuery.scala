package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import graft.cdc.{BatchApplier, BucketedStateStore, Compactor, OplogRow, StateIO, StateStore}
import graft.model.{CheckpointHooks, TaskSpec}

/** The streaming tail phase (reference src/processor.ts:332-396,
  * SURVEY.md §3.3) on Structured Streaming:
  *
  *   source stream -> P3 filters -> trigger micro-batch ->
  *   foreachBatch { compact (C2) -> dispatch (C1, state join) ->
  *                  MERGE into state (L1/O10) }
  *
  * What the reference hand-builds, the runtime provides:
  *  - micro-batch buffering C3  -> `Trigger.ProcessingTime`
  *  - serial batch queue C4     -> micro-batches execute serially per query
  *  - checkpoint + 10 s overlap L4/O9 -> exact offset/commit log via
  *    `checkpointLocation`; the LWW ts-guard in the state merge keeps
  *    replays idempotent anyway
  *  - backpressure S4/O8        -> source admission options
  *    (`maxOffsetsPerTrigger`/`maxFilesPerTrigger` analogs)
  */
object TailQuery {

  /** What a micro-batch failure does to the 24/7 tail (reference
    * src/processor.ts:393-395 logs a failed batch and keeps tailing;
    * its per-event transform errors are likewise swallowed and logged,
    * src/processor.ts:219-222).
    *
    *  - [[FailFast]] (default): the exception propagates and terminates
    *    the StreamingQuery — the safe choice when state divergence is
    *    worse than downtime, and Spark's checkpoint makes the restart
    *    resume exactly at the failed batch.
    *  - [[SkipAndCount]]: the reference's policy — log, count the
    *    poison batch (and best-effort its rows) on driver-readable
    *    accumulators, commit the batch's offsets, and keep the stream
    *    alive. The LWW ts-guard in the state merge means a later replay
    *    of the skipped range (operator-initiated backfill) is
    *    idempotent.
    */
  sealed trait FailurePolicy
  case object FailFast extends FailurePolicy
  final case class SkipAndCount(
      skippedBatches: org.apache.spark.util.LongAccumulator,
      skippedRows: org.apache.spark.util.LongAccumulator,
  ) extends FailurePolicy
  /** Fresh named accumulators, visible in the Spark UI like the P6
    * validity-drop counters they extend. */
  def skipAndCount(spark: SparkSession, name: String = "tail"): SkipAndCount =
    SkipAndCount(
      spark.sparkContext.longAccumulator(s"${name}_skipped_batches"),
      spark.sparkContext.longAccumulator(s"${name}_skipped_rows"))

  /** The load leg (L2): where the reference ships each micro-batch's
    * outcomes as one ES `_bulk` request (src/processor.ts:225-258 builds
    * the bodies, src/elasticsearch.ts:22-28 POSTs them), the engine
    * writes the same bodies through the DSv2
    * [[graft.source.v2.BulkJsonSink]] — one directory per micro-batch
    * (`<dir>/batch-NNNNN/part-*.bulk` + `_SUCCESS`), each part file one
    * bulk request an external loader replays in order.
    *
    * With `endpoint` set (config `elasticsearch.options.bulkEndpoint`),
    * the engine ALSO posts each committed part file live via
    * [[graft.sink.BulkHttp]] after the batch directory lands — the
    * reference's `client.bulk` call with its failure semantics made
    * explicit: retryable item statuses retry with backoff, and an
    * exhausted failure throws INSIDE foreachBatch, so the micro-batch
    * fails, the checkpoint never advances, and the restart replays the
    * batch (at-least-once, idempotent under id-keyed upserts — exactly
    * src/processor.ts:393-395's drop-without-checkpoint). Delivery runs
    * in EXECUTOR tasks — one task per committed part file — so delivery
    * bandwidth scales with the write parallelism instead of serializing
    * through the driver (the reference's single client is its 10k docs/s
    * ceiling); the driver only lists part-file NAMES. `dir` may be any
    * URI the Hadoop layer resolves (`file:`, `hdfs:`, a plain path). */
  final case class BulkSpec(dir: String, index: String, esType: String,
      endpoint: Option[String] = None,
      httpPolicy: graft.sink.BulkHttp.Policy = graft.sink.BulkHttp.Policy())

  /** POST every committed part file of one batch directory — from
    * EXECUTOR tasks, one task per part file, so the in-flight state per
    * task is a single bulk body and delivery bandwidth is the cluster's,
    * not the driver's. The driver only LISTS part-file names (metadata);
    * it never reads a byte of bulk body. Any task whose delivery
    * exhausts its retry schedule throws [[graft.sink.BulkHttp.BulkFailedException]],
    * which fails the Spark job and therefore the enclosing micro-batch —
    * the checkpoint never advances past an undelivered batch, and the
    * restart replays it (at-least-once; a re-POSTed file is idempotent
    * under id-keyed upserts). Cross-file ORDER within one batch is not
    * preserved — and not needed: the batch fold emits at most one
    * outcome per id, so one batch's part files touch disjoint keys and
    * commute; batch-to-batch order stays serial because delivery
    * completes inside foreachBatch before the next trigger fires. Each
    * task tags its POSTs with an `X-Graft-Task` header
    * (task-partition-attempt) so delivery parallelism is observable
    * downstream (and spec-pinned: >1 distinct delivering task, none of
    * them the driver). */
  private[pipeline] def deliverBulkDir(spark: SparkSession, batchDir: String,
      b: BulkSpec): Unit =
    b.endpoint.foreach { ep =>
      // listed and read through the Hadoop layer, so a `file:` or
      // `hdfs:` batch dir delivers like a plain local one
      val parts = StateIO.list(batchDir).map(_.getPath)
        .filter(_.getName.startsWith("part-")).map(_.toString).sorted
      if (parts.nonEmpty) {
        val policy = b.httpPolicy
        val conf = new graft.source.v2.SerializableHadoopConf(StateIO.hadoopConf)
        import spark.implicits._
        spark.createDataset(parts)
          .repartition(parts.size) // one task per file
          .foreach { path =>
            val tc = org.apache.spark.TaskContext.get()
            val tag =
              if (tc == null) "driver"
              else s"task-${tc.partitionId()}-${tc.taskAttemptId()}"
            graft.sink.BulkHttp.deliverFile(
              path, java.net.URI.create(ep), policy, tag = tag, conf = conf.value)
            ()
          }
      }
    }

  private def writeBulk(outcomes: DataFrame, b: BulkSpec, batchId: Long): Unit = {
    import org.apache.spark.sql.functions.col
    val batchDir = f"${b.dir}/batch-$batchId%05d"
    outcomes
      .select(col("action"), col("id"), col("doc").as("data"), col("parent"), col("ts"))
      .write.format("graft.source.v2.BulkJsonSink")
      .option("path", batchDir)
      .option("index", b.index).option("type", b.esType)
      .mode("append").save()
    deliverBulkDir(outcomes.sparkSession, batchDir, b)
  }

  /** Start the tail stream. `oplogStream` must be a streaming DataFrame
    * with the OplogRow schema (ts, op, ns, id, doc, fromMigrate).
    *
    * `buckets = Some(spec)` selects the incremental
    * [[BucketedStateStore]]: per trigger, point-lookup the batch's keys
    * and append per-bucket deltas — O(batch) cost, the 100 TB path and
    * the DEFAULT (the measured crossover says the legacy full-rewrite
    * store only wins below ~5M tiny docs — BASELINE.md r7 addendum).
    * `None` opts out to the legacy versioned store. Either way an
    * EXISTING state layout wins over the request
    * ([[StateStore.resolveBackend]]) so restarts never fork the state. */
  def start(
      oplogStream: DataFrame,
      task: TaskSpec,
      ns: String,
      fromTs: Long,
      stateDir: String,
      checkpointDir: String,
      source: Option[DataFrame] = None,
      triggerMs: Long = 5000L,
      taskName: String = "",
      hooks: Option[CheckpointHooks] = None,
      buckets: Option[BucketedStateStore.Spec] = Some(BucketedStateStore.Spec()),
      failurePolicy: FailurePolicy = FailFast,
      bulk: Option[BulkSpec] = None,
  ): StreamingQuery = {
    val spark = oplogStream.sparkSession
    import OplogRow.encoder
    val effectiveBuckets = StateStore.resolveBackend(stateDir, buckets)
    val metricsName = if (taskName.nonEmpty) s"tail_$taskName" else "tail"
    // in-flight quality metrics (rows, null ids, ts high-water mark)
    // per micro-batch — readable from progress.observedMetrics by any
    // monitoring hook, at zero extra passes over the batch
    graft.streaming.Observability
      .observedStream(Compactor.streamFilters(oplogStream, ns, fromTs),
        metricsName, keyCol = "id", tsCol = "ts")
      .writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.ProcessingTime(triggerMs))
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        // Cache, then exactly ONE materializing pass over the source
        // plan: every further action reads the cache. This keeps the
        // observed metrics exact (each uncached action would re-run the
        // CollectMetrics node and inflate the counters — an isEmpty
        // probe alone adds its scanned row) and reads the micro-batch
        // files once instead of twice. On the bucketed path that pass
        // is the store's batch-stats aggregate, which also yields the
        // row count; the legacy path counts.
        batch.persist()
        try {
          // an empty trigger applies nothing: no state rewrite, no
          // hook — the reference likewise only checkpoints batches
          // that loaded IRs (src/processor.ts:382-390)
          val loaded = effectiveBuckets match {
            case Some(spec) =>
              // incremental: touch only the batch's keys and buckets;
              // the bulk load leg taps the same outcomes the delta
              // commit writes — no second fold
              BucketedStateStore.applyBatch(
                batch.as[OplogRow], task, stateDir, spec, source,
                onOutcomes = bulk.map(b => (o: DataFrame) => writeBulk(o, b, batchId))).isDefined
            case None =>
              val batchRows = batch.count()
              if (batchRows > 0) {
                val st = StateStore.read(spark, stateDir)
                // fused compact+dispatch+merge: one co-grouped shuffle per
                // batch. The row count upper-bounds the distinct-key count,
                // so it serves as the broadcast-cap probe without the apply
                // paying a separate distinct-count job per trigger. Delete
                // outcomes are kept so the bulk leg sees them; the state
                // write filters its tombstones exactly as applyOplogBatch.
                val outcomes0 = BatchApplier.applyOplogBatchKeepDeletes(
                  batch.as[OplogRow], st, task, source, batchKeyCount = Some(batchRows))
                val outcomes = if (bulk.isDefined) outcomes0.persist() else outcomes0
                try {
                  StateStore.write(
                    outcomes.filter(org.apache.spark.sql.functions.col("action") =!= "delete")
                      .drop("action"),
                    stateDir)
                  bulk.foreach(b => writeBulk(outcomes, b, batchId))
                } finally if (bulk.isDefined) { outcomes.unpersist(); () }
              }
              batchRows > 0
          }
          // mirror tail progress to user persistence (L4 side channel);
          // failures never kill the batch — the authoritative
          // checkpoint is Spark's
          if (loaded && taskName.nonEmpty)
            CheckpointHooks.save(hooks, taskName, CheckpointHooks.tailNow())
        } catch {
          case scala.util.control.NonFatal(e) =>
            failurePolicy match {
              case FailFast => throw e
              case SkipAndCount(batches, rows) =>
                // Returning normally commits this batch's offsets: the
                // poison range is consciously skipped, not retried
                // forever. Counters make the skip observable; the batch
                // row count is best-effort (the failure may be in the
                // scan itself).
                batches.add(1L)
                try rows.add(batch.count())
                catch { case scala.util.control.NonFatal(_) => () }
                org.slf4j.LoggerFactory.getLogger(getClass).warn(
                  s"tail($metricsName): skipped failed micro-batch " +
                    s"(skipped_batches=${batches.value}): $e")
            }
        } finally batch.unpersist()
        ()
      }
      .start()
  }
}
