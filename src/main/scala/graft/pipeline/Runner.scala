package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.StreamingQuery
import graft.cdc.{BucketedStateStore, StateStore}
import graft.model.{CheckpointHooks, CheckpointSpec, EngineConfig, TaskDef, TaskSpec}

/** Per-task orchestration (§3.1, reference src/index.ts:7-39): the
  * scan-then-tail lifecycle.
  *
  *  - Phase `scan` (L5 start): batch backfill seeds the engine-owned
  *    state (reference scans the collection and bulk-indexes,
  *    src/index.ts:27-32). The state store's VERSION pointer doubles as
  *    the phase checkpoint: if it exists, the backfill already ran and a
  *    restart goes straight to tailing (reference: persisted checkpoint
  *    overrides `task.from`, src/index.ts:14-21).
  *  - Phase `tail` (L5 end): the streaming query, whose own
  *    checkpointLocation gives exact resume (replacing the reference's
  *    `now - 10 s` overlap heuristic, src/processor.ts:388); replays
  *    that do slip through are absorbed by the LWW merge (O9/O10).
  */
object Runner {

  final case class TaskPipeline(
      task: TaskSpec,
      ns: String,
      stateDir: String,
      checkpointDir: String,
      triggerMs: Long = 5000L,
      skipScan: Boolean = false, // from.phase == "tail": no backfill
      fromTs: Long = 0L, // tail start (packed BSON ts lower bound, P3)
      name: String = "", // checkpoint name for the user hooks
      // Some(spec): incremental bucketed state — the DEFAULT at every
      // entry point (VERDICT r7 #2); None: explicit opt-out to the
      // legacy full-rewrite versioned state (tiny-state deployments).
      // An existing state layout overrides either request on restart
      // (StateStore.resolveBackend).
      buckets: Option[BucketedStateStore.Spec] = Some(BucketedStateStore.Spec()),
      // FailFast: a poison micro-batch stops the tail (checkpoint
      // resumes at it); TailQuery.skipAndCount(spark): the reference's
      // log-and-keep-tailing policy with accumulator-counted skips
      failurePolicy: TailQuery.FailurePolicy = TailQuery.FailFast,
      // Some(spec): the load leg — mirror each micro-batch's outcomes
      // as ES _bulk bodies (reference src/processor.ts:225-258) via the
      // DSv2 BulkJsonSink, one directory per batch
      bulk: Option[TailQuery.BulkSpec] = None,
  )

  /** Run (or skip, on restart) the scan backfill, then start the tail.
    * Returns the running tail query; callers
    * `spark.streams.awaitAnyTermination()` across tasks (tasks scan
    * sequentially, tail concurrently — reference src/index.ts:27-37). */
  def bootstrapAndTail(
      spark: SparkSession,
      sourceSnapshot: DataFrame,
      oplogStream: DataFrame,
      cfg: TaskPipeline,
      hooks: Option[CheckpointHooks] = None,
  ): StreamingQuery = {
    val alreadyScanned = StateStore.exists(cfg.stateDir)
    if (!alreadyScanned && !cfg.skipScan) {
      ScanJob.backfill(sourceSnapshot, cfg.task, cfg.stateDir, cfg.buckets, cfg.bulk)
      // the endScan phase flip (reference src/config.ts:77-81): tell
      // user persistence the backfill is done and tailing begins
      CheckpointHooks.save(hooks, cfg.name, CheckpointHooks.tailNow())
    }
    TailQuery.start(
      oplogStream, cfg.task, cfg.ns, fromTs = cfg.fromTs,
      stateDir = cfg.stateDir, checkpointDir = cfg.checkpointDir,
      source = Some(sourceSnapshot), triggerMs = cfg.triggerMs,
      taskName = cfg.name, hooks = hooks, buckets = cfg.buckets,
      failurePolicy = cfg.failurePolicy, bulk = cfg.bulk)
  }

  /** Multi-task orchestration (reference src/index.ts:7-39): backfills
    * run strictly one at a time (the loop awaits each scan); tail
    * queries then run concurrently, each with its own state/checkpoint
    * dirs. Returns the running queries in task order; callers
    * `spark.streams.awaitAnyTermination()`. */
  def runAll(
      spark: SparkSession,
      tasks: Seq[(TaskPipeline, DataFrame, DataFrame)], // (cfg, snapshot, stream)
      hooks: Option[CheckpointHooks] = None,
  ): Seq[StreamingQuery] =
    tasks.map { case (cfg, snapshot, stream) =>
      bootstrapAndTail(spark, snapshot, stream, cfg, hooks)
    }

  /** The `run(config)` equivalent (reference src/index.ts:7-39,
    * src/main.ts): build one pipeline per task from a reference-format
    * config (see [[graft.model.EngineConfig]]). The caller supplies the
    * source adapters per task — a snapshot DataFrame and an oplog
    * stream (e.g. the DSv2 connector `graft.source.v2.OplogJsonSource`,
    * or the Mongo connectors in production) — since connection URLs in
    * the config point at systems the harness replaces with files.
    *
    * Checkpoint seed (reference src/index.ts:27-37): phase "tail" skips
    * the backfill and starts the stream at the configured time (packed
    * as the BSON-ts lower bound); phase "scan" with a resume id filters
    * the snapshot to `_id >= id` (P2 — hex ObjectIDs compare
    * bytewise as strings). Controls: bulk interval -> trigger, index
    * suffix -> state/checkpoint dir name (blue/green, L3); the
    * admission knobs (`elasticsearchBulkSize`, `mongodbReadCapacity`)
    * apply where sources are built — adapters set them as source
    * options (e.g. the connector's `maxFilesPerTrigger`), since
    * admission is a property of the source, not the pipeline. The
    * adapter receives that option surface pre-built: connection options
    * from the config (`mongoSourceOptions`) merged with the admission
    * budget (`sourceAdmissionOptions`, e.g. `maxRowsPerTrigger` from
    * `mongodbReadCapacity` × trigger interval) — apply them with
    * `.options(opts)` when building the source.
    */
  def fromConfig(
      spark: SparkSession,
      config: EngineConfig,
      baseDir: String,
      // (task, source options) -> (snapshot, oplog stream)
      adapters: (TaskDef, Map[String, String]) => (DataFrame, DataFrame),
      hooks: Option[CheckpointHooks] = None,
      // config-driven engine runs default to the incremental bucketed
      // state: per-trigger cost tracks the batch, not the state size
      buckets: Option[BucketedStateStore.Spec] = Some(BucketedStateStore.Spec()),
      // applied to every task's tail (the reference config has no such
      // knob — its processor hardcodes log-and-continue; here the safe
      // fail-fast is the default and skip-and-count is a deliberate
      // operator choice)
      failurePolicy: TailQuery.FailurePolicy = TailQuery.FailFast,
  ): Seq[StreamingQuery] = {
    val sourceOpts = config.mongoSourceOptions ++ config.sourceAdmissionOptions
    // optional file-backed load leg (reference ships bulk bodies over
    // HTTP; a harness deployment declares `elasticsearch.options.bulkDir`
    // and gets the same bodies as per-batch bulk files). A relative dir
    // resolves under baseDir, next to state and checkpoints; an absolute
    // path or a URI (`hdfs://nn/bulk`, `file:/bulk`) is taken as given.
    val bulkRoot = config.esSinkOptions.get("bulkDir").map { d =>
      if (new org.apache.hadoop.fs.Path(d).isAbsolute) d else s"$baseDir/$d"
    }
    // optional LIVE leg on top of the file leg: `bulkEndpoint` POSTs
    // each committed bulk file to an ES-compatible `_bulk` URL with
    // the BulkHttp retry/at-least-once semantics; `bulkMaxRetries`
    // tunes the schedule. File leg remains the durable record either
    // way (replayable, auditable).
    val bulkEndpoint = config.esSinkOptions.get("bulkEndpoint")
    val bulkPolicy = graft.sink.BulkHttp.Policy(
      maxRetries = config.esSinkOptions.get("bulkMaxRetries").map(_.toInt).getOrElse(3))
    // sink DDL first (reference src/index.ts:11 Indices.init): every
    // task's output table exists with its mapping-declared types and
    // blue/green suffix before any data flows
    graft.sink.Ddl.initFromConfig(spark, config, Some(s"$baseDir/tables"))
    // optional LIVE DDL leg (`elasticsearch.options.ddlEndpoint`): the
    // reference's exists→create→putMapping against a real ES HTTP API,
    // before the scan phase — the DDL counterpart of `bulkEndpoint`.
    // Shares the bulk retry budget (one operator knob for the host).
    config.esSinkOptions.get("ddlEndpoint").foreach { ep =>
      graft.sink.DdlHttp.initFromConfig(config, new java.net.URI(ep),
        policy = graft.sink.DdlHttp.Policy(maxRetries = bulkPolicy.maxRetries))
    }
    runAll(spark, config.tasks.map { td =>
      // a checkpoint from user persistence OVERRIDES the configured
      // `from` (reference src/index.ts:14-21)
      val from: CheckpointSpec = CheckpointHooks.load(hooks, td.name).getOrElse(td.from)
      val dirName = td.name + config.controls.indexNameSuffix
      val cfg = TaskPipeline(
        task = td.transform,
        ns = td.extract.ns,
        stateDir = s"$baseDir/$dirName/state",
        checkpointDir = s"$baseDir/$dirName/ckpt",
        triggerMs = config.controls.elasticsearchBulkInterval.toLong,
        skipScan = from.phase == "tail",
        fromTs = from.timeEpochSeconds.map(_ << 32).getOrElse(0L),
        name = td.name,
        buckets = buckets,
        failurePolicy = failurePolicy,
        bulk = bulkRoot.map(r => TailQuery.BulkSpec(
          s"$r/$dirName",
          td.load.index + config.controls.indexNameSuffix,
          td.load.esType,
          endpoint = bulkEndpoint,
          httpPolicy = bulkPolicy)),
      )
      val (snapshot, stream) = adapters(td, sourceOpts)
      // scan-phase resume predicate (reference src/mongodb.ts:35-39)
      val resumed = from.id match {
        case Some(resumeId) if from.phase == "scan" =>
          snapshot.filter(org.apache.spark.sql.functions.col("id") >= resumeId)
        case _ => snapshot
      }
      (cfg, resumed, stream)
    }, hooks)
  }
}
