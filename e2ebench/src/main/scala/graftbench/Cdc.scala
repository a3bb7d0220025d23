package graftbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import java.util.UUID
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicInteger
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.{col, input_file_name}
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.streaming.StreamingQueryListener._
import graft.cdc.BucketedStateStore
import graft.model._

/** One committed micro-batch of the tail, from its progress report. The
  * commit time is the trigger's start `timestamp` + `triggerExecution`;
  * offsets are file counts of the oplog source. */
final case class Trig(batchId: Long, startMs: Double, commitMs: Double, rows: Long,
    startOffset: Int, endOffset: Int, durations: Map[String, Long]) {
  def d(k: String): Double = durations.getOrElse(k, 0L).toDouble
  def execMs: Double = d("triggerExecution")
}

/** Collects tail progress through Spark's public listener interface. */
final class ProgressLog extends StreamingQueryListener {
  private val trigs = new ConcurrentLinkedQueue[(UUID, Trig)]()
  val failures = new AtomicInteger()
  private def offset(s: String): Int = Option(s).map(_.trim).filter(_.nonEmpty)
    .flatMap(_.toIntOption).getOrElse(0)
  override def onQueryStarted(e: QueryStartedEvent): Unit = ()
  override def onQueryProgress(e: QueryProgressEvent): Unit = {
    val p = e.progress
    if (p.numInputRows > 0 && p.sources.nonEmpty) {
      val start = java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble
      val durations = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap
      trigs.add(p.id -> Trig(p.batchId, start, start + durations.getOrElse("triggerExecution", 0L),
        p.numInputRows, offset(p.sources.head.startOffset), offset(p.sources.head.endOffset),
        durations))
    }
  }
  override def onQueryTerminated(e: QueryTerminatedEvent): Unit =
    if (e.exception.isDefined) failures.incrementAndGet()

  def of(id: UUID): Seq[Trig] = trigs.asScala.collect { case (`id`, t) => t }.toSeq.sortBy(_.batchId)

  /** Wait until the listener bus has delivered the batch that reached `files`. */
  def awaitOffset(id: UUID, files: Int, timeoutMs: Long = 20000L): Seq[Trig] = {
    val deadline = System.currentTimeMillis() + timeoutMs
    while (!of(id).exists(_.endOffset >= files) && System.currentTimeMillis() < deadline)
      Thread.sleep(5)
    of(id)
  }
}

/** The CDC workload. It drives the engine only through `graft.Main.run`
  * on a reference-format config. */
object Cdc {
  val TaskDir = "bench.items___items._doc"
  val NBuckets = BucketedStateStore.Spec().nBuckets

  private def cfg(p: Params) = p.str("config")

  /** Session-side set-up: DDL, then one throwaway engine lifecycle (DDL,
    * backfill, tail, stop) on the small warm-up inputs; returns (ddl
    * seconds, lifecycle seconds). */
  def setUp(spark: SparkSession, p: Params, spans: Spans): (Double, Double) = {
    val config = EngineConfig.fromJson(graft.cdc.StateIO.readString(cfg(p)))
    val t0 = System.nanoTime()
    spans.time("ddl", "setup")(graft.sink.Ddl.initFromConfig(spark, config, Some(s"${p.work}/warm/tables")))
    val t1 = System.nanoTime()
    spans.time("warm", "setup") {
      val qs = graft.Main.run(spark, cfg(p), s"${p.work}/warm/base", p.str("warm_data"))
      qs.foreach { q => q.processAllAvailable(); q.stop() }
    }
    val t2 = System.nanoTime()
    Jvm.fullGc()
    val (ddl, warm) = ((t1 - t0) / 1e9, (t2 - t1) / 1e9)
    System.err.println(f"[catchup] ddl_s=$ddl%.2f warm_s=$warm%.2f")
    (ddl, warm)
  }

  /** Dump the engine's final state (outside every clock) for the runner's
    * model check; returns (state parquet bytes, live doc bytes). */
  def dumpState(spark: SparkSession, base: String): (Long, Long) = {
    val stateDir = s"$base/$TaskDir/state"
    val rows = BucketedStateStore.read(spark, stateDir).select("id", "doc").collect()
    val lines = rows.iterator.map(r => DArr(DStr(r.getString(0)), DStr(r.getString(1))).render)
    Files.write(Paths.get(s"$base/state.jsonl"), lines.mkString("", "\n", "\n").getBytes(UTF_8))
    val live = rows.iterator.map(r => r.getString(0).getBytes(UTF_8).length.toLong +
      r.getString(1).getBytes(UTF_8).length).sum
    (DiskUsage.bytes(stateDir, ".parquet"), live)
  }

  /** Bucket ids touched per oplog file, via the store's own bucket function. */
  def bucketsPerFile(spark: SparkSession, oplogDir: String): Map[String, Set[Int]] =
    spark.read.text(oplogDir)
      .select(input_file_name().as("f"),
        org.apache.spark.sql.functions.get_json_object(col("value"), "$.id").as("id"))
      .select(col("f"), BucketedStateStore.bucketCol(NBuckets).as("b"))
      .distinct().collect()
      .groupBy(r => new java.io.File(new java.net.URI(r.getString(0)).getPath).getName)
      .map { case (f, rs) => f -> rs.map(_.getInt(1)).toSet }

  /** One measured round: its wall time, triggers and (traced) jobs. */
  final case class Round(traced: Boolean, wallMs: Double, trigs: Seq[Trig],
      backfillJobs: Seq[JobRec], tailJobs: Seq[JobRec], events: Long, bulkBytes: Long)

  /** Per-layer metrics from the traced rounds. */
  def layerMetrics(trace: Trace, units: Seq[Round], bucketsOf: Int => Set[Int]): Map[String, Double] = {
    val traced = units.filter(_.traced)
    val trigs = traced.flatMap(_.trigs)
    val tailJobs = traced.flatMap(_.tailJobs)
    def jobsIn(t: Trig) = tailJobs.filter(j => j.startMs >= t.startMs && j.startMs <= t.commitMs)
    def per(mod: String => Boolean)(f: Seq[JobRec] => Double): Seq[Double] =
      trigs.map(t => f(jobsIn(t).filter(j => mod(trace.moduleOf(j)))))
    val isCdc = (m: String) => m == "cdc" || m == "cdc.compact"
    val events = trigs.map(_.rows).sum.toDouble
    val compactions = tailJobs.filter(j => trace.moduleOf(j) == "cdc.compact")
    val backfill = traced.flatMap(_.backfillJobs)
    def sumWall(js: Seq[JobRec]) = js.map(_.wallMs).sum
    val m = Map(
      "pipeline.trigger_p50_ms" -> Stats.quantile(trigs.map(_.execMs), 0.5),
      "pipeline.trigger_p95_ms" -> Stats.quantile(trigs.map(_.execMs), 0.95),
      "pipeline.plan_ms" -> Stats.median(trigs.map(t => t.d("queryPlanning") + t.d("getBatch"))),
      "pipeline.offset_commit_ms" -> Stats.median(trigs.map(t => t.d("walCommit") + t.d("commitOffsets"))),
      "pipeline.driver_ms_per_trigger" -> Stats.median(trigs.map(t => t.execMs - sumWall(jobsIn(t)))),
      "pipeline.events_per_trigger" -> Stats.mean(trigs.map(_.rows.toDouble)),
      "source.latest_offset_ms" -> Stats.median(trigs.map(_.d("latestOffset"))),
      "source.read_ms_per_trigger" -> Stats.mean(per(_ == "source")(sumWall)),
      "cdc.job_ms_per_trigger" -> Stats.mean(per(isCdc)(sumWall)),
      "cdc.jobs_per_trigger" -> Stats.mean(per(isCdc)(_.size.toDouble)),
      "cdc.executor_ms_per_trigger" -> Stats.mean(per(isCdc)(_.map(_.executorRunMs.get.toDouble).sum)),
      "cdc.shuffle_bytes_per_event" -> per(isCdc)(_.map(_.shuffleBytes.get.toDouble).sum).sum / math.max(1.0, events),
      "cdc.compactions" -> compactions.size.toDouble,
      "cdc.compact_ms" -> sumWall(compactions),
      "cdc.seed_ms" -> sumWall(backfill.filter(j => trace.moduleOf(j) == "cdc.seed")),
      "core.transform_ms" -> sumWall(backfill),
      "sink.scan_bulk_ms" -> sumWall(backfill.filter(j => trace.moduleOf(j) == "sink.scan_bulk")),
      "sink.bulk_ms_per_trigger" -> Stats.mean(per(_ == "sink")(sumWall)),
      "sink.bulk_bytes_per_event" -> traced.map(_.bulkBytes).sum / math.max(1.0, traced.map(_.events).sum.toDouble),
    )
    m + ("cdc.dirty_bucket_share" -> Stats.mean(trigs.map { t =>
      (t.startOffset until t.endOffset).flatMap(bucketsOf).toSet.size.toDouble / NBuckets
    }))
  }

  private def bulkTailBytes(base: String): Long = {
    val root = s"$base/bulk/$TaskDir"
    DiskUsage.bytes(root, ".bulk") - DiskUsage.bytes(s"$root/batch-scan", ".bulk")
  }

  /** Closed loop: backfill the snapshot, then drain the pre-written backlog
    * in admission-capped triggers; repeated on fresh state until the time
    * is spent. */
  def catchup(spark: SparkSession, p: Params, log: ProgressLog, trace: Option[Trace],
      spans: Spans, host: HostRecord): Outcome = {
    val files = p.num("files").toInt
    val events = p.num("events")
    // two rounds, so each phase metric is a median of two samples; traced
    // runs: untraced, traced, untraced — the traced round sits between two
    // untraced ones, so a steady warming trend of the JIT cancels in the overhead
    val minRounds = if (p.traced) 3 else 2
    val rounds = Vector.newBuilder[DObj]
    val units = Vector.newBuilder[Round]
    val backfillS, drainS, ratio = Vector.newBuilder[Double]
    var attempted, failed = 0L
    host.windowStart()
    val deadline = System.nanoTime() + (p.seconds * 1e9).toLong
    var r = 0
    var lastNs = 0L
    // another round only while it is expected to end by the deadline
    while (r < minRounds || System.nanoTime() + lastNs < deadline) {
      val r0 = System.nanoTime()
      val base = s"${p.work}/rounds/r$r"
      val tracedUnit = trace.isDefined && r % 2 == 1
      trace.foreach { t => t.clear(); t.on = tracedUnit }
      val t0 = Clock.ms()
      val q = graft.Main.run(spark, cfg(p), base, p.str("data")).head
      val t1 = Clock.ms()
      val backfillJobs = trace.map(_.snapshot()).getOrElse(Seq.empty)
      q.processAllAvailable()
      val trigs = log.awaitOffset(q.id, files)
      q.stop()
      trace.foreach(_.on = false)
      val tailJobs = trace.map(_.snapshot().filter(_.startMs >= t1)).getOrElse(Seq.empty)
      val lastCommit = if (trigs.isEmpty) t1 else trigs.map(_.commitMs).max
      attempted += trigs.size
      if (trigs.map(_.endOffset).maxOption.getOrElse(0) < files || trigs.map(_.rows).sum != events) failed += 1
      backfillS += (t1 - t0) / 1000.0
      drainS += (lastCommit - t1) / 1000.0
      System.err.println(f"[catchup] round $r backfill_s=${(t1 - t0) / 1000}%.2f drain_s=${(lastCommit - t1) / 1000}%.2f " +
        f"triggers=${trigs.size} trigger_ms=${trigs.map(_.execMs).mkString(",")}")
      spans.add(s"round-$r", t0, lastCommit, "measure")
      spans.add(s"round-$r.backfill", t0, t1, s"round-$r")
      trigs.foreach(t => spans.add(s"round-$r.trigger-${t.batchId}", t.startMs, t.commitMs, s"round-$r"))
      units += Round(tracedUnit, lastCommit - t0, trigs, backfillJobs, tailJobs, events, bulkTailBytes(base))
      // outside the clock: state dump for the model check, then a full GC
      val (stateBytes, liveBytes) = dumpState(spark, base)
      ratio += stateBytes.toDouble / liveBytes
      rounds += DObj("base" -> DStr(base), "state_bytes" -> DInt(stateBytes), "live_bytes" -> DInt(liveBytes))
      lastNs = System.nanoTime() - r0
      System.err.println(f"[catchup] round $r with state dump took ${lastNs / 1e9}%.2f s")
      Jvm.fullGc()
      r += 1
    }
    host.windowEnd()
    val us = units.result()
    val layers = trace.map { t =>
      val byFile = bucketsPerFile(spark, s"${p.str("data")}/$TaskDir/oplog")
      val rs = rounds.result()
      layerMetrics(t, us, i => byFile.getOrElse(f"oplog-$i%06d.jsonl", Set.empty[Int])) ++ Map(
        "cdc.state_bytes_per_live_byte" -> Stats.median(ratio.result()),
        "cdc.state_bytes" -> rs.last.get("state_bytes").get.asInstanceOf[DInt].i.toDouble,
        "cdc.live_bytes" -> rs.last.get("live_bytes").get.asInstanceOf[DInt].i.toDouble,
      ) ++ overhead(us)
    }.getOrElse(Map.empty)
    Outcome(
      e2e = Map(
        "phase_a_s" -> Stats.median(backfillS.result()),
        "phase_b_s" -> Stats.median(drainS.result())),
      layers = layers, attempted = attempted, failed = failed + log.failures.get,
      checks = rounds.result().map(r => DObj(r.fields :+ ("expect" -> DStr("all")))))
  }

  /** Trace overhead: median traced unit wall − median untraced unit wall. */
  def overhead(us: Seq[Round]): Map[String, Double] = {
    val (on, off) = us.partition(_.traced)
    if (on.isEmpty || off.isEmpty) Map.empty
    else Map("trace.overhead_ms" -> (Stats.median(on.map(_.wallMs)) - Stats.median(off.map(_.wallMs))))
  }
}
