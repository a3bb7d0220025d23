package graftbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.SparkSession
import graft.model._

/** What a workload hands back: its end-to-end metrics, per-layer metrics
  * (traced runs only), operation counts and the artefacts the runner
  * checks for correctness after the JVM exits. */
final case class Outcome(e2e: Map[String, Double], layers: Map[String, Double],
    attempted: Long, failed: Long, checks: Vector[DObj], notes: Map[String, Double] = Map.empty)

/** Benchmark JVM: `Harness <params.json>`; writes `<work>/result.json`.
  *
  * Set-up (`setup_s`) is session start plus the workload's warm-up: for
  * `cdc_catchup` the DDL and one throwaway engine lifecycle, for the query
  * mix one warm-up pass. Full GCs separate set-up, measurement and the
  * final heap reading. */
object Harness {

  def session(p: Params): SparkSession = {
    val b = SparkSession.builder()
      .master(s"local[${p.slots}]")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"${p.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${p.work}/warehouse")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "false")
      .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", "16m")
    val s =
      if (p.workload == "query_mix")
        // the query suite's own bench session (graft.Bench)
        b.appName("graft-bench")
          .config("spark.sql.shuffle.partitions", p.slots.toString)
          .config("spark.sql.legacy.parquet.nanosAsLong", "true")
          .config("spark.sql.codegen.cache.maxEntries", "4096")
          .getOrCreate()
      else
        // the engine binary's session (graft.Main.main), with its shuffle
        // width knob (SPARK_GRAFT_SHUFFLE_PARTITIONS) at two per slot
        b.appName("graft-engine")
          .withExtensions(new graft.expressions.GraftExtensions)
          .config("spark.sql.shuffle.partitions", (2 * p.slots).toString)
          .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def main(args: Array[String]): Unit = {
    val p = Params.load(args(0))
    val host = new HostRecord(p.work)
    val spans = new Spans(s"${p.workload}-${p.seed}")
    val t0 = System.nanoTime()
    val spark = session(p)
    val built = (System.nanoTime() - t0) / 1e9
    spark.range(1).count() // the first job pays scheduler start-up
    val sessionS = (System.nanoTime() - t0) / 1e9
    System.err.println(f"[harness] session built in $built%.2f s, first job done at $sessionS%.2f s")
    spans.add("session", 0.0, sessionS * 1000, "setup")
    val log = new ProgressLog
    spark.streams.addListener(log)
    val trace = if (p.traced) Some(new Trace) else None
    trace.foreach(spark.sparkContext.addSparkListener)

    val (setupS, outcome) = p.workload match {
      case "cdc_catchup" =>
        val (ddl, warm) = Cdc.setUp(spark, p, spans)
        val o = Cdc.catchup(spark, p, log, trace, spans, host)
        (sessionS + ddl + warm, o.copy(layers = o.layers ++ trace.map(_ => "sink.ddl_ms" -> ddl * 1000)))
      case "query_mix" =>
        val w0 = System.nanoTime()
        QueryMix.warmUp(spark, p, spans)
        Jvm.fullGc()
        val warm = (System.nanoTime() - w0) / 1e9
        (sessionS + warm, QueryMix.run(spark, p, trace, spans, host))
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }

    def mark(what: String) = System.err.println(f"[harness] $what at ${(System.nanoTime() - t0) / 1e9}%.1f s")
    mark("measured")
    spark.streams.active.foreach(_.stop())
    val retained = Jvm.retainedHeapMb()
    val cachedBlocks = spark.sparkContext.getRDDStorageInfo.map(_.numCachedPartitions).sum
    val layers = trace.map { t =>
      outcome.layers ++ Map("cdc.cached_blocks_end" -> cachedBlocks.toDouble,
        "trace.listener_ms" -> t.callbackMs)
    }.getOrElse(Map.empty)
    def nums(m: Map[String, Double]) = DObj(m.toVector.sortBy(_._1).map { case (k, v) => k -> (DDbl(v): DVal) })
    val result = DObj(
      "e2e" -> nums(outcome.e2e ++ Map("setup_s" -> setupS, "retained_heap_mb" -> retained)),
      "layers" -> nums(layers),
      "attempted" -> DInt(outcome.attempted),
      "failed" -> DInt(outcome.failed),
      "checks" -> DArr(outcome.checks),
      "notes" -> nums(outcome.notes ++ Map("session_s" -> sessionS, "cached_blocks_end" -> cachedBlocks.toDouble)),
      "host" -> host.render())
    trace.foreach(t => t.snapshot().foreach { j =>
      spans.add(s"job-${j.id} ${t.moduleOf(j)} ${j.site}", j.startMs, j.endMs, j.group)
    })
    if (p.traced) spans.write(Paths.get(s"${p.work}/spans.jsonl"))
    Files.write(Paths.get(s"${p.work}/result.json"), result.render.getBytes(UTF_8))
    mark("result written")
    spark.stop()
    mark("stopped")
  }
}
