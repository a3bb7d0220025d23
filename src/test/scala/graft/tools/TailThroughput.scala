package graft.tools

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

/** Dev-only streaming-throughput probe for the two state backends: per
  * run, seeds a fresh state from the sf events' source snapshot through
  * [[graft.pipeline.ScanJob.backfill]] (so the bucketed store gets its
  * snapshot-sized bucket count), then drains every event, converted to
  * oplog form and split by ts into `triggers` files, through the FULL
  * tail phase one file per trigger. Prints one JSON line per run: tail
  * events/second, tail wall, the seed wall, and the per-trigger
  * `triggerExecution` p50/p95/max — the numbers that compare against
  * the reference's 10,000 docs/s read-capacity ceiling (BASELINE.md §1).
  *
  * Mode `both` alternates the two backends, swapping which runs first
  * every pair, so ambient drift hits both sides alike.
  *
  * Run: SPARK_GRAFT_CPUS=4 SPARK_GRAFT_TP_RUNS=3 sbt "Test/runMain
  * graft.tools.TailThroughput <sfDir> [legacy|bucketed|both] [triggers]"
  */
object TailThroughput {

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val mode = args.lift(1).getOrElse("both")
    val triggers = args.lift(2).map(_.toInt).getOrElse(20)
    val modes = if (mode == "both") Seq("legacy", "bucketed") else Seq(mode)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.codegen.cache.maxEntries", "4096")
      // Right-size per-trigger shuffles to BATCH volume, not machine
      // width: a micro-batch's aggregations carry a few MB, and at 32
      // threads the fixed per-task cost of 32-partition shuffle stages
      // dominated the trigger (measured: 85k ev/s at 32 threads vs 211k
      // at 8 on the same 1M events). parallelismFirst=false lets AQE
      // coalesce those batch-side shuffles down to the advisory size —
      // the same knob Bench ships — restoring wide-machine throughput.
      .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "false")
      .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", "16m")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val events = graft.ops.Tables.events(spark, sfDir)
    val base = Files.createTempDirectory("tail_tp").toString
    // the oplog in `triggers` ts ranges, written once: one file per
    // trigger, so every trigger carries its share of the backlog
    graft.source.EventsOplog.fromEvents(events)
      .repartitionByRange(triggers, col("ts")).write.parquet(s"$base/in")
    val snapshot = s"$base/snapshot"
    graft.source.EventsOplog.sourceSnapshot(events).write.parquet(snapshot)
    val written = spark.read.parquet(s"$base/in")
    val n = written.count()

    // warm codegen/classloading on a copy of the pipeline so the timed
    // runs measure throughput, not one-time JIT (same rationale as Bench)
    val warmBase = Files.createTempDirectory("tail_tp_warm").toString
    written.limit(1000).repartition(1).write.parquet(s"$warmBase/in")
    modes.foreach(m => runOnce(spark, warmBase, spark.read.parquet(snapshot).limit(100),
      Files.createTempDirectory("tail_tp_warm_state").toString, m))

    // >=1 timed runs, an ambient-IO probe point before each (r14
    // verdict #5: throughput numbers are only comparable across windows
    // at similar probe rates — record them alongside, the Bench rule)
    val runs = sys.env.getOrElse("SPARK_GRAFT_TP_RUNS", "1").toInt.max(1)
    (1 to runs).foreach { r =>
      val order = if (r % 2 == 1) modes else modes.reverse
      order.foreach { m =>
        val probe = graft.ops.IoProbe.mbps()
        // fresh state/checkpoint per run: each run is a full cold backfill + tail
        val runBase = Files.createTempDirectory(s"tail_tp_run$r").toString
        val t = runOnce(spark, base, spark.read.parquet(snapshot), runBase, m)
        println(f"""{"metric":"tail_events_per_sec","value":${n / t.tailSec}%.0f,"events":$n,"wall_sec":${t.tailSec}%.3f,"seed_sec":${t.seedSec}%.3f,"triggers":${t.ms.size},"trigger_p50_ms":${t.pct(0.5)},"trigger_p95_ms":${t.pct(0.95)},"trigger_max_ms":${t.pct(1.0)},"buckets":${t.buckets},"run":$r,"io_probe_mbps":$probe%.1f,"mode":"$m","sf":"$sfDir"}""")
      }
    }
    spark.stop()
  }

  private final case class Timing(seedSec: Double, tailSec: Double, ms: Vector[Long], buckets: Int) {
    def pct(q: Double): Long = ms.sorted.apply(math.ceil(q * ms.size).toInt.max(1) - 1)
  }

  private def runOnce(spark: SparkSession, base: String, snapshot: DataFrame,
      stateBase: String, mode: String): Timing = {
    val buckets =
      if (mode == "bucketed") Some(graft.cdc.BucketedStateStore.Spec()) else None
    val stateDir = s"$stateBase/state"
    val t0 = System.nanoTime()
    graft.pipeline.ScanJob.backfill(snapshot, graft.SparkEntry.flagshipTask, stateDir, buckets)
    val t1 = System.nanoTime()
    val stream = spark.readStream.schema(graft.source.v2.OplogJsonTable.SCHEMA)
      .option("recursiveFileLookup", "true")
      .option("maxFilesPerTrigger", "1")
      .parquet(s"$base/in")
    val q = graft.pipeline.TailQuery.start(
      stream, graft.SparkEntry.flagshipTask, ns = "app.users", fromTs = 0L,
      stateDir = stateDir, checkpointDir = s"$stateBase/ckpt",
      triggerMs = 100L, buckets = buckets)
    q.processAllAvailable()
    val t2 = System.nanoTime()
    val ms = q.recentProgress.toVector.filter(_.numInputRows > 0)
      .map(_.durationMs.get("triggerExecution").longValue)
    q.stop()
    Timing((t1 - t0) / 1e9, (t2 - t1) / 1e9, ms,
      graft.cdc.BucketedStateStore.readManifest(stateDir).map(_.nBuckets).getOrElse(0))
  }
}
