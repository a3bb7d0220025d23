package graft.cdc

import java.nio.file.Files
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.types._
import graft.TestSpark
import graft.model.{BsonTs, TaskSpec}
import graft.pipeline.{Runner, ScanJob}

/** The bucket count follows the state's size: the backfill seeds
  * `ceil(snapshot bytes / target)` buckets under the `Spec.nBuckets`
  * cap, and compaction doubles the count as the state grows — without
  * changing any value the store holds or any outcome it emits. */
class BucketSizingSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  val task = TaskSpec(Vector("value" -> "value"))

  /** One per-key outcome `applyBatch` emits: (id, doc, parent, ts, action). */
  private type Outcome = (String, String, String, Long, String)

  private def tmp(prefix: String) = Files.createTempDirectory(prefix).toString

  private def docs(n: Int, from: Int = 0): Seq[(String, String)] =
    (from until from + n).map(i => (s"k$i", s"""{"_id":"k$i","value":$i.0}"""))

  /** A parquet snapshot of `n` docs — the shape the file adapter reads. */
  private def parquetSnapshot(n: Int): DataFrame = {
    val path = s"${tmp("sizing-snap")}/snapshot"
    docs(n).toDF("id", "doc").coalesce(1).write.parquet(path)
    spark.read.parquet(path)
  }

  private def asMap(state: DataFrame): Map[String, (String, Long)] =
    state.collect()
      .map(r => r.getAs[String]("id") -> (r.getAs[String]("doc"), r.getAs[Long]("ts"))).toMap

  private def readMap(dir: String): Map[String, (String, Long)] = asMap(StateStore.read(spark, dir))

  test("a parquet snapshot under the target seeds ONE bucket through the Runner") {
    val base = tmp("sizing-runner")
    val snapshot = parquetSnapshot(50)
    val bytes = BucketedStateStore.sizeStatistic(snapshot)
    assert(bytes.exists(b => b > 0 && b < BucketedStateStore.TargetBucketBytes),
      s"a file snapshot reports its file bytes: $bytes")
    val inDir = s"$base/in"
    Files.createDirectories(java.nio.file.Paths.get(inDir))
    val stream = spark.readStream.schema(OplogRow.encoder.schema).parquet(inDir)
    // the default Spec: the config-driven entry points' state backend
    val cfg = Runner.TaskPipeline(task, "db.c", s"$base/state", s"$base/ckpt")
    assert(cfg.buckets === Some(BucketedStateStore.Spec()))
    val q = Runner.bootstrapAndTail(spark, snapshot, stream, cfg)
    q.processAllAvailable(); q.stop()
    val m = BucketedStateStore.readManifest(cfg.stateDir).get
    assert(m.nBuckets === 1)
    assert(m.buckets.keySet === Set(0), s"one base dir: $m")
    assert(readMap(cfg.stateDir).keySet === docs(50).map(_._1).toSet)
  }

  test("a snapshot with no size statistic seeds Spec.nBuckets") {
    val dir = tmp("sizing-nostat")
    val schema = StructType(Seq(StructField("id", StringType), StructField("doc", StringType)))
    val rdd = spark.sparkContext.parallelize(docs(20).map { case (i, d) => org.apache.spark.sql.Row(i, d) })
    val snapshot = spark.createDataFrame(rdd, schema) // an RDD frame reports Spark's default size
    assert(BucketedStateStore.sizeStatistic(snapshot).isEmpty)
    ScanJob.backfill(snapshot, task, dir, Some(BucketedStateStore.Spec()))
    assert(BucketedStateStore.readManifest(dir).get.nBuckets === BucketedStateStore.Spec().nBuckets)
    assert(readMap(dir).size === 20)
  }

  test("a statistic of k × target seeds min(k, cap) buckets") {
    val target = BucketedStateStore.TargetBucketBytes
    val spec = BucketedStateStore.Spec(nBuckets = 8)
    def n(bytes: BigInt) = BucketedStateStore.bucketsFor(Some(bytes), spec)
    Seq(1, 2, 3, 5, 8, 9, 100, 1 << 20).foreach { k =>
      assert(n(BigInt(k) * target) === math.min(k, 8), s"k = $k")
    }
    assert(n(0) === 1, "an empty snapshot still gets one bucket")
    assert(n(target + 1) === 2, "the count rounds up")
    assert(BucketedStateStore.bucketsFor(None, spec) === 8)

    // on a real snapshot: against a target of a third of its bytes the
    // rule picks 3 buckets (a cap below that wins), and the seed writes
    // exactly that many bucket dirs
    val snapshot = parquetSnapshot(200)
    val stat = BucketedStateStore.sizeStatistic(snapshot)
    val third = (stat.get.toLong + 2) / 3
    val state = ScanJob.snapshotState(snapshot, task)
    Seq(8 -> 3, 2 -> 2).foreach { case (cap, want) =>
      val dir = tmp("sizing-k")
      val capped = BucketedStateStore.Spec(nBuckets = cap)
      val k = BucketedStateStore.bucketsFor(stat, capped, third)
      assert(k === want, s"cap $cap")
      BucketedStateStore.seed(state, dir, capped.copy(nBuckets = k))
      val m = BucketedStateStore.readManifest(dir).get
      assert(m.nBuckets === want && m.buckets.keySet === (0 until want).toSet, s"cap $cap: $m")
      assert(readMap(dir).size === 200)
    }
  }

  test("compaction past the target doubles n; state, outcomes and history match a fixed layout, also after a restart") {
    def ev(sec: Int, ord: Int, op: String, id: String, doc: String) =
      OplogRow(BsonTs(sec, ord).toLong, op, "db.c", id, doc)
    def ins(sec: Int, i: Int) = ev(sec, i, "i", s"k$i", s"""{"_id":"k$i","value":${sec * 100 + i}.0}""")
    def set(sec: Int, i: Int) = ev(sec, i, "u", s"k$i", s"""{"$$set":{"value":${sec * 1000 + i}.0}}""")
    def del(sec: Int, i: Int) = ev(sec, i, "d", s"k$i", s"""{"_id":"k$i"}""")
    val batches: Seq[Seq[OplogRow]] = Seq(
      (0 until 6).map(set(1, _)) ++ (12 until 16).map(ins(1, _)),
      (6 until 9).map(del(2, _)) ++ (16 until 20).map(ins(2, _)),
      (6 until 8).map(ins(3, _)) ++ (9 until 14).map(set(3, _)) :+
        ev(3, 50, "u", "z", """{"$set":{"value":-1.0}}"""), // source fallback
      (0 until 3).map(del(4, _)) ++ (14 until 18).map(set(4, _)),
      (0 until 2).map(ins(5, _)) ++ (3 until 6).map(set(5, _)) :+ del(5, 19),
      (2 until 4).map(set(6, _)) ++ (20 until 24).map(ins(6, _)), // k2 deleted: dropped
      (10 until 22).map(set(7, _)),
      (0 until 24 by 3).map(del(8, _)),
    )
    val source = Seq(("z", """{"_id":"z","value":50.0}""")).toDF("id", "doc")
    val seedState = docs(12).map { case (i, d) => (i, d, null: String, 1L) }
      .toDF("id", "doc", "parent", "ts")

    // grows: seeded with ONE bucket, a 1-byte target, cap 4; a trigger
    // writes up to three manifests (delta, compaction, growth), so 4
    // retained ones reach back past the trigger that grew
    val growDir = tmp("sizing-grow")
    val grow = BucketedStateStore.Spec(nBuckets = 4, compactThreshold = 2, retainManifests = 4)
    BucketedStateStore.seed(seedState, growDir, grow.copy(nBuckets = 1))
    // fixed: the same cap seeded in full, default target (never grows)
    val fixedDir = tmp("sizing-fixed")
    val fixed = BucketedStateStore.Spec(nBuckets = 4, compactThreshold = 2, retainManifests = 2)
    BucketedStateStore.seed(seedState, fixedDir, fixed)

    def applyOne(b: Seq[OplogRow], dir: String, spec: BucketedStateStore.Spec, target: Long): Seq[Outcome] = {
      var out = Seq.empty[Outcome]
      BucketedStateStore.applySized(spark.createDataset(b), task, dir, spec, Some(source), None,
        Some(o => out = o.as[Outcome].collect().toSeq.sortBy(_._1)), target)
      out
    }
    /** Applies one batch to both stores; returns the grown store's
      * manifest seq and bucket count, and the state after the batch. */
    def step(b: Seq[OplogRow], growSpec: BucketedStateStore.Spec, target: Long, i: Int) = {
      val got = applyOne(b, growDir, growSpec, target)
      val want = applyOne(b, fixedDir, fixed, BucketedStateStore.TargetBucketBytes)
      assert(got.nonEmpty && got === want, s"batch $i outcomes")
      val state = readMap(fixedDir)
      assert(readMap(growDir) === state, s"batch $i state")
      val m = BucketedStateStore.readManifest(growDir).get
      (m.seq, m.nBuckets, state)
    }

    val (before, after) = batches.splitAt(5)
    val seed = BucketedStateStore.readManifest(growDir).get
    val steps = before.zipWithIndex.scanLeft((seed.seq, seed.nBuckets, readMap(growDir))) {
      case ((seq0, n0, state0), (b, i)) =>
        val now = step(b, grow, 1L, i)
        // time travel across a growth step: the commit before the
        // doubling still reads back as it was, under its own count
        if (now._2 != n0) {
          assert(BucketedStateStore.manifestAt(growDir, seq0).map(_.nBuckets) === Some(n0))
          assert(asMap(BucketedStateStore.readAt(spark, growDir, seq0).get) === state0,
            s"readAt($seq0) across the $n0 -> ${now._2} step")
        }
        now
    }.tail
    val counts = steps.map(_._2)
    assert(counts.head === 1 && counts.last === 4, s"n per batch: $counts")
    assert(counts.contains(2) && counts.sliding(2).forall(p => p(1) == p(0) || p(1) == 2 * p(0)),
      s"n doubles one step at a time: $counts")
    assert(BucketedStateStore.readManifest(fixedDir).get.nBuckets === 4)

    // restart: a fresh session-side view (no cached plans) and the
    // default Spec, as a restarted engine would pass it — the manifest's
    // count stays in force and the results still match
    spark.catalog.clearCache()
    after.zipWithIndex.foreach { case (b, i) =>
      assert(step(b, BucketedStateStore.Spec(), BucketedStateStore.TargetBucketBytes, before.size + i)._2 === 4)
    }
  }
}
