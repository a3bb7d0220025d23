package graft.streaming

import java.nio.file.Files
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import graft.TestSpark

/** Incremental SCD2: the streaming merge must land on exactly the
  * history the batch build computes — including no-op collapse ACROSS
  * micro-batch boundaries, where the open version (not a batch-local
  * lag) supplies the previous attribute. */
class StreamScd2Spec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  val dir = "/root/testdata/sf0.001"

  private def rows(df: DataFrame): Seq[(Long, Long, String, Long, Option[Long], Boolean)] =
    df.collect().toSeq.map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getLong(3),
      if (r.isNullAt(4)) None else Some(r.getLong(4)), r.getBoolean(5)))

  test("cross-batch no-op collapses; versions continue from the open version") {
    import spark.implicits._
    def batch(rs: (Long, String, Long, Long)*) =
      rs.toDF("key", "attr", "sec", "event_id")
    val h1 = StreamScd2.applyBatch(StreamScd2.emptyHistory(spark),
      batch((1L, "a", 10L, 1L), (1L, "a", 11L, 2L)))
    // two same-attr events → ONE open version
    assert(rows(StreamScd2.asQueryResult(h1)) ===
      Seq((1L, 1L, "a", 10L, None, true)))
    val h2 = StreamScd2.applyBatch(h1,
      batch((1L, "a", 12L, 3L), (1L, "b", 13L, 4L), (1L, "b", 14L, 5L),
        (1L, "c", 15L, 6L), (2L, "x", 13L, 7L)))
    assert(rows(StreamScd2.asQueryResult(h2)) === Seq(
      (1L, 1L, "a", 10L, Some(13L), false), // closed at the first REAL change, not at sec=12
      (1L, 2L, "b", 13L, Some(15L), false),
      (1L, 3L, "c", 15L, None, true),
      (2L, 1L, "x", 13L, None, true)))
  }

  test("a real micro-batched stream reproduces the batch scd2 build on the fixture") {
    val base = Files.createTempDirectory("sscd2").toString
    val ev = graft.ops.Tables.events(spark, dir)
      .withColumn("sec", expr("ts_ns div 1000000000"))
      .select(col("user_id").as("key"), col("event_type").as("attr"), col("sec"), col("event_id"))
    // three ts-ordered micro-batches (cuts at sec terciles: a cut can
    // never split a (sec, event_id) tie group across batches)
    val Array(c1, c2) = ev.stat.approxQuantile("sec", Array(0.33, 0.66), 0.0)
    ev.filter(col("sec") <= c1).coalesce(1).write.parquet(s"$base/in/p1")
    ev.filter(col("sec") > c1 && col("sec") <= c2).coalesce(1).write.parquet(s"$base/in/p2")
    ev.filter(col("sec") > c2).coalesce(1).write.parquet(s"$base/in/p3")
    TestSpark.touch(s"$base/in/p1", 1000L)
    TestSpark.touch(s"$base/in/p2", 2000L)
    TestSpark.touch(s"$base/in/p3", 3000L)

    var history = StreamScd2.emptyHistory(spark)
    var batches = 0
    val q = spark.readStream
      .schema(ev.schema)
      .option("maxFilesPerTrigger", "1")
      .option("recursiveFileLookup", "true")
      .parquet(s"$base/in")
      .writeStream
      .foreachBatch { (b: DataFrame, _: Long) =>
        history = StreamScd2.applyBatch(history, b).localCheckpoint()
        batches += 1
      }
      .trigger(Trigger.ProcessingTime(100))
      .option("checkpointLocation", s"$base/ckpt")
      .start()
    q.processAllAvailable()
    q.stop()

    assert(batches === 3, "one micro-batch per pinned file")
    val streamed = rows(StreamScd2.asQueryResult(history))
    val batchBuild = rows(graft.SparkEntry.queries("cdc_scd2_history")(spark, dir))
    assert(streamed === batchBuild)
  }

  for ((backendName, mk) <- Seq[(String, String => StreamScd2.Scd2History)](
      ("legacy", d => new StreamScd2.Scd2Table(spark, d)),
      ("bucketed", d => new Scd2BucketedTable(spark, d, nBuckets = 4, compactThreshold = 3))))
  test(s"persisted $backendName table: batch replay is a no-op, restart resumes exactly") {
    import spark.implicits._
    val base = Files.createTempDirectory("sscd2t").toString
    def batch(rs: (Long, String, Long, Long)*) =
      rs.toDF("key", "attr", "sec", "event_id")
    val t = mk(s"$base/hist")
    assert(t.applyIfNew(batch((1L, "a", 10L, 1L)), batchId = 0L))
    assert(t.applyIfNew(batch((1L, "b", 20L, 2L)), batchId = 1L))
    val after = rows(StreamScd2.asQueryResult(t.read()))
    assert(after === Seq(
      (1L, 1L, "a", 10L, Some(20L), false),
      (1L, 2L, "b", 20L, None, true)))

    // failure replay: Structured Streaming re-offers the in-flight
    // batch after a crash — the merge must not double-open versions
    assert(!t.applyIfNew(batch((1L, "b", 20L, 2L)), batchId = 1L))
    assert(rows(StreamScd2.asQueryResult(t.read())) === after)

    // restart: a fresh instance resumes from the pointer and continues
    val t2 = mk(s"$base/hist")
    assert(t2.lastBatchId === 1L)
    assert(!t2.applyIfNew(batch((1L, "b", 20L, 2L)), batchId = 1L))
    assert(t2.applyIfNew(batch((1L, "b", 25L, 3L), (1L, "c", 30L, 4L)), batchId = 2L))
    assert(rows(StreamScd2.asQueryResult(t2.read())) === Seq(
      (1L, 1L, "a", 10L, Some(20L), false),
      (1L, 2L, "b", 20L, Some(30L), false), // sec=25 'b' was a no-op
      (1L, 3L, "c", 30L, None, true)))
  }

  for ((backendName, mk) <- Seq[(String, String => StreamScd2.Scd2History)](
      ("legacy", d => new StreamScd2.Scd2Table(spark, d)),
      ("bucketed", d => new Scd2BucketedTable(spark, d, nBuckets = 4, compactThreshold = 3))))
  test(s"$backendName: crash between table-write and offset-commit: restart re-offers, merge skips") {
    val base = Files.createTempDirectory("sscd2x").toString
    val ev = graft.ops.Tables.events(spark, dir)
      .withColumn("sec", expr("ts_ns div 1000000000"))
      .select(col("user_id").as("key"), col("event_type").as("attr"), col("sec"), col("event_id"))
    val Array(c1, c2) = ev.stat.approxQuantile("sec", Array(0.33, 0.66), 0.0)
    ev.filter(col("sec") <= c1).coalesce(1).write.parquet(s"$base/in/p1")
    ev.filter(col("sec") > c1 && col("sec") <= c2).coalesce(1).write.parquet(s"$base/in/p2")
    ev.filter(col("sec") > c2).coalesce(1).write.parquet(s"$base/in/p3")
    TestSpark.touch(s"$base/in/p1", 1000L)
    TestSpark.touch(s"$base/in/p2", 2000L)
    TestSpark.touch(s"$base/in/p3", 3000L)

    val applied = scala.collection.mutable.ArrayBuffer[(Long, Boolean)]()
    @volatile var crashArmed = true
    def run(): Unit = {
      val t = mk(s"$base/hist")
      val q = spark.readStream
        .schema(ev.schema)
        .option("maxFilesPerTrigger", "1")
        .option("recursiveFileLookup", "true")
        .parquet(s"$base/in")
        .writeStream
        .foreachBatch { (b: DataFrame, id: Long) =>
          applied += ((id, t.applyIfNew(b, id)))
          // crash AFTER the table applied but BEFORE Structured
          // Streaming commits the batch's offsets — the exact window
          // where a replay would double-open versions without the
          // batch-id guard
          if (id == 1 && crashArmed) {
            crashArmed = false
            throw new RuntimeException("injected crash after apply")
          }
        }
        .trigger(Trigger.ProcessingTime(100))
        .option("checkpointLocation", s"$base/ckpt")
        .start()
      try { q.processAllAvailable(); q.stop() }
      catch { case _: Exception => try q.stop() catch { case _: Exception => () } }
    }
    run() // crashes while batch 1's offsets are uncommitted
    run() // restart: batch 1 is RE-OFFERED, the table must skip it

    assert(applied.count(_._1 == 1L) >= 2, s"batch 1 must be re-offered: $applied")
    assert(applied.filter(_._1 == 1L).map(_._2).toSeq.sorted.reverse === Seq(true, false),
      s"first offer applies, the replay is a no-op: $applied")
    val streamed = rows(StreamScd2.asQueryResult(mk(s"$base/hist").read()))
    val batchBuild = rows(graft.SparkEntry.queries("cdc_scd2_history")(spark, dir))
    assert(streamed === batchBuild,
      "post-crash history must equal the batch build exactly (no double versions)")
  }

  test("bucketed history: per-trigger writes are O(batch) — cold keys' files never rewritten") {
    import spark.implicits._
    import graft.cdc.StateIO
    val base = Files.createTempDirectory("sscd2b").toString
    def batch(rs: (Long, String, Long, Long)*) =
      rs.toDF("key", "attr", "sec", "event_id")
    val t = new Scd2BucketedTable(spark, s"$base/hist", nBuckets = 4, compactThreshold = 100)
    // seed 64 keys, then touch ONE key per subsequent batch
    assert(t.applyIfNew(batch((0L until 64L).map(k => (k, "a", 10L, k)): _*), 0L))
    val before = StateIO.list(s"$base/hist/data").map(_.getPath.getName).toSet
    assert(t.applyIfNew(batch((7L, "b", 20L, 100L)), 1L))
    val after = StateIO.list(s"$base/hist/data").map(_.getPath.getName).toSet
    // the seed delta is untouched; exactly one new delta dir appeared
    assert(before.subsetOf(after), s"$before vs $after")
    assert((after -- before).size === 1, s"one O(batch) delta per trigger: ${after -- before}")
    // and the merged read is correct: key 7 has two versions, others one
    val out = rows(StreamScd2.asQueryResult(t.read()))
    assert(out.count(_._1 == 7L) === 2)
    assert(out.size === 65)
    assert(out.filter(_._1 == 7L).map(t => (t._2, t._3, t._6)).toSet ===
      Set((1L, "a", false), (2L, "b", true)))
  }

  test("bucketed history: prior-key lookup broadcasts the raw keys and scans the history once, unshuffled") {
    import spark.implicits._
    val base = Files.createTempDirectory("sscd2p").toString
    def batch(rs: (Long, String, Long, Long)*) =
      rs.toDF("key", "attr", "sec", "event_id")
    val t = new Scd2BucketedTable(spark, s"$base/hist", nBuckets = 2, compactThreshold = 2)
    // two commits dirty both buckets and compact them into a base; a
    // third leaves a delta on top of each base
    assert(t.applyIfNew(batch((0L until 40L).map(k => (k, "a", 10L, k)): _*), 0L))
    assert(t.applyIfNew(batch((0L until 40L).map(k => (k, "b", 20L, 100L + k)): _*), 1L))
    assert(t.applyIfNew(batch((0L until 8L).map(k => (k, "c", 30L, 200L + k)): _*), 2L))
    val m = graft.cdc.BucketedStateStore.readManifest(s"$base/hist").get
    assert(m.buckets.size === 2 && m.buckets.values.forall(f => f.base.isDefined && f.deltas.nonEmpty),
      s"every bucket must hold a compacted base and a later delta: $m")
    val few = Seq(1L, 6L, 17L)
    // the same keys repeated, as a batch with several events per key is
    val keys = (few ++ few).toDF("key")
    val prior = t.priorFor(keys)
    val plan = prior.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), s"keys must broadcast:\n${plan.take(2000)}")
    val joinIdx = plan.indexOf("BroadcastHashJoin")
    val exchIdx = plan.indexOf("BroadcastExchange", joinIdx)
    // the build side (printed after its BroadcastExchange) is the
    // stats pass's collected keys: no distinct aggregate before the
    // broadcast
    assert(!plan.substring(exchIdx).contains("HashAggregate"),
      s"keys must broadcast without an aggregate:\n${plan.substring(exchIdx).take(2500)}")
    // the history side (between the join and the build side's
    // exchange) is ONE parquet scan feeding the join unshuffled, with
    // the key range pushed to parquet
    val historySide = plan.substring(joinIdx, exchIdx)
    assert(!historySide.contains("Union"), s"one scan, no union:\n${historySide.take(2500)}")
    assert("FileScan parquet".r.findAllMatchIn(plan).size === 1,
      s"exactly one parquet scan:\n${plan.take(2500)}")
    assert(!historySide.contains("Exchange hashpartitioning"),
      s"history scan must reach the join unshuffled:\n${historySide.take(2500)}")
    assert(historySide.contains("GreaterThanOrEqual(key,") && historySide.contains("LessThanOrEqual(key,"),
      s"key range must be pushed to parquet:\n${historySide.take(2500)}")
    val got = prior.collect().map(r => (r.getAs[Long]("key"), r.getAs[Long]("version"))).toSet
    assert(got === few.flatMap(k => (1L to (if (k < 8L) 3L else 2L)).map(k -> _)).toSet)
  }

  test("bucketed history: a restart with a DIFFERENT constructor nBuckets honors the on-disk layout") {
    import spark.implicits._
    val base = Files.createTempDirectory("sscd2n").toString
    def batch(rs: (Long, String, Long, Long)*) =
      rs.toDF("key", "attr", "sec", "event_id")
    // created with 4 buckets...
    val t4 = new Scd2BucketedTable(spark, s"$base/hist", nBuckets = 4)
    assert(t4.applyIfNew(batch((0L until 32L).map(k => (k, "a", 10L, k)): _*), 0L))
    // ...reopened with the factory default (16): the manifest's bucket
    // count must win, or the point lookup misses every file and the
    // merge double-opens versions
    val t16 = new Scd2BucketedTable(spark, s"$base/hist", nBuckets = 16)
    assert(t16.applyIfNew(batch((5L, "b", 20L, 100L)), 1L))
    val out = rows(StreamScd2.asQueryResult(t16.read()))
    assert(out.size === 33, s"expected 33 rows, got ${out.size}")
    assert(out.filter(_._1 == 5L).map(t => (t._2, t._3, t._6)).toSet ===
      Set((1L, "a", false), (2L, "b", true)),
      "key 5 must continue from version 1, not restart at 1")
  }

  test("bucketed history: a concurrent writer moving the pointer aborts the commit") {
    import spark.implicits._
    import graft.cdc.StateIO
    val base = Files.createTempDirectory("sscd2cas").toString
    def batch(rs: (Long, String, Long, Long)*) =
      rs.toDF("key", "attr", "sec", "event_id")
    val t = new Scd2BucketedTable(spark, s"$base/hist", nBuckets = 2)
    assert(t.applyIfNew(batch((1L, "a", 10L, 1L)), 0L))
    val before = rows(StreamScd2.asQueryResult(t.read()))
    // interpose a second writer right before the swap
    var armed = true
    t.preSwapHook = () => if (armed) {
      armed = false
      StateIO.writeStringAtomic(s"$base/hist/MANIFEST", "99 99")
    }
    val e = intercept[java.util.ConcurrentModificationException](
      t.applyIfNew(batch((1L, "b", 20L, 2L)), 100L))
    assert(e.getMessage.contains("concurrent writer"))
    // restore the true pointer: the aborted commit must not be visible
    StateIO.writeStringAtomic(s"$base/hist/MANIFEST", "0 0")
    t.preSwapHook = () => ()
    assert(rows(StreamScd2.asQueryResult(t.read())) === before,
      "an aborted commit must leave the previous state untouched")
  }

  test("bucketed history: time travel reads retained commits exactly") {
    import spark.implicits._
    val base = Files.createTempDirectory("sscd2tt").toString
    def batch(rs: (Long, String, Long, Long)*) =
      rs.toDF("key", "attr", "sec", "event_id")
    val t = new Scd2BucketedTable(spark, s"$base/hist", nBuckets = 2,
      compactThreshold = 100, retainManifests = 10)
    assert(t.applyIfNew(batch((1L, "a", 10L, 1L), (2L, "x", 10L, 2L)), 0L))
    val afterFirst = rows(StreamScd2.asQueryResult(t.read()))
    assert(t.applyIfNew(batch((1L, "b", 20L, 3L)), 1L))
    // commits are seq 0 (first apply) and seq 1 (current)
    val asOf0 = t.readAt(0L).map(h => rows(StreamScd2.asQueryResult(h)))
    assert(asOf0 === Some(afterFirst), "as-of read must reproduce the first commit")
    val asOf1 = t.readAt(1L).map(h => rows(StreamScd2.asQueryResult(h)))
    assert(asOf1 === Some(rows(StreamScd2.asQueryResult(t.read()))))
    assert(t.readAt(99L).isEmpty, "unknown seq reads as None")
  }

  test("bucketed history: reshard re-buckets without changing the history; merges continue") {
    import spark.implicits._
    val base = Files.createTempDirectory("sscd2r").toString
    def batch(rs: (Long, String, Long, Long)*) =
      rs.toDF("key", "attr", "sec", "event_id")
    val t = new Scd2BucketedTable(spark, s"$base/hist", nBuckets = 2)
    assert(t.applyIfNew(batch((0L until 20L).map(k => (k, "a", 10L, k)): _*), 0L))
    assert(t.applyIfNew(batch((3L, "b", 20L, 100L)), 1L))
    val before = rows(StreamScd2.asQueryResult(t.read()))
    t.reshard(8)
    assert(rows(StreamScd2.asQueryResult(t.read())) === before,
      "reshard must not change the history")
    assert(t.lastBatchId === 1L, "reshard must preserve the replay guard")
    // a later merge through the new layout (reopened with any nBuckets)
    val t2 = new Scd2BucketedTable(spark, s"$base/hist", nBuckets = 4)
    assert(t2.applyIfNew(batch((3L, "c", 30L, 200L)), 2L))
    val out = rows(StreamScd2.asQueryResult(t2.read()))
    assert(out.size === 22)
    assert(out.filter(_._1 == 3L).map(t => (t._2, t._3, t._6)).toSet ===
      Set((1L, "a", false), (2L, "b", false), (3L, "c", true)))
  }

  test("bucketed history: compaction collapses delta chains and vacuum reclaims; reads stay exact") {
    import spark.implicits._
    import graft.cdc.StateIO
    val base = Files.createTempDirectory("sscd2c").toString
    def batch(rs: (Long, String, Long, Long)*) =
      rs.toDF("key", "attr", "sec", "event_id")
    val bucketed = new Scd2BucketedTable(spark, s"$base/hist", nBuckets = 2,
      compactThreshold = 2, retainManifests = 1)
    val legacy = new StreamScd2.Scd2Table(spark, s"$base/ref")
    // same event stream through both backends; attrs cycle so versions pile up
    (0 until 6).foreach { i =>
      val b = batch((0L until 8L).map(k => (k, s"v$i", 10L + i, i * 100L + k)): _*)
      assert(bucketed.applyIfNew(b, i.toLong))
      assert(legacy.applyIfNew(b, i.toLong))
    }
    val b1 = rows(StreamScd2.asQueryResult(bucketed.read()))
    val l1 = rows(StreamScd2.asQueryResult(legacy.read()))
    assert(b1 === l1, "bucketed and legacy histories must be identical")
    // compaction must have fired (threshold 2, 6 commits, every bucket
    // dirty each time) — at least one base dir exists
    val dirs = StateIO.list(s"$base/hist/data").map(_.getPath.getName)
    assert(dirs.exists(_.startsWith("base_")), s"expected a compacted base in $dirs")
    // vacuum with retain 1: old delta dirs are reclaimed, not accreted
    assert(dirs.size < 6, s"vacuum should have reclaimed old commits: $dirs")
  }

  test("bucketed history: string keys work end to end (the CDC doc-id shape)") {
    import spark.implicits._
    import org.apache.spark.sql.types.StringType
    val base = Files.createTempDirectory("sscd2s").toString
    val t = new Scd2BucketedTable(spark, s"$base/hist", nBuckets = 2,
      compactThreshold = 2, keyType = StringType)
    def batch(rs: (String, String, Long, Long)*) =
      rs.toDF("key", "attr", "sec", "event_id")
    assert(t.applyIfNew(batch(("docA", "h1", 10L, 1L), ("docB", "h1", 15L, 2L)), 0L))
    assert(t.applyIfNew(batch(("docA", "h2", 20L, 3L)), 1L))
    assert(t.applyIfNew(batch(("docB", "h2", 25L, 4L)), 2L)) // compaction fires
    val out = StreamScd2.asQueryResult(t.read()).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getString(2),
        if (r.isNullAt(4)) None else Some(r.getLong(4))))
    assert(out.toSeq === Seq(
      ("docA", 1L, "h1", Some(20L)), ("docA", 2L, "h2", None),
      ("docB", 1L, "h1", Some(25L)), ("docB", 2L, "h2", None)))
    // restart with the factory WITHOUT passing the key type: the
    // recorded KEYTYPE is authoritative, so the default-long param is
    // overridden by the on-disk string layout
    val t2 = StreamScd2.table(spark, s"$base/hist")
    assert(t2.lastBatchId === 2L)
    assert(!t2.applyIfNew(batch(("docA", "h2", 20L, 3L)), 2L))
    assert(StreamScd2.asQueryResult(t2.read()).collect()
      .map(_.getString(0)).distinct.sorted.toSeq === Seq("docA", "docB"))

    // a direct construction with the WRONG type fails loudly instead
    // of null-reading the key column
    val bad = new Scd2BucketedTable(spark, s"$base/hist")
    val e = intercept[IllegalStateException](bad.read())
    assert(e.getMessage.contains("key type"))
  }

  test("string keys work end to end (the CDC doc-id shape)") {
    import spark.implicits._
    val b = Seq(("docA", "h1", 10L, 1L), ("docA", "h2", 20L, 2L), ("docB", "h1", 15L, 3L))
      .toDF("key", "attr", "sec", "event_id")
    val h = StreamScd2.applyBatch(
      StreamScd2.emptyHistory(spark, org.apache.spark.sql.types.StringType), b)
    val out = StreamScd2.asQueryResult(h).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getString(2)))
    assert(out.toSeq === Seq(("docA", 1L, "h1"), ("docA", 2L, "h2"), ("docB", 1L, "h1")))
  }
}
