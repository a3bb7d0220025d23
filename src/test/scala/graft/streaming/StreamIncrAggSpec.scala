package graft.streaming

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import graft.TestSpark
import StreamIncrAgg.{Delta, Ev, UserState}

/** The maintained aggregate must equal `cdc_incr_agg`'s batch result
  * (itself oracle-proven equal to the direct LWW-state aggregate) after
  * any prefix of micro-batches — including out-of-order stragglers and
  * an at-least-once replay after a mid-stream kill.
  */
class StreamIncrAggSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  val dir = "/root/testdata/sf0.001"

  private def evFrame = graft.ops.Tables.events(spark, dir)
    .withColumn("sec", expr("ts_ns div 1000000000"))
    .select(col("user_id"), col("event_type"),
      // DECIMAL(18,4) micro-units: exact long, the state currency
      (col("value").cast("decimal(18,4)") * 10000).cast("long").as("v_units"),
      col("sec"), col("event_id"))

  private def directAgg = evFrame
    .withColumn("rn", row_number().over(
      org.apache.spark.sql.expressions.Window.partitionBy(col("user_id"))
        .orderBy(col("sec").desc, col("event_id").desc)))
    .filter(col("rn") === 1)
    .groupBy(col("event_type"))
    .agg(count(lit(1)).as("n"), sum(col("v_units")).as("sv"))
    .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap

  test("step: LWW winner change emits the two-delta pair; stragglers emit nothing") {
    val s0 = StreamIncrAgg.step(None, Seq(Ev(1, "a", 100, 10, 1)))
    assert(s0._1.contains(UserState("a", 100, 10, 1)))
    assert(s0._2 === Seq(Delta("a", 1, 100)))
    // newer arrival flips the winner
    val s1 = StreamIncrAgg.step(s0._1, Seq(Ev(1, "b", 70, 12, 2), Ev(1, "c", 9, 11, 3)))
    assert(s1._1.contains(UserState("b", 70, 12, 2)))
    assert(s1._2 === Seq(Delta("a", -1, -100), Delta("b", 1, 70)))
    // a pure straggler batch (all older than the stored winner): no-op
    val s2 = StreamIncrAgg.step(s1._1, Seq(Ev(1, "z", 5, 11, 99)))
    assert(s2._1 === s1._1 && s2._2.isEmpty)
    // same-sec tiebreak on event_id, both directions
    val s3 = StreamIncrAgg.step(s1._1, Seq(Ev(1, "d", 1, 12, 1)))
    assert(s3._2.isEmpty, "lower event_id at equal sec must lose")
    val s4 = StreamIncrAgg.step(s1._1, Seq(Ev(1, "e", 2, 12, 9)))
    assert(s4._1.contains(UserState("e", 2, 12, 9)))
  }

  test("maintained view == direct LWW aggregate through out-of-order micro-batches + replay") {
    import spark.implicits._
    val base = Files.createTempDirectory("sincr").toString
    val aggDir = s"$base/agg"
    val ev = evFrame

    // batch 1: the MIDDLE third by sec; batch 2: the NEWEST third;
    // batch 3: the OLDEST third — pure stragglers against most keys
    val cuts = ev.stat.approxQuantile("sec", Array(0.33, 0.66), 0.0)
    val (c1, c2) = (cuts(0), cuts(1))
    ev.filter(col("sec") > c1 && col("sec") <= c2).coalesce(1)
      .write.parquet(s"$base/in/p1")
    ev.filter(col("sec") > c2).coalesce(1).write.parquet(s"$base/in/p2")
    ev.filter(col("sec") <= c1).coalesce(1).write.parquet(s"$base/in/p3")
    TestSpark.touch(s"$base/in/p1", 1000L)
    TestSpark.touch(s"$base/in/p2", 2000L)
    TestSpark.touch(s"$base/in/p3", 3000L)

    def start() = {
      val stream = spark.readStream
        .schema(implicitly[org.apache.spark.sql.Encoder[Ev]].schema)
        .option("maxFilesPerTrigger", "1")
        .option("recursiveFileLookup", "true")
        .parquet(s"$base/in")
        .as[Ev]
      StreamIncrAgg.deltas(stream)
        .writeStream
        .outputMode("update")
        .trigger(Trigger.ProcessingTime(100))
        .option("checkpointLocation", s"$base/ckpt")
        .foreachBatch { (b: org.apache.spark.sql.Dataset[Delta], id: Long) =>
          StreamIncrAgg.mergeBatch(spark, aggDir, b.toDF(), id)
        }
        .start()
    }

    // run the first two triggers, then kill (simulated crash)
    val q1 = start()
    eventually(q1.processAllAvailable())
    q1.stop()
    val afterTwo = StreamIncrAgg.readAgg(spark, aggDir)
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    // after two triggers the view must equal the direct aggregate over
    // exactly the two delivered batches' events
    val directTwo = evFrame.filter(col("sec") > c1)
      .withColumn("rn", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("user_id"))
          .orderBy(col("sec").desc, col("event_id").desc)))
      .filter(col("rn") === 1)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("v_units")).as("sv"))
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(afterTwo === directTwo)

    // restart: the checkpoint replays nothing already applied (the
    // pointer guard) and delivers the straggler batch
    val q2 = start()
    eventually(q2.processAllAvailable())
    q2.stop()

    val maintained = StreamIncrAgg.readAgg(spark, aggDir)
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(maintained === directAgg,
      "maintained view must equal the direct LWW-state aggregate")
    // stragglers only moved the view where a user's ONLY events were in
    // the oldest third (state birth); no existing winner was displaced —
    // so for every type present after two triggers the count can only
    // have grown
    afterTwo.foreach { case (g, (n, _)) =>
      assert(maintained.getOrElse(g, (0L, 0L))._1 >= n,
        s"straggler batch may not displace a newer winner (type $g)")
    }

    // idempotence under replay: re-apply the last batch's id with fake
    // deltas — the guard must skip it
    val fake = Seq(Delta("poison", 99L, 99L)).toDF()
    val applied = maintained
    StreamIncrAgg.mergeBatch(spark, aggDir, fake, 0L)
    val after = StreamIncrAgg.readAgg(spark, aggDir)
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(after === applied, "replayed batchId must be skipped")
  }

  test("mergeBatch reclaims old segments: 5 batches leave at most 2, view unchanged") {
    import spark.implicits._
    val aggDir = Files.createTempDirectory("sincr-gc").toString + "/agg"
    var previous = StreamIncrAgg.readAgg(spark, aggDir)
    (0 until 5).foreach { id =>
      previous = StreamIncrAgg.readAgg(spark, aggDir) // lazy over the pre-swap segment
      val ds = Seq(Delta("a", 1L, 10L * id), Delta(s"t$id", 1L, id.toLong))
      StreamIncrAgg.mergeBatch(spark, aggDir, ds.toDF(), id.toLong)
    }
    val segs = new java.io.File(aggDir).list().filter(_.startsWith("agg-"))
    assert(segs.length <= 2, s"segments left: ${segs.toSeq}")
    val view = StreamIncrAgg.readAgg(spark, aggDir)
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(view === Map("a" -> ((5L, 100L))) ++ (0 until 5).map(i => s"t$i" -> ((1L, i.toLong))))
    assert(previous.count() === 5L, "the previous generation must stay readable")
  }

  private def eventually(body: => Unit): Unit = body
}
