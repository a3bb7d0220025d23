package graft.cdc

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.TestSpark
import graft.core.Transformer
import graft.model._
import graft.source.EventsOplog

/** End-to-end CDC correctness: the distributed apply (compact +
  * dispatch + state merge in BatchApplier's one per-key fold) must equal
  * a sequential pure-core model fold over the same inputs (SURVEY.md §5
  * test plan), and each stage's behaviour is pinned on crafted batches.
  */
class CdcPipelineSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  val task = graft.SparkEntry.flagshipTask
  val sfDir = "/root/testdata/sf0.001"

  /** (id, doc, parent, ts, action) outcomes of a keep-deletes apply. */
  private def outcomes(df: org.apache.spark.sql.DataFrame): Set[(String, String, String, Long, String)] =
    df.collect().map(r => (r.getAs[String]("id"), r.getAs[String]("doc"),
      r.getAs[String]("parent"), r.getAs[Long]("ts"), r.getAs[String]("action"))).toSet

  test("crafted batch: u folds into i, i+d annihilates, lone $set leaves no row") {
    import OplogRow.encoder
    val rows = Seq(
      OplogRow(BsonTs(0, 0).toLong, "i", "db.c", "k1", """{"_id":"k1","value":1.5}"""),
      OplogRow(BsonTs(1, 0).toLong, "u", "db.c", "k1", """{"$set":{"value":2.5}}"""),
      OplogRow(BsonTs(0, 1).toLong, "i", "db.c", "k2", """{"_id":"k2","value":3.0}"""),
      OplogRow(BsonTs(2, 0).toLong, "d", "db.c", "k2", """{"_id":"k2"}"""),
      OplogRow(BsonTs(0, 2).toLong, "u", "db.c", "k3", """{"$set":{"value":9.0}}"""),
    )
    val vTask = TaskSpec(Vector("value" -> "value"))
    // keep-deletes: the annihilated k2 must leave no tombstone either
    val got = outcomes(BatchApplier.applyOplogBatchKeepDeletes(
      spark.createDataset(rows), StateStore.empty(spark), vTask))
    assert(got === Set(("k1", """{"_id":"k1","value":2.5}""", null, 1L, "upsert")))
  }

  /** Pure-core model of the whole batch pipeline. */
  private def modelState(): Map[String, String] = {
    val events = graft.ops.Tables.events(spark, sfDir)
      .select(col("event_id"), unix_timestamp(col("ts")).cast("long").as("sec"),
        col("user_id"), col("event_type"), col("value"),
        get_json_object(col("props"), "$.k").cast("long").as("k"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3), r.getDouble(4), r.getLong(5)))
      .toSeq

    def mkOplog(eid: Long, sec: Long, uid: Long, typ: String, v: Double, k: Long): Oplog = {
      val ts = BsonTs(sec.toInt, (eid % 2147483648L).toInt)
      val id = uid.toString
      typ match {
        case "signup" => Oplog(ts, "i", "app.users", DObj(
          "_id" -> DStr(id), "value" -> DDbl(v), "k" -> DInt(k), "last_type" -> DStr(typ)))
        case "error" => Oplog(ts, "d", "app.users", DObj("_id" -> DStr(id)))
        case _ => Oplog(ts, "u", "app.users", DObj(
          "$set" -> DObj("value" -> DDbl(v), "k" -> DInt(k), "last_type" -> DStr(typ))),
          Some(DObj("_id" -> DStr(id))))
      }
    }
    val oplogs = events.map((mkOplog _).tupled)
    val sourceSnap: Map[String, DObj] = oplogs
      .filter(_.op == "i")
      .sortBy(_.ts)
      .groupBy(_.docId.get)
      .view.mapValues(_.head.o).toMap

    val compacted = Transformer.mergeOplogs(task, oplogs)
    val irs = compacted.flatMap { o =>
      Transformer.dispatch(task, o, sinkDoc = None, sourceDoc = sourceSnap.get(o.docId.getOrElse("")))
    }
    // LWW apply to empty state (one IR per key after compaction)
    irs.groupBy(_.id).collect {
      case (id, list) if list.maxBy(_.timestamp).action == "upsert" =>
        val ir = list.maxBy(_.timestamp)
        id -> DObj(("_id" -> DStr(id)) +: ir.data.get.fields).render
    }.toMap
  }

  test("full batch pipeline on sf0.001 events == pure-core model fold") {
    import OplogRow.encoder
    val want = modelState()
    val events = graft.ops.Tables.events(spark, sfDir)
    // the source snapshot arrives raw (every signup, BatchApplier keeps
    // the earliest per key) in the flagship entry, and deduplicated
    // (one row per key, no ts column) otherwise
    val applies = Seq(
      "raw snapshot" -> graft.SparkEntry.entry(spark),
      "deduplicated snapshot" -> BatchApplier.applyOplogBatch(
        EventsOplog.fromEvents(events).as[OplogRow], StateStore.empty(spark), task,
        Some(EventsOplog.sourceSnapshot(events))))
    applies.foreach { case (name, state) =>
      val got = state.select("id", "doc").collect().map(r => r.getString(0) -> r.getString(1)).toMap
      assert(got.size === want.size, s"$name: state sizes differ: got ${got.size} want ${want.size}")
      val mismatches = want.collect { case (id, doc) if got.get(id) != Some(doc) => (id, doc, got.get(id)) }
      assert(mismatches.isEmpty, s"$name: first mismatches: ${mismatches.take(3)}")
      assert(got.nonEmpty, name)
    }
  }

  test("fused BatchApplier: untouched state passes through; stale replays lose") {
    import OplogRow.encoder
    val vTask = TaskSpec(Vector("value" -> "value"))
    val state = spark.createDataFrame(Seq(
      ("keep", """{"_id":"keep","value":1.0}""", null.asInstanceOf[String], 50L),
      ("upd", """{"_id":"upd","value":2.0}""", null.asInstanceOf[String], 50L),
      ("newer", """{"_id":"newer","value":3.0}""", null.asInstanceOf[String], 500L << 32),
      ("gone", """{"_id":"gone","value":4.0}""", null.asInstanceOf[String], 50L),
    )).toDF("id", "doc", "parent", "ts")
    val batch = spark.createDataset(Seq(
      OplogRow(BsonTs(100, 0).toLong, "u", "db.c", "upd", """{"$set":{"value":9.0}}"""),
      OplogRow(BsonTs(100, 1).toLong, "u", "db.c", "newer", """{"$set":{"value":8.0}}"""), // stale vs state
      OplogRow(BsonTs(100, 2).toLong, "d", "db.c", "gone", """{"_id":"gone"}"""), // newer than state
      OplogRow(BsonTs(100, 3).toLong, "i", "db.c", "fresh", """{"_id":"fresh","value":5.0}"""),
    ))
    val out = BatchApplier.applyOplogBatch(batch, state, vTask)
      .collect().map(r => r.getAs[String]("id") -> r.getAs[String]("doc")).toMap
    assert(out === Map(
      "keep" -> """{"_id":"keep","value":1.0}""",
      "upd" -> """{"_id":"upd","value":9.0}""",
      "newer" -> """{"_id":"newer","value":3.0}""", // state ts newer than event -> survives
      "fresh" -> """{"_id":"fresh","value":5.0}""", // new key inserted; "gone" deleted
    ))
  }

  test("malformed events are dropped, not fatal (per-event error contract)") {
    import OplogRow.encoder
    val vTask = TaskSpec(Vector("value" -> "value"))
    val batch = spark.createDataset(Seq(
      OplogRow(BsonTs(1, 0).toLong, "i", "db.c", "good", """{"_id":"good","value":1.0}"""),
      OplogRow(BsonTs(1, 1).toLong, "i", "db.c", "bad", """{"_id": BROKEN"""),
      OplogRow(BsonTs(1, 2).toLong, "u", "db.c", "bad2", """not json at all"""),
    ))
    val dropped = spark.sparkContext.longAccumulator("dropped_events")
    val out = BatchApplier.applyOplogBatch(batch, StateStore.empty(spark), vTask,
        dropped = Some(dropped))
      .collect().map(r => r.getAs[String]("id")).toSet
    assert(out === Set("good"))
    // the side-output accounting (P6): both malformed events counted
    assert(dropped.value === 2L)
  }

  test("dispatcher: parent-routed deletes resolve routing from sink state") {
    import OplogRow.encoder
    // reference src/processor.ts:209-213: a delete on a parent-routed task
    // must recover _parent from the sink before emitting the delete IR
    val pTask = TaskSpec(Vector("value" -> "value"), parent = Some("user"))
    val batch = spark.createDataset(Seq(
      OplogRow(BsonTs(9, 0).toLong, "d", "db.c", "p1", """{"_id":"p1"}"""),
      OplogRow(BsonTs(9, 1).toLong, "d", "db.c", "ghost", """{"_id":"ghost"}"""),
    ))
    val state = spark.createDataFrame(Seq(
      ("p1", """{"_id":"p1","value":1.0}""", "u42", 1L)
    )).toDF("id", "doc", "parent", "ts")
    val out = outcomes(BatchApplier.applyOplogBatchKeepDeletes(batch, state, pTask))
      .map { case (id, doc, parent, _, action) => (id, doc, parent, action) }
    // the tombstone carries the recovered routing value; ghost: no sink
    // state -> routing unresolvable -> dropped (reference emits nothing
    // when the ES search finds no doc)
    assert(out === Set(("p1", null, "u42", "delete")))
  }

  test("dispatcher: $set read-back re-injects stored parent into the IR") {
    import OplogRow.encoder
    val pTask = TaskSpec(Vector("value" -> "value"), parent = Some("user"))
    val batch = spark.createDataset(Seq(
      OplogRow(BsonTs(9, 0).toLong, "u", "db.c", "p1", """{"$set":{"value":5.0}}"""),
    ))
    // stored doc does NOT carry the parent path — routing lives in the
    // state's parent column, like ES keeps _parent outside _source
    val state = spark.createDataFrame(Seq(
      ("p1", """{"_id":"p1","value":1.0}""", "u42", 1L)
    )).toDF("id", "doc", "parent", "ts")
    val out = outcomes(BatchApplier.applyOplogBatchKeepDeletes(batch, state, pTask))
    assert(out === Set(("p1", """{"_id":"p1","value":5.0}""", "u42", 9L, "upsert")))
  }

  test("fused BatchApplier: parent routing survives $set read-back and deletes resolve") {
    import OplogRow.encoder
    val pTask = TaskSpec(Vector("value" -> "value"), parent = Some("user"))
    val state = spark.createDataFrame(Seq(
      ("upd", """{"_id":"upd","value":1.0}""", "u42", 1L),
      ("gone", """{"_id":"gone","value":2.0}""", "u43", 1L),
    )).toDF("id", "doc", "parent", "ts")
    val batch = spark.createDataset(Seq(
      OplogRow(BsonTs(100, 0).toLong, "u", "db.c", "upd", """{"$set":{"value":9.0}}"""),
      OplogRow(BsonTs(100, 1).toLong, "d", "db.c", "gone", """{"_id":"gone"}"""),
    ))
    val out = BatchApplier.applyOplogBatch(batch, state, pTask)
      .collect().map(r => r.getAs[String]("id") -> r.getAs[String]("parent")).toMap
    assert(out === Map("upd" -> "u42")) // parent kept, delete applied
  }

  test("dispatcher: $set update against sink state vs source fallback") {
    import OplogRow.encoder
    val vTask = TaskSpec(Vector("value" -> "value"))
    val batch = spark.createDataset(Seq(
      OplogRow(BsonTs(5, 0).toLong, "u", "db.c", "known", """{"$set":{"value":42.0}}"""),
      OplogRow(BsonTs(5, 1).toLong, "u", "db.c", "sourced", """{"$set":{"value":7.0}}"""),
      OplogRow(BsonTs(5, 2).toLong, "u", "db.c", "ghost", """{"$set":{"value":8.0}}"""),
    ))
    val state = spark.createDataFrame(Seq(
      ("known", """{"_id":"known","value":1.0}""", null.asInstanceOf[String], 1L)
    )).toDF("id", "doc", "parent", "ts")
    val source = spark.createDataFrame(Seq(
      ("sourced", """{"_id":"sourced","value":3.0}"""),
    )).toDF("id", "doc")
    val out = BatchApplier.applyOplogBatchKeepDeletes(batch, state, vTask, Some(source))
      .collect().map(r => r.getAs[String]("id") -> r.getAs[String]("doc")).toMap
    assert(out === Map(
      // known: state doc updated via applyUpdateESDoc -> value 42
      "known" -> """{"_id":"known","value":42.0}""",
      // sourced: no sink state -> source doc re-transformed (reference
      // src/processor.ts:199-202: fallback doc is NOT update-applied)
      "sourced" -> """{"_id":"sourced","value":3.0}""",
      // ghost: neither -> dropped
    ))
  }

  test("incremental aggregate maintenance: two-batch delta fold == direct state aggregate") {
    // The cdc_incr_agg algebra across a micro-batch boundary: fold the
    // first half's transition deltas, CARRY the per-user state out, seed
    // the second half's first transitions with it (the point-looked-up
    // before-image a real batch fetches), and the summed deltas must
    // equal the aggregate computed directly over the final LWW state.
    import org.apache.spark.sql.{DataFrame}
    import org.apache.spark.sql.expressions.Window
    val ev = graft.ops.Tables.events(spark, sfDir)
      .withColumn("sec", expr("ts_ns div 1000000000"))
      .select(col("user_id"), col("event_type"),
        col("value").cast("decimal(18,4)").as("v"), col("sec"), col("event_id"))
    val cut = ev.agg(expr("percentile_approx(sec, 0.5)")).head().getLong(0)
    val half1 = ev.filter(col("sec") <= cut)
    val half2 = ev.filter(col("sec") > cut)

    // deltas of one batch given a seed (user_id, event_type, v) state:
    // seed rows ride as pseudo-events below all real secs so the lag
    // window hands them to the batch's first real event as before-image;
    // they emit NO gain (already counted when they first arrived)
    def fold(batch: DataFrame, seed: DataFrame): (DataFrame, DataFrame) = {
      val tagged = batch.withColumn("is_seed", lit(false))
        .unionByName(seed.withColumn("sec", lit(Long.MinValue))
          .withColumn("event_id", lit(-1L)).withColumn("is_seed", lit(true)))
      val w = Window.partitionBy(col("user_id")).orderBy(col("sec"), col("event_id"))
      val trans = tagged
        .withColumn("prev_type", lag(col("event_type"), 1).over(w))
        .withColumn("prev_v", lag(col("v"), 1).over(w))
        .filter(!col("is_seed"))
      val gains = trans.select(col("event_type").as("g"), lit(1L).as("dn"), col("v").as("dv"))
      val losses = trans.filter(col("prev_type").isNotNull)
        .select(col("prev_type").as("g"), lit(-1L).as("dn"),
          (col("prev_v") * lit(-1)).cast("decimal(18,4)").as("dv"))
      val wLast = Window.partitionBy(col("user_id")).orderBy(col("sec").desc, col("event_id").desc)
      val carry = tagged.withColumn("rn", row_number().over(wLast))
        .filter(col("rn") === 1)
        .select(col("user_id"), col("event_type"), col("v"))
      (gains.unionAll(losses), carry)
    }

    val (d1, carry1) = fold(half1, ev.filter(lit(false))
      .select(col("user_id"), col("event_type"), col("v")))
    val (d2, carry2) = fold(half2, carry1)
    val maintained = d1.unionAll(d2).groupBy(col("g"))
      .agg(sum(col("dn")).as("n"), sum(col("dv")).as("sv"))
      .filter(col("n") > 0)
      .collect().map(r => (r.getString(0), (r.getLong(1), r.getDecimal(2)))).toMap
    val direct = carry2.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("v")).as("sv"))
      .collect().map(r => (r.getString(0), (r.getLong(1), r.getDecimal(2)))).toMap
    assert(maintained.keySet === direct.keySet)
    maintained.foreach { case (g, (n, sv)) =>
      assert(direct(g)._1 === n, s"group $g count")
      assert(direct(g)._2.compareTo(sv) === 0, s"group $g sum: ${direct(g)._2} vs $sv")
    }
  }
}
