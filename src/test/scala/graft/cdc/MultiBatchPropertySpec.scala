package graft.cdc

import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark
import graft.core.Transformer
import graft.model._

/** Cross-batch property test: random oplog micro-batches applied
  * sequentially through the distributed BatchApplier must equal a pure
  * in-memory model fold with the same semantics (mergeOplogs ->
  * dispatch-with-state -> LWW). Exercises cross-batch `$set` resolution
  * against accumulated state — the path the single-batch goldens can't
  * cover.
  */
class MultiBatchPropertySpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  val task = TaskSpec(Vector("f.a" -> "a", "f.b" -> "b"))

  private def randomOplog(rnd: scala.util.Random, tsBase: Int): OplogRow = {
    val key = s"k${rnd.nextInt(6)}"
    val ts = BsonTs(tsBase, rnd.nextInt(1000))
    val v = rnd.nextInt(50)
    rnd.nextInt(4) match {
      case 0 => // insert
        OplogRow(ts.toLong, "i", "db.c", key,
          s"""{"_id":"$key","f":{"a":$v,"b":${v + 1}}}""")
      case 1 => // $set update
        OplogRow(ts.toLong, "u", "db.c", key, s"""{"$$set":{"f.a":$v}}""")
      case 2 => // replacement update
        OplogRow(ts.toLong, "u", "db.c", key, s"""{"f":{"a":$v}}""")
      case _ => // delete
        OplogRow(ts.toLong, "d", "db.c", key, s"""{"_id":"$key"}""")
    }
  }

  /** Pure model of one batch apply over a state map (same fold as
    * BatchApplier's per-key logic). */
  private def modelApply(state: Map[String, (String, Long)], batch: Seq[OplogRow]): Map[String, (String, Long)] = {
    val byKey = batch.groupBy(_.id)
    val untouched = state.view.filterKeys(k => !byKey.contains(k)).toMap
    val touched = byKey.flatMap { case (id, rows) =>
      val sinkDoc = state.get(id).map(s => Json.parseObj(s._1))
      val irs = Transformer.mergeOplogs(task, rows.map(_.toCore)).flatMap { o =>
        Transformer.dispatch(task, o, sinkDoc, None)
      }
      val candidates = state.get(id).map(s => (s._2, 0, "state", s._1)).toVector ++
        irs.map { ir =>
          val doc = ir.data.map(d =>
            DObj(("_id" -> DStr(ir.id)) +: d.fields.filterNot(_._1 == "_id")).render).orNull
          (ir.timestamp, 1, ir.action, doc)
        }
      if (candidates.isEmpty) None
      else {
        val w = candidates.maxBy(c => (c._1, c._2))
        if (w._3 == "delete") None else Some(id -> (w._4, w._1))
      }
    }
    untouched ++ touched
  }

  test("N random micro-batches: distributed apply == pure model fold") {
    import OplogRow.encoder
    val rnd = new scala.util.Random(2026)
    var engineState = StateStore.empty(spark)
    var modelState = Map.empty[String, (String, Long)]
    for (batchNo <- 1 to 5) {
      val batch = Vector.fill(12)(randomOplog(rnd, batchNo))
      engineState = BatchApplier.applyOplogBatch(
        spark.createDataset(batch), engineState, task)
      // materialize so each round starts from concrete state
      val got = engineState.collect()
        .map(r => r.getAs[String]("id") -> (r.getAs[String]("doc"), r.getAs[Long]("ts"))).toMap
      modelState = modelApply(modelState, batch)
      assert(got === modelState, s"diverged at batch $batchNo with batch $batch")
      engineState = spark.createDataFrame(
        got.toSeq.map { case (id, (doc, ts)) => (id, doc, null.asInstanceOf[String], ts) })
        .toDF("id", "doc", "parent", "ts")
    }
    assert(modelState.nonEmpty)
  }

  // default seeds are fixed (deterministic CI); GRAFT_FUZZ_SEED widens
  // the net for ad-hoc fuzzing sweeps without touching the suite
  private def fuzzSeed(default: Long): Long =
    sys.env.get("GRAFT_FUZZ_SEED").map(_.toLong).getOrElse(default)

  test("N random micro-batches through the BUCKETED store == pure model fold") {
    import OplogRow.encoder
    val rnd = new scala.util.Random(fuzzSeed(4096))
    val dir = java.nio.file.Files.createTempDirectory("mbp-bucketed").toString
    // tiny buckets + aggressive compaction: every structural path
    // (shared deltas, chain compaction, tombstone drop, vacuum) fires
    // within the 8 rounds
    val spec = BucketedStateStore.Spec(nBuckets = 4, compactThreshold = 2, retainManifests = 2)
    var modelState = Map.empty[String, (String, Long)]
    for (batchNo <- 1 to 8) {
      val batch = Vector.fill(12)(randomOplog(rnd, batchNo))
      BucketedStateStore.applyBatch(spark.createDataset(batch), task, dir, spec)
      val got = BucketedStateStore.read(spark, dir).collect()
        .map(r => r.getAs[String]("id") -> (r.getAs[String]("doc"), r.getAs[Long]("ts"))).toMap
      modelState = modelApply(modelState, batch)
      assert(got === modelState, s"diverged at batch $batchNo with batch $batch")
    }
    assert(modelState.nonEmpty)
  }

  // -----------------------------------------------------------------
  // Same property with parent routing configured: the model re-injects
  // the stored parent into the sink doc before dispatch (the engine's
  // _mapResponse replay) and deletes must resolve routing from state.
  val pTask = TaskSpec(Vector("f.a" -> "a", "f.b" -> "b"), parent = Some("p"))

  private def randomParentOplog(rnd: scala.util.Random, tsBase: Int): OplogRow = {
    val key = s"k${rnd.nextInt(6)}"
    val ts = BsonTs(tsBase, rnd.nextInt(1000))
    val v = rnd.nextInt(50)
    rnd.nextInt(4) match {
      case 0 =>
        OplogRow(ts.toLong, "i", "db.c", key,
          s"""{"_id":"$key","p":"u${rnd.nextInt(3)}","f":{"a":$v,"b":${v + 1}}}""")
      case 1 =>
        OplogRow(ts.toLong, "u", "db.c", key, s"""{"$$set":{"f.a":$v}}""")
      case 2 =>
        OplogRow(ts.toLong, "u", "db.c", key, s"""{"p":"u${rnd.nextInt(3)}","f":{"a":$v}}""")
      case _ =>
        OplogRow(ts.toLong, "d", "db.c", key, s"""{"_id":"$key"}""")
    }
  }

  private def modelApplyParent(
      state: Map[String, (String, String, Long)],
      batch: Seq[OplogRow]): Map[String, (String, String, Long)] = {
    val byKey = batch.groupBy(_.id)
    val untouched = state.view.filterKeys(k => !byKey.contains(k)).toMap
    val touched = byKey.flatMap { case (id, rows) =>
      val sinkDoc = state.get(id).map { case (doc, parent, _) =>
        val d = Json.parseObj(doc)
        if (parent != null && parent.nonEmpty) Paths.set(d, "p", DStr(parent)) else d
      }
      val irs = Transformer.mergeOplogs(pTask, rows.map(_.toCore)).flatMap { o =>
        Transformer.dispatch(pTask, o, sinkDoc, None)
      }
      val candidates = state.get(id).map(s => (s._3, 0, "state", s._1, s._2)).toVector ++
        irs.map { ir =>
          val doc = ir.data.map(d =>
            DObj(("_id" -> DStr(ir.id)) +: d.fields.filterNot(_._1 == "_id")).render).orNull
          val parent = ir.parent.map { case DStr(s) => s; case o => o.render }.orNull
          (ir.timestamp, 1, ir.action, doc, parent)
        }
      if (candidates.isEmpty) None
      else {
        val w = candidates.maxBy(c => (c._1, c._2))
        if (w._3 == "delete") None else Some(id -> (w._4, w._5, w._1))
      }
    }
    untouched ++ touched
  }

  test("parent-routed task through the BUCKETED store == model fold (routing survives deltas)") {
    import OplogRow.encoder
    val rnd = new scala.util.Random(fuzzSeed(31337))
    val dir = java.nio.file.Files.createTempDirectory("mbp-bucketed-parent").toString
    val spec = BucketedStateStore.Spec(nBuckets = 4, compactThreshold = 2, retainManifests = 2)
    var modelState = Map.empty[String, (String, String, Long)]
    var sawParent = false
    for (batchNo <- 1 to 6) {
      val batch = Vector.fill(12)(randomParentOplog(rnd, batchNo))
      BucketedStateStore.applyBatch(spark.createDataset(batch), pTask, dir, spec)
      val got = BucketedStateStore.read(spark, dir).collect()
        .map(r => r.getAs[String]("id") ->
          (r.getAs[String]("doc"), r.getAs[String]("parent"), r.getAs[Long]("ts"))).toMap
      modelState = modelApplyParent(modelState, batch)
      assert(got === modelState, s"diverged at batch $batchNo with batch $batch")
      sawParent ||= got.values.exists(_._2 != null)
    }
    assert(modelState.nonEmpty)
    assert(sawParent, "test must actually exercise non-null parent routing")
  }

  test("parent-routed task: distributed apply == model fold (routing carried and deletes resolve)") {
    import OplogRow.encoder
    val rnd = new scala.util.Random(777)
    var engineState = StateStore.empty(spark)
    var modelState = Map.empty[String, (String, String, Long)]
    var sawParent = false
    for (batchNo <- 1 to 5) {
      val batch = Vector.fill(12)(randomParentOplog(rnd, batchNo))
      engineState = BatchApplier.applyOplogBatch(
        spark.createDataset(batch), engineState, pTask)
      val got = engineState.collect()
        .map(r => r.getAs[String]("id") ->
          (r.getAs[String]("doc"), r.getAs[String]("parent"), r.getAs[Long]("ts"))).toMap
      modelState = modelApplyParent(modelState, batch)
      assert(got === modelState, s"diverged at batch $batchNo with batch $batch")
      sawParent ||= got.values.exists(_._2 != null)
      engineState = spark.createDataFrame(got.toSeq.map { case (id, (doc, p, ts)) => (id, doc, p, ts) })
        .toDF("id", "doc", "parent", "ts")
    }
    assert(modelState.nonEmpty)
    assert(sawParent, "test must actually exercise non-null parent routing")
  }

  test("hot-key trigger: one id with 1e5 updates in a batch folds correctly through the BUCKETED store") {
    // VERDICT r16 #7. Why this is a correctness pin and NOT a salting /
    // AQE-skew-join change: compaction is NOT a semigroup — [i ts1,
    // d ts3] compacts to annihilation while [i ts2] alone survives, so
    // merging partial compactions of interleaved slices diverges from
    // compacting the whole ts-ordered sequence — which rules out any
    // map-side pre-combine of a hot key's events; and every JOIN on the
    // CDC path is id-unique per side (state, prior, distinct batch
    // keys), so there is no skewed join for AQE to split (AQE is
    // disabled inside streaming micro-batches anyway). The hot key's
    // cost is therefore one core folding its admitted rows — bounded by
    // maxRowsPerTrigger, the same back-pressure that bounds everything
    // else — and THIS test pins that the fold stays exact at 1e5 rows
    // on one key while 200 background keys ride the same trigger.
    // (PartitioningSpec pins that AQE skew-join DOES engage on the one
    // CDC join shape that can shuffle: the oversized-trigger lookup.)
    import OplogRow.encoder
    val dir = java.nio.file.Files.createTempDirectory("mbp-hotkey").toString
    val spec = BucketedStateStore.Spec(nBuckets = 4, compactThreshold = 2, retainManifests = 2)
    val hot = (1 to 100000).map { i =>
      OplogRow(BsonTs(10, i).toLong, "u", "db.c", "hot", s"""{"$$set":{"f.a":$i}}""")
    }
    val background = (1 to 200).map { k =>
      OplogRow(BsonTs(9, k).toLong, "i", "db.c", s"bg$k",
        s"""{"_id":"bg$k","f":{"a":$k,"b":${k + 1}}}""")
    }
    val insert = OplogRow(BsonTs(8, 0).toLong, "i", "db.c", "hot",
      """{"_id":"hot","f":{"a":0,"b":0}}""")
    val batch = new scala.util.Random(7).shuffle(insert +: (background ++ hot))
    BucketedStateStore.applyBatch(
      spark.createDataset(batch), task, dir, spec)
    val got = StateStore.read(spark, dir).collect()
      .map(r => r.getAs[String]("id") -> (r.getAs[String]("doc"), r.getAs[Long]("ts"))).toMap
    val model = modelApply(Map.empty, batch)
    assert(got.size === 201)
    assert(got === model, "hot-key fold diverged from the pure model")
    assert(got("hot")._1.contains(""""a":100000"""), got("hot"))
  }

  test("oversized-trigger source lookup: AQE skew-join splits a hot snapshot key (plan-pinned)") {
    // The ONE CDC join that can skew: the S5 source point-lookup joins
    // the (possibly UNDEDUPLICATED — multiple versions per key) source
    // snapshot against the batch's keys. Below the store's broadcast
    // cap the key set broadcasts and skew is moot; this
    // pins the oversized-trigger degradation path — the join left to
    // the planner — where a hot document with a version pile-up forms a
    // skewed shuffle partition that AQE must mark and split. Batch
    // context (the scan-phase/backfill shape): AQE never runs inside a
    // streaming micro-batch, which is exactly why the degradation path
    // matters — it is the path a catch-up BACKFILL takes.
    import OplogRow.encoder
    import org.apache.spark.sql.functions.{col, concat, lit, when}
    val conf = spark.conf
    val keys = Seq(
      "spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.adaptive.autoBroadcastJoinThreshold",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
      "spark.sql.adaptive.forceOptimizeSkewedJoin")
    val saved = keys.map(k => k -> conf.getOption(k))
    try {
      conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
      conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "32k")
      conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "16k")
      conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2")
      // the fold's explicit REPARTITION sits downstream of the join, so
      // splitting the skewed partition "introduces" a shuffle that is
      // already there — force tells AQE that trade is accepted
      conf.set("spark.sql.adaptive.forceOptimizeSkewedJoin", "true")
      // hot doc: 100k snapshot versions (the undeduplicated pile-up);
      // 200 cold docs with one version each. One branch with a
      // DATA-DEPENDENT id — a literal-id union branch lets Catalyst
      // distribute the semi join over the union and optimize the hot
      // branch away, which a real pile-up never allows.
      val source = spark.range(100200).select(
        when(col("id") < 100000, "hot")
          .otherwise(concat(lit("bg"), (col("id") - 100000).cast("string"))).as("id"),
        when(col("id") < 100000,
          concat(lit("""{"_id":"hot","f":{"a":"""), col("id"), lit("}}")))
          .otherwise(concat(lit("""{"_id":"bg"""), (col("id") - 100000).cast("string"),
            lit("""","f":{"a":1}}"""))).as("doc"),
        when(col("id") < 100000, col("id")).otherwise(lit(0L)).as("ts"))
      val events = spark.createDataset(
        OplogRow(BsonTs(50, 0).toLong, "u", "db.c", "hot", """{"$set":{"f.b":7}}""") +:
          (1 to 200).map(k =>
            OplogRow(BsonTs(50, k).toLong, "u", "db.c", s"bg${k - 1}", s"""{"$$set":{"f.b":$k}}""")))
      // with size-based broadcasting off the stats pass collects no
      // keys, so the key side is the raw ids and the planner owns the
      // join — the oversized-trigger path under test
      val keys = BucketedStateStore.batchKeys(events.toDF(),
        BucketedStateStore.batchStats(1, events.toDF(), BucketedStateStore.Cdc), "id")
      val out = BatchApplier.applyOplogBatch(events, StateStore.empty(spark), task,
        source = Some(BucketedStateStore.restrictSource(source, keys)))
      val rows = out.collect().map(r => r.getAs[String]("id") -> r.getAs[String]("doc")).toMap
      // correctness through the skew-split join: with no sink state, a
      // $set dispatches as a transform of the FETCHED source document
      // (reference semantics — the fetched doc already carries the
      // update in production), and the earliest source version wins
      // in-group — so hot maps to its version-0 fields
      assert(rows.size === 201)
      assert(rows("hot") === """{"_id":"hot","a":0}""", rows("hot"))
      val finalPlan = out.queryExecution.executedPlan.toString
      assert(finalPlan.contains("SortMergeJoin(skew=true)") &&
        finalPlan.contains("skewed"), // AQEShuffleRead "skewed" / "coalesced and skewed"
        "AQE must mark and split the hot source key on the oversized-trigger join:\n" +
          finalPlan.take(1200))
    } finally saved.foreach {
      case (k, Some(v)) => conf.set(k, v)
      case (k, None)    => conf.unset(k)
    }
  }
}
