package graft.cdc

import java.nio.file.Files
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.functions.col
import graft.{JobRecorder, TestSpark}
import graft.model.{BsonTs, TaskSpec}

/** The bucketed apply's Spark-job budget: a persisted micro-batch is
  * folded and committed in at most 4 jobs (one stats pass, one key
  * broadcast shared by both semi joins, the fold shuffle, the delta
  * write) and the bulk leg writes the committed outcomes in one more. */
class ApplyJobBudgetSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private val task = TaskSpec(Vector("value" -> "value"))
  private val spec = BucketedStateStore.Spec(nBuckets = 4, compactThreshold = 8, retainManifests = 2)

  private def tmp(prefix: String) = Files.createTempDirectory(prefix).toString

  private def ev(sec: Int, ord: Int, op: String, id: String, doc: String) =
    OplogRow(BsonTs(sec, ord).toLong, op, "db.c", id, doc)

  private def readMap(dir: String): Map[String, String] =
    BucketedStateStore.read(spark, dir).collect()
      .map(r => r.getAs[String]("id") -> r.getAs[String]("doc")).toMap

  /** A store seeded with `n` keys plus two delta commits on top. */
  private def seeded(dir: String, key: Int => String, n: Int): Unit = {
    BucketedStateStore.seed((0 until n)
      .map(i => (key(i), s"""{"_id":"${key(i)}","value":$i.0}""", null: String, 1L))
      .toDF("id", "doc", "parent", "ts"), dir, spec)
    Seq(2, 3).foreach { sec =>
      BucketedStateStore.applyBatch(spark.createDataset((0 until n by 7).map(i =>
        ev(sec, i, "u", key(i), s"""{"$$set":{"value":${sec * 1000 + i}.0}}"""))), task, dir, spec)
    }
  }

  /** A batch over every bucket: updates, deletes, inserts, a delete
    * re-inserted in the same batch, and a `$set` on a key only the
    * source snapshot holds. */
  private def batchOf(key: Int => String, n: Int): Seq[OplogRow] =
    (0 until n).flatMap { i =>
      val k = key(i)
      if (i % 5 == 0) Seq(ev(9, i, "d", k, s"""{"_id":"$k"}"""))
      else if (i % 5 == 1) Seq(ev(9, i, "d", k, s"""{"_id":"$k"}"""),
        ev(10, i, "i", k, s"""{"_id":"$k","value":${5000 + i}.0}"""))
      else Seq(ev(9, i, "u", k, s"""{"$$set":{"value":${9000 + i}.0}}"""))
    } ++ Seq(
      ev(9, 9000, "i", key(n), s"""{"_id":"${key(n)}","value":1.0}"""),
      ev(9, 9001, "u", key(n + 1), """{"$set":{"value":2.0}}"""))

  /** What the batch must leave in state. */
  private def expected(key: Int => String, n: Int): Map[String, String] =
    (0 until n).flatMap { i =>
      val k = key(i)
      if (i % 5 == 0) None
      else if (i % 5 == 1) Some(k -> s"""{"_id":"$k","value":${5000 + i}.0}""")
      else Some(k -> s"""{"_id":"$k","value":${9000 + i}.0}""")
    }.toMap ++ Map(
      key(n) -> s"""{"_id":"${key(n)}","value":1.0}""",
      key(n + 1) -> s"""{"_id":"${key(n + 1)}","value":50.0}""")

  private def recorded[A](body: JobRecorder => A): A = JobRecorder.recorded(spark)(body)

  /** Apply one persisted batch with a source and the bulk hook: the
    * apply runs under job group `budget-apply`, the bulk write under
    * `budget-bulk`. Returns the committed seq and the rows the hook saw. */
  private def applyPersisted(dir: String, batch: Seq[OplogRow], source: DataFrame,
      bulkDir: String): (Long, Array[(String, String, String)]) = {
    val sc = spark.sparkContext
    // an RDD-backed frame, like a micro-batch's
    val events = spark.createDataset(sc.parallelize(batch, 2)).persist()
    var seen = Array.empty[(String, String, String)]
    try {
      sc.setJobGroup("budget-apply", "apply")
      val seq = BucketedStateStore.applyBatch(events, task, dir, spec, Some(source), onOutcomes = Some { o =>
        sc.setJobGroup("budget-bulk", "bulk")
        o.select(col("action"), col("id"), col("doc").as("data"), col("parent"), col("ts"))
          .write.format("graft.source.v2.BulkJsonSink")
          .option("path", bulkDir).option("index", "idx").option("type", "_doc")
          .mode("append").save()
        sc.setJobGroup("budget-check", "check")
        seen = o.collect().map(r => (r.getAs[String]("id"), r.getAs[String]("action"), r.getAs[String]("doc")))
        sc.setJobGroup("budget-apply", "apply")
      })
      (seq.get, seen)
    } finally {
      sc.clearJobGroup()
      events.unpersist()
    }
  }

  test("a persisted batch folds and commits in at most 4 jobs, the bulk leg in 1, with one shared key broadcast") {
    val dir = tmp("budget")
    val key = (i: Int) => f"k$i%04d"
    val n = 400
    seeded(dir, key, n)
    val srcDir = tmp("budget-src")
    Seq(key(n + 1) -> s"""{"_id":"${key(n + 1)}","value":50.0}""", key(n + 2) -> """{"_id":"x"}""")
      .toDF("id", "doc").write.mode("overwrite").parquet(srcDir)
    val source = spark.read.parquet(srcDir)
    recorded { rec =>
      val (seq, hookRows) = applyPersisted(dir, batchOf(key, n), source, tmp("budget-bulk"))
      rec.drain()
      val apply = rec.count("budget-apply")
      val bulk = rec.count("budget-bulk")
      assert(apply <= 4, s"apply and commit ran $apply jobs")
      assert(bulk === 1, s"bulk write ran $bulk jobs")
      // the fold's delta write: one broadcast exchange of the collected
      // keys, which the second semi join reads as a reused exchange
      // (matched by its own seq: events of the seeding commits may still
      // reach a listener registered after them)
      val write = rec.awaitPlan(p =>
        p.contains("InsertIntoHadoopFsRelationCommand") && p.contains(s"/data/delta_$seq,"))
      assert(write.size === 1, s"one delta write:\n${rec.plans.asScala.mkString("\n---\n").take(4000)}")
      val plan = write.head.split("== Initial Plan ==").head
      assert(plan.contains("== Final Plan =="), s"an adaptive plan:\n$plan")
      assert("""\+- BroadcastExchange""".r.findAllMatchIn(plan).size === 1, s"one key broadcast:\n$plan")
      assert(plan.contains("ReusedExchange"), s"the second semi join must reuse it:\n$plan")
      assert(plan.contains("LocalTableScan"), s"the keys are a local relation:\n$plan")
      // state and the hook's outcomes are the batch's exact results
      val want = expected(key, n)
      val got = readMap(dir)
      want.foreach { case (k, d) => assert(got.get(k) === Some(d), k) }
      (0 until n by 5).foreach(i => assert(!got.contains(key(i)), s"${key(i)} deleted"))
      assert(hookRows.length === n + 2, "one outcome per batch key")
      assert(hookRows.collect { case (k, "upsert", d) => k -> d }.toMap === want)
      assert(hookRows.collect { case (k, "delete", _) => k }.toSet === (0 until n by 5).map(key).toSet)
    }
  }

  test("keys past the broadcast threshold's bytes fall back to the raw-key side") {
    val dir = tmp("budget-cap")
    // three 40 KB keys: 120 KB of keys against a 64 KB threshold
    val key = (i: Int) => s"k$i-" + ("x" * 40000)
    seeded(dir, key, 3)
    val events = spark.createDataset(spark.sparkContext.parallelize(batchOf(key, 3), 2)).persist()
    val conf = spark.conf
    val saved = conf.get("spark.sql.autoBroadcastJoinThreshold")
    conf.set("spark.sql.autoBroadcastJoinThreshold", "64k")
    try {
      val st = BucketedStateStore.batchStats(spec.nBuckets, events.toDF(), BucketedStateStore.Cdc)
      assert(st.rows === 6 && st.keys.isEmpty, s"keys over the threshold: $st")
      val side = BucketedStateStore.batchKeys(events.toDF(), st, "id")
      assert(side.queryExecution.analyzed.collectFirst { case r: LocalRelation => r }.isEmpty,
        "the key side is the batch's raw ids")
      // one short key more fits: the keys come back as a local relation
      val small = spark.createDataset(Seq(ev(9, 0, "u", "short", "{}"))).toDF()
      val st1 = BucketedStateStore.batchStats(spec.nBuckets, small, BucketedStateStore.Cdc)
      assert(st1.keys === Some(Seq("short")) && st1.lo === "short" && st1.hi === "short")
      // the apply still lands the exact results on the raw-key side
      assert(BucketedStateStore.applyBatch(events, task, dir, spec,
        Some(Seq(key(4) -> s"""{"_id":"${key(4)}","value":50.0}""").toDF("id", "doc"))).isDefined)
      assert(readMap(dir) === expected(key, 3))
    } finally {
      conf.set("spark.sql.autoBroadcastJoinThreshold", saved)
      events.unpersist()
    }
  }
}
