package graft.pipeline

import java.nio.file.Files
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.types._
import graft.TestSpark
import graft.cdc.{OplogRow, StateStore}
import graft.model.{BsonTs, TaskSpec}
import scala.jdk.CollectionConverters._

/** Streaming tail phase end-to-end: two micro-batches through a file
  * source; the update in batch 2 must resolve against the state that
  * batch 1 merged (the engine-owned replacement for sink read-back).
  */
class TailQuerySpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  val task = TaskSpec(Vector("value" -> "value"))

  val oplogSchema = StructType(Seq(
    StructField("ts", LongType),
    StructField("op", StringType),
    StructField("ns", StringType),
    StructField("id", StringType),
    StructField("doc", StringType),
    StructField("fromMigrate", BooleanType),
  ))

  test("tail stream: state survives across micro-batches; deletes and updates apply") {
    import OplogRow.encoder
    val base = Files.createTempDirectory("tailq").toString
    val inDir = s"$base/in"
    Files.createDirectories(java.nio.file.Paths.get(inDir))

    val batch1 = Seq(
      OplogRow(BsonTs(1, 0).toLong, "i", "db.c", "k1", """{"_id":"k1","value":1.0}"""),
      OplogRow(BsonTs(1, 1).toLong, "i", "db.c", "k2", """{"_id":"k2","value":2.0}"""),
    )
    val batch2 = Seq(
      OplogRow(BsonTs(2, 0).toLong, "u", "db.c", "k1", """{"$set":{"value":10.0}}"""),
      OplogRow(BsonTs(2, 1).toLong, "d", "db.c", "k2", """{"_id":"k2"}"""),
      OplogRow(BsonTs(2, 2).toLong, "i", "db.c", "k3", """{"_id":"k3","value":3.0}"""),
      // foreign namespace: must be filtered by P3
      OplogRow(BsonTs(2, 3).toLong, "i", "other.ns", "kX", """{"_id":"kX","value":9.9}"""),
      // fromMigrate: must be filtered by P3
      OplogRow(BsonTs(2, 4).toLong, "i", "db.c", "kY", """{"_id":"kY","value":8.8}""", fromMigrate = true),
    )
    // one file per micro-batch, processed in order via maxFilesPerTrigger=1
    spark.createDataset(batch1).coalesce(1).write.parquet(s"$inDir/b1")
    spark.createDataset(batch2).coalesce(1).write.parquet(s"$inDir/b2")

    val stream = spark.readStream
      .schema(oplogSchema)
      .option("maxFilesPerTrigger", "1")
      .option("recursiveFileLookup", "true")
      .parquet(inDir)

    val q = TailQuery.start(
      stream, task, ns = "db.c", fromTs = 0L,
      stateDir = s"$base/state", checkpointDir = s"$base/ckpt")
    q.processAllAvailable()
    // the tail surfaces in-flight quality metrics on every non-empty
    // micro-batch (Observability wired into the stream itself). The
    // count is EXACT — 2 rows in batch 1, 3 surviving P3 in batch 2 —
    // because foreachBatch materializes the observed plan exactly once
    // (a second uncached action would re-fire CollectMetrics and
    // inflate the counters)
    val observed = q.recentProgress.flatMap(p => Option(p.observedMetrics.get("tail")))
    assert(observed.map(_.getAs[Long]("rows")).sum === 5L,
      "tail stream must report exact observed row counts")
    q.stop()

    val state = StateStore.read(spark, s"$base/state")
      .collect().map(r => r.getAs[String]("id") -> r.getAs[String]("doc")).toMap
    assert(state === Map(
      "k1" -> """{"_id":"k1","value":10.0}""",
      "k3" -> """{"_id":"k3","value":3.0}""",
    ))
  }

  test("tail stream: parent routing survives $set read-back and routes deletes") {
    import OplogRow.encoder
    val pTask = TaskSpec(Vector("value" -> "value"), parent = Some("user"))
    val base = Files.createTempDirectory("tailq-parent").toString
    val inDir = s"$base/in"
    Files.createDirectories(java.nio.file.Paths.get(inDir))

    // batch 1 inserts two parent-routed docs; batch 2 $set-updates one
    // (read-back must re-attach its stored routing) and deletes the
    // other (delete must resolve routing from state, not be dropped)
    val batch1 = Seq(
      OplogRow(BsonTs(1, 0).toLong, "i", "db.c", "k1", """{"_id":"k1","user":"u7","value":1.0}"""),
      OplogRow(BsonTs(1, 1).toLong, "i", "db.c", "k2", """{"_id":"k2","user":"u8","value":2.0}"""),
    )
    val batch2 = Seq(
      OplogRow(BsonTs(2, 0).toLong, "u", "db.c", "k1", """{"$set":{"value":10.0}}"""),
      OplogRow(BsonTs(2, 1).toLong, "d", "db.c", "k2", """{"_id":"k2"}"""),
    )
    spark.createDataset(batch1).coalesce(1).write.parquet(s"$inDir/b1")
    spark.createDataset(batch2).coalesce(1).write.parquet(s"$inDir/b2")

    val stream = spark.readStream
      .schema(oplogSchema)
      .option("maxFilesPerTrigger", "1")
      .option("recursiveFileLookup", "true")
      .parquet(inDir)

    val q = TailQuery.start(
      stream, pTask, ns = "db.c", fromTs = 0L,
      stateDir = s"$base/state", checkpointDir = s"$base/ckpt")
    q.processAllAvailable()
    q.stop()

    val state = StateStore.read(spark, s"$base/state")
      .collect().map(r => r.getAs[String]("id") ->
        (r.getAs[String]("doc"), r.getAs[String]("parent"))).toMap
    assert(state.keySet === Set("k1"))       // k2's routed delete applied
    assert(state("k1")._2 === "u7")          // routing survived the $set read-back
    assert(state("k1")._1 === """{"_id":"k1","value":10.0}""")
  }

  test("skip-and-count policy: a poison micro-batch is counted and skipped, the tail survives") {
    import OplogRow.encoder
    import org.apache.spark.sql.functions.col
    val base = Files.createTempDirectory("tailq-poison").toString
    val inDir = s"$base/in"
    Files.createDirectories(java.nio.file.Paths.get(inDir))

    // A source snapshot whose single parquet part-file we can remove and
    // restore: the removal makes exactly one micro-batch fail at
    // EXECUTION time (FileNotFoundException inside the snapshot scan) —
    // a genuine mid-stream fault, not a mock.
    val srcDir = s"$base/src"
    spark.createDataFrame(Seq(("k9", """{"_id":"k9","value":99.0}""")))
      .toDF("id", "doc").coalesce(1).write.parquet(srcDir)
    val partFile = {
      val s = java.nio.file.Files.list(java.nio.file.Paths.get(srcDir))
      try s.iterator().asScala.find(_.getFileName.toString.endsWith(".parquet")).get
      finally s.close()
    }
    val backup = java.nio.file.Files.readAllBytes(partFile)
    val source = spark.read.parquet(srcDir)

    val policy = TailQuery.skipAndCount(spark, "poison-test")
    spark.createDataset(Seq(
      OplogRow(BsonTs(1, 0).toLong, "i", "db.c", "k1", """{"_id":"k1","value":1.0}""")))
      .coalesce(1).write.parquet(s"$inDir/b1")
    val stream = spark.readStream
      .schema(oplogSchema)
      .option("maxFilesPerTrigger", "1")
      .option("recursiveFileLookup", "true")
      .parquet(inDir)
    val q = TailQuery.start(
      stream, task, ns = "db.c", fromTs = 0L,
      stateDir = s"$base/state", checkpointDir = s"$base/ckpt",
      source = Some(source), failurePolicy = policy)
    q.processAllAvailable()
    assert(policy.skippedBatches.value === 0L)

    // poison batch: snapshot part-file gone → the batch's source scan
    // throws; the stream must count and move on, not die
    java.nio.file.Files.delete(partFile)
    spark.createDataset(Seq(
      OplogRow(BsonTs(2, 0).toLong, "u", "db.c", "k9", """{"$set":{"value":5.0}}"""),
      OplogRow(BsonTs(2, 1).toLong, "i", "db.c", "k4", """{"_id":"k4","value":4.0}""")))
      .coalesce(1).write.parquet(s"$inDir/b2")
    q.processAllAvailable()
    assert(q.isActive, "stream must survive the poison batch")
    assert(q.exception.isEmpty)
    assert(policy.skippedBatches.value === 1L)
    assert(policy.skippedRows.value === 2L)

    // heal the snapshot; the NEXT batch applies normally
    java.nio.file.Files.write(partFile, backup)
    spark.createDataset(Seq(
      OplogRow(BsonTs(3, 0).toLong, "i", "db.c", "k3", """{"_id":"k3","value":3.0}""")))
      .coalesce(1).write.parquet(s"$inDir/b3")
    q.processAllAvailable()
    assert(q.isActive)
    assert(policy.skippedBatches.value === 1L, "healed batch must not be counted")
    q.stop()

    val ids = StateStore.read(spark, s"$base/state")
      .select(col("id")).collect().map(_.getString(0)).toSet
    // k1 (pre-poison) and k3 (post-heal) applied; the poison batch's k4
    // was consciously skipped with its batch — offsets committed past it
    assert(ids === Set("k1", "k3"))
  }

  test("bucketed tail with the bulk leg: cached blocks and live data dirs stay bounded over 12 triggers") {
    // Long-running tails must not leak: every trigger persists its batch
    // and (for the bulk leg) its outcomes, and each commit writes a new
    // data dir. After every trigger the cached RDD blocks must be back
    // to their pre-trigger count, and vacuum + compaction must hold the
    // live data dirs under a bound that does not grow with the trigger
    // count. (Broadcast pieces are reclaimed by the context cleaner on
    // GC, not per trigger, so only RDD blocks are counted.)
    import OplogRow.encoder
    val base = Files.createTempDirectory("tail-bounded").toString
    val inDir = s"$base/in"
    Files.createDirectories(java.nio.file.Paths.get(inDir))
    val spec = graft.cdc.BucketedStateStore.Spec(nBuckets = 2, compactThreshold = 3, retainManifests = 2)
    val q = TailQuery.start(
      spark.readStream.schema(oplogSchema).option("maxFilesPerTrigger", "1")
        .option("recursiveFileLookup", "true").parquet(inDir),
      task, ns = "db.c", fromTs = 0L,
      stateDir = s"$base/state", checkpointDir = s"$base/ckpt",
      buckets = Some(spec), bulk = Some(TailQuery.BulkSpec(s"$base/bulk", "idx", "_doc")))
    val blockManager = org.apache.spark.SparkEnv.get.blockManager.master
    def rddBlocks(): Int = blockManager.getMatchingBlockIds(_.isRDD, askStorageEndpoints = true).size
    def settled(want: Int): Int = { // unpersist is asynchronous
      val deadline = System.currentTimeMillis() + 10000
      var n = rddBlocks()
      while (n != want && System.currentTimeMillis() < deadline) { Thread.sleep(50); n = rddBlocks() }
      n
    }
    def dataDirs(): Int = graft.cdc.StateIO.list(s"$base/state/data").count(_.isDirectory)
    // the newest manifest's chains hold < compactThreshold deltas; each
    // older retained manifest adds at most one delta and one base dir
    val dirBound = spec.compactThreshold + 2 * spec.retainManifests
    val triggers = 12
    try {
      (1 to triggers).foreach { t =>
        val pre = rddBlocks()
        spark.createDataset((0 until 8).map { i =>
          val id = s"k${(t * 3 + i) % 10}"
          if (i == 7 && t % 4 == 0) OplogRow(BsonTs(t, i).toLong, "d", "db.c", id, s"""{"_id":"$id"}""")
          else OplogRow(BsonTs(t, i).toLong, "i", "db.c", id, s"""{"_id":"$id","value":$t.$i}""")
        }).coalesce(1).write.parquet(f"$inDir/b$t%03d")
        q.processAllAvailable()
        assert(settled(pre) === pre, s"trigger $t: cached blocks must return to $pre")
        assert(spark.sharedState.cacheManager.isEmpty, s"trigger $t: no cached plan may stay registered")
        assert(dataDirs() <= dirBound, s"trigger $t: ${dataDirs()} live data dirs > $dirBound")
      }
    } finally q.stop()
    assert(graft.cdc.BucketedStateStore.readManifest(s"$base/state").get.seq >= triggers,
      "every trigger committed")
    val bulkBatches = graft.cdc.StateIO.list(s"$base/bulk").count(_.getPath.getName.startsWith("batch-"))
    assert(bulkBatches === triggers, "the bulk leg wrote one dir per trigger")
  }
}
