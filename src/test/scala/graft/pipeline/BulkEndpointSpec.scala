package graft.pipeline

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import com.sun.net.httpserver.{HttpExchange, HttpServer}
import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark

/** The live `_bulk` leg wired through the CONFIG path (reference
  * src/elasticsearch.ts client.bulk + src/processor.ts:393-395's
  * at-least-once): `elasticsearch.options.bulkEndpoint` makes both the
  * scan backfill and every tail micro-batch POST their committed bulk
  * files; an unreachable/exhausted endpoint fails the micro-batch so
  * the checkpoint never advances, and the restart REPLAYS and delivers
  * — the end-to-end at-least-once contract, driven here against a
  * scripted local endpoint.
  */
class BulkEndpointSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  /** (failFirstN): the stub 503s the first N requests, then acks every
    * item; records each delivered request's action ids. */
  private def withStub(failFirstN: Int)(run: String => Unit): Vector[Vector[String]] = {
    val seen = scala.collection.mutable.ArrayBuffer[Vector[String]]()
    val nReq = new java.util.concurrent.atomic.AtomicInteger(0)
    val server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
    server.createContext("/_bulk", (ex: HttpExchange) => {
      val lines = new String(ex.getRequestBody.readAllBytes(), StandardCharsets.UTF_8)
        .split("\n").toVector.filter(_.nonEmpty)
      if (nReq.getAndIncrement() < failFirstN) {
        ex.sendResponseHeaders(503, -1); ex.close()
      } else {
        val ids = lines.filter(l => l.startsWith("""{"index":""") || l.startsWith("""{"delete":"""))
          .map(l => graft.model.Json.parseObj(l).fields.head._2
            .asInstanceOf[graft.model.DObj].fields
            .collectFirst { case ("_id", graft.model.DStr(s)) => s }.getOrElse(""))
        seen.synchronized { seen += ids }
        val resp = ids.map(id => s"""{"index":{"_id":"$id","status":200}}""")
          .mkString("""{"took":1,"errors":false,"items":[""", ",", "]}")
          .getBytes(StandardCharsets.UTF_8)
        ex.sendResponseHeaders(200, resp.length)
        ex.getResponseBody.write(resp); ex.close()
      }
    })
    server.start()
    try run(s"http://127.0.0.1:${server.getAddress.getPort}/_bulk")
    finally server.stop(0)
    seen.toVector
  }

  /** examples/config.json with the live endpoint injected. */
  private def configWith(endpoint: String, maxRetries: Int): graft.model.EngineConfig = {
    val raw = new String(Files.readAllBytes(Paths.get("examples/config.json")))
    graft.model.EngineConfig.fromJson(raw.replace(
      """"bulkDir": "bulk"""",
      s""""bulkDir": "bulk", "bulkEndpoint": "$endpoint", "bulkMaxRetries": "$maxRetries""""))
  }

  private val taskName = "app.banners___banner.banner"

  private def writeSource(data: String): Unit = {
    Files.createDirectories(Paths.get(s"$data/$taskName/oplog"))
    spark.createDataFrame(Seq(
      ("a", """{"_id":"a","name":"spring","weight":1.0,"deleted":false,"campaign":"c1"}""")))
      .toDF("id", "doc").write.parquet(s"$data/$taskName/snapshot")
    Files.write(Paths.get(s"$data/$taskName/oplog/b1.jsonl"), Seq(
      """{"ts":100,"op":"i","ns":"app.banners","id":"b","doc":{"_id":"b","name":"new","weight":3.0,"deleted":false,"campaign":"c1"}}""",
    ).mkString("\n").getBytes)
  }

  test("scan backfill and tail micro-batches deliver live; a transient 503 retries through") {
    val base = Files.createTempDirectory("bulkep-base").toString
    val data = Files.createTempDirectory("bulkep-data").toString
    writeSource(data)
    spark.sql("DROP TABLE IF EXISTS banner_v1")
    val reqs = withStub(failFirstN = 1) { ep =>
      val queries = Runner.fromConfig(
        spark, configWith(ep, maxRetries = 3), base, graft.Main.fileAdapters(spark, data))
      queries.foreach { q => q.processAllAvailable(); q.stop() }
    }
    // scan delivered doc a (after one 503 retry), tail delivered doc b
    assert(reqs.flatten.contains("a"), s"backfill doc must be delivered: $reqs")
    assert(reqs.flatten.contains("b"), s"tail doc must be delivered: $reqs")
  }

  test("a file: URI bulkDir delivers like a plain path (listing and reads go through Hadoop)") {
    val base = Files.createTempDirectory("bulkep-uri-base").toString
    val data = Files.createTempDirectory("bulkep-uri-data").toString
    val bulkDir = Files.createTempDirectory("bulkep-uri-bulk").toString
    writeSource(data)
    spark.sql("DROP TABLE IF EXISTS banner_v1")
    val reqs = withStub(failFirstN = 0) { ep =>
      val config = graft.model.EngineConfig.fromJson(
        new String(Files.readAllBytes(Paths.get("examples/config.json"))).replace(
          """"bulkDir": "bulk"""",
          s""""bulkDir": "file:$bulkDir", "bulkEndpoint": "$ep""""))
      val queries = Runner.fromConfig(spark, config, base, graft.Main.fileAdapters(spark, data))
      queries.foreach { q => q.processAllAvailable(); q.stop() }
    }
    assert(reqs.flatten.contains("a"), s"backfill doc must be delivered: $reqs")
    assert(reqs.flatten.contains("b"), s"tail doc must be delivered: $reqs")
    // the URI resolved as given, not under baseDir
    assert(Files.exists(Paths.get(s"$bulkDir/${taskName}_v1/batch-scan")))
    assert(!Files.exists(Paths.get(s"$base/file:$bulkDir")))
  }

  test("delivery runs in EXECUTOR tasks — one per part file, never the driver") {
    // hand-written batch dir with 3 committed part files: the unit the
    // executor-side delivery fans out over (r14 verdict #1 — the driver
    // must only LIST names, never read a body or POST)
    val dir = Files.createTempDirectory("bulkexec").toString
    (0 until 3).foreach { i =>
      Files.write(Paths.get(f"$dir/part-$i%05d.bulk"), Seq(
        s"""{"index":{"_index":"i","_type":"t","_id":"d$i"}}""",
        s"""{"f":$i}""").mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8))
    }
    val tags = scala.collection.mutable.ArrayBuffer[String]()
    val server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
    server.createContext("/_bulk", (ex: HttpExchange) => {
      val tag = Option(ex.getRequestHeaders.getFirst("X-Graft-Task")).getOrElse("")
      val nIds = new String(ex.getRequestBody.readAllBytes(), StandardCharsets.UTF_8)
        .split("\n").count(_.startsWith("""{"index":"""))
      tags.synchronized { tags += tag }
      val resp = (1 to nIds).map(_ => s"""{"index":{"_id":"x","status":200}}""")
        .mkString("""{"took":1,"errors":false,"items":[""", ",", "]}")
        .getBytes(StandardCharsets.UTF_8)
      ex.sendResponseHeaders(200, resp.length)
      ex.getResponseBody.write(resp); ex.close()
    })
    server.start()
    // the same dir as a plain path and as a `file:` URI
    try Seq(dir, s"file:$dir").foreach { batchDir =>
      tags.synchronized(tags.clear())
      TailQuery.deliverBulkDir(spark, batchDir, TailQuery.BulkSpec(
        dir = batchDir, index = "i", esType = "t",
        endpoint = Some(s"http://127.0.0.1:${server.getAddress.getPort}/_bulk")))
      val seen = tags.synchronized(tags.toVector)
      assert(seen.size === 3, s"$batchDir: one POST per part file: $seen")
      assert(seen.forall(_.startsWith("task-")),
        s"$batchDir: every POST must come from an executor task, never the driver: $seen")
      assert(seen.map(_.split("-")(1)).distinct.size > 1,
        s"$batchDir: >1 distinct delivering task must appear: $seen")
    } finally server.stop(0)
  }

  test("a dead endpoint fails the batch; restart against a live one replays and delivers (at-least-once)") {
    val base = Files.createTempDirectory("bulkep2-base").toString
    val data = Files.createTempDirectory("bulkep2-data").toString
    writeSource(data)
    spark.sql("DROP TABLE IF EXISTS banner_v1")
    // phase "tail" config start (skip the scan leg: the dead-endpoint
    // failure we want is the STREAM's, whose checkpoint drives replay)
    val hooks = new graft.model.FileCheckpointHooks(
      Files.createTempDirectory("bulkep2-hooks").toString)
    hooks.onSave(taskName, graft.model.CheckpointSpec("tail", None, Some("1970-01-01T00:00:00Z")))

    // run 1: nothing listens on the endpoint -> the micro-batch throws
    val deadPort = {
      val s = new java.net.ServerSocket(0)
      try s.getLocalPort finally s.close()
    }
    val dead = configWith(s"http://127.0.0.1:$deadPort/_bulk", maxRetries = 0)
    val q1 = Runner.fromConfig(spark, dead, base, graft.Main.fileAdapters(spark, data), Some(hooks))
    intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      q1.foreach(_.processAllAvailable())
    }
    q1.foreach(_.stop())

    // run 2: same base (same checkpoint), live endpoint -> the failed
    // batch REPLAYS from the checkpoint and delivers
    val reqs = withStub(failFirstN = 0) { ep =>
      val q2 = Runner.fromConfig(spark, configWith(ep, maxRetries = 3), base,
        graft.Main.fileAdapters(spark, data), Some(hooks))
      q2.foreach { q => q.processAllAvailable(); q.stop() }
    }
    assert(reqs.flatten.contains("b"),
      s"the failed micro-batch must replay and deliver after restart: $reqs")
  }
}
