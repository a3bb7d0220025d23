package graft.source

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets
import java.nio.file.Files
import com.sun.net.httpserver.{HttpExchange, HttpServer}
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions.col
import graft.TestSpark
import graft.cdc.StateStore
import graft.model.{BsonTs, TaskSpec}
import graft.pipeline.Runner

/** The live Mongo wire leg against a stub server speaking the
  * extended-JSON-over-HTTP protocol of
  * [[graft.source.v2.MongoHttpSource]]: sharded snapshot scan with
  * server-side resume range, seq-offset oplog tail with server-side
  * ns/ts filters, admission capping, and the full scan→tail→restart
  * lifecycle with checkpoint resume (no committed seq re-fetched).
  */
class MongoHttpSourceSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  /** In-memory mongod stand-in. `docs` is the collection (id → doc
    * JSON), `oplog` the capped log (seq = index + 1). Records every
    * request path+query. */
  private final class StubMongo {
    val docs = scala.collection.mutable.LinkedHashMap[String, String]()
    val oplog = scala.collection.mutable.ArrayBuffer[String]() // served lines, seq = index + 1
    val requests = scala.collection.mutable.ArrayBuffer[String]()
    private var server: HttpServer = _

    def url: String = s"http://127.0.0.1:${server.getAddress.getPort}"

    private def param(query: String, k: String): Option[String] =
      Option(query).toSeq.flatMap(_.split("&")).collectFirst {
        case kv if kv.startsWith(s"$k=") =>
          java.net.URLDecoder.decode(kv.drop(k.length + 1), "UTF-8")
      }

    def addOp(ts: Long, op: String, ns: String, id: String, doc: String): Unit =
      oplog.synchronized {
        oplog += s"""{"seq":${oplog.size + 1},"ts":$ts,"op":"$op","ns":"$ns","id":"$id","doc":$doc}"""
      }

    /** One oplog line served verbatim (malformed and empty ones too). */
    def addLine(line: String): Unit = oplog.synchronized { oplog += line }

    def start(): this.type = {
      server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
      server.createContext("/", (ex: HttpExchange) => {
        val path = ex.getRequestURI.getPath
        val query = ex.getRequestURI.getQuery
        requests.synchronized { requests += (path + Option(query).map("?" + _).getOrElse("")) }
        val body: String =
          if (path == "/oplog/latest") s"""{"seq":${oplog.synchronized(oplog.size)}}"""
          else if (path == "/oplog") {
            val from = param(query, "from").get.toLong
            val to = param(query, "to").get.toLong
            val ns = param(query, "ns")
            val fromTs = param(query, "fromTs").map(_.toLong)
            oplog.synchronized {
              (from until to).filter(_ < oplog.size).map(i => oplog(i.toInt))
            }.filter { e =>
              // a line the server cannot parse passes through: the
              // reader's own contract must drop it
              scala.util.Try(graft.model.Json.parseObj(e)).toOption.forall { o =>
                ns.forall(n => o.get("ns").exists(_ == graft.model.DStr(n))) &&
                  fromTs.forall(t => o.get("ts").exists {
                    case graft.model.DInt(v) => v >= t; case _ => false
                  })
              }
            }.mkString("\n")
          } else if (path.startsWith("/snapshot/")) {
            val shard = param(query, "shard").get.toInt
            val shards = param(query, "shards").get.toInt
            val fromId = param(query, "fromId")
            val limit = param(query, "limit").map(_.toInt).getOrElse(Int.MaxValue)
            docs.synchronized {
              docs.toVector.sortBy(_._1)
                .filter { case (id, _) => fromId.forall(id >= _) }
                .filter { case (id, _) => math.floorMod(id.hashCode, shards) == shard }
                .take(limit)
                .map { case (id, doc) => s"""{"id":"$id","doc":$doc}""" }
                .mkString("\n")
            }
          } else ""
        val bytes = body.getBytes(StandardCharsets.UTF_8)
        if (bytes.isEmpty) ex.sendResponseHeaders(200, -1)
        else { ex.sendResponseHeaders(200, bytes.length); ex.getResponseBody.write(bytes) }
        ex.close()
      })
      server.start(); this
    }
    def stop(): Unit = server.stop(0)
  }

  private def snapshotDf(url: String) = spark.read
    .format("graft.source.v2.MongoHttpSource")
    .option("url", url).option("mode", "snapshot").option("collection", "db.c")
    .load()

  test("snapshot: sharded parallel scan returns the collection; resume range pushes to the server") {
    val stub = new StubMongo().start()
    try {
      stub.docs ++= Seq(
        "a" -> """{"_id":"a","value":1.0}""",
        "b" -> """{"_id":"b","value":2.0}""",
        "c" -> """{"_id":"c","value":3.0}""")
      val all = snapshotDf(stub.url).collect().map(r => r.getString(0)).sorted
      assert(all.toSeq === Seq("a", "b", "c"))
      // 4 shard partitions by default — the scan fans out
      assert(stub.requests.count(_.startsWith("/snapshot/db.c?")) === 4)
      assert(stub.requests.exists(_.contains("shards=4")))

      // resume range: id >= "b" must reach the server as fromId (P2)
      stub.requests.clear()
      val resumed = snapshotDf(stub.url).filter(col("id") >= "b")
      val plan = resumed.queryExecution.executedPlan.toString
      assert(plan.contains("pushed=GreaterThanOrEqual(id,b)"), plan.take(500))
      assert(resumed.collect().map(_.getString(0)).sorted.toSeq === Seq("b", "c"))
      assert(stub.requests.forall(r => !r.startsWith("/snapshot") || r.contains("fromId=b")),
        stub.requests.mkString("\n"))
    } finally stub.stop()
  }

  test("wire e2e: scan seeds state, the seq-offset tail applies changes, restart resumes past committed seqs") {
    val stub = new StubMongo().start()
    try {
      stub.docs ++= Seq(
        "a" -> """{"_id":"a","value":1.0}""",
        "b" -> """{"_id":"b","value":2.0}""")
      stub.addOp(BsonTs(10, 0).toLong, "u", "db.c", "a", """{"$set":{"value":11.0}}""")
      stub.addOp(BsonTs(10, 1).toLong, "i", "db.c", "c", """{"_id":"c","value":3.0}""")
      // noise on another namespace: the ns predicate must exclude it
      stub.addOp(BsonTs(10, 2).toLong, "i", "other.x", "z", """{"_id":"z","value":9.0}""")

      val base = Files.createTempDirectory("mongo-http").toString
      def stream() = spark.readStream
        .format("graft.source.v2.MongoHttpSource")
        .option("url", stub.url).option("mode", "oplog")
        .option("ns", "db.c") // P3 as a source option (streaming has no filter pushdown)
        .load()
      val cfg = Runner.TaskPipeline(TaskSpec(Vector("value" -> "value")),
        "db.c", s"$base/state", s"$base/ckpt")

      val q1 = Runner.bootstrapAndTail(spark, snapshotDf(stub.url), stream(), cfg)
      q1.processAllAvailable(); q1.stop()
      val s1 = StateStore.read(spark, cfg.stateDir).collect()
        .map(r => r.getAs[String]("id") -> r.getAs[String]("doc")).toMap
      assert(s1 === Map(
        "a" -> """{"_id":"a","value":11.0}""",
        "b" -> """{"_id":"b","value":2.0}""",
        "c" -> """{"_id":"c","value":3.0}"""))

      // restart: a delete lands in the wire log, same dirs resume
      stub.addOp(BsonTs(20, 0).toLong, "d", "db.c", "b", """{"_id":"b"}""")
      stub.requests.clear()
      val q2 = Runner.bootstrapAndTail(spark, snapshotDf(stub.url), stream(), cfg)
      q2.processAllAvailable(); q2.stop()
      val s2 = StateStore.read(spark, cfg.stateDir).collect()
        .map(r => r.getAs[String]("id")).toSet
      assert(s2 === Set("a", "c"), "the post-restart delete must apply")
      // checkpoint resume: no committed sequence is re-fetched — every
      // restart-phase oplog range starts at or after the committed head (3)
      val oplogReqs = stub.requests.filter(_.startsWith("/oplog?"))
      assert(oplogReqs.nonEmpty)
      oplogReqs.foreach { r =>
        val from = r.split("[?&]").collectFirst { case p if p.startsWith("from=") => p.drop(5).toLong }.get
        assert(from >= 3, s"committed seq re-fetched: $r")
      }
      // the P3 ns predicate reached the SERVER (DSv2 streaming pushdown
      // → the ns query param), like the reference's oplog query filter
      assert(oplogReqs.forall(_.contains("ns=db.c")), oplogReqs.mkString("\n"))
      // no backfill re-ran on restart: seq 1 (the a-update) was never
      // re-fetched (asserted above), so if the scan had re-seeded state
      // from the collection, a would have reverted to value 1.0.
      // (/snapshot requests DO appear here — they are the S5 batched
      // point-lookup join the tail runs per micro-batch, not a re-scan.)
      val aDoc = StateStore.read(spark, cfg.stateDir).collect()
        .collectFirst { case r if r.getAs[String]("id") == "a" => r.getAs[String]("doc") }.get
      assert(aDoc.contains(""""value":11.0"""), s"backfill re-ran and clobbered the tail update: $aDoc")
    } finally stub.stop()
  }

  test("snapshot pagination: a shard streams as chained fromId/limit pages, each id exactly once") {
    val stub = new StubMongo().start()
    try {
      // 25 ids, zero-padded so lexicographic order == numeric order
      (0 until 25).foreach(i => stub.docs += (f"d$i%03d" -> s"""{"_id":"d$i%03d","value":$i.0}"""))
      val got = spark.read
        .format("graft.source.v2.MongoHttpSource")
        .option("url", stub.url).option("mode", "snapshot").option("collection", "db.c")
        .option("numShards", "1").option("batchRows", "10")
        .load().collect().map(_.getString(0))
      assert(got.length === 25, "each id exactly once, across page boundaries")
      assert(got.sorted.toSeq === (0 until 25).map(i => f"d$i%03d"))
      val snaps = stub.requests.filter(_.startsWith("/snapshot/"))
      // 25 rows at 10/page = 3 GETs netting 10, 9, 7 new ids (each
      // continuation page re-sends its inclusive cursor row, dropped
      // locally); the short final page ends the chain
      assert(snaps.length === 3 && snaps.forall(_.contains("limit=10")), snaps.mkString("\n"))
      assert(snaps.count(_.contains("fromId=")) === 2, "continuation GETs chain on the last id")
      assert(snaps.exists(_.contains("fromId=d009")) && snaps.exists(_.contains("fromId=d018")),
        snaps.mkString("\n"))
    } finally stub.stop()
  }

  test("snapshot: conjunctive id bounds — the strongest reaches the server, ALL re-check locally") {
    val stub = new StubMongo().start()
    try {
      stub.docs ++= Seq(
        "a" -> """{"_id":"a","value":1.0}""",
        "b" -> """{"_id":"b","value":2.0}""",
        "c" -> """{"_id":"c","value":3.0}""",
        "d" -> """{"_id":"d","value":4.0}""")
      // two conjunctive lower bounds: Spark hands BOTH to pushFilters
      // and drops them from the post-scan plan — the reader must apply
      // the max (c), not the first-listed (b)
      val rows = snapshotDf(stub.url)
        .filter(col("id") >= "b").filter(col("id") >= "c")
        .collect().map(_.getString(0)).sorted
      assert(rows.toSeq === Seq("c", "d"), "the weaker bound must not leak row b")
      assert(stub.requests.filter(_.startsWith("/snapshot/")).forall(_.contains("fromId=c")),
        "the server gets the strongest bound:\n" + stub.requests.mkString("\n"))
    } finally stub.stop()
  }

  test("startingSeq: a fresh stream starts at the configured seq and never fetches below it") {
    val stub = new StubMongo().start()
    try {
      (1 to 5).foreach(i =>
        stub.addOp(BsonTs(10, i).toLong, "i", "db.c", s"e$i", s"""{"_id":"e$i","value":$i.0}"""))
      val ckpt = Files.createTempDirectory("mongo-startseq").toString
      val q = spark.readStream
        .format("graft.source.v2.MongoHttpSource")
        .option("url", stub.url).option("mode", "oplog")
        .option("startingSeq", "3")
        .load()
        .writeStream.format("memory").queryName("mongo_startseq")
        .option("checkpointLocation", ckpt).start()
      q.processAllAvailable(); q.stop()
      // seqs 4 and 5 only — the reference's task.from.time first-start
      assert(spark.table("mongo_startseq").collect().map(_.getAs[String]("id")).sorted.toSeq
        === Seq("e4", "e5"))
      val froms = stub.requests.filter(_.startsWith("/oplog?")).map(r =>
        r.split("[?&]").collectFirst { case p if p.startsWith("from=") => p.drop(5).toLong }.get)
      assert(froms.nonEmpty && froms.forall(_ >= 3), s"a range below startingSeq was fetched: $froms")
    } finally stub.stop()
  }

  test("startAtHead: a fresh stream skips the backlog and tails only post-start entries") {
    val stub = new StubMongo().start()
    try {
      (1 to 4).foreach(i =>
        stub.addOp(BsonTs(10, i).toLong, "i", "db.c", s"f$i", s"""{"_id":"f$i","value":$i.0}"""))
      val ckpt = Files.createTempDirectory("mongo-head").toString
      def start() = spark.readStream
        .format("graft.source.v2.MongoHttpSource")
        .option("url", stub.url).option("mode", "oplog")
        .option("startAtHead", "true")
        .load()
        .writeStream.format("memory").queryName("mongo_head")
        .option("checkpointLocation", ckpt).start()
      val q = start()
      q.processAllAvailable()
      assert(spark.table("mongo_head").count() === 0, "the 4-entry backlog must be skipped")
      stub.addOp(BsonTs(20, 0).toLong, "i", "db.c", "f9", """{"_id":"f9","value":9.0}""")
      q.processAllAvailable(); q.stop()
      assert(spark.table("mongo_head").collect().map(_.getAs[String]("id")).toSeq === Seq("f9"))
      val froms = stub.requests.filter(_.startsWith("/oplog?")).map(r =>
        r.split("[?&]").collectFirst { case p if p.startsWith("from=") => p.drop(5).toLong }.get)
      assert(froms.forall(_ >= 4), s"a pre-head range was fetched: $froms")
    } finally stub.stop()
  }

  test("admission: maxRowsPerTrigger caps every trigger's sequence advance") {
    val stub = new StubMongo().start()
    try {
      (1 to 5).foreach(i =>
        stub.addOp(BsonTs(10, i).toLong, "i", "db.c", s"d$i", s"""{"_id":"d$i","value":$i.0}"""))
      val ckpt = Files.createTempDirectory("mongo-adm").toString
      val out = spark.readStream
        .format("graft.source.v2.MongoHttpSource")
        .option("url", stub.url).option("mode", "oplog")
        .option("maxRowsPerTrigger", "2")
        .load()
      val q = out.writeStream.format("memory").queryName("mongo_adm")
        .option("checkpointLocation", ckpt).start()
      q.processAllAvailable(); q.stop()
      assert(spark.table("mongo_adm").count() === 5)
      val ranges = stub.requests.filter(_.startsWith("/oplog?")).map { r =>
        val kv = r.split("[?&]").flatMap(_.split("=") match {
          case Array(k, v) => Some(k -> v.toLong); case _ => None
        }).toMap
        (kv("from"), kv("to"))
      }
      assert(ranges.forall { case (f, t) => t - f <= 2 },
        s"a trigger exceeded the row budget: $ranges")
      assert(ranges.map { case (f, t) => t - f }.sum === 5)
    } finally stub.stop()
  }

  test("cross-connector: a file dump and the wire emit identical rows, with and without pushdown") {
    val lines = Seq(
      s"""{"ts":${BsonTs(10, 0).toLong},"op":"i","ns":"db.c","id":"a","doc":{"_id":"a","v":1},"fromMigrate":false}""",
      s"""{"ts":${BsonTs(10, 1).toLong},"op":"u","ns":"db.c","id":"a","doc":{"$$set":{"v":2}},"fromMigrate":true}""",
      s"""{"ts":${BsonTs(10, 2).toLong},"op":"d","ns":"db.c","id":"b"}""", // no doc, no fromMigrate
      """{"ts":"12","op":"i","ns":"db.c","id":"q","doc":{"_id":"q"}}""", // ts not an integer
      """{"ts":1.5,"op":"i","ns":"db.c","id":"r","doc":{"_id":"r"}}""",
      """{"ts":7,"op":"i","ns":"db.c",""", // malformed JSON
      "",
      s"""{"ts":${BsonTs(11, 0).toLong},"op":"i","ns":"db.c","id":"s","doc":"{\\"_id\\":\\"s\\"}"}""", // doc is a string
      s"""{"ts":${BsonTs(11, 1).toLong},"op":"i","ns":"other.x","id":7,"doc":{"_id":7,"w":[1,null]}}""",
      s"""{"ts":${BsonTs(12, 0).toLong},"op":"i","ns":"db.c","id":"t","doc":{"_id":"t"},"fromMigrate":"yes"}""",
    )
    val dir = Files.createTempDirectory("cross-connector").toString
    // CRLF on disk: the file reader strips the '\r', the wire reader's
    // line splitter never sees one (the stub joins with '\n')
    Files.write(java.nio.file.Paths.get(dir, "dump.jsonl"),
      lines.mkString("", "\r\n", "\r\n").getBytes(StandardCharsets.UTF_8))
    val stub = new StubMongo().start()
    try {
      lines.foreach(stub.addLine)
      val file = spark.read.format("graft.source.v2.OplogJsonSource").option("path", dir).load()
      val wire = spark.read.format("graft.source.v2.MongoHttpSource")
        .option("url", stub.url).option("mode", "oplog").option("batchRows", "3").load()
      val from = BsonTs(10, 1).toLong
      val reads: Seq[(String, org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame)] = Seq(
        "all columns" -> (df => df),
        "pushed ns/ts" -> (df => df.filter(col("ns") === "db.c" && col("ts") >= from)),
        "pushed strict ts, pruned" -> (df => df.filter(col("ts") > from).select("id", "ts")),
        "pruned doc/fromMigrate" -> (df => df.select("fromMigrate", "doc")),
      )
      reads.foreach { case (what, read) =>
        val (f, w) = (read(file), read(wire))
        if (what.startsWith("pushed"))
          Seq(f, w).foreach { df =>
            val plan = df.queryExecution.executedPlan.toString
            assert(plan.contains("GreaterThan"), s"$what: ts bound not pushed:\n${plan.take(1200)}")
          }
        assert(f.schema === w.schema, what)
        val fileRows = f.collect().toSeq
        assert(fileRows === w.collect().toSeq, what)
        assert(fileRows.nonEmpty, what)
      }
      // the valid lines, with nulls for missing keys and a rendered doc
      val all = file.collect().map(_.toSeq)
      assert(all.map(_(3)).toSeq === Seq("a", "a", "b", "s", "7", "t"))
      assert(all(2)(4) == null && all(2)(5) == false, all(2))
      assert(all(3)(4) === """{"_id":"s"}""")
      assert(all(5)(5) == false, "a non-boolean fromMigrate reads as false")
      // the wire query carries the pushed predicates
      assert(stub.requests.exists(r => r.contains("ns=db.c") && r.contains(s"fromTs=$from")),
        stub.requests.mkString("\n"))
    } finally stub.stop()
  }
}
