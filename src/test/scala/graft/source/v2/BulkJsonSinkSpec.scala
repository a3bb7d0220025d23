package graft.source.v2

import java.nio.file.Files
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark

/** The DSv2 bulk sink must emit the reference's _bulk body shape
  * (action line + source line, delete without source, parent routing in
  * the action metadata) and commit atomically. */
class BulkJsonSinkSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  test("IR rows write as bulk bodies with parent routing and deletes") {
    val dir = Files.createTempDirectory("bulk-sink").toString
    val irs = spark.createDataFrame(Seq(
      ("upsert", "a", """{"v":1}""", null: String, 10L),
      ("upsert", "b", """{"v":2}""", "u7", 11L),
      ("delete", "c", null, "u8", 12L),
    )).toDF("action", "id", "data", "parent", "ts")
    irs.coalesce(1).write
      .format("graft.source.v2.BulkJsonSink")
      .option("path", dir).option("index", "users_v1").option("type", "user")
      .mode("append").save()

    assert(Files.exists(java.nio.file.Paths.get(dir, "_SUCCESS")))
    val bulkFiles = Files.list(java.nio.file.Paths.get(dir)).iterator().asScala
      .filter(_.toString.endsWith(".bulk")).toSeq
    assert(bulkFiles.size === 1)
    val lines = Files.readAllLines(bulkFiles.head).asScala.toVector
    // 2 upserts x 2 lines + 1 delete x 1 line
    assert(lines.length === 5)
    assert(lines.count(_.startsWith("""{"index":""")) === 2)
    assert(lines.count(_.startsWith("""{"delete":""")) === 1)
    val bLine = lines.find(_.contains("\"_id\":\"b\"")).get
    assert(bLine.contains("\"_parent\":\"u7\"") && bLine.contains("\"_index\":\"users_v1\""))
    val cLine = lines.find(_.contains("\"_id\":\"c\"")).get
    assert(cLine.startsWith("""{"delete":""") && cLine.contains("\"_parent\":\"u8\""))
    // upsert source lines follow their action lines
    val aIdx = lines.indexWhere(_.contains("\"_id\":\"a\""))
    assert(lines(aIdx + 1) === """{"v":1}""")
    // no staging leftovers after commit
    assert(!Files.list(java.nio.file.Paths.get(dir)).iterator().asScala
      .exists(_.getFileName.toString.startsWith(".part-")))
  }

  test("compress=true gzips each part file; bodies decode byte-identical") {
    val dir = Files.createTempDirectory("bulk-sink-gz").toString
    val irs = spark.createDataFrame(Seq(
      ("upsert", "a", """{"v":1}""", null: String, 10L),
      ("delete", "c", null, null: String, 12L),
    )).toDF("action", "id", "data", "parent", "ts")
    irs.coalesce(1).write
      .format("graft.source.v2.BulkJsonSink")
      .option("path", dir).option("index", "users_v1")
      .option("compress", "true")
      .mode("append").save()

    val gzFiles = Files.list(java.nio.file.Paths.get(dir)).iterator().asScala
      .filter(_.toString.endsWith(".bulk.gz")).toSeq
    assert(gzFiles.size === 1)
    val in = new java.io.BufferedReader(new java.io.InputStreamReader(
      new java.util.zip.GZIPInputStream(Files.newInputStream(gzFiles.head))))
    val lines = try Iterator.continually(in.readLine()).takeWhile(_ != null).toVector
    finally in.close()
    assert(lines.length === 3) // 1 upsert x 2 + 1 delete x 1
    assert(lines(0).startsWith("""{"index":""") && lines(1) === """{"v":1}""")
    assert(lines(2).startsWith("""{"delete":"""))
  }
}
