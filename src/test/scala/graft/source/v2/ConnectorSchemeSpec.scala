package graft.source.v2

import java.nio.file.Files
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.TestSpark
import graft.cdc.GraftTestFileSystem

/** The DSv2 connectors must resolve every path — source dumps, split
  * probes, the streaming discovery log, bulk-body staging/rename —
  * through the Hadoop `FileSystem` for the path's scheme, on driver
  * AND executors. Running them over a scheme that exists only in the
  * session's Hadoop configuration proves no `java.nio` shortcut
  * remains: a local-path implementation cannot resolve `graftfs:` at
  * all. (Companion to [[graft.cdc.StateIOSchemeSpec]], which pins the
  * same contract for the state stores' metadata plane.) */
class ConnectorSchemeSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def registerScheme(): Unit =
    spark.sparkContext.hadoopConfiguration
      .set("fs.graftfs.impl", classOf[GraftTestFileSystem].getName)

  private def writeDump(): String = {
    val dir = Files.createTempDirectory("graftfs-oplog").toString
    Files.write(java.nio.file.Paths.get(dir, "a.jsonl"), Seq(
      """{"ts":100,"op":"i","ns":"db.c","id":"a","doc":{"_id":"a","v":1}}""",
      """{"ts":200,"op":"u","ns":"db.c","id":"a","doc":{"$set":{"v":2}}}""",
      """{"ts":300,"op":"i","ns":"other.ns","id":"x","doc":{"_id":"x"}}""",
    ).mkString("\n").getBytes)
    // a gzip member too: the ISIZE probe and inline decode must also
    // route through the scheme's FileSystem
    val gz = new java.util.zip.GZIPOutputStream(
      Files.newOutputStream(java.nio.file.Paths.get(dir, "b.jsonl.gz")))
    gz.write("""{"ts":400,"op":"i","ns":"db.c","id":"b","doc":{"_id":"b","v":3}}""".getBytes)
    gz.write('\n'); gz.close()
    dir
  }

  test("batch read over graftfs: lists, splits and opens through the scheme") {
    registerScheme()
    val df = spark.read.format("graft.source.v2.OplogJsonSource")
      .option("path", s"graftfs:${writeDump()}").load()
    val rows = df.collect().map(r => (r.getAs[String]("id"), r.getAs[Long]("ts"))).toSet
    assert(rows === Set(("a", 100L), ("a", 200L), ("x", 300L), ("b", 400L)))
    // pushdown still applies on the scheme'd path
    val filtered = spark.read.format("graft.source.v2.OplogJsonSource")
      .option("path", s"graftfs:${writeDump()}").load()
      .filter(col("ns") === "db.c" && col("ts") >= 200L)
    assert(filtered.collect().map(_.getAs[String]("id")).sorted === Array("a", "b"))
  }

  test("streaming read over graftfs: with the discovery log on graftfs: too") {
    registerScheme()
    val dir = writeDump()
    val ckpt = s"graftfs:${Files.createTempDirectory("graftfs-ckpt")}"
    val stream = spark.readStream.format("graft.source.v2.OplogJsonSource")
      .option("path", s"graftfs:$dir").load()
    val q = stream.writeStream.format("memory").queryName("graftfs_tail")
      .option("checkpointLocation", ckpt)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q.awaitTermination(60000)
    val got = spark.table("graftfs_tail").collect().map(_.getAs[String]("id")).sorted
    assert(got === Array("a", "a", "b", "x"))
    // the discovery log itself landed under the graftfs: checkpoint
    // (Spark hands the source its per-source dir, `sources/0`)
    val log = graft.cdc.StateIO.readString(
      new org.apache.hadoop.fs.Path(ckpt, "sources/0/graft-file-log").toString)
    assert(log.linesIterator.count(_.nonEmpty) === 2, log)
    assert(log.linesIterator.forall(_.startsWith("graftfs:")), log)
  }

  test("bulk sink over graftfs: stages, renames and marks through the scheme") {
    registerScheme()
    val dir = Files.createTempDirectory("graftfs-bulk").toString
    spark.createDataFrame(Seq(
      ("upsert", "a", """{"v":1}""", null: String, 10L),
      ("delete", "b", null, null: String, 11L),
    )).toDF("action", "id", "data", "parent", "ts").coalesce(1).write
      .format("graft.source.v2.BulkJsonSink")
      .option("path", s"graftfs:$dir").option("index", "idx_v1")
      .mode("append").save()

    assert(Files.exists(java.nio.file.Paths.get(dir, "_SUCCESS")))
    val files = Files.list(java.nio.file.Paths.get(dir)).iterator().asScala
      .map(_.getFileName.toString).toVector
    assert(files.exists(_.endsWith(".bulk")), files)
    assert(!files.exists(_.startsWith(".part-")), s"staging must be renamed away: $files")
    val lines = Files.readAllLines(java.nio.file.Paths.get(dir,
      files.find(_.endsWith(".bulk")).get)).asScala
    assert(lines.length === 3) // upsert action+source, delete action
  }
}
