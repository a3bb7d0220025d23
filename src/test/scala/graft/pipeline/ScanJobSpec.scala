package graft.pipeline

import java.nio.file.Files
import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark
import graft.cdc.{BucketedStateStore, StateStore}
import graft.model.TaskSpec

/** The scan backfill seeds state through the tail's fold: each snapshot
  * doc is a ts-0 insert. Pinned on a hand-built snapshot for both state
  * backends. */
class ScanJobSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  val task = TaskSpec(Vector("value" -> "value"), parent = Some("user"))

  private val oid = """{"$oid":"5f0000000000000000000001"}"""

  private def snapshot = spark.createDataFrame(Seq(
    ("a", """{"_id":"a","value":1.0,"user":"u1"}"""),
    ("a", """{"_id":"a","value":1.5,"user":"u1"}"""), // the same id twice: exactly one row
    ("b", """{"_id":"b","value":2.0}"""), // no parent field: parent stays null
    ("7", """{"_id":7,"value":7.0,"user":"u7"}"""), // integer _id
    ("nomap", """{"_id":"nomap","other":1}"""), // no mapped field: no row (P5)
    ("5f0000000000000000000001", s"""{"_id":$oid,"value":3.0}"""), // ObjectId _id
  )).toDF("id", "doc")

  Seq("legacy" -> None, "bucketed" -> Some(BucketedStateStore.Spec())).foreach {
    case (name, buckets) =>
      test(s"backfill seeds one mapped row per id through the tail's fold ($name)") {
        val dir = Files.createTempDirectory(s"scan-$name").toString
        ScanJob.backfill(snapshot, task, dir, buckets)
        val rows = StateStore.read(spark, dir).collect()
          .map(r => (r.getAs[String]("id"), r.getAs[String]("doc"),
            r.getAs[String]("parent"), r.getAs[Long]("ts")))
        assert(rows.count(_._1 == "a") === 1, rows.mkString("\n"))
        val a = rows.find(_._1 == "a").get
        assert(Set(
          ("a", """{"_id":"a","value":1.0}""", "u1", 0L),
          ("a", """{"_id":"a","value":1.5}""", "u1", 0L)).contains(a), a)
        assert(rows.filterNot(_._1 == "a").toSet === Set(
          ("b", """{"_id":"b","value":2.0}""", null, 0L),
          ("7", """{"_id":"7","value":7.0}""", "u7", 0L),
        ))
        // an ObjectId `_id` is dropped like the tail drops such inserts:
        // no row under its hex id, nor under the rendered JSON no tail
        // event's id could match
        assert(!rows.exists(r => r._1.contains("5f0000000000000000000001")))
      }
  }
}
