package graft.llm

import java.nio.file.{Files, Path}

import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark

/** The one persistence discipline under every index sidecar: what a
  * reader sees after a torn build, leftover temp files, a stale stamp
  * and a run of swaps, and the stamped-TSV round trip. */
class SidecarSpec extends AnyFunSuite {

  private def tmpBase(): Path =
    Files.createTempDirectory("sidecar").resolve("t_x.parquet")

  private def touch(seg: Path): Unit = {
    Files.createDirectories(seg)
    Files.writeString(seg.resolve("part-0"), "rows")
  }

  private def versions(base: Path): Set[String] =
    base.getParent.toFile.list().filter(_.startsWith("t_x.parquet.v-")).toSet

  test("names keep the on-disk mangling of the corpus dir") {
    assert(Sidecar.path("knn_graph", "/data/corpus v1.2", "_d8.parquet").getFileName.toString
      === "knn_graph__data_corpus_v1.2_d8.parquet")
  }

  test("a segment written without a pointer swap (a torn build) is invisible") {
    val m = new Sidecar.Manifest(tmpBase())
    val good = m.commit("1:1")(touch)
    intercept[IllegalStateException](m.commit("2:2") { seg =>
      touch(seg); throw new IllegalStateException("crash before the swap")
    })
    assert(m.segments === good)
    assert(m.valid("1:1").contains(good))
    assert(m.valid("2:2").isEmpty)
  }

  test("leftover .tmp files are ignored") {
    val base = tmpBase()
    val m = new Sidecar.Manifest(base)
    val segs = m.commit("1:1")(touch)
    Files.writeString(base.getParent.resolve("t_x.parquet.PTR123.tmp"), "t_x.parquet.v-bogus")
    assert(m.valid("1:1").contains(segs))
    val tsv = base.getParent.resolve("m.tsv")
    Sidecar.writeTsv(tsv, "1:1", Seq("a\tb"))
    Files.writeString(base.getParent.resolve("m.tsv123.tmp"), "#corpus_stamp=9:9\nz")
    assert(Sidecar.readTsv(tsv, "1:1").contains(Vector("a\tb")))
    assert(Sidecar.readTsv(tsv, "9:9").isEmpty)
  }

  test("a stale stamp reads as None; no pointer reads as None") {
    val m = new Sidecar.Manifest(tmpBase())
    assert(m.tip.isEmpty && m.valid("1:1").isEmpty)
    m.commit("1:1")(touch)
    val absorbed = m.commit("3:5", m.segments)(touch)
    assert(absorbed.size === 2)
    assert(m.valid("1:1").isEmpty, "only the LAST segment's cumulative stamp counts")
    assert(m.valid("3:5").contains(absorbed))
  }

  test("a swap keeps exactly the new and the previous generation") {
    val base = tmpBase()
    val m = new Sidecar.Manifest(base)
    m.commit("1:1")(touch)
    val second = m.commit("1:1")(touch)
    val third = m.commit("1:1")(touch)
    assert(versions(base) === (second ++ third).map(_.getFileName.toString).toSet)
    // an absorb keeps its base; a compaction then keeps that whole list
    val absorbed = m.commit("2:2", third)(touch)
    val compacted = m.commit("2:2")(touch)
    assert(versions(base) === (absorbed ++ compacted).map(_.getFileName.toString).toSet)
  }

  test("a stamped TSV round-trips; a wrong or missing header is rejected") {
    val p = Files.createTempDirectory("sidecar-tsv").resolve("m.tsv")
    assert(Sidecar.readTsv(p, "1:1").isEmpty)
    val body = Seq("#losses=0.5,0.25", "bias\t0.1", "f1\t-0.2")
    Sidecar.writeTsv(p, "7:42", body)
    assert(Files.readAllLines(p).get(0) === "#corpus_stamp=7:42")
    assert(Sidecar.readTsv(p, "7:42").contains(body.toVector))
    assert(Sidecar.readTsv(p, "7:43").isEmpty)
    Files.writeString(p, "#corpus_rows=7:42\nbias\t0.1\n")
    assert(Sidecar.readTsv(p, "7:42").isEmpty)
  }

  test("stamps add over disjoint frames and parse back from their token") {
    val spark = TestSpark.spark
    val e = spark.range(0, 1000).withColumnRenamed("id", "vec_id")
    val whole = CorpusStamp.ofFrame(e, "vec_id")
    val parts = CorpusStamp.ofFrame(e.filter("vec_id % 3 = 0"), "vec_id") +
      CorpusStamp.ofFrame(e.filter("vec_id % 3 <> 0"), "vec_id")
    assert(parts === whole)
    assert(CorpusStamp.Stamp.parse(whole.token) === whole)
  }
}
