package graft.llm

import java.nio.file.{Files, NoSuchFileException, Path, StandardCopyOption}
import org.apache.spark.sql.{DataFrame, SparkSession}
import scala.jdk.CollectionConverters._

/** How every index sidecar under [[CodebookStore.indexRoot]] commits and
  * when it is valid — the one metadata discipline the codebook, PQ, kNN
  * graph, MinHash, NB, LR and BPE stores share.
  *
  * Two shapes, both keyed on a [[CorpusStamp]] token (or, for the
  * MinHash archive, its covered-document count):
  *
  *  - a small model is a stamped TSV: a `#corpus_stamp=<token>` header
  *    line, then the caller's body lines, written to a temp file and
  *    atomically renamed — a concurrent second driver sees either the
  *    old file or the complete new one;
  *  - a table is a segment [[Manifest]]: immutable `<base>.v-<uuid>`
  *    directories, each recording in `_CORPUS_ROWS` the CUMULATIVE stamp
  *    after it landed, named one per line by an atomically swapped
  *    `<base>.PTR` pointer. A full build writes one segment, an absorb
  *    appends a delta segment, a compaction folds the list back to one.
  *
  * One validity rule for both: the sidecar is valid iff its header, or
  * the LAST segment of its manifest, records the live stamp. A segment
  * written without a pointer swap (a crashed build) is invisible, and a
  * swap reclaims every segment named by neither the new manifest nor the
  * previous one — a concurrent session may still hold a lazy DataFrame
  * over the previous generation.
  *
  * Every name and byte format here is shared with sidecars already on
  * disk, so changing one invalidates (and rebuilds) them all.
  */
private[graft] object Sidecar {

  private val log = org.slf4j.LoggerFactory.getLogger(getClass)

  private val StampHeader = "#corpus_stamp="

  /** `<kind>_<dir><suffix>` under the index root, with every character of
    * `dir` outside `[A-Za-z0-9._-]` mangled to `_`. */
  def path(kind: String, dir: String, suffix: String): Path =
    CodebookStore.indexRoot.resolve(s"${kind}_${dir.replaceAll("[^A-Za-z0-9._-]", "_")}$suffix")

  /** Write `body` under a `#corpus_stamp=<stamp>` header, atomically. */
  def writeTsv(p: Path, stamp: String, body: Seq[String]): Unit = {
    Files.createDirectories(p.getParent)
    val tmp = Files.createTempFile(p.getParent, p.getFileName.toString, ".tmp")
    Files.write(tmp, ((StampHeader + stamp) +: body).asJava)
    Files.move(tmp, p, StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
  }

  /** The body lines of `p` iff its header records `stamp`. */
  def readTsv(p: Path, stamp: String): Option[Vector[String]] =
    (try Some(Files.readAllLines(p).asScala.toVector)
     catch { case _: NoSuchFileException => None })
      .filter(_.headOption.contains(StampHeader + stamp)).map(_.tail)

  /** A manifest's segments scanned as one parquet table. */
  def read(spark: SparkSession, segs: Vector[Path]): DataFrame =
    spark.read.parquet(segs.map(_.toString): _*)

  private def readString(p: Path): Option[String] =
    try Some(Files.readString(p)) catch { case _: NoSuchFileException => None }

  /** The segment manifest of the table sidecar at `base`. */
  final class Manifest(base: Path) {
    private val parent = base.getParent
    private val name = base.getFileName.toString
    private val ptr = parent.resolve(name + ".PTR")

    /** The segments the pointer names, oldest first (empty when none). */
    def segments: Vector[Path] =
      readString(ptr).toVector.flatMap(_.trim.split("\n"))
        .map(_.trim).filter(_.nonEmpty).map(parent.resolve)

    /** The segments and the cumulative stamp the last one records. */
    def tip: Option[(Vector[Path], String)] = {
      val segs = segments
      segs.lastOption.flatMap(s => readString(s.resolve("_CORPUS_ROWS")))
        .map(st => (segs, st.trim))
    }

    /** The segments iff the last one records `stamp`. */
    def valid(stamp: String): Option[Vector[Path]] =
      tip.collect { case (segs, s) if s == stamp => segs }

    /** Write one new segment through `write` (handed its not-yet-existing
      * directory), record `stamp` in it, and swap the pointer to
      * `kept :+ segment`. Returns the new manifest. */
    def commit(stamp: String, kept: Vector[Path] = Vector.empty)(write: Path => Unit): Vector[Path] = {
      Files.createDirectories(parent)
      val seg = parent.resolve(s"$name.v-${java.util.UUID.randomUUID()}")
      write(seg)
      Files.writeString(seg.resolve("_CORPUS_ROWS"), stamp)
      val next = kept :+ seg
      val names = next.map(_.getFileName.toString)
      val previous = segments.map(_.getFileName.toString)
      val tmp = Files.createTempFile(parent, ptr.getFileName.toString, ".tmp")
      Files.writeString(tmp, names.mkString("\n"))
      Files.move(tmp, ptr, StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
      val keep = names.toSet ++ previous
      reclaim(parent, n => n.startsWith(name + ".v-") && !keep(n))
      next
    }
  }

  /** Delete every entry of `dir` whose name `doomed` accepts. A failed
    * delete is logged and left for the next reclaim. */
  def reclaim(dir: Path, doomed: String => Boolean): Unit =
    if (Files.isDirectory(dir)) {
      val listing = Files.list(dir)
      try listing.forEach { q =>
        if (doomed(q.getFileName.toString))
          try org.apache.commons.io.FileUtils.forceDelete(q.toFile)
          catch {
            case _: java.io.FileNotFoundException | _: NoSuchFileException => ()
            case e: java.io.IOException => log.warn(s"could not reclaim $q: $e")
          }
      } finally listing.close()
    }
}
