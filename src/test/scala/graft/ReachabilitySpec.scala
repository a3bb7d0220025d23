package graft

import java.io.{ByteArrayOutputStream, PrintStream}
import java.nio.file.{Files, Path, Paths}
import java.util.spi.ToolProvider
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite

/** Pins the engine's public surface: every top-level `graft.*` class in
  * the main classes must be reachable, in the class-level dependency
  * graph `jdeps` reads from the bytecode, from one of the entry points
  * below. Code that only tests reach fails this spec; delete it, or, if
  * something outside the bytecode loads it, add it to [[Roots]] with
  * the reason.
  */
class ReachabilitySpec extends AnyFunSuite {

  private val Roots = Seq(
    // the CLI and the command-line mains
    "graft.Main", "graft.SparkEntry", "graft.Verify", "graft.Bench",
    "graft.CurateMain", "graft.tools.MigrateState",
    // DSv2 providers Spark loads by class name from `format(...)`
    "graft.source.v2.OplogJsonSource", "graft.source.v2.MongoHttpSource",
    "graft.source.v2.BulkJsonSink",
    // loaded by name through `spark.sql.extensions`
    "graft.expressions.GraftExtensions",
    // the write side of the z-order pruning measurement that BASELINE.md
    // cites (tools.ZorderPruning); no main calls it, the library API does
    "graft.sink.LayoutWriter",
  )

  /** `jdeps -verbose:class` edges between `graft.*` classes, run
    * in-process on the main classes directory. */
  private def edges(classes: Path): Map[String, Seq[String]] = {
    val jdeps = ToolProvider.findFirst("jdeps").orElseThrow()
    val out = new ByteArrayOutputStream
    val err = new ByteArrayOutputStream
    val rc = jdeps.run(new PrintStream(out, true), new PrintStream(err, true),
      "-verbose:class", "-filter:none", "-e", "graft\\..*", classes.toString)
    assert(rc === 0, s"jdeps failed: $err")
    val Edge = """\s+(\S+)\s+->\s+(\S+)\s.*""".r
    out.toString.linesIterator.collect { case Edge(from, to) => from -> to }
      .toSeq.groupMap(_._1)(_._2)
  }

  test("every top-level graft class is reachable from an entry point") {
    val classes = Paths.get(graft.Main.getClass.getProtectionDomain.getCodeSource.getLocation.toURI)
    assert(Files.isDirectory(classes), s"expected a classes directory, got $classes")
    val walk = Files.walk(classes)
    val names = try walk.iterator.asScala
      .map(p => classes.relativize(p).toString)
      .filter(_.endsWith(".class"))
      .map(_.stripSuffix(".class").replace(java.io.File.separatorChar, '.'))
      .toSet
    finally walk.close()
    Roots.foreach(r => assert(names(r), s"root $r is not a compiled class"))

    val graph = edges(classes)
    val seen = scala.collection.mutable.Set.empty[String]
    var frontier = Roots.toList
    while (frontier.nonEmpty) {
      val c = frontier.head
      frontier = frontier.tail
      if (seen.add(c)) frontier = graph.getOrElse(c, Nil).toList ++ frontier
    }

    def topLevel(c: String) = c.takeWhile(_ != '$')
    val reached = seen.map(topLevel)
    val unreached = names.filter(_.startsWith("graft.")).map(topLevel) -- reached
    if (unreached.nonEmpty)
      fail(s"${unreached.size} top-level classes no entry point reaches: ${unreached.toSeq.sorted.mkString(", ")}")
  }
}
