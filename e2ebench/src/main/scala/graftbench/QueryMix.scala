package graftbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.SparkSession
import graft.model._

/** Closed loop over two fixed query families: a warm-up pass, then timed
  * passes, each in a rotated order. Every result is fully materialised
  * through the `noop` sink — a `.count()` would let Catalyst prune sorts
  * and exchanges the user's result needs. */
object QueryMix {

  final case class Run(name: String, pass: Int, traced: Boolean, buildMs: Double, wallMs: Double)

  private def family(p: Params, name: String) =
    if (p.strs("similarity").contains(name)) "similarity" else "relational"

  /** Layer of a query: the engine package its implementation lives in. */
  def layerOf(fn: AnyRef): String =
    if (fn.getClass.getName.startsWith("graft.llm.")) "llm" else "ops"

  /** Build and fully materialise one query: into the `noop` sink, or, when
    * `dumpTo` is set, into parquet for the oracle check. Returns (build ms,
    * wall ms). */
  private def execute(spark: SparkSession, dir: String, name: String, group: String,
      dumpTo: Option[String] = None): (Double, Double) = {
    val fn = graft.SparkEntry.queries(name)
    spark.sparkContext.setJobGroup(group, name, interruptOnCancel = false)
    try {
      val t0 = System.nanoTime()
      val df = fn(spark, dir)
      val t1 = System.nanoTime()
      dumpTo match {
        case Some(out) => df.write.mode("overwrite").parquet(out)
        case None      => df.write.format("noop").mode("overwrite").save()
      }
      val out = ((t1 - t0) / 1e6, (System.nanoTime() - t0) / 1e6)
      System.err.println(f"[query_mix] $group build_ms=${out._1}%.0f wall_ms=${out._2}%.0f")
      out
    } finally spark.sparkContext.clearJobGroup()
  }

  /** The warm-up pass, part of set-up: JIT, codegen caches and the sidecar
    * indexes the similarity queries build on first use. It writes each full
    * result as parquet (part files in result order), and the queries'
    * DuckDB twins next to them, for the runner's oracle check after the
    * timed passes; the timed passes run the same queries on the same
    * session into the `noop` sink. */
  def warmUp(spark: SparkSession, p: Params, spans: Spans): Unit = {
    val dir = p.str("tables")
    val out = s"${p.work}/check"
    val names = p.strs("relational") ++ p.strs("similarity")
    names.foreach { name =>
      spans.time(s"warm.$name", "setup")(execute(spark, dir, name, s"warm:$name", Some(s"$out/$name")))
    }
    val oracle = graft.SparkEntry.oracleSql
    val json = DObj(names.flatMap(n => oracle.get(n).map(s => n -> (DStr(s): DVal))).toVector).render
    Files.write(Paths.get(s"$out/oracle_sql.json"), json.getBytes(UTF_8))
  }

  def run(spark: SparkSession, p: Params, trace: Option[Trace], spans: Spans, host: HostRecord): Outcome = {
    val dir = p.str("tables")
    val names = p.strs("similarity") ++ p.strs("relational")
    val runs = Vector.newBuilder[Run]
    var failed = 0L
    var attempted = 0L
    // traced runs: untraced, traced, untraced passes (see Cdc.catchup)
    val minPasses = if (p.traced) 3 else 2
    host.windowStart()
    val deadline = System.nanoTime() + (p.seconds * 1e9).toLong
    var pass = 0
    var lastNs = 0L
    // another pass only while it is expected to end by the deadline
    while (pass < minPasses || System.nanoTime() + lastNs < deadline) {
      val tracedUnit = trace.isDefined && pass % 2 == 1
      trace.foreach(_.on = tracedUnit)
      // each pass starts at another query, the same way for every seed:
      // the seed varies the data, not the order
      val shift = (pass * 3) % names.size
      val order = names.drop(shift) ++ names.take(shift)
      val p0 = Clock.ms()
      order.foreach { name =>
        attempted += 1
        val q0 = Clock.ms()
        try {
          val (build, wall) = execute(spark, dir, name, s"q:$name:$pass")
          runs += Run(name, pass, tracedUnit, build, wall)
        } catch {
          case scala.util.control.NonFatal(e) =>
            failed += 1
            System.err.println(s"[query_mix] $name failed: $e")
        }
        spans.add(s"pass-$pass.$name", q0, Clock.ms(), s"pass-$pass")
      }
      spans.add(s"pass-$pass", p0, Clock.ms(), "measure")
      lastNs = ((Clock.ms() - p0) * 1e6).toLong
      trace.foreach(_.on = false)
      pass += 1
    }
    host.windowEnd()
    val rs = runs.result()
    // per-family pass time: the family's query walls summed within a pass
    def passSeconds(fam: String) =
      rs.filter(r => family(p, r.name) == fam).groupBy(_.pass).values.map(_.map(_.wallMs).sum / 1000.0).toSeq
    val layers = trace.map { t =>
      val jobs = t.snapshot()
      val tracedRuns = rs.filter(_.traced)
      val perQuery = names.flatMap { name =>
        val layer = layerOf(graft.SparkEntry.queries(name))
        val mine = tracedRuns.filter(_.name == name)
        val groups = mine.map(r => s"q:$name:${r.pass}").toSet
        val js = jobs.filter(j => groups(j.group))
        val n = math.max(1, mine.size).toDouble
        Seq(
          s"$layer.$name.build_ms" -> Stats.median(mine.map(_.buildMs)),
          s"$layer.$name.jobs" -> js.size / n,
          s"$layer.$name.executor_run_ms" -> js.map(_.executorRunMs.get.toDouble).sum / n,
          s"$layer.$name.shuffle_bytes" -> js.map(_.shuffleBytes.get.toDouble).sum / n)
      }
      val shares = Seq("similarity", "relational").map { fam =>
        val mine = tracedRuns.filter(r => family(p, r.name) == fam)
        val groups = mine.map(r => s"q:${r.name}:${r.pass}").toSet
        val exec = jobs.filter(j => groups(j.group)).map(_.executorRunMs.get.toDouble).sum
        s"query.$fam.executor_share" -> exec / (mine.map(_.wallMs).sum * p.slots)
      }
      val unitWall = (sel: Boolean) =>
        rs.filter(_.traced == sel).groupBy(_.pass).values.map(_.map(_.wallMs).sum).toSeq
      (perQuery ++ shares :+
        ("trace.overhead_ms" -> (Stats.median(unitWall(true)) - Stats.median(unitWall(false))))).toMap
    }.getOrElse(Map.empty)
    Outcome(
      e2e = Map(
        "phase_a_s" -> Stats.median(passSeconds("similarity")),
        "phase_b_s" -> Stats.median(passSeconds("relational"))),
      layers = layers, attempted = attempted, failed = failed,
      checks = Vector(DObj("oracle_dir" -> DStr(s"${p.work}/check"))),
      notes = Map("passes" -> pass.toDouble))
  }
}
