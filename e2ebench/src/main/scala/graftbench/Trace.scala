package graftbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong
import scala.jdk.CollectionConverters._
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart

/** One Spark job as the trace saw it. `module` comes from the job's
  * recorded call site; `group` is the job group set around the call. */
final class JobRec(val id: Int, val startMs: Double, val group: String,
    val module: String, val site: String, val execId: Long) {
  @volatile var endMs: Double = startMs
  val executorRunMs = new AtomicLong()
  val shuffleBytes = new AtomicLong()
  def wallMs: Double = endMs - startMs
}

/** Task-level listener of traced runs. Jobs are classified by the engine
  * module that issued them, read off the call-site stack of the job's
  * stages:
  *
  *  - `core`: the backfill (any frame in `ScanJob` or `Transformer`);
  *    within it `cdc.seed` (state seed write) and `sink.scan_bulk` (the
  *    scan's bulk write) are split out
  *  - `tail`: jobs of the streaming tail. Spark records the query's
  *    `start` call site for every job of the stream thread, so these are
  *    split by the physical plan of their SQL execution instead: the
  *    metrics-collecting micro-batch scan is `source` (the batch read),
  *    a DSv2 `AppendData` is `sink` (the bulk write), a write of a
  *    `data/base_*` directory is `cdc.compact`, the rest `cdc` (key
  *    stats, state lookup, fold and delta commit)
  *  - `other`: everything else (query-suite jobs carry their job group)
  *
  * Recording is switched by `on`, so a traced run can alternate traced
  * and untraced units and report the difference as its overhead. */
final class Trace extends SparkListener {
  @volatile var on: Boolean = false
  val jobs = new ConcurrentHashMap[Int, JobRec]()
  private val stageJob = new ConcurrentHashMap[Int, Int]()
  private val planKind = new ConcurrentHashMap[Long, String]()
  val callbackNs = new AtomicLong()

  private def timed(body: => Unit): Unit = {
    val t0 = System.nanoTime()
    try body finally callbackNs.addAndGet(System.nanoTime() - t0)
  }

  private def graftFrames(details: String): Seq[String] =
    details.linesIterator.map(_.trim).filter(_.startsWith("graft.")).toSeq

  def classify(shortSite: String, details: String): String = {
    val frames = graftFrames(details)
    val first = frames.headOption.getOrElse("")
    if (frames.exists(f => f.startsWith("graft.pipeline.ScanJob") || f.startsWith("graft.core.Transformer"))) {
      if (first.startsWith("graft.cdc.BucketedStateStore$.seed")) "cdc.seed"
      else if (first.startsWith("graft.pipeline.ScanJob") && shortSite.startsWith("save")) "sink.scan_bulk"
      else "core"
    }
    else if (shortSite.startsWith("start at TailQuery")) "tail"
    else "other"
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = if (on) timed {
    val last = e.stageInfos.maxBy(_.stageId)
    val props = Option(e.properties)
    def prop(k: String) = props.flatMap(p => Option(p.getProperty(k))).getOrElse("")
    val rec = new JobRec(e.jobId, e.time.toDouble, prop("spark.jobGroup.id"),
      classify(last.name, last.details), last.name,
      prop("spark.sql.execution.id").toLongOption.getOrElse(-1L))
    jobs.put(e.jobId, rec)
    e.stageIds.foreach(s => stageJob.put(s, e.jobId))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = timed {
    Option(jobs.get(e.jobId)).foreach(_.endMs = e.time.toDouble)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = timed {
    Option(stageJob.get(e.stageId)).flatMap(j => Option(jobs.get(j))).foreach { r =>
      Option(e.taskMetrics).foreach { m =>
        r.executorRunMs.addAndGet(m.executorRunTime)
        r.shuffleBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      }
    }
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart if on => timed {
      val plan = s.physicalPlanDescription
      val head = plan.linesIterator.dropWhile(!_.contains("Physical Plan")).slice(1, 4).mkString("\n")
      planKind.put(s.executionId,
        if (head.contains("CollectMetrics")) "source"
        else if (head.contains("AppendData")) "sink"
        else if (writeTarget(plan).exists(_.contains("/data/base_"))) "cdc.compact"
        else "cdc")
    }
    case _ => ()
  }

  /** Output path of a plan's file write: the first argument of its
    * `InsertIntoHadoopFsRelationCommand` node. */
  private def writeTarget(plan: String): Option[String] =
    plan.linesIterator.dropWhile(l => !l.matches("""\(\d+\) Execute InsertIntoHadoopFsRelationCommand.*"""))
      .find(_.startsWith("Arguments: ")).map(_.stripPrefix("Arguments: ").takeWhile(_ != ','))

  /** Module of a job; tail jobs resolve through their plan. Outside the
    * tail a `data/base_*` write is the backfill's state seed, whatever
    * thread (AQE runs stages from a pool) submitted its jobs. */
  def moduleOf(r: JobRec): String = {
    val kind = Option(planKind.get(r.execId))
    if (r.module == "tail") kind.getOrElse("cdc")
    else if (kind.contains("cdc.compact")) "cdc.seed"
    else r.module
  }

  def snapshot(): Seq[JobRec] = jobs.values.asScala.toSeq.sortBy(_.id)
  def clear(): Unit = { jobs.clear(); stageJob.clear() }
  def callbackMs: Double = callbackNs.get / 1e6
}
