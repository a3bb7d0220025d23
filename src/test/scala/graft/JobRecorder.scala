package graft

import java.util.concurrent.ConcurrentLinkedQueue
import scala.jdk.CollectionConverters._
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Jobs per job group and each finished query's executed plan, read
  * once a marker job's end event has come through the listener bus —
  * the job-budget specs' probe. */
final class JobRecorder(spark: SparkSession) extends SparkListener with QueryExecutionListener {
  val jobs = new ConcurrentLinkedQueue[String]()
  val plans = new ConcurrentLinkedQueue[String]()
  @volatile var markerDone = false
  private val markerJobs = new ConcurrentLinkedQueue[Int]()
  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val group = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
    if (group == "budget-marker") markerJobs.add(e.jobId) else jobs.add(group)
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    if (markerJobs.contains(e.jobId)) markerDone = true
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    plans.add(qe.executedPlan.toString)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  def drain(): Unit = {
    val sc = spark.sparkContext
    sc.setJobGroup("budget-marker", "listener drain")
    sc.parallelize(Seq(1), 1).count()
    sc.clearJobGroup()
    val deadline = System.currentTimeMillis() + 30000
    while (!markerDone && System.currentTimeMillis() < deadline) Thread.sleep(20)
    assert(markerDone, "the listener bus did not drain")
  }
  /** Query listeners run on another queue than the job events. */
  def awaitPlan(p: String => Boolean): Seq[String] = {
    val deadline = System.currentTimeMillis() + 30000
    while (!plans.asScala.exists(p) && System.currentTimeMillis() < deadline) Thread.sleep(20)
    plans.asScala.filter(p).toSeq
  }
  def count(group: String): Int = jobs.asScala.count(_ == group)
}

object JobRecorder {
  /** `body` with a recorder registered on `spark`'s listener bus and
    * query listeners. */
  def recorded[A](spark: SparkSession)(body: JobRecorder => A): A = {
    val rec = new JobRecorder(spark)
    spark.sparkContext.addSparkListener(rec)
    spark.listenerManager.register(rec)
    try body(rec)
    finally {
      spark.sparkContext.removeSparkListener(rec)
      spark.listenerManager.unregister(rec)
    }
  }
}
