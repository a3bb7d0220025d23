package graft.llm

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions.{array, col, rand}
import graft.{JobRecorder, TestSpark}

/** `sim_pagerank_central`'s Spark-job budget over a warm sidecar: under
  * the broadcast threshold the power iteration folds on the driver, so
  * the query runs one bounded collect and the write of one local
  * relation — at most 5 jobs, and no exchange in the final plan. */
class PagerankJobBudgetSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  /** A 400-vector corpus, the benchmark's graph size: uniform 64-dim
    * vectors from fixed seeds. */
  private lazy val dir = {
    val d = java.nio.file.Files.createTempDirectory("pagerank-budget").toString
    spark.range(0, 400, 1, 2).select(col("id").as("vec_id"),
        array((0 until 64).map(i => (rand(i) - 0.5).cast("float")): _*).as("embedding"),
        (col("id") % 4).cast("int").as("label"))
      .write.parquet(s"$d/embeddings.parquet")
    d
  }

  private def materialise(): Unit =
    graft.SparkEntry.queries("sim_pagerank_central")(spark, dir)
      .write.format("noop").mode("overwrite").save()

  test("sim_pagerank_central materialises in at most 5 jobs with no exchange in its final plan") {
    // the first run trains the codebook and builds the sidecar
    materialise()
    JobRecorder.recorded(spark) { rec =>
      val sc = spark.sparkContext
      sc.setJobGroup("budget-pagerank", "sim_pagerank_central")
      try materialise() finally sc.clearJobGroup()
      rec.drain()
      val jobs = rec.count("budget-pagerank")
      info(s"$jobs jobs")
      assert(jobs <= 5, s"sim_pagerank_central ran $jobs jobs")
      val write = rec.awaitPlan(_.contains("OverwriteByExpression"))
      assert(write.size === 1, s"one noop write:\n${write.mkString("\n---\n").take(4000)}")
      assert(!write.head.contains("Exchange"), s"no exchange in the final plan:\n${write.head}")
      assert(write.head.contains("LocalTableScan"), s"the result is a local relation:\n${write.head}")
    }
  }
}
