package graft.expressions

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.TestSpark

/** The native expressions must be reachable as SQL functions through
  * the session extension, and agree with their Column-API forms. */
class GraftExtensionsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  test("dot_product is SQL-callable and matches the Column form") {
    import spark.implicits._
    val df = Seq((Seq(1.0, 2.0, 3.0), Seq(4.0, 5.0, 6.0))).toDF("a", "b")
    df.createOrReplaceTempView("vecs")
    val sqlResult = spark.sql("SELECT dot_product(a, b) AS d FROM vecs")
      .collect().head.getDouble(0)
    val colResult = df.select(VectorFunctions.dot(col("a"), col("b")).as("d"))
      .collect().head.getDouble(0)
    assert(sqlResult === 32.0)
    assert(sqlResult === colResult)
  }

  test("json_all_keys_dollar is SQL-callable and matches the Column form") {
    import spark.implicits._
    val df = Seq(
      """{"$set":{"a":1},"$unset":{"b":1}}""",
      """{"a":1,"$set":{"b":2}}""",
    ).toDF("doc")
    df.createOrReplaceTempView("docs")
    val sql = spark.sql("SELECT json_all_keys_dollar(doc) AS x FROM docs")
      .collect().map(_.getBoolean(0)).toSeq
    assert(sql === Seq(true, false))
    val col0 = df.select(expr("json_all_keys_dollar(doc)").as("x"))
      .collect().map(_.getBoolean(0)).toSeq
    assert(sql === col0)
  }

  test("sign_bits / element_sign_bits / nearest_cell are SQL-callable and match Column forms") {
    import spark.implicits._
    val df = Seq((Seq(1.0, -2.0, 3.0), Seq(-0.5, 0.5, 2.0))).toDF("v", "u")
    df.createOrReplaceTempView("sv")
    // sign_bits over two planes: [v, u] -> bit 0 from dot(v, planes[0])
    val sqlSig = spark.sql(
      "SELECT sign_bits(v, array(v, u)) AS s, element_sign_bits(u, 3) AS e FROM sv")
      .collect().head
    val colSig = df.select(
      SignFunctions.signBits(col("v"), array(col("v"), col("u"))).as("s"),
      SignFunctions.elementSignBits(col("u"), 3).as("e"))
      .collect().head
    assert(sqlSig.getLong(0) === colSig.getLong(0))
    assert(sqlSig.getLong(1) === colSig.getLong(1))
    // dot(v,v)=14 >= 0 (bit 0), dot(v,u)=4.5 >= 0 (bit 1) -> 3
    assert(sqlSig.getLong(0) === 3L)
    // u signs: (-,+,+) -> bits 1 and 2 -> 6
    assert(sqlSig.getLong(1) === 6L)

    val cells = Seq((Seq(1.0, 0.0), 1.0, Seq(0.0, 1.0), 1.0))
      .toDF("c0v", "c0n", "c1v", "c1n")
    cells.createOrReplaceTempView("cb")
    val cid = spark.sql(
      """SELECT nearest_cell(array(0.1D, 0.9D), sqrt(dot_product(array(0.1D, 0.9D), array(0.1D, 0.9D))),
        |  array(struct(0L AS cid, c0v AS cv, c0n AS cn), struct(1L AS cid, c1v AS cv, c1n AS cn))) AS cid
        |FROM cb""".stripMargin).collect().head.getLong(0)
    assert(cid === 1L, "closer to the (0,1) centroid")

    // a non-literal bit count must be rejected, not silently misread
    val err = intercept[Exception] {
      spark.sql("SELECT element_sign_bits(v, CAST(length('abc') AS INT)) FROM sv").collect()
    }
    assert(err.getMessage.toLowerCase.contains("literal"))
  }

  test("SQL-registered expressions stay inside whole-stage codegen") {
    // a file-backed scan, so the projection cannot constant-fold away
    graft.ops.Tables.table(spark, "/root/testdata/sf0.001", "embeddings")
      .selectExpr("transform(embedding, x -> cast(x AS double)) AS v")
      .createOrReplaceTempView("cg")
    val plan = spark.sql("SELECT dot_product(v, v) FROM cg")
      .queryExecution.executedPlan.toString
    // '*(n)' prefixes a WholeStageCodegen subtree in the abbreviated
    // plan string — the dot_product projection must carry it
    val line = plan.linesIterator.find(_.contains("dot_product")).get
    assert(line.trim.startsWith("*("), plan)
  }
}
