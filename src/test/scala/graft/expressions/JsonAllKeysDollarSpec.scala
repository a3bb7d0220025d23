package graft.expressions

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions.expr
import graft.TestSpark
import graft.model.Json

/** The native O7 predicate must agree with the full-parse reference
  * semantics on crafted and fuzzed JSON, through the codegen path. */
class JsonAllKeysDollarSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  def reference(doc: String): Boolean =
    scala.util.Try(Json.parseObj(doc).keys.forall(_.startsWith("$"))).getOrElse(true)

  val crafted = Seq(
    """{"$set":{"a":1}}""",
    """{"$set":{"a":1},"$unset":{"b":1}}""",
    """{"a":1}""",
    """{"a":1,"$set":{"b":2}}""",
    """{"$set":{"a":1},"b":2}""",
    """{}""",
    """{"$weird\"key":1}""",
    """{"key with , comma":{"x":[1,2,{"y":"}"}]},"$s":1}""",
    """{"$a":"str with \" escape and {brace}"}""",
    """  { "$only" : [1, {"z": "],"}] } """,
  )

  test("scanner matches full-parse semantics on crafted docs") {
    crafted.foreach { d =>
      assert(JsonKeyScan.allTopLevelKeysDollar(d) === reference(d), s"doc: $d")
    }
  }

  test("scanner matches full-parse semantics on fuzzed docs") {
    val rnd = new scala.util.Random(11)
    val keys = Seq("$set", "$unset", "plain", "x.y", "$inc", "k")
    for (_ <- 1 to 500) {
      val fields = Vector.fill(rnd.nextInt(4)) {
        val k = keys(rnd.nextInt(keys.length))
        val v = rnd.nextInt(3) match {
          case 0 => rnd.nextInt(100).toString
          case 1 => "\"s,{}[]\\\"x\""
          case _ => """{"n":{"m":[1,2]}}"""
        }
        s""""$k":$v"""
      }
      val d = fields.mkString("{", ",", "}")
      assert(JsonKeyScan.allTopLevelKeysDollar(d) === reference(d), s"doc: $d")
    }
  }

  test("works as a Column through whole-stage codegen") {
    import spark.implicits._
    // repartition blocks constant folding into LocalTableScan, so the
    // expression actually runs inside a WholeStageCodegen stage
    val df = crafted.toDF("doc").repartition(2)
      .withColumn("all_dollar", expr("json_all_keys_dollar(doc)"))
    val got = df.collect().map(r => r.getString(0) -> r.getBoolean(1)).toMap
    crafted.foreach { d => assert(got(d) === reference(d), s"doc: $d") }
    // confirm the plan stays in whole-stage codegen (no UDF barrier) —
    // AQE renders codegen stages as a `*(n)` prefix
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("WholeStageCodegen") || plan.contains("*(1) Project"), plan)
  }
}
