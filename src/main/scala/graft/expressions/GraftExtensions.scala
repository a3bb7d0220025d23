package graft.expressions

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.FunctionRegistry.FunctionBuilder
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

/** Session-extension injector for the engine's native Catalyst
  * expressions, making them first-class SQL functions:
  *
  * {{{
  * val spark = SparkSession.builder()
  *   .withExtensions(new GraftExtensions)          // or
  *   .config("spark.sql.extensions", "graft.expressions.GraftExtensions")
  *   .getOrCreate()
  * spark.sql("SELECT dot_product(a, b), json_all_keys_dollar(doc) ...")
  * }}}
  *
  * The Column-API forms (e.g. [[VectorFunctions.dot]]) build the same
  * expressions directly; registration adds the SQL-surface names, and
  * is the only surface of `json_all_keys_dollar`. No custom
  * optimizer rules or strategies are injected — SURVEY.md §7.3: every
  * engine operator lowers to built-in physical operators, so Catalyst
  * needs no planner help, only these scalar primitives.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  private def info(name: String, usage: String): ExpressionInfo =
    new ExpressionInfo(classOf[GraftExtensions].getName, null, name, usage,
      "", "", "", "", "", "", "java_udf")

  override def apply(ext: SparkSessionExtensions): Unit = {
    val dot: FunctionBuilder = { (children: Seq[Expression]) =>
      require(children.length == 2, "dot_product expects exactly 2 arguments")
      DotProduct(children(0), children(1))
    }
    val allDollar: FunctionBuilder = { (children: Seq[Expression]) =>
      require(children.length == 1, "json_all_keys_dollar expects exactly 1 argument")
      JsonAllKeysDollar(children.head)
    }
    val sign: FunctionBuilder = { (children: Seq[Expression]) =>
      require(children.length == 2, "sign_bits expects exactly 2 arguments")
      SignBits(children(0), children(1))
    }
    val elemSign: FunctionBuilder = { (children: Seq[Expression]) =>
      require(children.length == 2, "element_sign_bits expects exactly 2 arguments")
      children(1) match {
        case org.apache.spark.sql.catalyst.expressions.Literal(n, _)
            if n.isInstanceOf[Byte] || n.isInstanceOf[Short] ||
              n.isInstanceOf[Int] || n.isInstanceOf[Long] =>
          val v = n match {
            case b: Byte => b.toLong; case s: Short => s.toLong
            case i: Int  => i.toLong; case l: Long  => l
          }
          require(v >= 0 && v <= 64, s"element_sign_bits bit count must be in [0, 64], got $v")
          ElementSignBits(children(0), v.toInt)
        case other => throw new IllegalArgumentException(
          s"element_sign_bits expects a literal integral bit-count, got $other")
      }
    }
    val nearest: FunctionBuilder = { (children: Seq[Expression]) =>
      require(children.length == 3, "nearest_cell expects exactly 3 arguments")
      NearestCell(children(0), children(1), children(2))
    }
    val jw: FunctionBuilder = { (children: Seq[Expression]) =>
      require(children.length == 2, "jaro_winkler expects exactly 2 arguments")
      JaroWinkler(children(0), children(1))
    }
    ext.injectFunction((FunctionIdentifier("dot_product"),
      info("dot_product", "dot_product(a, b) - sequential dot product of two array<double> columns"),
      dot))
    ext.injectFunction((FunctionIdentifier("json_all_keys_dollar"),
      info("json_all_keys_dollar", "json_all_keys_dollar(doc) - true iff every top-level key of the JSON object starts with '$'"),
      allDollar))
    ext.injectFunction((FunctionIdentifier("sign_bits"),
      info("sign_bits", "sign_bits(v, planes) - LSH signature: bit i set iff dot(v, planes[i]) > 0 (strict, matching the batch lambda)"),
      sign))
    ext.injectFunction((FunctionIdentifier("element_sign_bits"),
      info("element_sign_bits", "element_sign_bits(v, n) - bit i set iff v[i] > 0 (strict), for the first n elements (n a literal int)"),
      elemSign))
    ext.injectFunction((FunctionIdentifier("nearest_cell"),
      info("nearest_cell", "nearest_cell(v, nrm, cells) - centroid id with the highest 4-dp-rounded cosine against the array<struct<cid, cv, cn>> codebook"),
      nearest))
    ext.injectFunction((FunctionIdentifier("jaro_winkler"),
      info("jaro_winkler", "jaro_winkler(a, b) - textbook Jaro-Winkler string similarity (0.7 boost threshold, prefix <= 4, either-empty -> 0.0; DuckDB-compatible)"),
      jw))
  }
}
