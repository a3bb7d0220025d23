package graft.expressions

import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{BooleanType, DataType}
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expression for the dispatcher's O7 predicate: does a
  * JSON object string have only `$`-prefixed top-level keys? (reference
  * src/processor.ts:186 — `_.keys(oplog.o).find(k => !k.startsWith('$'))`
  * decides full-replacement vs `$set`-update.)
  *
  * A custom `Expression` (not a Scala UDF) so the predicate stays inside
  * whole-stage codegen and costs one linear scan of the string — no JSON
  * tree allocation, no UDF serialization barrier, and Catalyst can still
  * reorder the enclosing filters (SURVEY.md §7.3: custom Expression only
  * where built-ins genuinely can't express the semantics).
  */
case class JsonAllKeysDollar(child: Expression) extends UnaryExpression {
  override def dataType: DataType = BooleanType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "json_all_keys_dollar"

  override def nullSafeEval(input: Any): Any =
    JsonKeyScan.allTopLevelKeysDollar(input.asInstanceOf[UTF8String].toString)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.expressions.JsonKeyScan.allTopLevelKeysDollar($c.toString())")

  override protected def withNewChildInternal(newChild: Expression): JsonAllKeysDollar =
    copy(child = newChild)
}

/** Allocation-free top-level-key scanner (called from generated code —
  * object methods get static forwarders, so `JsonKeyScan.allTopLevelKeysDollar`
  * is directly referenceable from Janino-compiled Java). */
object JsonKeyScan {

  /** True iff the string is a JSON object all of whose top-level keys
    * start with '$' (vacuously true for empty/non-object input, matching
    * `_.keys` on a non-object yielding no keys). */
  def allTopLevelKeysDollar(s: String): Boolean = {
    val n = s.length
    var i = 0
    while (i < n && Character.isWhitespace(s.charAt(i))) i += 1
    if (i >= n || s.charAt(i) != '{') return true
    i += 1
    while (true) {
      while (i < n && Character.isWhitespace(s.charAt(i))) i += 1
      if (i >= n) return true // malformed: treat remaining as no more keys
      if (s.charAt(i) == '}') return true
      if (s.charAt(i) != '"') return true // malformed
      // key starts
      if (i + 1 >= n || s.charAt(i + 1) != '$') return false
      // skip the rest of the key string (escape-aware)
      i += 1
      var done = false
      while (i < n && !done) {
        val c = s.charAt(i)
        if (c == '\\') i += 2
        else if (c == '"') { done = true; i += 1 }
        else i += 1
      }
      while (i < n && Character.isWhitespace(s.charAt(i))) i += 1
      if (i >= n || s.charAt(i) != ':') return true // malformed
      i += 1
      // skip the value: strings escape-aware, depth-tracked containers
      var depth = 0
      var inStr = false
      var valueDone = false
      while (i < n && !valueDone) {
        val c = s.charAt(i)
        if (inStr) {
          if (c == '\\') i += 1
          else if (c == '"') inStr = false
        } else c match {
          case '"' => inStr = true
          case '{' | '[' => depth += 1
          case '}' if depth == 0 => return true // end of object
          case '}' | ']' => depth -= 1
          case ',' if depth == 0 => valueDone = true
          case _ =>
        }
        i += 1
      }
      if (i >= n) return true
    }
    true
  }
}
