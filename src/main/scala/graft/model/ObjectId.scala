package graft.model

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** MongoDB ObjectID helpers (SURVEY.md §1.2): 24-char lowercase hex,
  * byte order == hex-lexicographic order, first 4 bytes are unix
  * seconds (what makes the reference's `_id >= checkpoint` resume scan
  * roughly time-ordered, reference src/mongodb.ts:35-39).
  */
object ObjectId {

  private val HexRe = "^[0-9a-f]{24}$"

  def isValid(hex: String): Boolean = hex != null && hex.matches(HexRe)

  /** Embedded creation time (unix seconds) of an ObjectID hex string. */
  def seconds(hex: String): Long = java.lang.Long.parseLong(hex.substring(0, 8), 16)

  // Column forms — plain built-in compositions, fully codegen'd.
  def isValidCol(c: Column): Column = c.rlike(HexRe)
  def secondsCol(c: Column): Column = conv(substring(c, 1, 8), 16, 10).cast("long")
}
