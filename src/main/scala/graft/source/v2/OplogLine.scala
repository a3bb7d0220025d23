package graft.source.v2

import scala.util.control.NonFatal
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.read.PartitionReader
import org.apache.spark.sql.connector.read.streaming.ReadLimit
import org.apache.spark.sql.sources.{EqualTo, Filter, GreaterThan, GreaterThanOrEqual}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import graft.model.{DBool, DInt, DObj, DStr, Json}

/** The oplog-line contract of both oplog connectors: the file dumps of
  * [[OplogJsonSource]] and the live wire of [[MongoHttpSource]] differ
  * only in their offsets (file index vs oplog sequence) and where a line
  * comes from; what a line is, which predicates a scan takes over and
  * how a row is built live here, once (reference src/mongodb.ts:46-54:
  * one cursor, one ns/ts query). */
private[v2] object OplogLine {
  /** The row every oplog scan emits (public as [[OplogJsonTable.SCHEMA]]). */
  val Schema: StructType = StructType(Seq(
    StructField("ts", LongType),
    StructField("op", StringType),
    StructField("ns", StringType),
    StructField("id", StringType),
    StructField("doc", StringType),
    StructField("fromMigrate", BooleanType),
  ))

  /** The pushdown rule: an oplog scan takes over `ns` equalities and `ts`
    * lower bounds, every one of which [[OplogLineReader]] enforces.
    * IsNotNull is NOT accepted — missing JSON keys surface as null
    * columns, so Spark must keep evaluating it post-scan. */
  def accepts(f: Filter): Boolean = f match {
    case EqualTo("ns", _: String) | GreaterThanOrEqual("ts", _: Long) | GreaterThan("ts", _: Long) => true
    case _ => false
  }

  /** A top-level field as a string column (`doc` included): strings
    * as-is, any other value (an object `doc`) rendered as JSON, a
    * missing key as null. */
  def str(o: DObj, k: String): String = o.get(k) match {
    case Some(DStr(s)) => s
    case Some(other)   => other.render
    case None          => null
  }

  /** The admission limit of a stream capped at `maxFiles` files and
    * `maxRows` rows per trigger (`MaxValue` = uncapped). */
  def readLimit(maxFiles: Int, maxRows: Long): ReadLimit = {
    val limits = Seq(
      Option.when(maxFiles != Int.MaxValue)(ReadLimit.maxFiles(maxFiles)),
      Option.when(maxRows != Long.MaxValue)(ReadLimit.maxRows(maxRows)),
    ).flatten
    limits match {
      case Nil      => ReadLimit.allAvailable()
      case Seq(one) => one
      case many     => ReadLimit.compositeLimit(many.toArray)
    }
  }
}

/** The pushed predicates of one oplog scan, parsed once: every accepted
  * filter holds — multiple ns equalities must ALL match (different
  * values -> empty), multiple ts bounds conjoin. */
private[v2] final class OplogPredicates(pushed: Array[Filter]) {
  val ns: Array[String] = pushed.collect { case EqualTo("ns", v: String) => v }
  private val tsGe: Array[Long] = pushed.collect { case GreaterThanOrEqual("ts", v: Long) => v }
  private val tsGt: Array[Long] = pushed.collect { case GreaterThan("ts", v: Long) => v }

  def holds(ts: Long, lineNs: String): Boolean =
    ns.forall(_ == lineNs) && tsGe.forall(ts >= _) && tsGt.forall(ts > _)

  /** The strongest ts lower bound, as an inclusive bound. */
  def fromTs: Option[Long] = (tsGe ++ tsGt.map(_ + 1)).maxOption
}

/** A source of text lines: the next line, or null once exhausted. */
private[v2] trait LineSource {
  def nextLine(): String
  def close(): Unit
}

/** Oplog lines -> [[OplogJsonTable.SCHEMA]] rows, for either connector:
  * parse -> pushed-filter -> project, skipping empty lines. Malformed
  * lines drop and the scan lives (the per-event error contract); a line
  * without an integer `ts` IS malformed — the packed BSON timestamp is
  * the total order LWW and resume bounds depend on. Missing keys surface
  * as nulls (`fromMigrate` as false); only the required columns are
  * built, so a count over `ns` never renders `doc`. Lines a server
  * already filtered are re-checked, so a misbehaving sidecar cannot
  * corrupt resume semantics. */
private[v2] final class OplogLineReader(lines: LineSource, pushed: Array[Filter],
    required: StructType) extends PartitionReader[InternalRow] {
  private val where = new OplogPredicates(pushed)
  private val columns: Array[(DObj, Long, String) => Any] = required.fieldNames.map {
    case "ts"          => (_: DObj, ts: Long, _: String) => ts
    case "op"          => (o: DObj, _: Long, _: String) => UTF8String.fromString(OplogLine.str(o, "op"))
    case "ns"          => (_: DObj, _: Long, ns: String) => UTF8String.fromString(ns)
    case "id"          => (o: DObj, _: Long, _: String) => UTF8String.fromString(OplogLine.str(o, "id"))
    case "doc"         => (o: DObj, _: Long, _: String) => UTF8String.fromString(OplogLine.str(o, "doc"))
    case "fromMigrate" => (o: DObj, _: Long, _: String) =>
      o.get("fromMigrate") match {
        case Some(DBool(b)) => b
        case _              => false
      }
  }
  private var current: InternalRow = _

  override def next(): Boolean = {
    var line = lines.nextLine()
    while (line != null) {
      if (line.nonEmpty) {
        val o = try Json.parseObj(line) catch { case NonFatal(_) => null }
        if (o != null) o.get("ts") match {
          case Some(DInt(ts)) =>
            val ns = OplogLine.str(o, "ns")
            if (where.holds(ts, ns)) {
              val values = new Array[Any](columns.length)
              var i = 0
              while (i < values.length) { values(i) = columns(i)(o, ts, ns); i += 1 }
              current = new GenericInternalRow(values)
              return true
            }
          case _ => ()
        }
      }
      line = lines.nextLine()
    }
    false
  }

  override def get(): InternalRow = current
  override def close(): Unit = lines.close()
}
