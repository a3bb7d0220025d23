package graft.cdc

import org.apache.spark.sql.{Encoder, Encoders}
import graft.model._

/** Spark row shape of one oplog event (FIXTURES.md §A.4): the i/u/d
  * union flattened, with the dynamic document body riding as a JSON
  * string column. `id` is precomputed (from `o._id` for i/d, `o2._id`
  * for u) so compaction/joins can shuffle on a plain string key without
  * touching the JSON.
  *
  * `ts` is the packed 64-bit BSON timestamp ((seconds << 32) | ord) so
  * `orderBy(ts)` equals oplog total order (reference src/types.ts:41,
  * SURVEY.md §1.2).
  */
final case class OplogRow(
    ts: Long,
    op: String,
    ns: String,
    id: String,
    doc: String, // JSON body of `o`: full doc (i), replacement/$set/$unset (u), {_id} (d)
    fromMigrate: Boolean = false,
) {
  def toCore: Oplog = {
    val o = Json.parseObj(doc)
    val o2 = if (op == "u") Some(DObj("_id" -> DStr(id))) else None
    Oplog(BsonTs.fromLong(ts), op, ns, o, o2, fromMigrate)
  }
}

object OplogRow {
  implicit val encoder: Encoder[OplogRow] = Encoders.product[OplogRow]
}
