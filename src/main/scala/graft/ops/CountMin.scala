package graft.ops

import org.apache.spark.sql.Column

/** The Count-Min sketch's fixed geometry and hash family for the batch
  * accuracy audit (`agg_countmin_audit`, [[StatsQueries]]): depth 4 ×
  * width 64 = 256 counters.
  *
  * Hashes are the standard pairwise-independent family
  * h_d(u) = ((a_d·u + b_d) mod P) mod W with P = 2^31 − 1 (a Mersenne
  * prime), expressible as plain BIGINT arithmetic in BOTH engines (the
  * oracle twin interpolates the same constants) — a_d < 2^21 keeps
  * a_d·u far inside 2^63 for any realistic id space.
  */
object CountMin {
  val W = 64
  val P = 2147483647L
  val A = Vector(1048573L, 2097143L, 524287L, 131071L)
  val B = Vector(12289L, 786433L, 40961L, 5L)

  /** Column form of h_d. */
  def idxCol(d: Int, u: Column): Column = ((u * A(d) + B(d)) % P) % W
}
