package graft.streaming

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, Dataset, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Streaming incremental aggregate maintenance — the on-line twin of
  * the batch `cdc_incr_agg` query: a grouped aggregate over the LWW
  * state (per current event_type: user count + value mass) maintained
  * from O(batch) deltas per trigger, never an O(state) rescan.
  *
  * The algebra exploits the telescoping identity the batch query
  * proves via its oracle: over a user's ordered history every
  * intermediate event's +1 gain is cancelled by its successor's −1
  * loss, so the net contribution is the LAST event's alone. The
  * streaming fold therefore never replays intermediates — per user it
  * keeps only the current LWW winner (event_type, value, sec,
  * event_id) and, when a micro-batch's best arrival beats it on the
  * (sec, event_id) LWW order, emits exactly two delta rows:
  * (old_type, −1, −v_old) and (new_type, +1, +v_new). A late arrival
  * that loses the LWW race emits NOTHING — out-of-order delivery
  * cannot corrupt the maintained view (it couldn't change the LWW
  * state either; StreamIncrAggSpec pins this with a straggler batch).
  *
  * Values ride as exact integer micro-units (DECIMAL(18,4) × 10⁴, the
  * StreamCusum discipline) so state is two longs + a string per user
  * and sums are bit-exact with the batch query's decimal arithmetic.
  *
  * [[mergeBatch]] maintains the O(|types|) aggregate table under the
  * engine's sidecar discipline: versioned segment + atomically swapped
  * pointer recording the applied batchId — a foreachBatch replay after
  * a crash/restart sees batchId ≤ applied and SKIPS (idempotent
  * at-least-once; the spec kills a stream mid-run and re-delivers).
  * Each swap reclaims every segment but the new and the previous one,
  * so the dir holds at most two however long the stream runs.
  *
  * Scale shape: one user_id exchange per trigger (the keyed-state
  * shuffle every CDC fold pays); state O(users); deltas O(changed
  * keys) ≤ O(batch); the maintained table is O(|event types|) and
  * rewrites wholesale per trigger — the "tiny aggregate over huge
  * state" case where full rewrite of the VIEW (not the state!) is
  * exactly right at 100 TB.
  */
object StreamIncrAgg {

  final case class Ev(
      user_id: Long, event_type: String, v_units: Long, sec: Long, event_id: Long)
  final case class UserState(event_type: String, v_units: Long, sec: Long, event_id: Long)
  final case class Delta(g: String, dn: Long, dv_units: Long)

  private def beats(aSec: Long, aId: Long, bSec: Long, bId: Long): Boolean =
    aSec > bSec || (aSec == bSec && aId > bId)

  /** One user's micro-batch fold: the batch's LWW-best arrival against
    * the stored winner; deltas only when the winner changes. */
  private[streaming] def step(
      st: Option[UserState], arrivals: Seq[Ev]): (Option[UserState], Seq[Delta]) =
    if (arrivals.isEmpty) (st, Nil)
    else {
      val best = arrivals.maxBy(e => (e.sec, e.event_id))
      st match {
        case Some(s) if !beats(best.sec, best.event_id, s.sec, s.event_id) =>
          (st, Nil) // every arrival is a straggler: LWW unchanged
        case Some(s) =>
          val ns = UserState(best.event_type, best.v_units, best.sec, best.event_id)
          (Some(ns), Seq(
            Delta(s.event_type, -1L, -s.v_units),
            Delta(ns.event_type, 1L, ns.v_units)))
        case None =>
          val ns = UserState(best.event_type, best.v_units, best.sec, best.event_id)
          (Some(ns), Seq(Delta(ns.event_type, 1L, ns.v_units)))
      }
    }

  private def update(
      userId: Long, it: Iterator[Ev], state: GroupState[UserState]): Iterator[Delta] = {
    val (ns, ds) = step(state.getOption, it.toSeq)
    ns.foreach(state.update)
    ds.iterator
  }

  /** Wire onto a streaming Dataset[Ev]: per-trigger delta rows. */
  def deltas(events: Dataset[Ev]): Dataset[Delta] = {
    implicit val dEnc = Encoders.product[Delta]
    implicit val sEnc = Encoders.product[UserState]
    implicit val kEnc = Encoders.scalaLong
    events.groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Update, GroupStateTimeout.NoTimeout)(update)
  }

  // ---- maintained view persistence: versioned segment + pointer ----

  private def pointer(dir: String) = Paths.get(dir, "AGG_PTR")

  /** (segment name, last applied batchId), or None for a fresh dir. */
  private def readPointer(dir: String): Option[(String, Long)] = {
    val p = pointer(dir)
    if (!Files.exists(p)) None
    else {
      val Array(seg, bid) = Files.readString(p).trim.split('	')
      Some((seg, bid.toLong))
    }
  }

  /** The maintained aggregate (g, n_users, sv_units), empty if none. */
  def readAgg(spark: SparkSession, dir: String): DataFrame =
    readPointer(dir) match {
      case Some((seg, _)) => spark.read.parquet(Paths.get(dir, seg).toString)
      case None =>
        spark.createDataFrame(
          spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
          org.apache.spark.sql.types.StructType(Seq(
            org.apache.spark.sql.types.StructField("g",
              org.apache.spark.sql.types.StringType),
            org.apache.spark.sql.types.StructField("n_users",
              org.apache.spark.sql.types.LongType),
            org.apache.spark.sql.types.StructField("sv_units",
              org.apache.spark.sql.types.LongType))))
    }

  /** Fold one micro-batch's deltas into the maintained table. Replays
    * (batchId ≤ the pointer's applied id) are skipped — the foreachBatch
    * at-least-once contract. Data lands before the pointer swaps, so a
    * crash between the two re-runs the merge against the OLD segment
    * and produces the identical new one. */
  def mergeBatch(
      spark: SparkSession, dir: String, batchDeltas: DataFrame, batchId: Long): Unit = {
    Files.createDirectories(Paths.get(dir))
    val prior = readPointer(dir)
    if (batchId <= prior.fold(-1L)(_._2)) return
    val merged = readAgg(spark, dir)
      .unionByName(batchDeltas
        .groupBy(col("g"))
        .agg(sum(col("dn")).as("n_users"), sum(col("dv_units")).as("sv_units")))
      .groupBy(col("g"))
      .agg(sum(col("n_users")).as("n_users"), sum(col("sv_units")).as("sv_units"))
      .filter(col("n_users") > 0)
    val seg = s"agg-$batchId"
    merged.coalesce(1).write.mode("overwrite")
      .parquet(Paths.get(dir, seg).toString)
    val tmp = Paths.get(dir, s".AGG_PTR.tmp-$batchId")
    Files.writeString(tmp, s"$seg	$batchId")
    Files.move(tmp, pointer(dir),
      java.nio.file.StandardCopyOption.REPLACE_EXISTING,
      java.nio.file.StandardCopyOption.ATOMIC_MOVE)
    // one-generation keep (the index sidecars' rule): a concurrent
    // reader may still scan the previous segment; every older one goes
    val keep = Set(seg) ++ prior.map(_._1)
    graft.llm.Sidecar.reclaim(Paths.get(dir), n => n.startsWith("agg-") && !keep(n))
  }
}
