package graft.cdc

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

/** Engine-owned sink state — the architectural replacement for the
  * reference's sink read-back (S6/S7, reference src/elasticsearch.ts:30-148)
  * and its idempotent-overwrite recovery contract (O10,
  * reference src/processor.ts:233-243).
  *
  * State schema: `(id string, doc string, parent string, ts long)` where
  * `doc` is the sink-shaped JSON document including `_id`.
  *
  * The store holds state; [[BatchApplier.applyOplogBatch]] computes it.
  * Its LWW merge (last-writer-wins by `ts` with upsert/delete semantics,
  * the batch winning ties) is replay-safe: O9, the reference re-reads a
  * 10 s overlap on restart and relies on idempotent upserts; here the ts
  * guard makes replays exact no-ops. This versioned backend rewrites the
  * whole applied state per commit ([[write]]); the incremental form of
  * the same MERGE — touching only the batch's buckets, the way a
  * Delta/Iceberg `MERGE INTO` would inside `foreachBatch` — is
  * [[BucketedStateStore.applyBatch]], the config-driven tail's default.
  *
  * Persistence is versioned parquet directories (`v_0, v_1, …` + a
  * VERSION pointer file): plain parquet cannot be overwritten while being
  * read, and versioning gives atomic swap + time travel, mimicking a
  * table format without adding dependencies.
  */
object StateStore {

  val schemaCols = Seq("id", "doc", "parent", "ts")

  val schema: StructType = StructType(Seq(
    StructField("id", StringType),
    StructField("doc", StringType),
    StructField("parent", StringType),
    StructField("ts", LongType),
  ))

  def empty(spark: SparkSession): DataFrame =
    spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)

  // ---- versioned parquet persistence ----
  // Metadata IO goes through [[StateIO]] (Hadoop FileSystem layer):
  // `dir` may be any URI Spark can read, not just a local path.

  private def versionFile(dir: String) = s"$dir/VERSION"

  def currentVersion(dir: String): Option[Int] =
    if (StateIO.exists(versionFile(dir)))
      Some(StateIO.readString(versionFile(dir)).trim.toInt)
    else None

  /** Read the current state, whichever backend owns the directory: the
    * legacy versioned-parquet layout (VERSION pointer) or the
    * incremental [[BucketedStateStore]] (MANIFEST pointer). Callers —
    * specs, verify queries, restarts — stay backend-agnostic. */
  def read(spark: SparkSession, dir: String): DataFrame =
    currentVersion(dir) match {
      case Some(v) => spark.read.parquet(s"$dir/v_$v")
      case None =>
        if (BucketedStateStore.exists(dir)) BucketedStateStore.read(spark, dir)
        else empty(spark)
    }

  /** Has ANY backend initialized this state directory? (The Runner's
    * "backfill already ran" phase checkpoint.) */
  def exists(dir: String): Boolean =
    currentVersion(dir).isDefined || BucketedStateStore.exists(dir)

  /** Time-travel read: the state AS OF a retained prior commit —
    * what a debugging/backfill session uses to diff state across
    * triggers (the table-format `VERSION AS OF` analog both backends'
    * retention chains exist for). Legacy: `version` is the `v_N`
    * directory index (newest `retain` kept). Bucketed: `version` is
    * the manifest commit seq (vacuum retains `retainManifests`).
    * None once retention dropped that version. */
  def readAt(spark: SparkSession, dir: String, version: Int): Option[DataFrame] =
    currentVersion(dir) match {
      case Some(cur) =>
        // Committed means BOTH the pointer covers it (a crash between the
        // parquet write and the pointer swap leaves version > cur) AND the
        // writer's _SUCCESS marker landed — a bare v_N directory is a
        // partial write, never readable state.
        if (version <= cur && StateIO.exists(s"$dir/v_$version/_SUCCESS"))
          Some(spark.read.parquet(s"$dir/v_$version"))
        else None
      case None => BucketedStateStore.readAt(spark, dir, version.toLong)
    }

  /** Pick the effective state backend for a tail against `dir`.
    * An EXISTING layout is authoritative — a restart must never fork
    * the state into a second backend: a directory holding a legacy
    * VERSION store stays legacy (matching [[read]]'s resolution order)
    * and one holding a bucketed manifest stays bucketed, whatever the
    * caller requested. Only a fresh directory honors the request —
    * which defaults to bucketed everywhere (VERDICT r7 #2: measured
    * crossover says legacy only ever wins below ~5M tiny docs;
    * BASELINE.md r7 addendum), with `None` as the explicit legacy
    * opt-out for tiny-state deployments. */
  def resolveBackend(
      dir: String,
      requested: Option[BucketedStateStore.Spec]): Option[BucketedStateStore.Spec] =
    if (currentVersion(dir).isDefined) None
    else if (BucketedStateStore.exists(dir))
      Some(requested.getOrElse(BucketedStateStore.Spec()))
    else requested

  /** Write the next version and atomically advance the pointer, then
    * prune versions older than the newest `retain` (VERDICT r6 #2: the
    * version chain otherwise grows a full state copy per micro-batch).
    * `retain` ≥ 1; the current version is always kept. */
  def write(state: DataFrame, dir: String, retain: Int = 3): Int = {
    val next = currentVersion(dir).map(_ + 1).getOrElse(0)
    state.write.mode("overwrite").parquet(s"$dir/v_$next")
    StateIO.writeStringAtomic(versionFile(dir), next.toString)
    prune(dir, retain)
    next
  }

  /** Delete version directories older than the newest `retain`. Runs
    * AFTER the pointer swap, so a concurrent reader that resolved the
    * pointer earlier can at worst lose a directory `retain - 1`
    * versions stale — with the default 3 that is two full commits of
    * slack, and the engine's own readers always re-resolve. */
  private def prune(dir: String, retain: Int): Unit = {
    val keep = math.max(1, retain)
    currentVersion(dir).foreach { cur =>
      StateIO.list(dir).foreach { st =>
        val n = st.getPath.getName
        if (n.startsWith("v_")) {
          scala.util.Try(n.stripPrefix("v_").toInt).toOption.foreach { v =>
            if (v <= cur - keep) StateIO.delete(s"$dir/$n")
          }
        }
      }
    }
  }
}
