package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Incremental SCD Type-2 maintenance — the streaming form of the
  * `cdc_scd2_history` batch build (graft.ops.CdcQueries).
  *
  * Each micro-batch of change events MERGEs into the history table:
  * no-op updates collapse (an event whose tracked attribute equals the
  * key's open version's attribute opens nothing — including across
  * batch boundaries, which a naive per-batch window can't see), the
  * open version closes at the first genuine change's timestamp, and
  * each change appends a version row numbered after the key's last.
  *
  * State discipline: history is corpus-sized, so it lives in a
  * mergeable TABLE, never the streaming state store (DESIGN.md) — the
  * same doctrine as the CDC tail's document state. [[applyBatch]] is
  * the pure MERGE; wiring is `foreachBatch` + one of two persistence
  * backends ([[table]]): the versioned parquet [[Scd2Table]], which
  * rewrites the whole history per batch, or [[Scd2BucketedTable]], which
  * runs the merge over only the batch's keys on the CDC state's own
  * bucketed layout code ([[graft.cdc.BucketedStateStore]]) and writes
  * the touched keys' new history as one delta. Either way the
  * per-batch dataflow — one hash exchange on the key for the batch's
  * windows, a key-equi join against open versions — is the same.
  *
  * Ordering contract: batches must arrive in event-time order per key
  * (the oplog total-order guarantee the serial micro-batch tail
  * preserves); within a batch, (sec, event_id) orders ties.
  */
object StreamScd2 {

  /** `keyType` generalizes the key column: the harness twin uses the
    * fixture's long user ids; the CDC tail's doc ids are strings. */
  def historySchema(keyType: DataType = LongType): StructType = StructType(Seq(
    StructField("key", keyType),
    StructField("version", LongType),
    StructField("attr", StringType),
    StructField("valid_from", LongType),
    StructField("valid_to", LongType),
  ))

  private val historyCols = historySchema().fieldNames.toSeq

  def emptyHistory(spark: SparkSession, keyType: DataType = LongType): DataFrame =
    spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], historySchema(keyType))

  /** MERGE one ordered micro-batch of changes into the history.
    *
    * `batch` columns: `key, attr, sec, event_id`. Returns the new
    * history (closed rows untouched; open rows closed where the batch
    * opens a newer version; new versions appended, last one open).
    */
  def applyBatch(history: DataFrame, batch: DataFrame): DataFrame = {
    val open = history.filter(col("valid_to").isNull)
      .select(col("key"), col("attr").as("open_attr"),
        col("version").as("open_version"))

    // change detection: the previous attribute is the batch-local lag,
    // or the key's open version's attribute for the batch's first event
    val wOrd = Window.partitionBy(col("key")).orderBy(col("sec"), col("event_id"))
    val kept = batch
      .withColumn("prev", lag(col("attr"), 1).over(wOrd))
      .join(open, Seq("key"), "left")
      .withColumn("prev0", coalesce(col("prev"), col("open_attr")))
      .filter(col("prev0").isNull || col("attr") =!= col("prev0"))

    // interval build over the surviving changes, versions continuing
    // from the key's open version (0 for brand-new keys)
    val fresh = kept
      .withColumn("version",
        coalesce(col("open_version"), lit(0L)) + row_number().over(wOrd))
      .withColumn("valid_to", lead(col("sec"), 1).over(wOrd))
      .select(col("key"), col("version"), col("attr"),
        col("sec").as("valid_from"), col("valid_to"))

    // close each open version at its key's first fresh change (keys the
    // batch didn't genuinely change keep valid_to null — still open)
    val firstFresh = fresh.groupBy(col("key"))
      .agg(min(col("valid_from")).as("next_from"))
    val openRows = history.filter(col("valid_to").isNull)
      .drop("valid_to")
      .join(firstFresh, Seq("key"), "left")
      .withColumnRenamed("next_from", "valid_to")
      .select(historyCols.map(col): _*)

    history.filter(col("valid_to").isNotNull)
      .unionByName(openRows)
      .unionByName(fresh)
  }

  /** Read-side projection matching `cdc_scd2_history`'s output shape. */
  def asQueryResult(history: DataFrame): DataFrame =
    history
      .select(col("key"), col("version"), col("attr"),
        col("valid_from"), col("valid_to"), col("valid_to").isNull.as("is_current"))
      .orderBy(col("key"), col("version"))

  /** Common surface of the two history persistence backends, so the
    * foreachBatch wiring (and the specs) are backend-agnostic. */
  trait Scd2History {
    def lastBatchId: Long
    def read(): DataFrame
    def applyIfNew(batch: DataFrame, batchId: Long): Boolean
  }

  /** Pick the history backend for `dir` with the same existing-layout-
    * is-authoritative rule as [[graft.cdc.StateStore.resolveBackend]]:
    * a directory already holding a legacy VERSION table stays legacy, a
    * bucketed manifest stays bucketed; only a fresh directory honors
    * `bucketed` — which defaults to true, the scale form (O(batch) per
    * trigger instead of O(history)). */
  def table(spark: SparkSession, dir: String, bucketed: Boolean = true,
      keyType: DataType = LongType): Scd2History =
    if (graft.cdc.StateIO.exists(s"$dir/VERSION"))
      new Scd2Table(spark, dir, keyType = keyType)
    else if (Scd2BucketedTable.exists(dir) || bucketed) {
      // an existing layout's recorded key type is authoritative (it
      // shapes the files' schema); the param only types fresh dirs
      val kt = if (graft.cdc.StateIO.exists(s"$dir/KEYTYPE"))
        org.apache.spark.sql.types.DataType.fromDDL(
          graft.cdc.StateIO.readString(s"$dir/KEYTYPE").trim)
      else keyType
      new Scd2BucketedTable(spark, dir, keyType = kt)
    } else new Scd2Table(spark, dir, keyType = keyType)

  /** Versioned-parquet persistence for the history with foreachBatch
    * replay protection. The SCD2 merge is NOT naturally idempotent
    * (re-offering a batch would re-open versions against the new open
    * row), and Structured Streaming DOES re-offer the in-flight
    * micro-batch after a failure — so the applied batch id rides with
    * the version pointer and [[applyIfNew]] makes the replay an exact
    * no-op. This is the SCD2 analog of the LWW state's ts-guard
    * idempotence (the IR-wins-ties merge in BatchApplier), and the standard
    * exactly-once-sink contract for foreachBatch.
    *
    * Layout mirrors [[graft.cdc.StateStore]]: `v_<n>` parquet dirs +
    * an atomically-swapped pointer, pruned to `retain` versions; all
    * metadata IO rides the Hadoop FileSystem layer (StateIO), so `dir`
    * may be any URI Spark can write.
    *
    * Writer contract: SINGLE writer — the owning StreamingQuery's
    * serial foreachBatch (Structured Streaming already guarantees one
    * in-flight batch per query). Two concurrent queries on one dir
    * need the manifest-CAS discipline BucketedStateStore implements;
    * history deployments that want that should target the bucketed
    * store instead.
    */
  final class Scd2Table(spark: SparkSession, dir: String, retain: Int = 3,
      keyType: DataType = LongType) extends Scd2History {
    import graft.cdc.StateIO

    private def ptr = s"$dir/VERSION"

    /** (current version, last applied batch id); (-1, -1) when fresh. */
    private def pointer(): (Int, Long) =
      if (!StateIO.exists(ptr)) (-1, -1L)
      else StateIO.readString(ptr).trim.split(' ') match {
        case Array(v, b) => (v.toInt, b.toLong)
        case Array(v)    => (v.toInt, -1L)
      }

    def lastBatchId: Long = pointer()._2

    def read(): DataFrame = pointer() match {
      case (-1, _) => emptyHistory(spark, keyType)
      // explicit schema: a v_0 written from an empty first batch has
      // zero part files, and schema inference over it would fail and
      // wedge the stream
      case (v, _)  => spark.read.schema(historySchema(keyType)).parquet(s"$dir/v_$v")
    }

    /** MERGE `batch` unless `batchId` was already applied. Returns true
      * when the merge ran, false for a replayed (skipped) batch. */
    def applyIfNew(batch: DataFrame, batchId: Long): Boolean = {
      val (cur, last) = pointer()
      if (batchId <= last) false
      else if (batch.isEmpty) {
        // an empty micro-batch (foreachBatch can offer one) is a no-op
        // merge: just record the batch id so the replay guard advances.
        // Re-read the pointer first — writing the stale `cur` would
        // silently revert a version committed since pointer() above,
        // orphaning its data under prune().
        val (cur2, last2) = pointer()
        if (cur2 != cur)
          throw new java.util.ConcurrentModificationException(
            s"concurrent writer on scd2 history at $dir: version moved " +
              s"$cur -> $cur2 since this commit loaded it (single-writer contract)")
        if (batchId > last2)
          StateIO.writeStringAtomic(ptr, s"$cur2 $batchId")
        false
      } else {
        val next = cur + 1
        applyBatch(read(), batch)
          .write.mode("overwrite").parquet(s"$dir/v_$next")
        StateIO.writeStringAtomic(ptr, s"$next $batchId")
        prune(next)
        true
      }
    }

    private def prune(cur: Int): Unit = {
      val keep = math.max(1, retain)
      StateIO.list(dir).foreach { st =>
        val n = st.getPath.getName
        if (n.startsWith("v_"))
          scala.util.Try(n.stripPrefix("v_").toInt).toOption.foreach { v =>
            if (v <= cur - keep) StateIO.delete(s"$dir/$n")
          }
      }
    }
  }
}
