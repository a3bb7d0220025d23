package graft.ops

import scala.jdk.CollectionConverters._
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.datasources.FilePartition
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Harness-table loaders (TESTDATA.md). Only `events` needs care: the
  * fixture generator has shipped its `ts` column in two layouts over
  * time — TIMESTAMP(NANOS) (which Spark 4 only reads as a nanosecond
  * long under `spark.sql.legacy.parquet.nanosAsLong=true`) and plain
  * `timestamp[us]` (read as TIMESTAMP_NTZ). The loader adapts to
  * whichever layout is on disk and always hands downstream operators
  * the same two columns: `ts` as a standard microsecond TimestampType
  * and `ts_ns` as a nanosecond long.
  */
object Tables {

  // One DataFrame per (session, path): repeated loads of the same table
  // re-list the path and re-read parquet footers during analysis; the
  // memo hands every query the SAME analyzed relation, so per-query
  // planning starts from a warm logical plan (plans are immutable —
  // sharing is safe).
  private val cache =
    new java.util.concurrent.ConcurrentHashMap[(SparkSession, String), DataFrame]()

  def table(spark: SparkSession, dir: String, name: String): DataFrame =
    cache.computeIfAbsent((spark, s"$dir/$name.parquet"),
      { case (s, p) => SchemaDrift.adapt(name, s.read.parquet(p)) })

  /** Spread a scan across all cores before heavy per-row work, unless
    * at least defaultParallelism of its tasks already decode rows. A
    * parquet row group is indivisible — only the split holding its
    * midpoint reads it — and the harness files are a SINGLE row group,
    * so however maxPartitionBytes cuts them, one task decodes the whole
    * file and everything pipelined on the scan (explode, hashing, JSON
    * codec) runs single-threaded; the key-hash repartition buys full
    * parallelism for the expensive stage above it. On a properly
    * row-grouped layout the repartition would shuffle the full payload
    * for nothing, so there the helper is the identity (r18 verdict #1). */
  def fanOut(df: DataFrame, key: String = "doc_id"): DataFrame = {
    val par = df.sparkSession.sparkContext.defaultParallelism
    if (decodingTasks(df, par) >= par) df
    else df.repartition(par, col(key))
  }

  /** The scan tasks of `df` that decode at least one parquet row group,
    * from the footers (metadata only) — read only once the split count
    * reaches `atLeast`, since fewer splits cannot decode in more tasks.
    * 0 unless `df` is a plain parquet scan: a plan holding an exchange,
    * a subquery (which AQE wraps) or another scan is not, and is
    * rejected before `toRdd`, which on a plain scan only plans splits. */
  private[ops] def decodingTasks(df: DataFrame, atLeast: Int): Int = {
    val plan = df.queryExecution.executedPlan
    val parquetScan = !plan.exists(_.isInstanceOf[Exchange]) && plan.collectLeaves().forall {
      case s: FileSourceScanExec => s.relation.fileFormat.isInstanceOf[ParquetFileFormat]
      case _                     => false
    }
    if (!parquetScan) return 0
    val splits = df.queryExecution.toRdd.partitions
    if (splits.length < atLeast) return splits.length
    val conf = df.sparkSession.sessionState.newHadoopConf()
    val midpoints = splits.collect { case fp: FilePartition => fp.files.map(_.toPath) }.flatten.distinct
      .map { path =>
        val reader = ParquetFileReader.open(HadoopInputFile.fromPath(path, conf))
        try path -> reader.getFooter.getBlocks.asScala.map(b => b.getStartingPos + b.getCompressedSize / 2)
        finally reader.close()
      }.toMap
    splits.count {
      case fp: FilePartition =>
        fp.files.exists(f => midpoints(f.toPath).exists(m => m >= f.start && m < f.start + f.length))
      case _ => true
    }
  }

  /** events with `ts` as TimestampType (µs) and `ts_ns` as a
    * nanosecond long, whichever layout the fixture carries. The session
    * timezone is UTC everywhere we build sessions, so the NTZ→TS cast
    * is a pure reinterpretation matching DuckDB's naive-as-UTC oracle
    * semantics. */
  def events(spark: SparkSession, dir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val raw = table(spark, dir, "events")
    raw.schema("ts").dataType match {
      case LongType => // TIMESTAMP(NANOS) fixture surfaced as raw nanos
        raw
          .withColumnRenamed("ts", "ts_ns")
          .withColumn("ts", timestamp_micros((col("ts_ns") / 1000L).cast("long")))
      case _: TimestampType | _: TimestampNTZType => // timestamp[us] fixture
        raw
          .withColumn("ts", col("ts").cast(TimestampType))
          .withColumn("ts_ns", unix_micros(col("ts").cast(TimestampType)) * 1000L)
      case other =>
        throw new IllegalStateException(
          s"events.ts: unsupported fixture dtype $other (expected nanos-long or timestamp)")
    }
  }
}
