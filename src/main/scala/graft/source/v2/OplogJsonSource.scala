package graft.source.v2

import java.util
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset, ReadLimit, SupportsAdmissionControl}
import org.apache.spark.sql.sources.Filter
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** DataSource V2 connector for JSON-lines oplog files — the concrete
  * form of the S1/S2 connector seam (SURVEY.md §2.1): what
  * `spark.read.format("mongodb")` provides against a live replica set,
  * this provides against oplog dumps, with the same two server-side
  * optimizations the reference pushes into the Mongo query
  * (reference src/mongodb.ts:35-39,46-54):
  *
  *  - **predicate pushdown** (O2): `ns = ...` equality and `ts >= ...`
  *    lower bounds are evaluated inside the reader while parsing — rows
  *    outside the namespace/resume window never become Spark rows. The
  *    plan shows them under `PushedFilters`.
  *  - **column pruning** (O1): the reader materializes only requested
  *    columns (`ReadSchema`), so e.g. a count over `ns` never builds
  *    `doc` strings.
  *
  * Partitioning: files at or below `splitSizeBytes` (default 128 MB)
  * are one InputPartition each; larger files split into byte ranges
  * under the Hadoop line-reader contract (see [[OplogFilePartition]]),
  * so a multi-GB dump fans out across the cluster instead of pinning
  * one core. Each partition's lines decode through the shared
  * [[OplogLineReader]] (the same reader [[MongoHttpSource]] feeds from
  * the wire): the engine's own [[graft.model.Json]] codec, the pushdown
  * rule of [[OplogLine.accepts]], and the per-event error contract —
  * malformed lines are dropped, not fatal.
  *
  * Usage: `spark.read.format("graft.source.v2.OplogJsonSource")
  *   .option("path", dir).load()`
  */
class OplogJsonSource extends TableProvider {
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    OplogJsonTable.SCHEMA
  override def getTable(
      schema: StructType,
      partitioning: Array[Transform],
      properties: util.Map[String, String]): Table =
    new OplogJsonTable(properties.get("path"))
}

object OplogJsonTable {
  val SCHEMA: StructType = OplogLine.Schema
}

class OplogJsonTable(path: String) extends Table with SupportsRead {
  override def name(): String = s"oplog_json($path)"
  override def schema(): StructType = OplogJsonTable.SCHEMA
  override def capabilities(): util.Set[TableCapability] =
    Set(TableCapability.BATCH_READ, TableCapability.MICRO_BATCH_READ).asJava
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new OplogScanBuilder(path,
      Option(options.get("maxFilesPerTrigger")).map(_.toInt).getOrElse(Int.MaxValue),
      Option(options.get("maxRowsPerTrigger")).map(_.toLong).getOrElse(Long.MaxValue),
      Option(options.get("splitSizeBytes")).map(_.toLong).getOrElse(OplogScan.DefaultSplitSize))
}

class OplogScanBuilder(path: String, maxFilesPerTrigger: Int = Int.MaxValue,
    maxRowsPerTrigger: Long = Long.MaxValue,
    splitSizeBytes: Long = OplogScan.DefaultSplitSize)
    extends ScanBuilder with SupportsPushDownFilters with SupportsPushDownRequiredColumns {

  private var pushed: Array[Filter] = Array.empty
  private var required: StructType = OplogJsonTable.SCHEMA

  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    val (accepted, rejected) = filters.partition(OplogLine.accepts)
    pushed = accepted
    rejected // Spark re-evaluates anything the source didn't take
  }
  override def pushedFilters(): Array[Filter] = pushed

  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema

  override def build(): Scan =
    new OplogScan(path, pushed, required, maxFilesPerTrigger, maxRowsPerTrigger, splitSizeBytes)
}

/** One byte range [start, end) of one JSON-lines file. Range ownership
  * follows the Hadoop line-reader contract: a reader owns every line
  * whose FIRST byte lies in its range (a non-zero start discards the
  * partial line it lands in — the previous range reads past its `end`
  * to finish it), so any split points yield exactly-once lines. */
case class OplogFilePartition(file: String, start: Long, end: Long) extends InputPartition

object OplogScan {
  /** Default split: 128 MB, the parquet/Hadoop convention — at 100 TB a
    * dump file is split across the cluster instead of pinning one core. */
  val DefaultSplitSize: Long = 128L * 1024 * 1024

  /** List the dump files under `path`, resolved through the Hadoop
    * `FileSystem` for the path's scheme — a dump directory on HDFS or
    * an object store lists exactly like a local one. Returned names are
    * scheme-qualified URIs so downstream opens resolve the same way
    * regardless of the executor's default filesystem. A non-directory
    * (or not-yet-existing) path passes through as-is: the failure
    * surfaces at planning, in `splitFile`, with the real cause. */
  def listFiles(path: String, conf: org.apache.hadoop.conf.Configuration): Array[String] = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fileSystem = p.getFileSystem(conf)
    val isDir = try fileSystem.getFileStatus(p).isDirectory
                catch { case _: java.io.FileNotFoundException => false }
    if (isDir) {
      fileSystem.listStatus(p).iterator
        .map(_.getPath.toString)
        .filter(n => n.endsWith(".jsonl") || n.endsWith(".jsonl.gz"))
        .toArray.sorted
    } else Array(path)
  }

  /** Split one file into range partitions of at most `splitSize` bytes
    * (newlines split JSON-lines cleanly, so byte ranges are safe).
    * `end` is always the size observed at PLANNING time — bytes
    * appended to a file after planning are invisible to this batch
    * regardless of whether the file split, so a streaming replay of a
    * committed offset range reads the same rows it did the first time.
    * A vanished file fails here, at planning, with the real cause.
    *
    * Gzip dumps (`.gz`) are NOT seekable, so they plan as exactly one
    * whole-file partition regardless of size — the same non-splittable
    * contract Hadoop applies to gzip. The scale guidance is therefore
    * the standard one: compress large dumps in split-sized chunks (or
    * use a splittable codec) if read parallelism matters. */
  def splitFile(file: String, splitSize: Long,
      conf: org.apache.hadoop.conf.Configuration): Array[InputPartition] = {
    require(splitSize > 0, s"splitSizeBytes must be positive, got $splitSize")
    val p = new org.apache.hadoop.fs.Path(file)
    val size = p.getFileSystem(conf).getFileStatus(p).getLen
    if (file.endsWith(".gz")) Array(OplogFilePartition(file, 0L, Long.MaxValue))
    else if (size <= splitSize) Array(OplogFilePartition(file, 0L, size))
    else (0L until size by splitSize)
      .map(s => OplogFilePartition(file, s, math.min(s + splitSize, size)): InputPartition)
      .toArray
  }

  /** Open a dump at byte `startAt` (plain files only — callers never
    * seek gzip), decoding gzip inline from offset 0. The stream comes
    * from the path's Hadoop `FileSystem`, so dumps read identically
    * from local disk, HDFS, or any registered scheme. A gzip header
    * that cannot be read (zero-byte or truncated `.gz`) yields an EMPTY
    * stream with the fd closed — an empty/corrupt gzip dump behaves
    * like an empty `.jsonl` instead of killing the scan, matching the
    * per-event error contract malformed LINES already follow. */
  def openDecoded(file: String, conf: org.apache.hadoop.conf.Configuration,
      startAt: Long = 0L): java.io.InputStream = {
    val p = new org.apache.hadoop.fs.Path(file)
    val raw = p.getFileSystem(conf).open(p)
    if (!file.endsWith(".gz")) {
      if (startAt > 0) raw.seek(startAt)
      raw
    } else {
      require(startAt == 0L, s"gzip file $file is not seekable; got startAt=$startAt")
      try new java.util.zip.GZIPInputStream(raw, 1 << 16)
      catch {
        case _: java.io.IOException =>
          raw.close()
          new java.io.ByteArrayInputStream(Array.emptyByteArray)
      }
    }
  }
}

class OplogScan(path: String, pushed: Array[Filter], required: StructType,
    maxFilesPerTrigger: Int = Int.MaxValue, maxRowsPerTrigger: Long = Long.MaxValue,
    splitSizeBytes: Long = OplogScan.DefaultSplitSize)
    extends Scan with Batch {
  override def readSchema(): StructType = required
  override def toBatch: Batch = this
  override def description(): String =
    s"OplogJsonScan(path=$path, pushed=${pushed.mkString(",")})"

  // planning and factory creation run on the driver: resolve the
  // session's Hadoop conf there and ship it with the reader factory
  override def planInputPartitions(): Array[InputPartition] = {
    val conf = FsIO.driverConf
    OplogScan.listFiles(path, conf).flatMap(OplogScan.splitFile(_, splitSizeBytes, conf))
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new OplogReaderFactory(pushed, required, new SerializableHadoopConf(FsIO.driverConf))

  override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream =
    new OplogMicroBatchStream(path, pushed, required, maxFilesPerTrigger,
      maxRowsPerTrigger, splitSizeBytes, checkpointLocation)
}

/** Streaming form: the offset counts files consumed from an
  * APPEND-ONLY discovery list — newly-seen files are appended in
  * (sorted) discovery order, never re-sorted into already-consumed
  * positions, so a late-arriving file that sorts before consumed ones
  * is still read exactly once and offsets always reference the same
  * files they were planned against. `maxFilesPerTrigger` admission
  * control stands in for the reference's token-bucket rate limiter
  * (S4/O8, reference src/processor.ts:31-49). Filter pushdown and
  * column pruning apply per micro-batch exactly as in batch mode.
  *
  * The discovery list is PERSISTED to a file log under the query's
  * checkpoint location (like Spark's FileStreamSource does), so a
  * committed offset refers to the same files after a restart — files
  * that arrived out of sort order are neither re-read nor skipped. */
final case class OplogFileOffset(n: Int) extends Offset {
  override def json(): String = n.toString
}

class OplogMicroBatchStream(path: String, pushed: Array[Filter], required: StructType,
    maxFilesPerTrigger: Int, maxRowsPerTrigger: Long, splitSizeBytes: Long,
    checkpointLocation: String)
    extends MicroBatchStream with SupportsAdmissionControl {

  // the stream object lives on the driver for the query's lifetime:
  // one conf resolution serves discovery, admission probes and planning
  private val hadoopConf = FsIO.driverConf

  // driver-side append-only discovery list, mirrored to a log file in
  // the checkpoint dir so restarts see the same file<->offset mapping.
  // The log rides the checkpoint location — a cluster URI in any real
  // deployment — so it goes through StateIO's CheckpointFileManager
  // (atomic full-content swap), exactly like Spark's own offset log
  // that lives next to it. A full rewrite per discovery beats append
  // here: appends are not a primitive object-store managers offer, and
  // the list is one short line per dump file.
  private val discovered = new java.util.concurrent.CopyOnWriteArrayList[String]()
  private val logFile =
    new org.apache.hadoop.fs.Path(checkpointLocation, "graft-file-log").toString
  locally {
    if (graft.cdc.StateIO.exists(logFile)) {
      graft.cdc.StateIO.readString(logFile).linesIterator.foreach { l =>
        // qualify each entry through its scheme's FileSystem so a log
        // written before listings were scheme-qualified (plain paths)
        // still matches the qualified names `listFiles` returns now —
        // otherwise a restart would re-ingest every already-read dump
        if (l.nonEmpty) {
          val p = new org.apache.hadoop.fs.Path(l)
          discovered.add(p.getFileSystem(hadoopConf).makeQualified(p).toString)
        }
      }
    }
  }

  private def discover(): Int = synchronized {
    val seen = new java.util.HashSet[String](discovered)
    val fresh = OplogScan.listFiles(path, hadoopConf).filterNot(seen.contains)
    if (fresh.nonEmpty) {
      fresh.foreach(discovered.add)
      graft.cdc.StateIO.writeStringAtomic(logFile,
        discovered.asScala.mkString("", "\n", "\n"))
    }
    discovered.size()
  }

  override def initialOffset(): Offset = OplogFileOffset(0)

  override def deserializeOffset(json: String): Offset = {
    val n = json.trim.toInt
    if (discovered.size() < n) discover()
    require(discovered.size() >= n,
      s"checkpoint offset $n exceeds the ${discovered.size()} files in the discovery log — " +
        s"was the source directory or checkpoint truncated?")
    OplogFileOffset(n)
  }

  override def latestOffset(): Offset =
    throw new UnsupportedOperationException("use latestOffset(start, limit)")

  override def getDefaultReadLimit: ReadLimit =
    OplogLine.readLimit(maxFilesPerTrigger, maxRowsPerTrigger)

  // per-file row counts for maxRows admission: non-empty lines, i.e.
  // what the source must READ (malformed lines cost IO/parse and debit
  // the budget even though the reader drops them — a rate limiter
  // bounds work, not survivors; the reference's token bucket likewise
  // debits documents fetched, processor.ts:31-49). Counted once per
  // file: discovery-log files are immutable-once-seen, the same
  // append-only contract every file streaming source assumes. At real
  // scale the manifest/WAL carries these counts.
  private val rowCounts = new java.util.concurrent.ConcurrentHashMap[String, Long]()
  private def rowCount(file: String): Long =
    rowCounts.computeIfAbsent(file, { f =>
      if (f.endsWith(".gz")) gzRowEstimate(f)
      else {
        val reader = new java.io.BufferedReader(new java.io.InputStreamReader(
          OplogScan.openDecoded(f, hadoopConf), java.nio.charset.StandardCharsets.UTF_8))
        try {
          var n = 0L
          var line = reader.readLine()
          while (line != null) { if (line.nonEmpty) n += 1; line = reader.readLine() }
          n
        } finally reader.close()
      }
    })

  /** Row count for a gzip dump WITHOUT decompressing it on the driver:
    * `latestOffset` runs this, and a full single-threaded decode of a
    * multi-GB dump there would stall trigger planning for the whole
    * query. Instead: decode only the first 64 KB — if the dump ends
    * inside the sample the count is exact; otherwise extrapolate the
    * sample's lines-per-byte over the ISIZE trailer (the gzip
    * footer's uncompressed length, an O(1) read). Admission bounds
    * work, so an estimate is the right trade — executors read the
    * exact rows either way, and a torn/multi-member trailer at worst
    * skews one trigger's batch size. */
  private def gzRowEstimate(f: String): Long = {
    val sampleCap = 1 << 16
    var bytes = 0L
    var lines = 0L
    var sawEof = false
    val in = OplogScan.openDecoded(f, hadoopConf)
    try {
      val buf = new Array[Byte](1 << 16)
      var last: Byte = '\n'
      while (bytes < sampleCap && !sawEof) {
        val n = try in.read(buf) catch { case _: java.io.IOException => -1 }
        if (n <= 0) sawEof = true
        else {
          var i = 0
          while (i < n) {
            // count non-empty lines: a '\n' ends one iff the previous
            // byte wasn't itself a line break
            if (buf(i) == '\n' && last != '\n' && last != '\r') lines += 1
            last = buf(i)
            i += 1
          }
          bytes += n
        }
      }
      if (sawEof) {
        if (last != '\n' && last != '\r') lines += 1 // unterminated tail line
        lines
      } else {
        val (isize, compressed) = gzIsize(f)
        // ISIZE is the uncompressed size MOD 2^32: a single-member dump
        // over 4 GiB uncompressed wraps and underestimates the row count
        // by whole multiples of 4 GiB worth of lines. Uncompressed
        // smaller than compressed is an impossible ratio for line-JSON,
        // so treat it as the wrap signal and fall back to
        // compressed-size x the sample's observed expansion (or a
        // typical text ratio when the sample is degenerate). Either way
        // only admission/batch sizing skews — offsets stay
        // file-granular, so exactly-once delivery is unaffected.
        val estUncompressed =
          if (isize >= compressed) isize
          else compressed * TypicalGzipRatio
        if (bytes == 0) 0L
        else math.max(1L, math.round(estUncompressed.toDouble * lines / bytes))
      }
    } finally in.close()
  }

  /** Fallback expansion ratio for a wrapped ISIZE trailer — line-JSON
    * gzips at roughly 4:1 in practice; being a few × off only sizes one
    * trigger's admission, never the delivered rows. */
  private val TypicalGzipRatio = 4L

  /** The gzip ISIZE trailer (uncompressed size mod 2^32, last 4 bytes
    * little-endian) plus the compressed file size, read O(1) via a
    * positioned read on the path's filesystem. */
  private def gzIsize(f: String): (Long, Long) = {
    val p = new org.apache.hadoop.fs.Path(f)
    val fileSystem = p.getFileSystem(hadoopConf)
    val size = fileSystem.getFileStatus(p).getLen
    if (size < 4) (0L, size)
    else {
      val in = fileSystem.open(p)
      try {
        val buf = new Array[Byte](4)
        in.readFully(size - 4, buf)
        val isize = (buf(0) & 0xffL) | ((buf(1) & 0xffL) << 8) |
          ((buf(2) & 0xffL) << 16) | ((buf(3) & 0xffL) << 24)
        (isize, size)
      } finally in.close()
    }
  }

  /** Files admitted from `from` under the limit — file granularity
    * (a file is never split): maxFiles caps the count, maxRows admits
    * files until the row budget is spent, always taking at least one
    * available file so the stream cannot stall (the same contract as
    * Spark's file source with maxBytesPerTrigger — the reference's
    * docs/sec token bucket likewise lets the batch in flight finish,
    * processor.ts:31-49). Composite limits take the strictest cap. */
  private def admit(from: Int, total: Int, limit: ReadLimit): Int = limit match {
    case m: org.apache.spark.sql.connector.read.streaming.ReadMaxFiles =>
      math.min(total, from + m.maxFiles())
    case m: org.apache.spark.sql.connector.read.streaming.ReadMaxRows =>
      var end = from
      var budget = m.maxRows()
      while (end < total && {
        val c = rowCount(discovered.get(end))
        end == from || c <= budget
      }) {
        budget -= rowCount(discovered.get(end))
        end += 1
      }
      end
    case c: org.apache.spark.sql.connector.read.streaming.CompositeReadLimit =>
      c.getReadLimits.map(admit(from, total, _)).min
    case _ => total
  }

  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val total = discover()
    val from = start.asInstanceOf[OplogFileOffset].n
    OplogFileOffset(admit(from, total, limit))
  }

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val (s, e) = (start.asInstanceOf[OplogFileOffset].n, end.asInstanceOf[OplogFileOffset].n)
    if (discovered.size() < e) discover()
    require(discovered.size() >= e,
      s"offset range [$s, $e) exceeds the ${discovered.size()}-file discovery log")
    // offsets stay file-granular (admission, checkpointing); execution
    // parallelism within the admitted files comes from range splitting
    (s until e).flatMap(i =>
      OplogScan.splitFile(discovered.get(i), splitSizeBytes, hadoopConf)).toArray
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new OplogReaderFactory(pushed, required, new SerializableHadoopConf(hadoopConf))

  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()
}

class OplogReaderFactory(pushed: Array[Filter], required: StructType,
    conf: SerializableHadoopConf) extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val p = partition.asInstanceOf[OplogFilePartition]
    new OplogLineReader(new LineRangeIterator(p.file, p.start, p.end, conf.value), pushed, required)
  }
}

/** Byte-range line iterator implementing the Hadoop split contract:
  * owns lines whose first byte is in [start, end); a non-zero start
  * positions at `start - 1` and discards one line (so a split landing
  * exactly on a line boundary keeps that line), and the final owned
  * line is read to completion past `end`. Splitting at byte
  * granularity is safe for JSON-lines: '\n' (0x0A) cannot occur inside
  * a UTF-8 multi-byte sequence. Lines are '\n'-delimited (the
  * JSON-lines contract); a trailing '\r' is stripped so CRLF dumps
  * parse. Reads scan a 64 KB chunk buffer directly — no per-byte
  * stream call on the path this feature exists to make fast. */
private[v2] class LineRangeIterator(file: String, start: Long, end: Long,
    conf: org.apache.hadoop.conf.Configuration) extends LineSource {
  // gzip dumps decompress inline (empty/corrupt headers degrade to an
  // empty stream, fd closed — see OplogScan.openDecoded); they always
  // arrive as one whole-file range, so positioning is never needed.
  // start > 0 implies a plain (splittable) file: openDecoded seeks the
  // FSDataInputStream to start - 1 so the partial line can be skipped.
  locally {
    if (file.endsWith(".gz"))
      require(start == 0L, s"gzip file $file is not seekable; got start=$start")
  }
  private val in: java.io.InputStream =
    OplogScan.openDecoded(file, conf, startAt = math.max(0L, start - 1))
  private val chunk = new Array[Byte](1 << 16)
  private var chunkLen = 0 // valid bytes in `chunk`
  private var chunkPos = 0 // next unread index in `chunk`
  private var pos = 0L // absolute (decompressed) offset of chunk(chunkPos)
  private val line = new java.io.ByteArrayOutputStream(256)
  locally {
    if (start > 0) {
      pos = start - 1
      readLine() // the partial line belongs to the previous range
    }
  }

  /** Next owned line, or null when the range (or file) is exhausted. */
  override def nextLine(): String =
    if (pos >= end) null else readLine()

  private def refill(): Boolean = {
    // a .gz truncated MID-BODY passes the constructor's header check
    // and throws from read(); the per-event error contract (malformed
    // input is dropped, the scan lives on) extends to it: the readable
    // prefix is served, the torn tail is end-of-stream. Plain files
    // keep throwing — a local read error there is real.
    chunkLen =
      try in.read(chunk)
      catch { case _: java.io.IOException if file.endsWith(".gz") => -1 }
    chunkPos = 0
    chunkLen > 0
  }

  private def readLine(): String = {
    line.reset()
    var sawAny = false
    while (true) {
      if (chunkPos >= chunkLen && !refill()) {
        // EOF: the last line may lack a terminator
        if (!sawAny) return null
        return finish()
      }
      sawAny = true
      var i = chunkPos
      while (i < chunkLen && chunk(i) != '\n') i += 1
      line.write(chunk, chunkPos, i - chunkPos)
      pos += i - chunkPos
      chunkPos = i
      if (i < chunkLen) { // found the newline
        chunkPos += 1
        pos += 1
        return finish()
      }
    }
    null // unreachable
  }

  private def finish(): String = {
    val bytes = line.toByteArray
    val len = if (bytes.nonEmpty && bytes(bytes.length - 1) == '\r') bytes.length - 1 else bytes.length
    new String(bytes, 0, len, java.nio.charset.StandardCharsets.UTF_8)
  }

  override def close(): Unit = in.close()
}
