package graft.source.v2

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.util
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset, ReadLimit, SupportsAdmissionControl}
import org.apache.spark.sql.sources.{Filter, GreaterThanOrEqual}
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String
import graft.model.{DInt, Json}

/** The live wire-read leg (S1/S2 over HTTP) — the source counterpart of
  * [[graft.sink.BulkHttp]]: where the reference opens a MongoDB driver
  * connection and runs the collection scan + `local.oplog.rs` tail with
  * server-side query filters (reference src/mongodb.ts:21-31,35-59),
  * this connector speaks a minimal extended-JSON-over-HTTP protocol any
  * thin sidecar in front of a real mongod (or a change-data service)
  * can serve:
  *
  *  - `GET <url>/snapshot/<db.coll>?shard=i&shards=n[&fromId=x][&limit=m]`
  *    — the collection scan as ndjson `{"id":…, "doc":{…}}` lines,
  *    id-ordered, hash-sharded for parallel readers; `fromId` is the
  *    server-side resume-range predicate (P2, src/mongodb.ts:35-39) AND
  *    the pagination cursor: each reader requests at most `batchRows`
  *    rows per GET and chains continuation GETs from the last id it
  *    saw, so a shard of any size streams through one page of memory.
  *    A server that ignores `limit` still works (the reader detects an
  *    over-full page and stops paging) — pagination is an upgrade, not
  *    a protocol break.
  *  - `GET <url>/oplog?from=s&to=e[&ns=…][&fromTs=t]` — oplog entries
  *    with sequence number in (s, e] as ndjson `{"seq":…, "ts":…,
  *    "op":…, "ns":…, "id":…, "doc":{…}, "fromMigrate":…}`; ns/ts
  *    filters apply SERVER-side (P3, src/mongodb.ts:46-54) without
  *    moving the sequence range, so offsets are filter-independent.
  *    The lines decode through the same [[OplogLineReader]] as the
  *    file dumps of [[OplogJsonSource]] — one schema, one pushdown rule
  *    ([[OplogLine.accepts]]), which also builds this query's ns/fromTs,
  *    and one malformed-line contract.
  *  - `GET <url>/oplog/latest` — `{"seq":N}`, the tail head (the
  *    latestOffset probe; the reference's awaitData cursor analog).
  *
  * The STREAMING OFFSET is the oplog sequence number — Mongo's resume
  * token made explicit — checkpointed by Structured Streaming exactly
  * like the file source's offsets, so restart/resume needs nothing
  * beyond the query's checkpointLocation. Admission
  * (`maxRowsPerTrigger`, S4) caps how far a trigger's offset may
  * advance; within an admitted range, execution parallelism comes from
  * splitting the range into `batchRows`-sized partitions, each fetched
  * by its own executor task — the driver never sees a document.
  *
  * Option surface matches [[OplogJsonSource]] where the semantics
  * overlap (`maxRowsPerTrigger`), plus `url`, `mode`
  * (snapshot | oplog), `collection`, `numShards`, `batchRows`,
  * `startingSeq`/`startAtHead` (fresh-start position, oplog mode).
  */
class MongoHttpSource extends TableProvider {
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    if (MongoHttp.modeOf(options) == "snapshot") MongoHttp.SNAPSHOT_SCHEMA
    else OplogJsonTable.SCHEMA
  override def getTable(
      schema: StructType,
      partitioning: Array[Transform],
      properties: util.Map[String, String]): Table = {
    val opts = new CaseInsensitiveStringMap(properties)
    new MongoHttpTable(MongoHttp.Options(
      url = Option(opts.get("url")).getOrElse(
        throw new IllegalArgumentException("MongoHttpSource requires option 'url'")),
      mode = MongoHttp.modeOf(opts),
      collection = Option(opts.get("collection")).getOrElse(""),
      numShards = Option(opts.get("numShards")).map(_.toInt).getOrElse(4),
      batchRows = Option(opts.get("batchRows")).map(_.toLong).getOrElse(10000L),
      maxRowsPerTrigger = Option(opts.get("maxRowsPerTrigger")).map(_.toLong)
        .getOrElse(Long.MaxValue),
      ns = Option(opts.get("ns")),
      fromTs = Option(opts.get("fromTs")).map(_.toLong),
      startingSeq = Option(opts.get("startingSeq")).map(_.toLong),
      startAtHead = Option(opts.get("startAtHead")).exists(_.toBoolean)))
  }
}

object MongoHttp {
  val SNAPSHOT_SCHEMA: StructType = StructType(Seq(
    StructField("id", StringType),
    StructField("doc", StringType),
  ))

  /** `ns`/`fromTs` are the OPTION form of the P3 predicates: Catalyst
    * pushes batch filters into the scan, but a MicroBatchStream scan
    * gets no filter pushdown, so the stream's server-side filters
    * travel as source options — which is exactly how the reference does
    * it (the ns/ts conditions are config-driven query arguments,
    * src/mongodb.ts:46-54, not an optimizer artifact). The engine still
    * re-applies the same predicates post-scan (TailQuery's P3 filter),
    * so a misbehaving server can't corrupt semantics. */
  /** `startingSeq`/`startAtHead` pick the stream's FIRST-start position
    * — the reference's `task.from.time` (src/index.ts:27-37: resume from
    * a configured timestamp, else tail from the current oplog head,
    * src/mongodb.ts:49). They only matter on a fresh checkpoint: once a
    * query has committed an offset, Structured Streaming resumes from
    * the checkpoint and never consults initialOffset again. */
  final case class Options(url: String, mode: String, collection: String,
      numShards: Int, batchRows: Long, maxRowsPerTrigger: Long,
      ns: Option[String] = None, fromTs: Option[Long] = None,
      startingSeq: Option[Long] = None, startAtHead: Boolean = false)

  def modeOf(options: CaseInsensitiveStringMap): String =
    Option(options.get("mode")).getOrElse("snapshot") match {
      case m @ ("snapshot" | "oplog") => m
      case other => throw new IllegalArgumentException(
        s"MongoHttpSource mode must be snapshot|oplog, got $other")
    }

  /** One shared client per JVM (driver and each executor): HttpClient
    * owns a selector thread pool, so per-request construction would
    * leak thread churn across thousands of partition reads. */
  private lazy val client: HttpClient = HttpClient.newHttpClient()

  /** One GET, returned as a STREAMED [[LineSource]]. Executor-side
    * (partition readers) and driver-side (latest probe) share it;
    * connection errors propagate — a dead source is a failed
    * task/trigger, which Spark retries with its own task/trigger policy
    * (the reference crashes its process on a dead cursor, src/index.ts —
    * task retry is the strictly better behavior).
    *
    * The body is NEVER materialized whole: `ofInputStream` + a buffered
    * line reader hold one 64 KB buffer and one line at a time, the same
    * incremental shape as the reference's Node Readable cursor stream
    * (src/mongodb.ts:33-42). The previous `ofString` form capped any
    * response at the 2 GB JVM string limit and held it all — fatal for
    * a 100 TB snapshot shard. The stream auto-closes on exhaustion;
    * callers that may abandon it early (task kill, LIMIT) close()
    * explicitly. */
  private[v2] def get(url: String): Lines = new Lines(url)

  private[v2] final class Lines(url: String) extends LineSource {
    private val resp = client.send(
      HttpRequest.newBuilder(URI.create(url)).GET().build(),
      HttpResponse.BodyHandlers.ofInputStream())
    private val reader = new java.io.BufferedReader(
      new java.io.InputStreamReader(resp.body(), java.nio.charset.StandardCharsets.UTF_8),
      1 << 16)
    if (resp.statusCode() / 100 != 2) {
      close()
      throw new java.io.IOException(s"GET $url: status ${resp.statusCode()}")
    }
    private var closed = false
    /** The next non-empty line; null, with the stream closed, once drained. */
    override def nextLine(): String = {
      var l = if (closed) null else reader.readLine()
      while (l != null && l.isEmpty) l = reader.readLine()
      if (l == null) close()
      l
    }
    override def close(): Unit = if (!closed) {
      closed = true
      try reader.close() catch { case _: java.io.IOException => () }
    }
  }
}

class MongoHttpTable(opts: MongoHttp.Options) extends Table with SupportsRead {
  override def name(): String = s"mongo_http(${opts.url}, ${opts.mode})"
  override def schema(): StructType =
    if (opts.mode == "snapshot") MongoHttp.SNAPSHOT_SCHEMA else OplogJsonTable.SCHEMA
  override def capabilities(): util.Set[TableCapability] =
    (if (opts.mode == "snapshot") Set(TableCapability.BATCH_READ)
     else Set(TableCapability.BATCH_READ, TableCapability.MICRO_BATCH_READ)).asJava
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new MongoHttpScanBuilder(opts)
}

class MongoHttpScanBuilder(opts: MongoHttp.Options)
    extends ScanBuilder with SupportsPushDownFilters with SupportsPushDownRequiredColumns {

  private var pushed: Array[Filter] = Array.empty
  private var required: StructType =
    if (opts.mode == "snapshot") MongoHttp.SNAPSHOT_SCHEMA else OplogJsonTable.SCHEMA

  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    // snapshot: the resume-range predicate travels to the server as
    // fromId (reference src/mongodb.ts:35-39). oplog: ns equality and
    // ts lower bounds travel as query params (src/mongodb.ts:46-54).
    val (accepted, rejected) = filters.partition {
      case GreaterThanOrEqual("id", _: String) => opts.mode == "snapshot"
      case f => opts.mode == "oplog" && OplogLine.accepts(f)
    }
    pushed = accepted
    rejected
  }
  override def pushedFilters(): Array[Filter] = pushed
  override def pruneColumns(requiredSchema: StructType): Unit = required = requiredSchema
  override def build(): Scan = new MongoHttpScan(opts, pushed, required)
}

/** Snapshot shard i of n (server-side hash sharding). `url` is the
  * shard base — the READER appends `fromId`/`limit` per page, so one
  * partition is a chain of bounded GETs, not one unbounded response. */
case class MongoSnapshotPartition(url: String) extends InputPartition
/** Oplog sequence range (from, to]. */
case class MongoOplogPartition(url: String) extends InputPartition

final case class MongoOplogOffset(seq: Long) extends Offset {
  override def json(): String = seq.toString
}

class MongoHttpScan(opts: MongoHttp.Options, pushed: Array[Filter], required: StructType)
    extends Scan with Batch {
  override def readSchema(): StructType = required
  override def toBatch: Batch = this
  override def description(): String =
    s"MongoHttpScan(url=${opts.url}, mode=${opts.mode}, pushed=${pushed.mkString(",")})"

  private def oplogParams: String = {
    // pushed filters (batch) and source options (stream) both feed the
    // server-side query; conjoin ts bounds into the single strongest
    // lower bound — the reader re-checks every pushed filter anyway
    val where = new OplogPredicates(pushed)
    val ns = where.ns.headOption.orElse(opts.ns)
    val fromTs = (where.fromTs ++ opts.fromTs).maxOption
    ns.map(n => s"&ns=${java.net.URLEncoder.encode(n, "UTF-8")}").getOrElse("") +
      fromTs.map(t => s"&fromTs=$t").getOrElse("")
  }

  private[v2] def snapshotPartitions(): Array[InputPartition] =
    (0 until opts.numShards).map { i =>
      MongoSnapshotPartition(
        s"${opts.url}/snapshot/${opts.collection}?shard=$i&shards=${opts.numShards}"): InputPartition
    }.toArray

  private[v2] def oplogPartitions(from: Long, to: Long): Array[InputPartition] =
    (from until to by opts.batchRows).map { s =>
      val e = math.min(s + opts.batchRows, to)
      MongoOplogPartition(s"${opts.url}/oplog?from=$s&to=$e$oplogParams"): InputPartition
    }.toArray

  override def planInputPartitions(): Array[InputPartition] =
    if (opts.mode == "snapshot") snapshotPartitions()
    else oplogPartitions(0L, MongoHttpStream.latestSeq(opts.url))

  override def createReaderFactory(): PartitionReaderFactory =
    new MongoHttpReaderFactory(opts.batchRows, pushed, required)

  override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream = {
    require(opts.mode == "oplog", "only mode=oplog streams")
    new MongoHttpStream(this, opts)
  }
}

object MongoHttpStream {
  /** `GET /oplog/latest` → the current head sequence. */
  def latestSeq(url: String): Long = {
    val lines = MongoHttp.get(s"$url/oplog/latest")
    try Option(lines.nextLine()).map { line =>
      Json.parseObj(line).get("seq") match {
        case Some(DInt(n)) => n
        case other => throw new java.io.IOException(s"bad /oplog/latest body: $other")
      }
    }.getOrElse(0L)
    finally lines.close()
  }
}

/** Streaming form: offsets are oplog sequence numbers (the resume
  * token), admission caps the per-trigger advance — since every
  * sequence is one entry, `maxRowsPerTrigger` IS the range cap (the
  * reference's docs/sec token bucket, processor.ts:31-49). */
class MongoHttpStream(scan: MongoHttpScan, opts: MongoHttp.Options)
    extends MicroBatchStream with SupportsAdmissionControl {

  override def initialOffset(): Offset =
    MongoOplogOffset(
      if (opts.startAtHead) MongoHttpStream.latestSeq(opts.url)
      else opts.startingSeq.getOrElse(0L))
  override def deserializeOffset(json: String): Offset = MongoOplogOffset(json.trim.toLong)

  override def latestOffset(): Offset =
    throw new UnsupportedOperationException("use latestOffset(start, limit)")

  override def getDefaultReadLimit: ReadLimit =
    OplogLine.readLimit(Int.MaxValue, opts.maxRowsPerTrigger)

  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val head = MongoHttpStream.latestSeq(opts.url)
    val from = start.asInstanceOf[MongoOplogOffset].seq
    val cap = limit match {
      case m: org.apache.spark.sql.connector.read.streaming.ReadMaxRows =>
        math.min(head, from + m.maxRows())
      case c: org.apache.spark.sql.connector.read.streaming.CompositeReadLimit =>
        c.getReadLimits.collect {
          case m: org.apache.spark.sql.connector.read.streaming.ReadMaxRows =>
            from + m.maxRows()
        }.foldLeft(head)(math.min)
      case _ => head
    }
    MongoOplogOffset(math.max(from, cap))
  }

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] =
    scan.oplogPartitions(
      start.asInstanceOf[MongoOplogOffset].seq,
      end.asInstanceOf[MongoOplogOffset].seq)

  override def createReaderFactory(): PartitionReaderFactory =
    scan.createReaderFactory()

  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()
}

class MongoHttpReaderFactory(batchRows: Long, pushed: Array[Filter],
    required: StructType) extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] =
    partition match {
      case MongoSnapshotPartition(url) => new MongoSnapshotReader(url, batchRows, pushed, required)
      case MongoOplogPartition(url)    => new OplogLineReader(MongoHttp.get(url), pushed, required)
    }
}

/** Snapshot lines `{"id":…, "doc":{…}}` → (id, doc) rows, PAGINATED:
  * the reader chains `&fromId=<cursor>&limit=<batchRows>` GETs so one
  * shard — terabytes at the design point — never holds more than one
  * buffered line in executor memory. The cursor is the reference's
  * resume range predicate reused as a pagination token
  * (src/mongodb.ts:35-39: `_id: {$gte: …}` + id-ordered cursor).
  *
  * `fromId` is INCLUSIVE (it is the pushed `id >= v` bound on the first
  * page), so a continuation page re-sends its cursor row; `floor`
  * tracks the largest id already surfaced and drops it. The same check
  * re-applies EVERY pushed id bound locally (the server already got the
  * strongest one — re-checking means two conjunctive bounds, or a
  * sidecar that ignores `fromId`, still can't leak rows), and makes an
  * unordered or repeating server return each id at most once.
  *
  * Termination: a page with exactly `limit` raw rows may have more
  * behind it → continue from the page's max raw id; any other size
  * (shorter = shard drained; longer = server ignores `limit` and sent
  * everything) ends the chain. Progress is guaranteed because the
  * cursor advances to the raw page max even when every row was
  * filtered. */
class MongoSnapshotReader(baseUrl: String, batchRows: Long, pushed: Array[Filter],
    required: StructType) extends PartitionReader[InternalRow] {
  private val idLowerBounds = pushed.collect { case GreaterThanOrEqual("id", v: String) => v }
  private var floor: String = null        // max id already emitted/skipped (exclusive)
  private var floorAtFetch: String = null // floor when the current page was requested
  private var pageMaxRaw: String = null   // max raw id on the current page
  private var pageRaw = 0L
  private var page: MongoHttp.Lines = null
  private var exhausted = false
  private var current: InternalRow = _

  private def fetchPage(): Unit = {
    val cursor = (Option(floor).toSeq ++ idLowerBounds).maxOption // strings: server compares lexically
    val from = cursor.map(c => s"&fromId=${java.net.URLEncoder.encode(c, "UTF-8")}").getOrElse("")
    page = MongoHttp.get(s"$baseUrl$from&limit=$batchRows")
    floorAtFetch = floor
    pageRaw = 0L
    pageMaxRaw = null
  }

  override def next(): Boolean = {
    while (!exhausted) {
      if (page == null) fetchPage()
      val line = page.nextLine()
      if (line == null) {
        page.close(); page = null
        // a full page may have more behind it — but only if its cursor
        // moved past the one it was fetched from (a limit-honoring
        // server always moves it; a degenerate batchRows=1 re-send of
        // the cursor row must not loop forever)
        val advanced = pageMaxRaw != null && (floorAtFetch == null || pageMaxRaw > floorAtFetch)
        exhausted = pageRaw != batchRows || !advanced
        if (advanced && (floor == null || pageMaxRaw > floor)) floor = pageMaxRaw
      } else {
        pageRaw += 1
        // per-event error contract: malformed lines drop, the scan lives
        scala.util.Try(Json.parseObj(line)).toOption.foreach { o =>
          val id = OplogLine.str(o, "id")
          if (id != null) {
            if (pageMaxRaw == null || id > pageMaxRaw) pageMaxRaw = id
            if ((floor == null || id > floor) && idLowerBounds.forall(id >= _)) {
              floor = id
              current = new GenericInternalRow(required.fields.map[Any] { f =>
                f.name match {
                  case "id"  => UTF8String.fromString(id)
                  case "doc" => UTF8String.fromString(OplogLine.str(o, "doc"))
                }
              })
              return true
            }
          }
        }
      }
    }
    false
  }
  override def get(): InternalRow = current
  override def close(): Unit = if (page != null) { page.close(); page = null }
}
