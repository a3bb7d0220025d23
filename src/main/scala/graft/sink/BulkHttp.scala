package graft.sink

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.charset.StandardCharsets
import graft.model.{DArr, DInt, DObj, DStr, Json}

/** The live `_bulk` RPC leg — delivery of [[graft.source.v2.BulkJsonSink]]
  * bodies to an Elasticsearch-compatible endpoint, with the failure
  * semantics the reference leaves implicit made explicit:
  *
  *  - the reference fires ONE `client.bulk` per processed batch
  *    (src/elasticsearch.ts:22-28) and, on ANY error, logs and drops
  *    the whole batch WITHOUT saving its checkpoint
  *    (src/processor.ts:393-395) — at-least-once by replay-on-restart,
  *    with per-item partial failures silently ignored (a bulk response
  *    with `errors:true` still resolves).
  *  - this engine names that choice: [[Policy.batchDropOnFailure]] true
  *    reproduces the reference (exhausted failures throw; the caller's
  *    checkpoint never advances; the batch replays — idempotent because
  *    the loads are id-keyed upserts/deletes, recovery contract O10);
  *    false records per-item drops and returns, the bounded-loss mode a
  *    monitoring pipeline may prefer. EITHER way, per-item RETRYABLE
  *    statuses (429 throttle, 503 unavailable) are retried with
  *    exponential backoff, and only the failed items are re-sent —
  *    the standard bulk-client contract the reference's fire-and-forget
  *    call omits.
  *
  * Transport-level failures (connect refused, 5xx on the whole
  * request) retry the WHOLE request with the same backoff schedule.
  *
  * Scale shape: this is per-partition work — the engine's delivery path
  * ([[graft.pipeline.TailQuery.deliverBulkDir]]) calls [[deliverFile]]
  * from one EXECUTOR task per committed sink part file, so delivery
  * parallelism is the write parallelism and the driver never sees a
  * document. State is one in-flight body per task; `tag` carries the
  * task identity as an `X-Graft-Task` header. BulkHttpSpec drives every
  * failure mode against a local stub endpoint.
  */
object BulkHttp {

  final case class Policy(
      maxRetries: Int = 3,
      backoffMs: Long = 50,
      retryableStatuses: Set[Int] = Set(429, 503),
      batchDropOnFailure: Boolean = true)

  /** One action's fate after the retry schedule. */
  final case class ItemDrop(id: String, status: Int)
  final case class BulkReport(requests: Int, acked: Int, dropped: Vector[ItemDrop])

  final class BulkFailedException(msg: String, val report: BulkReport)
      extends RuntimeException(msg)

  /** One bulk ACTION: its metadata line and (for index) its source
    * line — the retry unit. */
  private[sink] final case class Action(meta: String, source: Option[String], id: String)

  /** Pair up a sink body's lines into retryable actions. */
  private[sink] def actionsOf(lines: IndexedSeq[String]): Vector[Action] = {
    val out = Vector.newBuilder[Action]
    var i = 0
    while (i < lines.length) {
      val meta = lines(i)
      val obj = Json.parseObj(meta)
      val isDelete = obj.fields.exists(_._1 == "delete")
      val id = obj.fields.collectFirst { case (_, d: DObj) =>
        d.fields.collectFirst { case ("_id", DStr(s)) => s }.getOrElse("")
      }.getOrElse("")
      if (isDelete) { out += Action(meta, None, id); i += 1 }
      else {
        if (i + 1 >= lines.length)
          throw new IllegalArgumentException(
            s"malformed bulk body: dangling action metadata at line $i: $meta")
        out += Action(meta, Some(lines(i + 1)), id); i += 2
      }
    }
    out.result()
  }

  private def bodyOf(actions: Seq[Action]): String =
    actions.iterator.flatMap(a => Iterator(a.meta) ++ a.source.iterator)
      .mkString("", "\n", "\n")

  /** Parse a bulk response's per-item statuses, positionally (the bulk
    * contract: items come back in request order). */
  private[sink] def itemStatuses(response: String): Vector[Int] =
    Json.parseObj(response).fields.collectFirst { case ("items", DArr(items)) =>
      items.toVector.map { item =>
        item.asInstanceOf[DObj].fields.headOption.map(_._2) match {
          case Some(d: DObj) =>
            d.fields.collectFirst { case ("status", DInt(n)) => n.toInt }.getOrElse(500)
          case _ => 500
        }
      }
    }.getOrElse(Vector.empty)

  private def send(client: HttpClient, uri: URI, body: String,
      tag: String): HttpResponse[String] = {
    val b = HttpRequest.newBuilder(uri)
      .header("Content-Type", "application/x-ndjson")
    // delivery-attribution header: which Spark task POSTed this body
    // (set by the executor-side delivery path; lets a downstream — and
    // the executor-delivery spec — see the delivery parallelism)
    if (tag.nonEmpty) b.header("X-Graft-Task", tag)
    client.send(
      b.POST(HttpRequest.BodyPublishers.ofString(body, StandardCharsets.UTF_8)).build(),
      HttpResponse.BodyHandlers.ofString())
  }

  /** Deliver one sink body (its lines) to `uri` under `policy`. Returns
    * the delivery report; throws [[BulkFailedException]] when items
    * remain failed after the schedule and the policy is the reference's
    * batch-drop (the caller must then NOT advance its checkpoint). */
  def bulk(lines: IndexedSeq[String], uri: URI, policy: Policy = Policy(),
      client: HttpClient = HttpClient.newHttpClient(),
      tag: String = ""): BulkReport = {
    var pending = actionsOf(lines)
    var acked = 0
    var requests = 0
    var attempt = 0
    var dropped = Vector.empty[ItemDrop]
    while (pending.nonEmpty && attempt <= policy.maxRetries) {
      if (attempt > 0) Thread.sleep(policy.backoffMs << (attempt - 1))
      val resp =
        try send(client, uri, bodyOf(pending), tag)
        catch {
          case e: java.io.IOException =>
            requests += 1; attempt += 1
            if (attempt > policy.maxRetries)
              throw new BulkFailedException(s"bulk transport failed after $attempt attempts: $e",
                BulkReport(requests, acked, dropped))
            null
        }
      if (resp != null) {
        requests += 1
        if (resp.statusCode() >= 500 || resp.statusCode() == 429) {
          // whole-request failure — retry everything
          attempt += 1
          if (attempt > policy.maxRetries)
            throw new BulkFailedException(
              s"bulk endpoint ${resp.statusCode()} after $attempt attempts",
              BulkReport(requests, acked, dropped))
        } else {
          // an error body (or proxy HTML) may not parse at all — treat
          // that the same as a missing 'items' array below
          val statuses =
            try itemStatuses(resp.body())
            catch { case scala.util.control.NonFatal(_) => Vector.empty[Int] }
          // A non-retryable whole-request status (400/404/…) — or any
          // response whose body carries no per-item report matching the
          // request — is a CLASSIFIED whole-request failure, not a raw
          // parse/require exception: the caller's contract is
          // BulkFailedException-or-report, and a 400 error body has no
          // 'items' array to partition on.
          if (statuses.size != pending.size)
            throw new BulkFailedException(
              s"bulk endpoint ${resp.statusCode()}: response carries " +
                s"${statuses.size} item statuses for ${pending.size} actions " +
                "(whole-request failure)",
              BulkReport(requests, acked, dropped))
          val (ok, bad) = pending.zip(statuses).partition(_._2 < 300)
          acked += ok.size
          val (retryable, fatal) = bad.partition(p => policy.retryableStatuses(p._2))
          dropped ++= fatal.map { case (a, s) => ItemDrop(a.id, s) }
          pending = retryable.map(_._1)
          if (pending.nonEmpty) attempt += 1
          if (pending.nonEmpty && attempt > policy.maxRetries) {
            dropped ++= pending.zip(statuses.filter(policy.retryableStatuses))
              .map { case (a, s) => ItemDrop(a.id, s) }
            pending = Vector.empty
          }
        }
      }
    }
    val report = BulkReport(requests, acked, dropped)
    if (dropped.nonEmpty && policy.batchDropOnFailure)
      throw new BulkFailedException(
        s"${dropped.size} items failed after retries (batch-drop policy): " +
          dropped.take(5).mkString(", "), report)
    report
  }

  /** Deliver one committed sink part file (plain or gzip). `path` is
    * opened through the Hadoop layer under `conf`, so a plain path and
    * any URI it resolves (`file:`, `hdfs:`) read alike. */
  def deliverFile(path: String, uri: URI, policy: Policy = Policy(),
      client: HttpClient = HttpClient.newHttpClient(),
      tag: String = "",
      conf: org.apache.hadoop.conf.Configuration = new org.apache.hadoop.conf.Configuration()): BulkReport = {
    val p = new org.apache.hadoop.fs.Path(path)
    val raw: java.io.InputStream = graft.source.v2.FsIO.rawFs(p, conf).open(p)
    val in = if (path.endsWith(".gz")) new java.util.zip.GZIPInputStream(raw) else raw
    val lines =
      try scala.io.Source.fromInputStream(in, "UTF-8").getLines().toIndexedSeq
      finally in.close()
    bulk(lines.filter(_.nonEmpty), uri, policy, client, tag)
  }
}
