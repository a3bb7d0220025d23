package graft.llm

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Session-cached corpus fingerprint — the ONE validity probe every
  * sidecar consumer ([[CodebookStore]], [[PqStore]], [[KnnGraphStore]],
  * [[LrModel]], [[MinHashIndexStore]]) keys its persisted state on.
  *
  * Two problems, one mechanism (r14 verdict #7 + advice):
  *
  *  1. **Redundant per-call jobs.** Each `loadOrBuild`/`loadOrTrain`
  *     used to run its own `count()` per invocation; parquet-footer
  *     counts are cheap but nonzero jobs, and at 224 queries per bench
  *     pass the sidecar-backed ones paid one every call. The stamp is
  *     computed ONCE per (dir, table, variant) per session and cached
  *     against a driver-side file-metadata signature (path, size,
  *     mtime of every leaf — no Spark job), so a regenerated corpus
  *     still re-stamps while a stable one never re-counts.
  *  2. **Cardinality collisions.** A count-only fingerprint lets a
  *     regenerated corpus with identical row count silently reuse
  *     stale edges/centroids/weights. The stamp therefore carries a
  *     content component alongside the count: the sum of the Murmur3
  *     hash of the id column — one columnar scan of a single column,
  *     order-independent (sum is commutative, so the stamp is a pure
  *     function of the id SET regardless of partitioning), and
  *     ADDITIVE over disjoint corpora (an absorbed delta segment
  *     records the previous stamp plus [[ofFrame]] of its batch).
  *
  * Persisted sidecars store [[Stamp.token]] (`rows:fp`) and are valid
  * iff the live token matches ([[Sidecar]]'s one validity rule).
  */
object CorpusStamp {

  final case class Stamp(rows: Long, fp: Long) {
    /** The value a sidecar persists and compares. */
    def token: String = s"$rows:$fp"

    /** The stamp of the disjoint union of the two corpora. */
    def +(o: Stamp): Stamp = Stamp(rows + o.rows, fp + o.fp)
  }

  object Stamp {
    def parse(token: String): Stamp = {
      val Array(rows, fp) = token.split(":").map(_.toLong)
      Stamp(rows, fp)
    }
  }

  /** The stamp of `df`'s rows keyed on `idCol` — one aggregate job, not
    * cached. */
  def ofFrame(df: DataFrame, idCol: String): Stamp = {
    val r = df.agg(
      count(lit(1)),
      coalesce(sum(hash(col(idCol)).cast("long")), lit(0L))).head()
    Stamp(r.getLong(0), r.getLong(1))
  }

  /** Bumped on every ACTUAL stamp job (the one-column scan); the
    * session-cache spec pins one per (dir, table) per session across
    * all sidecar consumers. */
  @volatile var jobCount: Long = 0L

  private val cache =
    new java.util.concurrent.ConcurrentHashMap[(String, String), (String, Stamp)]()

  /** Test hook: simulate a fresh session (forces one re-stamp). */
  private[graft] def reset(): Unit = cache.clear()

  /** Driver-side metadata signature of the table's files — path, size,
    * mtime of every leaf, no Spark job. An in-place regenerated corpus
    * (even at identical cardinality) moves mtimes and invalidates the
    * cached stamp; an untouched table never re-scans. */
  private def fileSig(dir: String, table: String): String = {
    def walk(f: java.io.File): Iterator[java.io.File] =
      if (f.isDirectory)
        Option(f.listFiles()).iterator.flatMap(_.sortBy(_.getName).iterator).flatMap(walk)
      else Iterator.single(f)
    walk(new java.io.File(s"$dir/$table.parquet"))
      .map(f => s"${f.getPath}|${f.length}|${f.lastModified}")
      .mkString("\n")
  }

  /** The stamp for `dir`'s `table`, keyed on `idCol`. `variant` names a
    * filtered view of the table (e.g. the MinHash archive half) so its
    * stamp caches independently; `frame` supplies that view's rows —
    * it must be a pure function of the table. */
  def of(spark: SparkSession, dir: String, table: String, idCol: String,
      variant: String = "", frame: Option[DataFrame] = None): Stamp = {
    val sig = fileSig(dir, table)
    val key = (dir, if (variant.isEmpty) table else s"$table#$variant")
    val cached = cache.get(key)
    if (cached != null && cached._1 == sig) cached._2
    else {
      val st = ofFrame(frame.getOrElse(graft.ops.Tables.table(spark, dir, table)), idCol)
      jobCount += 1
      cache.put(key, (sig, st))
      st
    }
  }
}
