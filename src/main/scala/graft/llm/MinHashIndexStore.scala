package graft.llm

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import java.nio.file.Path

/** Persistent MinHash/LSH posting-list index over the ARCHIVE half of
  * the corpus — the sidecar behind `pipeline_incremental_neardup`.
  *
  * The production crawl-ingest shape (the reference's tail phase is
  * the same "increment against accumulated state" motion,
  * src/processor.ts:332-396): a 100 TB archive's LSH band rows are an
  * expensive full-corpus signature pass that must be paid ONCE per
  * archive snapshot, not once per arriving batch. This store
  * materializes the archive's `(doc_id, band, bucket)` rows
  * (DedupQueries.bandRows — the dedup_minhash_pairs signature scheme)
  * as a [[Sidecar]] segment manifest: a full build writes one segment;
  * [[absorb]] appends an O(batch) delta segment when a batch is
  * ACCEPTED into the archive — the existing archive is never
  * re-signatured (the BucketedStateStore motion applied to the index).
  * Segment compaction is an offline concern, exactly like the bucketed
  * store's.
  *
  * Validity is keyed on the covered-document count, which the last
  * segment records cumulatively: a regenerated corpus re-indexes
  * instead of silently reusing signatures from vanished data. The count
  * (not the full [[CorpusStamp]] token) because absorb's covered docs
  * are caller-owned and need not exist in the table. The harness's
  * archive predicate (doc_id % 10 <> 0, mirroring
  * pipeline_incremental_dedup's batch split) is part of what the count
  * fingerprints; a deployment indexes its whole archive and keys on the
  * snapshot id instead.
  */
object MinHashIndexStore {

  /** Bumped on every FULL index-build job; the restart spec pins that
    * a second session loads the sidecar instead of bumping this. */
  @volatile var buildCount: Long = 0L

  /** Bumped on every O(batch) delta absorption; the absorb spec pins
    * that absorbing never bumps [[buildCount]]. */
  @volatile var absorbCount: Long = 0L

  /** Bumped on every segment compaction. */
  @volatile var compactCount: Long = 0L

  // "archive2": round-18 changed the band-bucket encoding (numeric
  // min-hash slices — see DedupQueries.bandRows); segments written
  // under the old name hold string-hex buckets that would silently
  // never match new-format batch bands, and validity is count-keyed,
  // so the format change must key the sidecar NAME.
  private def manifest(dir: String) =
    new Sidecar.Manifest(Sidecar.path("minhash_archive2", dir, ".parquet"))

  /** Writes the band rows of `docs` (doc_id, text) as one segment. */
  private def bandsOf(docs: DataFrame)(seg: Path): Unit =
    DedupQueries.bandRows(docs.select(col("doc_id"), col("text"))).write.parquet(seg.toString)

  /** The archive half of the harness split (the rest is the "new
    * crawl batch" probed against this index). */
  def archiveDocs(spark: SparkSession, dir: String): DataFrame =
    graft.ops.Tables.table(spark, dir, "documents")
      .filter(col("doc_id") % 10 =!= 0)

  /** Load the persisted archive band index for `dir` if one matches
    * the live archive row count; otherwise build, persist, and return
    * it. The returned frame always reads FROM THE SIDECAR PARQUET, so
    * downstream plans scan the index, never the raw corpus. */
  def loadOrBuild(spark: SparkSession, dir: String): DataFrame = {
    sweepSuperseded(dir)
    // session-cached count (one stamp job per dir/session; the archive
    // variant stamps the FILTERED view)
    val n = CorpusStamp.of(spark, dir, "documents", "doc_id",
      variant = "archive", frame = Some(archiveDocs(spark, dir))).rows
    load(spark, dir, n).getOrElse {
      buildCount += 1
      Sidecar.read(spark, manifest(dir).commit(n.toString)(bandsOf(archiveDocs(spark, dir))))
    }
  }

  private val swept = java.util.concurrent.ConcurrentHashMap.newKeySet[Path]()

  /** Reclaim sidecar files written under the SUPERSEDED
    * `minhash_archive_` name (pre-r18 string-hex bucket encoding) for
    * this dir: the r18 rename correctly prevents stale segments from
    * ever matching again, but it also means nothing would ever read —
    * or delete — them. Matches the old base, its pointer, its segment
    * dirs and swap leftovers; the live `minhash_archive2_` family shares
    * no name prefix with the match. Nothing writes the old name any
    * more, so one listing per JVM per dir suffices — not one per query. */
  private def sweepSuperseded(dir: String): Unit = {
    val old = Sidecar.path("minhash_archive", dir, ".parquet")
    if (swept.add(old)) {
      val name = old.getFileName.toString
      Sidecar.reclaim(old.getParent, n => n == name || n.startsWith(name + "."))
    }
  }

  /** The index iff its manifest covers exactly `n` documents. */
  private[llm] def load(spark: SparkSession, dir: String, n: Long): Option[DataFrame] =
    manifest(dir).valid(n.toString).map(Sidecar.read(spark, _))

  /** O(batch) index maintenance: when `accepted` (doc_id, text) docs
    * are admitted into the archive, append ONLY their band rows as a
    * new immutable segment covering previous-total + |accepted|
    * documents — the existing archive is never re-signatured. Returns
    * the updated index frame (union of all segments). */
  def absorb(spark: SparkSession, dir: String, accepted: DataFrame): DataFrame = {
    val m = manifest(dir)
    val (prevSegs, covered) = m.tip.getOrElse(
      sys.error(s"no index to absorb into for $dir — build first"))
    val segs = m.commit((covered.toLong + accepted.count()).toString, prevSegs)(bandsOf(accepted))
    absorbCount += 1
    Sidecar.read(spark, segs)
  }

  private[llm] def segmentCount(dir: String): Int = manifest(dir).segments.size

  /** Offline compaction — fold the manifest back to ONE segment (the
    * union of all band rows; they are disjoint per covered doc, so the
    * fold is a plain concatenation), covering the same document count.
    * Bounds the many-small-segments read amplification after a long
    * absorb run; answers identical by construction. */
  def compact(spark: SparkSession, dir: String): DataFrame = {
    val m = manifest(dir)
    val (segs, covered) = m.tip.getOrElse(sys.error(s"no minhash index to compact for $dir"))
    Sidecar.read(spark,
      if (segs.size == 1) segs
      else {
        compactCount += 1
        m.commit(covered)(seg => Sidecar.read(spark, segs).write.parquet(seg.toString))
      })
  }
}
