package graft.llm

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import java.nio.file.{Files, Path}
import graft.expressions.VectorFunctions.{dot => ndot}

/** Persistent k-NN graph sidecar — the graph-refined ANN index family
  * (HNSW/NSG's core idea reduced to its Spark-native batch form): for
  * every corpus vector, its top-[[degree]] exact-cosine neighbors among
  * the candidates its own IVF cells admit (nProbe=2 — a vector's two
  * nearest trained cells, so edges cross Voronoi boundaries, which is
  * precisely where plain IVF loses recall). Search then does one beam
  * hop: IVF-probe candidates seed the beam, the graph expands the top
  * seeds' neighborhoods, and an exact re-rank over the union returns
  * the answer (`sim_graph_topk`).
  *
  * Build shape: one corpus pass assigns cells (zero-exchange NearestCell
  * projection against the trained codebook), one shuffle keyed by cell
  * joins probers to members (posting-list shape — cell population
  * ≈ √N keeps each list bounded), and a per-source top-k window over
  * the candidate pairs keeps [[degree]] edges. At 100 TB that is the
  * offline index build, paid once.
  *
  * Persistence is a [[Sidecar]] segment manifest (r14 verdict #3): an
  * ordered list of immutable segment directories, each holding the
  * EDGES it (re)derived, the probe ASSIGNMENTS of the vectors it
  * introduced, and the cumulative corpus stamp after it landed. A full
  * build writes one segment; [[absorb]] appends an O(batch) delta
  * segment when new vectors land — the existing corpus is never
  * re-ranked wholesale (only the bounded set of sources a new vector
  * can actually enter, see absorb). Readers resolve per-source
  * latest-segment-wins; the single-segment fast path is a plain
  * parquet scan (the pre-absorb plan shape). Restart = zero rebuild
  * ([[graft.llm.KnnGraphStoreSpec]] pins it); validity is the
  * [[CorpusStamp]] token (additive, so the cumulative stamp after an
  * absorb equals the merged corpus's stamp exactly).
  *
  * Codebook lifecycle contract: edges are defined AGAINST dir's trained
  * IVF codebook. Training is deterministic in the corpus, so corpus
  * unchanged → same codebook → sidecar valid; corpus changed without an
  * absorb accounting for it → stamp mismatch → full rebuild under the
  * freshly-trained codebook. [[absorb]] extends the graph under the
  * codebook trained over the FINAL (merged) corpus — the deployment
  * freezes a codebook per corpus snapshot and absorbs arrivals against
  * it; a codebook RETRAIN event is by definition a rebuild event.
  *
  * Determinism: similarities are 4-dp-decimal-rounded with dst-id
  * tiebreaks (the IVF convention), so the edge set is a pure function
  * of the corpus — the DuckDB oracle for `sim_graph_topk` re-derives
  * the same graph from the inlined codebook literals and hash-matches,
  * absorbed or not (KnnGraphStoreSpec pins absorb ≡ full rebuild as
  * exact edge-set equality).
  */
object KnnGraphStore {

  /** Edges kept per source vector. 8 is the HNSW-default neighborhood
    * size class; the beam expands top-[[beamWidth]] seeds so a query's
    * expansion set is ≤ degree·beamWidth ids regardless of corpus
    * size. */
  val degree = 8

  /** Seeds whose stored neighborhoods the beam expands — the recall
    * knob (one knob, LSH-prefix discipline: the oracle SQL
    * interpolates the same resolved value, so an overridden run stays
    * DuckDB-checkable). Cost is linear in it and bounded by
    * degree·beamWidth extra exact sims per query. */
  def beamWidth: Int =
    sys.props.get("graft.knn.beamWidth")
      .orElse(sys.env.get("SPARK_GRAFT_KNN_BEAM_WIDTH"))
      .map(_.toInt).getOrElse(8)

  /** Bumped on every FULL graph-build job; the restart spec pins
    * that a second session loads the sidecar instead of bumping it. */
  @volatile var buildCount: Long = 0L

  /** Bumped on every O(batch) delta absorption; the absorb spec pins
    * that absorbing never bumps [[buildCount]]. */
  @volatile var absorbCount: Long = 0L

  /** Bumped on every segment compaction. */
  @volatile var compactCount: Long = 0L

  private def manifest(dir: String) =
    new Sidecar.Manifest(Sidecar.path("knn_graph", dir, s"_d$degree.parquet"))

  /** The corpus frame the graph is defined over. */
  private def corpus(spark: SparkSession, dir: String): DataFrame =
    prep(graft.ops.Tables.table(spark, dir, "embeddings"))

  /** (vec_id, embedding) → (vec_id, v, nrm) — the shared vector shape. */
  private def prep(raw: DataFrame): DataFrame =
    raw.select(col("vec_id"),
        expr("transform(embedding, x -> cast(x AS double))").as("v"))
      .withColumn("nrm", sqrt(ndot(col("v"), col("v"))))

  /** Rank-ordered probe cells (nProbe=2) per vector: `cid` is the home
    * cell (probes[0] ≡ NearestCell's choice — same ordering), `probes`
    * both admitted cells. Persisted per segment so [[absorb]] can find
    * the sources a new vector's home cell affects WITHOUT re-assigning
    * the whole corpus. */
  private def assignmentOf(spark: SparkSession, vectors: DataFrame,
      cb: CodebookStore.Codebook): DataFrame = {
    val (ec, cbCol) = SimilarityQueries.attachCodebook(spark, vectors, cb)
    ec.withColumn("probes",
        graft.expressions.CellFunctions.nearestCells(col("v"), col("nrm"), cbCol, 2))
      .withColumn("cid", col("probes").getItem(0))
      .select(col("vec_id"), col("cid"), col("probes"), col("v"), col("nrm"))
  }

  private def simCol =
    graft.ops.Registry.rnd(ndot(col("sv"), col("dv")) / (col("sn") * col("dn")), 4)

  private val wSrc = Window.partitionBy(col("src_id")).orderBy(col("sim").desc, col("dst_id"))

  /** Derive the edge table `(src_id, rank, dst_id, sim)` over an
    * assignment frame — one cell shuffle + one per-source top-k window;
    * no all-pairs anywhere. `probers` defaults to every source in
    * `assign` (the full build); absorb passes only the batch. */
  private def edgesOf(assign: DataFrame, probers: DataFrame): DataFrame = {
    val members = assign
      .select(col("vec_id").as("dst_id"), col("cid"), col("v").as("dv"), col("nrm").as("dn"))
    val probed = probers
      .withColumn("probe", explode(col("probes")))
      .select(col("vec_id").as("src_id"), col("probe"), col("v").as("sv"), col("nrm").as("sn"))
    members.join(probed, col("probe") === col("cid") && col("src_id") =!= col("dst_id"))
      .withColumn("sim", simCol)
      .withColumn("rank", row_number().over(wSrc))
      .filter(col("rank") <= degree)
      .select(col("src_id"), col("rank"), col("dst_id"), col("sim"))
  }

  /** Full-corpus edge derivation (the offline index build). */
  private[llm] def build(spark: SparkSession, dir: String): DataFrame = {
    val assign = assignmentOf(spark, corpus(spark, dir),
      CodebookStore.loadOrTrain(spark, dir))
    edgesOf(assign, assign)
  }

  /** Writes one segment's edges and its introduced assignments. */
  private def segmentOf(edges: DataFrame, assign: DataFrame)(seg: Path): Unit = {
    edges.write.parquet(seg.resolve("edges").toString)
    assign.select(col("vec_id"), col("cid"), col("probes"))
      .write.parquet(seg.resolve("assign").toString)
  }

  /** Edge table across segments, per-source latest-segment-wins. The
    * single-segment path is a plain parquet scan (today's plan shape);
    * the multi-segment path pays one window shuffle over the N·degree
    * edge rows — the LSM read amplification a periodic offline
    * compaction (re-build) folds away. */
  private def readEdges(spark: SparkSession, segs: Vector[Path]): DataFrame =
    if (segs.size == 1) spark.read.parquet(segs.head.resolve("edges").toString)
    else {
      val tagged = segs.zipWithIndex.map { case (p, i) =>
        spark.read.parquet(p.resolve("edges").toString).withColumn("seg", lit(i))
      }.reduce(_.unionByName(_))
      val wMax = Window.partitionBy(col("src_id"))
      tagged.withColumn("mx", max(col("seg")).over(wMax))
        .filter(col("seg") === col("mx"))
        .select(col("src_id"), col("rank"), col("dst_id"), col("sim"))
    }

  /** Assignment rows across segments (append-only: each source's probe
    * assignment is written exactly once, by the segment that introduced
    * it — cells never change under a frozen codebook). */
  private def readAssign(spark: SparkSession, segs: Vector[Path]): DataFrame =
    segs.map(p => spark.read.parquet(p.resolve("assign").toString))
      .reduce(_.unionByName(_))

  /** The manifest of dir's graph: the persisted one if it records the
    * live [[CorpusStamp]] token (row count + id-set hash,
    * session-cached), else a full build. A regenerated corpus rebuilds
    * even at identical cardinality; a restarted session over the same
    * corpus loads with zero Spark jobs beyond the one cached stamp. */
  private def fresh(spark: SparkSession, dir: String): Vector[Path] = {
    val stamp = CorpusStamp.of(spark, dir, "embeddings", "vec_id").token
    val m = manifest(dir)
    // every segment must carry the edges/assign layout (a pre-segment
    // sidecar generation is simply invalid → rebuild once)
    m.valid(stamp).filter(_.forall(p =>
      Files.exists(p.resolve("edges")) && Files.exists(p.resolve("assign")))
    ).getOrElse {
      buildCount += 1
      val assign = assignmentOf(spark, corpus(spark, dir),
        CodebookStore.loadOrTrain(spark, dir))
      m.commit(stamp)(segmentOf(edgesOf(assign, assign), assign))
    }
  }

  /** The edge table for `dir`: sidecar if fresh, else build + persist. */
  def loadOrBuild(spark: SparkSession, dir: String): DataFrame =
    readEdges(spark, fresh(spark, dir))

  /** Home-cell assignment `(vec_id, cid)` from the fresh sidecar — the
    * cluster key graph-level analytics (PageRank centrality, per-cell
    * representative selection) group by. Freshness is [[loadOrBuild]]'s
    * (stamp-checked, builds at most once); the read itself is a plain
    * parquet scan over the segments' append-only assign tables. */
  def loadAssign(spark: SparkSession, dir: String): DataFrame =
    readAssign(spark, fresh(spark, dir)).select(col("vec_id"), col("cid"))

  /** Bootstrap/test hook: build + persist the edge table over only
    * `subset` (vec_id, embedding) of dir's corpus — recording SUBSET's
    * stamp — under dir's trained codebook. This is the base state an
    * [[absorb]] then extends; the equality spec seeds it with the
    * pre-arrival half of a corpus. */
  private[llm] def buildBaseFor(spark: SparkSession, dir: String,
      subset: DataFrame): Unit = {
    val assign = assignmentOf(spark, prep(subset), CodebookStore.loadOrTrain(spark, dir))
    buildCount += 1
    manifest(dir).commit(CorpusStamp.ofFrame(subset, "vec_id").token)(
      segmentOf(edgesOf(assign, assign), assign))
  }

  /** O(batch) incremental graph maintenance (r14 verdict #3, the
    * delta-segment [[Sidecar.Manifest.commit]]): `batch` (vec_id, embedding)
    * vectors have LANDED in dir's embeddings table; extend the index to
    * cover them without a full rebuild.
    *
    *  - NEW sources get edges from the merged members of their own two
    *    probe cells — identical dataflow to the full build, restricted
    *    to |batch| probers.
    *  - EXISTING sources re-rank ONLY where a new vector's home cell
    *    intersects their stored probe cells — and only against the
    *    union of their persisted top-[[degree]] edges and the new
    *    candidates. A merged-corpus top-degree row is either a new
    *    vector or already in the old top-degree (dropping rows can only
    *    promote survivors), so the bounded re-rank is EXACTLY the full
    *    rebuild's answer — KnnGraphStoreSpec pins the edge-set equality.
    *  - Cost: the batch assignment projection, one posting-list join
    *    bounded by the batch's cells, and a candidate-bounded window —
    *    never a corpus-wide pair ranking. The corpus is touched only to
    *    fetch vectors by id (affected sources + probed-cell members).
    *
    * The new segment records edges for every touched source (readers
    * resolve latest-segment-wins), the batch's probe assignments, and
    * the cumulative stamp `prev + stamp(batch)` — additive, so it
    * equals the merged table's live stamp and [[loadOrBuild]] resolves
    * the absorbed index with zero rebuild. Returns the updated edge
    * frame. */
  def absorb(spark: SparkSession, dir: String, batch: DataFrame): DataFrame = {
    val m = manifest(dir)
    val (prevSegs, prev) = m.tip.getOrElse(
      sys.error(s"no knn graph to absorb into for $dir — build first"))

    val cb = CodebookStore.loadOrTrain(spark, dir)
    // lazy: the two consumers below are id-keyed joins that re-scan the
    // table — never materialize the corpus for an O(batch) operation
    val merged = corpus(spark, dir)
    val batchVecs = prep(batch)
    val cumulative = (CorpusStamp.Stamp.parse(prev) + CorpusStamp.ofFrame(batch, "vec_id")).token

    // batch assignment: the only full-vector cell projection this path
    // runs — |batch| rows. Materialized once; it feeds three joins.
    val bAssign = assignmentOf(spark, batchVecs, cb).localCheckpoint()
    val oldAssign = readAssign(spark, prevSegs)

    // --- new sources: members of the batch's probe cells, merged corpus
    val batchCells = bAssign.select(explode(col("probes")).as("cid")).distinct()
    val memberAssign = oldAssign.select(col("vec_id"), col("cid"))
      .unionByName(bAssign.select(col("vec_id"), col("cid")))
      .join(broadcast(batchCells), Seq("cid"))
    val memberVecs = merged.join(memberAssign, Seq("vec_id"))
      .select(col("vec_id"), col("cid"), col("v"), col("nrm"))
    val newEdges = edgesOf(memberVecs, bAssign)

    // --- affected existing sources: a stored probe cell gained a new
    // home-cell member
    val newHomeCells = bAssign.select(col("cid").as("home")).distinct()
    val affectedIds = oldAssign
      .select(col("vec_id"), explode(col("probes")).as("probe"))
      .join(broadcast(newHomeCells), col("probe") === col("home"))
      .select(col("vec_id"), col("probe")).distinct()
    val affectedVecs = merged.join(affectedIds, Seq("vec_id"))
      .select(col("vec_id").as("src_id"), col("probe"),
        col("v").as("sv"), col("nrm").as("sn"))
    // candidate pairs: affected source x new members of that probe cell
    val newMembers = bAssign
      .select(col("vec_id").as("dst_id"), col("cid"), col("v").as("dv"), col("nrm").as("dn"))
    val freshPairs = affectedVecs
      .join(newMembers, col("probe") === col("cid") && col("src_id") =!= col("dst_id"))
      .withColumn("sim", simCol)
      .select(col("src_id"), col("dst_id"), col("sim"))
    // union with the persisted top-degree edges of exactly those
    // sources, re-rank — candidate-bounded, no corpus pass
    val affectedSrcs = affectedIds.select(col("vec_id").as("src_id")).distinct()
    val oldEdgesOfAffected = readEdges(spark, prevSegs)
      .join(affectedSrcs, Seq("src_id"))
      .select(col("src_id"), col("dst_id"), col("sim"))
    val rerank = oldEdgesOfAffected.unionByName(freshPairs)
      .dropDuplicates("src_id", "dst_id")
      .withColumn("rank", row_number().over(wSrc))
      .filter(col("rank") <= degree)
      .select(col("src_id"), col("rank"), col("dst_id"), col("sim"))

    val segs = m.commit(cumulative, prevSegs)(segmentOf(newEdges.unionByName(rerank), bAssign))
    absorbCount += 1
    readEdges(spark, segs)
  }

  private[llm] def segmentCount(dir: String): Int = manifest(dir).segments.size

  /** Offline compaction — fold the manifest back to ONE segment: edges
    * are the current latest-wins view, assignments the (append-only)
    * union, the cumulative stamp carries over unchanged. Bounds the
    * multi-segment read amplification (the per-source window) and
    * restores the single-segment plain-scan fast path; answers are
    * identical by construction (the spec pins edge-set equality across
    * the fold). The BucketedStateStore compaction discipline applied to
    * the graph. */
  def compact(spark: SparkSession, dir: String): DataFrame = {
    val m = manifest(dir)
    val (segs, stamp) = m.tip.getOrElse(sys.error(s"no knn graph to compact for $dir"))
    readEdges(spark,
      if (segs.size == 1) segs
      else {
        compactCount += 1
        m.commit(stamp)(segmentOf(readEdges(spark, segs), readAssign(spark, segs)))
      })
  }
}
