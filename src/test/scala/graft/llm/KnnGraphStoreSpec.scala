package graft.llm

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.TestSpark

/** The graph-refined ANN sidecar: edges must be the deterministic
  * top-degree exact-cosine neighbors among each vector's nProbe=2 IVF
  * candidates, restart must load the sidecar (zero rebuild jobs), a
  * changed corpus must invalidate it, and the beam query must never
  * return WORSE candidates than its own seed leg (refinement is
  * monotone: the union re-rank can only improve a seed-only answer).
  */
class KnnGraphStoreSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  private val dir = "/root/testdata/sf0.001"

  test("edges: per-source degree bound, no self-loops, rank contiguous") {
    val g = KnnGraphStore.loadOrBuild(spark, dir)
    val bad = g.filter(col("src_id") === col("dst_id")).count()
    assert(bad === 0, "self-loop edge")
    val perSrc = g.groupBy(col("src_id"))
      .agg(count(lit(1)).as("n"), max(col("rank")).as("mx"), min(col("rank")).as("mn"))
      .collect()
    assert(perSrc.nonEmpty)
    perSrc.foreach { r =>
      assert(r.getLong(1) <= KnnGraphStore.degree, s"degree overflow: $r")
      assert(r.getInt(3) === 1 && r.getInt(2).toLong === r.getLong(1),
        s"rank must be 1..n contiguous: $r")
    }
  }

  test("restart loads the sidecar: zero rebuild jobs, identical edges") {
    val e1 = KnnGraphStore.loadOrBuild(spark, dir)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    val b0 = KnnGraphStore.buildCount
    val e2 = KnnGraphStore.loadOrBuild(spark, dir)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    assert(KnnGraphStore.buildCount === b0,
      "second session must NOT re-derive the edge table")
    assert(e1 === e2)
  }

  test("a corpus-fingerprint mismatch invalidates the sidecar and rebuilds") {
    val tmp = java.nio.file.Files.createTempDirectory("knng").toString
    val emb = graft.ops.Tables.table(spark, dir, "embeddings")
    emb.write.parquet(s"$tmp/embeddings.parquet")
    KnnGraphStore.loadOrBuild(spark, tmp).count()
    val b0 = KnnGraphStore.buildCount
    // simulate a regenerated corpus: the live row count no longer
    // matches the sidecar's _CORPUS_ROWS header (an in-JVM append
    // can't exercise this — Tables.table memoizes the file listing —
    // so tamper with the persisted fingerprint instead)
    val root = CodebookStore.indexRoot
    val listing = java.nio.file.Files.list(root)
    try listing.forEach { p =>
      val meta = p.resolve("_CORPUS_ROWS")
      if (p.getFileName.toString.startsWith("knn_graph_" +
            tmp.replaceAll("[^A-Za-z0-9._-]", "_"))
          && java.nio.file.Files.exists(meta))
        java.nio.file.Files.writeString(meta, "-1")
    } finally listing.close()
    KnnGraphStore.loadOrBuild(spark, tmp).count()
    assert(KnnGraphStore.buildCount === b0 + 1,
      "fingerprint mismatch must rebuild, not silently reuse stale edges")
  }

  test("absorb ≡ full rebuild: exact edge-set equality over the merged corpus, zero rebuild jobs") {
    val tmp = java.nio.file.Files.createTempDirectory("knng-abs").toString
    val e = graft.ops.Tables.table(spark, dir, "embeddings")
    // the merged table is on disk from the start; the codebook freezes
    // over it (absorb's lifecycle contract: one codebook per corpus
    // snapshot — a retrain event is a rebuild event)
    e.write.parquet(s"$tmp/embeddings.parquet")
    CodebookStore.loadOrTrain(spark, tmp)
    val old = e.filter(col("vec_id") % 5 =!= 0)
    val batch = e.filter(col("vec_id") % 5 === 0)
    KnnGraphStore.buildBaseFor(spark, tmp, old)
    val b0 = KnnGraphStore.buildCount
    val a0 = KnnGraphStore.absorbCount
    def edgeSet(df: org.apache.spark.sql.DataFrame) = df
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3))).toSet
    val absorbed = edgeSet(KnnGraphStore.absorb(spark, tmp, batch))
    assert(KnnGraphStore.absorbCount === a0 + 1)
    assert(KnnGraphStore.buildCount === b0, "absorb must NOT full-rebuild")
    val full = edgeSet(KnnGraphStore.build(spark, tmp))
    assert(absorbed === full,
      "the O(batch) absorb must equal a full rebuild on the merged corpus exactly")
    // the merged table's live stamp equals the absorbed cumulative
    // stamp (additive), so loadOrBuild resolves WITHOUT rebuilding…
    assert(edgeSet(KnnGraphStore.loadOrBuild(spark, tmp)) === full)
    assert(KnnGraphStore.buildCount === b0)
    // …and the beam query runs green over the absorbed (multi-segment)
    // sidecar — per-source latest-segment-wins is invisible to readers
    val topk = graft.SparkEntry.queries("sim_graph_topk")(spark, tmp)
    assert(topk.count() > 0)
    // compaction folds the manifest to one segment, answers unchanged,
    // and restores the single-segment plain-scan fast path
    assert(KnnGraphStore.segmentCount(tmp) === 2)
    val compacted = edgeSet(KnnGraphStore.compact(spark, tmp))
    assert(KnnGraphStore.segmentCount(tmp) === 1)
    assert(compacted === full, "compaction must not change the edge set")
    assert(edgeSet(KnnGraphStore.loadOrBuild(spark, tmp)) === full)
    assert(KnnGraphStore.buildCount === b0, "compaction must not rebuild")
  }

  test("pagerank centrality: per-cell top-3, mass conservation, determinism") {
    val out = graft.SparkEntry.queries("sim_pagerank_central")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getLong(3)))
    assert(out.nonEmpty)
    // shape: cell_rank 1..<=3 contiguous per cell, ordered by pr desc
    out.groupBy(_._1).foreach { case (cid, rows) =>
      val ranks = rows.map(_._2).sorted.toVector
      assert(ranks === (1 to rows.size).toVector, s"cell $cid ranks: $ranks")
      val prs = rows.sortBy(_._2).map(_._4)
      assert(prs === prs.sortBy(-_), s"cell $cid not pr-descending: $prs")
    }
    // every score positive (the (1-d)/N floor guarantees it), and the
    // per-cell champions carry real mass: max pr >= the uniform start
    assert(out.forall(_._4 > 0L))
    val scale = 1000000000000L
    val n = graft.ops.Tables.table(spark, dir, "embeddings").count()
    assert(out.map(_._4).max >= scale / n,
      "the most central vector must hold at least the uniform share")
    // integer arithmetic end to end: a second run is bit-identical
    val again = graft.SparkEntry.queries("sim_pagerank_central")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getLong(3)))
    assert(again.toVector === out.toVector)
  }

  private def withThreshold[A](v: String)(body: => A): A = {
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", v)
    try body finally spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
  }

  private def rowsOf(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getLong(3))).toVector

  test("pagerank centrality: the driver fold and the distributed loop return bit-identical rows") {
    val q = graft.SparkEntry.queries("sim_pagerank_central")
    val folded = q(spark, dir)
    assert(folded.queryExecution.analyzed.collectFirst {
      case r: org.apache.spark.sql.catalyst.plans.logical.LocalRelation => r
    }.isDefined, "under the default threshold the query folds on the driver")
    val distributed = withThreshold("-1")(rowsOf(q(spark, dir)))
    assert(distributed.nonEmpty)
    assert(distributed === rowsOf(folded))
  }

  // A hand-built graph: cell 10 holds nodes 1-4, cell 20 node 5. Node 5
  // has no out-edge (dangling), and 3 -> 9 points at a vertex that is
  // not a node: the edge is dropped but counts in 3's out-degree.
  private val handNodes = Seq(1L -> 10L, 2L -> 10L, 3L -> 10L, 4L -> 10L, 5L -> 20L)
  private val handEdges = Seq(1L -> 2L, 1L -> 3L, 2L -> 1L, 3L -> 1L, 3L -> 9L, 4L -> 5L, 4L -> 1L)

  private def both(nodes: Seq[(Long, Long)], edges: Seq[(Long, Long)], rounds: Int) = {
    import spark.implicits._
    val a = nodes.toDF("vec_id", "cid")
    val e = edges.toDF("src_id", "dst_id")
    val folded = SimilarityQueries.pagerankOnDriver(a, e, rounds)
    assert(folded.isDefined, "a 5-node graph fits under the default threshold")
    (rowsOf(folded.get), rowsOf(SimilarityQueries.pagerankDistributed(a, e, rounds)))
  }

  test("pagerank centrality: a dangling node and an edge out of the graph, on both paths") {
    val (folded, distributed) = both(handNodes, handEdges, 1)
    assert(folded === distributed)
    // one round by hand, in 1e9 micro-units: every node starts at 200;
    // base = 15e12 DIV 500 = 30; dangling mass 200 DIV 5 = 40 to each node;
    // inflow 1: 200 (2) + 100 (3) + 100 (4), 2: 100, 3: 100, 4: 0, 5: 100
    // (4's other half); pr = base + 85 * (inflow + 40) DIV 100
    val g = 1000000000L
    assert(folded === Vector(
      (10L, 1, 1L, 404 * g), (10L, 2, 2L, 149 * g), (10L, 3, 3L, 149 * g), (20L, 1, 5L, 149 * g)))
  }

  test("pagerank centrality: total mass after 8 rounds stays within the flooring loss of 1e12") {
    // every node its own cell, so the top 3 is every score, and no edge
    // leaves the graph, so only flooring loses mass
    val nodes = handNodes.map { case (v, _) => v -> v }
    val edges = handEdges.filter(_._2 != 9L)
    val (folded, distributed) = both(nodes, edges, 8)
    assert(folded === distributed)
    val total = folded.map(_._4).sum
    val scale = 1000000000000L
    info(s"total mass $total")
    // flooring loses 16 micro-units over the 8 rounds here; allow N a round
    assert(total <= scale && total >= scale - nodes.size * 8, s"total mass $total")
  }

  test("pagerank centrality: the driver fold declines a graph past its byte cap") {
    import spark.implicits._
    val a = handNodes.toDF("vec_id", "cid")
    val e = handEdges.toDF("src_id", "dst_id")
    assert(withThreshold("-1")(SimilarityQueries.pagerankOnDriver(a, e, 1)).isEmpty,
      "threshold -1 turns the driver fold off")
    // 5 nodes and 7 edges are 12 rows of 40 bytes: 480 bytes
    assert(withThreshold("480b")(SimilarityQueries.pagerankOnDriver(a, e, 1)).isDefined)
    assert(withThreshold("400b")(SimilarityQueries.pagerankOnDriver(a, e, 1)).isEmpty,
      "the nodes fit under 400 bytes, the edges pass it")
    assert(withThreshold("160b")(SimilarityQueries.pagerankOnDriver(a, e, 1)).isEmpty,
      "the nodes alone pass 160 bytes")
  }

  test("assortativity: sufficient statistics match a direct model over the sidecar edges") {
    val row = graft.SparkEntry.queries("sim_graph_assort")(spark, dir).collect().head
    val edges = graft.llm.KnnGraphStore.loadOrBuild(spark, dir)
      .select(org.apache.spark.sql.functions.col("src_id"),
        org.apache.spark.sql.functions.col("dst_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val nodes = graft.llm.KnnGraphStore.loadAssign(spark, dir)
      .select(org.apache.spark.sql.functions.col("vec_id"))
      .collect().map(_.getLong(0))
    val ind = nodes.map(v => v -> edges.count(_._2 == v).toLong).toMap
    assert(row.getLong(0) === nodes.length.toLong, "n_nodes")
    assert(row.getLong(1) === edges.length.toLong, "n_edges")
    assert(row.getLong(2) === ind.values.max, "max_indeg")
    assert(row.getLong(3) === ind.values.count(_ == 0L).toLong, "n_orphans")
    val xs = edges.map(e => ind(e._1).toDouble)
    val ys = edges.map(e => ind(e._2).toDouble)
    val n = edges.length.toDouble
    val num = n * xs.zip(ys).map { case (a, b) => a * b }.sum - xs.sum * ys.sum
    val den = math.sqrt(n * xs.map(v => v * v).sum - xs.sum * xs.sum) *
      math.sqrt(n * ys.map(v => v * v).sum - ys.sum * ys.sum)
    assert(math.abs(row.getDouble(4) - num / den) < 1e-5, "assortativity")
    // bounded like any correlation
    assert(row.getDouble(4) >= -1.0 && row.getDouble(4) <= 1.0)
  }

  test("beam refinement is monotone: graph top-3 sims >= seed-only (ivf) top-3 sims") {
    val ivf = graft.SparkEntry.queries("sim_ivf_topk")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getInt(1)) -> r.getDouble(3)).toMap
    val gr = graft.SparkEntry.queries("sim_graph_topk")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getInt(1)) -> r.getDouble(3)).toMap
    ivf.foreach { case (k, simIvf) =>
      val simG = gr.getOrElse(k, Double.NegativeInfinity)
      assert(simG >= simIvf - 1e-9,
        s"refined rank-${k._2} for q=${k._1} must not be worse: $simG < $simIvf")
    }
  }
}
