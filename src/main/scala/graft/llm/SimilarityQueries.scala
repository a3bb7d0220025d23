package graft.llm

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, LongType, StructField, StructType}
import graft.ops.{NamedQuery, Tables}

/** Embedding similarity search over the `embeddings` table
  * (64-dim float vectors).
  *
  * Two paths, mirroring how ANN systems scale:
  *  - [[cosineTopK]] — brute-force cosine top-k for a bounded query set:
  *    broadcast the (small) query side, one pass over candidates, per-query
  *    top-k via window. Exact; O(|Q| * N) dot products; the right baseline
  *    and the correctness oracle for any ANN index.
  *  - [[lshTopK]] — random-hyperplane LSH: 16-bit signatures bucket the
  *    candidates; only same-bucket pairs get exact re-ranking. At 100 TB
  *    the bucket join replaces the full scan — sub-linear candidates at
  *    the cost of recall (rows-only check; planes are seed-deterministic).
  */
object SimilarityQueries {

  def queries: Vector[NamedQuery] = Vector(
    NamedQuery("sim_cosine_topk", cosineTopK, Some(cosineTopKSql)),
    NamedQuery("sim_lsh_topk", lshTopK, Some(lshTopKSql)),
    NamedQuery("sim_ivf_topk", ivfTopK, Some(ivfTopKSql)),
    NamedQuery("sim_ivf_topk_bcast", ivfTopKBcast, Some(ivfTopKSql)),
    NamedQuery("sim_hard_negatives", hardNegatives, Some(hardNegativesSql)),
    NamedQuery("sim_ivf_multiprobe", ivfMultiprobe, Some(ivfMultiprobeSql)),
    NamedQuery("sim_quantize_error", quantizeError, Some(quantizeErrorSql)),
    NamedQuery("sim_kmeans_update", kmeansUpdate, Some(kmeansUpdateSql)),
    NamedQuery("sim_pq_topk", pqTopK, Some(pqTopKSql)),
    NamedQuery("sim_recall_eval", recallEval, Some(recallEvalSql)),
    NamedQuery("sim_sq_topk", sqTopK, Some(sqTopKSql)),
    NamedQuery("sim_mips_topk", mipsTopK, Some(mipsTopKSql)),
    NamedQuery("eval_ndcg_lsh", ndcgEval, Some(ndcgEvalSql)),
    NamedQuery("sample_kcenter_step", kcenterStep, Some(kcenterStepSql)),
    NamedQuery("sim_pca_power_step", pcaPowerStep, Some(pcaPowerStepSql)),
    NamedQuery("sim_centroid_drift", centroidDrift, Some(centroidDriftSql)),
    NamedQuery("eval_auc_centroid", aucCentroid, Some(aucCentroidSql)),
    NamedQuery("eval_auc_binned", aucBinned, Some(aucBinnedSql)),
    NamedQuery("sim_recall_matryoshka", recallMatryoshka, Some(recallMatryoshkaSql)),
    NamedQuery("sim_graph_topk", graphTopk, Some(graphTopkSql)),
    NamedQuery("sim_graph_topk2", graphTopk2, Some(graphTopk2Sql)),
    NamedQuery("sim_graph_reach", graphReach, Some(graphReachSql)),
    NamedQuery("sim_recall_graph", recallGraph, Some(recallGraphSql)),
    NamedQuery("sim_recall_hard", recallHard, Some(recallHardSql)),
    NamedQuery("sim_recall_hard2", recallHard2, Some(recallHard2Sql)),
    NamedQuery("pipeline_cluster_mix", clusterMix, Some(clusterMixSql)),
    NamedQuery("sim_dim_stats", dimStats, Some(dimStatsSql)),
    NamedQuery("sim_anisotropy", anisotropy, Some(anisotropySql)),
    NamedQuery("sim_center_anisotropy", centerAnisotropy, Some(centerAnisotropySql)),
    NamedQuery("pipeline_decontaminate_semantic", decontaminateSemantic,
      Some(decontaminateSemanticSql)),
    NamedQuery("sim_pagerank_central", pagerankCentral, Some(pagerankCentralSql)),
    NamedQuery("sim_graph_assort", graphAssort, Some(graphAssortSql)),
    NamedQuery("sim_mmr_rerank", mmrRerank, Some(mmrRerankSql)),
    NamedQuery("sim_ivf_balance", ivfBalance, Some(ivfBalanceSql)),
    NamedQuery("sim_knn_classify", knnClassify, Some(knnClassifySql)),
  )

  private val dot =
    "aggregate(zip_with(%s, %s, (x, y) -> x * y), 0D, (acc, x) -> acc + x)"
  import graft.expressions.VectorFunctions.{dot => ndot} // native codegen'd form

  // ---------------------------------------------------------------
  private def cosineTopK(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.table(spark, dir, "embeddings")
      .select(col("vec_id"), expr("transform(embedding, x -> cast(x AS double))").as("v"))
      .withColumn("nrm", sqrt(ndot(col("v"), col("v"))))
    val q = e.select(col("vec_id").as("q_id"), col("v").as("qv"), col("nrm").as("qn"))
      .filter(col("q_id") < 8)
    val cand = e.select(col("vec_id").as("n_id"), col("v").as("nv"), col("nrm").as("nn"))
    val sims = cand.join(broadcast(q), col("q_id") =!= col("n_id"))
      .withColumn("sim",
        graft.ops.Registry.rnd(ndot(col("qv"), col("nv")) / (col("qn") * col("nn")), 4))
    val w = Window.partitionBy(col("q_id")).orderBy(col("sim").desc, col("n_id"))
    sims.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 5)
      .select(col("q_id"), col("rank"), col("n_id"), col("sim"))
      .orderBy(col("q_id"), col("rank"))
  }

  private val cosineTopKSql =
    """WITH e AS (
      |  SELECT vec_id, embedding::DOUBLE[] AS v,
      |    sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS nrm
      |  FROM embeddings
      |), sims AS (
      |  SELECT a.vec_id AS q_id, b.vec_id AS n_id,
      |    CAST(round(CAST(list_dot_product(a.v, b.v) / (a.nrm * b.nrm) AS DECIMAL(18,8)), 4) AS DOUBLE) AS sim
      |  FROM e a JOIN e b ON a.vec_id < 8 AND b.vec_id <> a.vec_id
      |), ranked AS (
      |  SELECT q_id, n_id, sim,
      |    row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, n_id) AS rank
      |  FROM sims
      |)
      |SELECT q_id, rank, n_id, sim FROM ranked WHERE rank <= 5
      |ORDER BY q_id, rank""".stripMargin

  // ---------------------------------------------------------------
  // Seed-deterministic random hyperplanes (so reruns agree).
  private def planes(nPlanes: Int, dim: Int): Seq[Seq[Double]] = {
    val rnd = new scala.util.Random(7)
    Seq.fill(nPlanes)(Seq.fill(dim)(rnd.nextGaussian()))
  }

  private def lshTopK(spark: SparkSession, dir: String): DataFrame =
    lshRanked(spark, dir).orderBy(col("q_id"), col("rank"))

  /** The LSH top-3 shortlist (q_id, rank, n_id, sim) without the final
    * presentation sort — shared by [[lshTopK]] and [[ndcgEval]]. */
  private def lshRanked(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.table(spark, dir, "embeddings")
      .select(col("vec_id"), expr("transform(embedding, x -> cast(x AS double))").as("v"))
      .withColumn("nrm", sqrt(ndot(col("v"), col("v"))))
    // 16-bit signature: bit i = (v . plane_i) > 0, as the native
    // codegen'd SignBits expression over the literal plane set — the
    // interpreted aggregate/transform/zip_with formulation of the same
    // fold ran three nested lambda closures per row (r4 bench: ~0.3 s
    // of pure boxing on this query alone)
    val sig = e.withColumn("sig",
        graft.expressions.SignFunctions.signBits(col("v"), typedLit(planes(16, 64))))
      .select(col("vec_id"), col("v"), col("nrm"), col("sig"))
    // band split: two 8-bit bands, exploded to one row per (band,
    // bucket) so candidate generation is a plain EQUI-join on the
    // bucket key (classic LSH OR-amplification). An OR of the two band
    // predicates would force BroadcastNestedLoopJoin — every candidate
    // tested against every query, the full scan LSH exists to avoid.
    val banded = sig.select(col("vec_id"), col("v"), col("nrm"), explode(array(
        struct(lit(0).as("band"), expr("sig % 256").as("bucket")),
        struct(lit(1).as("band"), expr("sig div 256").as("bucket")))).as("bb"))
      .select(col("vec_id"), col("v"), col("nrm"),
        col("bb.band").as("band"), col("bb.bucket").as("bucket"))
    val q = banded.filter(col("vec_id") < 8)
      .select(col("vec_id").as("q_id"), col("v").as("qv"), col("nrm").as("qn"),
        col("band"), col("bucket"))
    val cand = banded.select(col("vec_id").as("n_id"), col("v").as("nv"), col("nrm").as("nn"),
      col("band"), col("bucket"))
    // hash equi-join on (band, bucket); a pair sharing both bands
    // matches twice, so dedup the (small) candidate set before ranking
    val pairs = cand.join(broadcast(q), Seq("band", "bucket"))
      .filter(col("q_id") =!= col("n_id"))
      .dropDuplicates("q_id", "n_id")
      .withColumn("sim",
        graft.ops.Registry.rnd(ndot(col("qv"), col("nv")) / (col("qn") * col("nn")), 4))
    val w = Window.partitionBy(col("q_id")).orderBy(col("sim").desc, col("n_id"))
    pairs.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 3)
      .select(col("q_id"), col("rank"), col("n_id"), col("sim"))
  }

  /** DuckDB twin of [[lshTopK]]: the seed-deterministic hyperplanes are
    * inlined as array literals (shortest-roundtrip double reprs parse to
    * identical bits), so the oracle reproduces signatures, buckets and
    * ranking exactly. */
  private lazy val lshTopKSql: String =
    s"""WITH $lshCtes
       |SELECT q_id, rank, n_id, sim FROM ranked WHERE rank <= 3
       |ORDER BY q_id, rank""".stripMargin

  /** The e→sig→banded→pairs→sims→ranked CTE chain shared by the LSH
    * top-k oracle and the NDCG oracle (no leading WITH). */
  private lazy val lshCtes: String = {
    val planeLits = planes(16, 64)
      .map(p => p.mkString("[", ", ", "]"))
    val sigExpr = planeLits.zipWithIndex
      .map { case (p, i) =>
        s"(CASE WHEN list_dot_product(v, $p) > 0 THEN ${1L << i} ELSE 0 END)"
      }
      .mkString(" + ")
    s"""e AS (
       |  SELECT vec_id, embedding::DOUBLE[] AS v,
       |    sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS nrm
       |  FROM embeddings
       |), sig AS (
       |  SELECT vec_id, v, nrm, CAST($sigExpr AS BIGINT) AS sig FROM e
       |), banded AS (
       |  SELECT vec_id, v, nrm, 0 AS band, sig % 256 AS bucket FROM sig
       |  UNION ALL
       |  SELECT vec_id, v, nrm, 1 AS band, sig // 256 AS bucket FROM sig
       |), pairs AS (
       |  SELECT DISTINCT q.vec_id AS q_id, c.vec_id AS n_id
       |  FROM banded q JOIN banded c ON q.band = c.band AND q.bucket = c.bucket
       |  WHERE q.vec_id < 8 AND q.vec_id <> c.vec_id
       |), sims AS (
       |  SELECT p.q_id, p.n_id,
       |    CAST(round(CAST(list_dot_product(a.v, b.v) / (a.nrm * b.nrm) AS DECIMAL(18,8)), 4) AS DOUBLE) AS sim
       |  FROM pairs p
       |  JOIN e a ON a.vec_id = p.q_id
       |  JOIN e b ON b.vec_id = p.n_id
       |), ranked AS (
       |  SELECT q_id, n_id, sim,
       |    row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, n_id) AS rank
       |  FROM sims
       |)""".stripMargin
  }

  // ---------------------------------------------------------------
  // Scalar quantization (int8) + exact re-rank — the OTHER standard
  // compression next to PQ: each component maps to an 8-bit code
  // against a global [mn, mx] range (the entire "codebook" is two
  // scalars), candidates are scored ASYMMETRICALLY (exact query ·
  // dequantized candidate, the ADC pattern), the top-C shortlist is
  // re-ranked with exact dot products. At 100 TB the stored form is
  // the int8 code array — a 4× scan-byte shrink over float32 with one
  // broadcast-scalar pair instead of PQ's trained codebook; the
  // re-rank touches only C rows per query. Here the code array is
  // materialized explicitly (what a deployment would persist) and the
  // dequantized vector derives from IT, not from the floats.
  //
  // Determinism: codes use floor + clamp (never round — half-even vs
  // half-up diverges between engines); every double op (the division,
  // the midpoint reconstruction) is the same IEEE expression in both
  // engines, so codes and dequantized values are bit-identical; both
  // similarity scores snap to 4 dp before any ranking, ties break on
  // n_id.
  private def sqTopK(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.table(spark, dir, "embeddings")
      .select(col("vec_id"), expr("transform(embedding, x -> cast(x AS double))").as("v"))
      .withColumn("nrm", sqrt(ndot(col("v"), col("v"))))
    val bounds = e.select(explode(col("v")).as("x"))
      .agg(min(col("x")).as("mn"), max(col("x")).as("mx"))
    val cand = e.crossJoin(broadcast(bounds))
      .withColumn("stp", (col("mx") - col("mn")) / 255.0)
      .withColumn("code", expr(
        "transform(v, x -> cast(least(greatest(floor((x - mn) / stp), 0), 255) AS int))"))
      .withColumn("dv", expr("transform(code, c -> mn + (c + 0.5) * stp)"))
      .select(col("vec_id").as("n_id"), col("v").as("nv"), col("nrm").as("nn"), col("dv"))
    val q = e.filter(col("vec_id") < 8)
      .select(col("vec_id").as("q_id"), col("v").as("qv"), col("nrm").as("qn"))
    val approx = cand.join(broadcast(q), col("q_id") =!= col("n_id"))
      .withColumn("sim_q",
        graft.ops.Registry.rnd(ndot(col("qv"), col("dv")) / (col("qn") * col("nn")), 4))
    val wC = Window.partitionBy(col("q_id")).orderBy(col("sim_q").desc, col("n_id"))
    val short = approx.withColumn("crk", row_number().over(wC)).filter(col("crk") <= 20)
    val wE = Window.partitionBy(col("q_id")).orderBy(col("sim").desc, col("n_id"))
    short
      .withColumn("sim",
        graft.ops.Registry.rnd(ndot(col("qv"), col("nv")) / (col("qn") * col("nn")), 4))
      .withColumn("rank", row_number().over(wE)).filter(col("rank") <= 5)
      .select(col("q_id"), col("rank"), col("n_id"), col("sim"), col("sim_q"))
      .orderBy(col("q_id"), col("rank"))
  }

  private val sqTopKSql =
    """WITH e AS (
      |  SELECT vec_id, embedding::DOUBLE[] AS v,
      |    sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS nrm
      |  FROM embeddings
      |), b AS (
      |  SELECT min(x) AS mn, max(x) AS mx FROM (SELECT unnest(v) AS x FROM e)
      |), cand AS (
      |  SELECT vec_id AS n_id, v AS nv, nrm AS nn,
      |    list_transform(
      |      list_transform(v, x -> CAST(least(greatest(floor((x - b.mn) / ((b.mx - b.mn) / 255.0)), 0), 255) AS INT)),
      |      c -> b.mn + (c + 0.5) * ((b.mx - b.mn) / 255.0)) AS dv
      |  FROM e, b
      |), qs AS (
      |  SELECT vec_id AS q_id, v AS qv, nrm AS qn FROM e WHERE vec_id < 8
      |), approx AS (
      |  SELECT q.q_id, c.n_id, c.nv, c.nn, q.qv, q.qn,
      |    CAST(round(CAST(list_dot_product(q.qv, c.dv) / (q.qn * c.nn) AS DECIMAL(18,8)), 4) AS DOUBLE) AS sim_q
      |  FROM qs q JOIN cand c ON c.n_id <> q.q_id
      |), short AS (
      |  SELECT * FROM (
      |    SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY sim_q DESC, n_id) AS crk
      |    FROM approx
      |  ) WHERE crk <= 20
      |), exact AS (
      |  SELECT q_id, n_id, sim_q,
      |    CAST(round(CAST(list_dot_product(qv, nv) / (qn * nn) AS DECIMAL(18,8)), 4) AS DOUBLE) AS sim
      |  FROM short
      |)
      |SELECT q_id, rank, n_id, sim, sim_q FROM (
      |  SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, n_id) AS rank
      |  FROM exact
      |) WHERE rank <= 5
      |ORDER BY q_id, rank""".stripMargin

  // ---------------------------------------------------------------
  // Maximum-inner-product search (MIPS) — the retrieval objective of
  // recommendation and dense-retrieval scoring, where the UNNORMALIZED
  // dot product ranks candidates (a long vector with the right
  // direction should beat a short one; cosine top-k deliberately
  // erases that). Angular LSH cannot bucket for it directly, so this
  // uses the public Euclidean/angular reduction (Bachrach et al.,
  // RecSys'14; Neyshabur & Srebro, ICML'15): append one component —
  // candidates get sqrt(M² − ‖x‖²) (M = max candidate norm, a single
  // broadcast scalar), queries get 0 — after which all candidates
  // share norm M and the query's angular neighbor in the augmented
  // space IS its MIPS neighbor. Then the machinery is the proven LSH
  // pipeline: 16 sign-bits over the 65-dim augmented vectors (native
  // SignBits codegen), two 8-bit bands exploded to an EQUI-join key,
  // exact inner-product re-rank of same-bucket pairs.
  //
  // Scale shape: same as sim_lsh_topk — the bucket equi-join replaces
  // the full scan; the only additions are one max-norm aggregate (two
  // broadcast scalars) and one extra vector component.
  private def mipsPlanes: Seq[Seq[Double]] = {
    val rnd = new scala.util.Random(11)
    Seq.fill(16)(Seq.fill(65)(rnd.nextGaussian()))
  }

  private def mipsTopK(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.table(spark, dir, "embeddings")
      .select(col("vec_id"), expr("transform(embedding, x -> cast(x AS double))").as("v"))
      .withColumn("nrm2", ndot(col("v"), col("v")))
    val m2 = e.agg(max(col("nrm2")).as("m2"))
    val aug = e.crossJoin(broadcast(m2))
    val planesLit = typedLit(mipsPlanes)
    // band split as exact bit ops (low byte / high byte) — matches the
    // oracle's % 256 and // 256 on the non-negative 16-bit signature
    val bands = (sig: org.apache.spark.sql.Column) => array(
      struct(lit(0).as("band"), sig.bitwiseAND(lit(255L)).as("bucket")),
      struct(lit(1).as("band"), shiftright(sig, 8).as("bucket")))
    val sigC = graft.expressions.SignFunctions.signBits(
      expr("concat(v, array(sqrt(greatest(m2 - nrm2, 0D))))"), planesLit)
    val sigQ = graft.expressions.SignFunctions.signBits(
      expr("concat(v, array(0D))"), planesLit)
    val c = aug
      .select(col("vec_id").as("n_id"), col("v").as("nv"), explode(bands(sigC)).as("bb"))
      .select(col("n_id"), col("nv"), col("bb.band").as("band"), col("bb.bucket").as("bucket"))
    val q = aug.filter(col("vec_id") < 8)
      .select(col("vec_id").as("q_id"), col("v").as("qv"), explode(bands(sigQ)).as("bb"))
      .select(col("q_id"), col("qv"), col("bb.band").as("band"), col("bb.bucket").as("bucket"))
    val pairs = c.join(broadcast(q), Seq("band", "bucket"))
      .filter(col("q_id") =!= col("n_id"))
      .dropDuplicates("q_id", "n_id")
      .withColumn("ip", graft.ops.Registry.rnd(ndot(col("qv"), col("nv")), 4))
    val w = Window.partitionBy(col("q_id")).orderBy(col("ip").desc, col("n_id"))
    pairs.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 3)
      .select(col("q_id"), col("rank"), col("n_id"), col("ip"))
      .orderBy(col("q_id"), col("rank"))
  }

  /** DuckDB twin of [[mipsTopK]]: augmented vectors via list_append,
    * the seed-deterministic 65-dim planes inlined as literals (the
    * lshTopKSql pattern). */
  private lazy val mipsTopKSql: String = {
    val planeLits = mipsPlanes.map(p => p.mkString("[", ", ", "]"))
    def sigExpr(augCol: String) = planeLits.zipWithIndex
      .map { case (p, i) =>
        s"(CASE WHEN list_dot_product($augCol, $p) > 0 THEN ${1L << i} ELSE 0 END)"
      }
      .mkString(" + ")
    s"""WITH e AS (
       |  SELECT vec_id, embedding::DOUBLE[] AS v,
       |    list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]) AS nrm2
       |  FROM embeddings
       |), m AS (
       |  SELECT max(nrm2) AS m2 FROM e
       |), aug AS (
       |  SELECT vec_id, v,
       |    list_append(v, sqrt(greatest(m.m2 - nrm2, 0))) AS augc,
       |    list_append(v, 0.0) AS augq
       |  FROM e, m
       |), sigc AS (
       |  SELECT vec_id, v, CAST(${"$"}{0} AS BIGINT) AS sig FROM aug
       |), sigq AS (
       |  SELECT vec_id, v, CAST(${"$"}{1} AS BIGINT) AS sig FROM aug WHERE vec_id < 8
       |), bc AS (
       |  SELECT vec_id, 0 AS band, sig % 256 AS bucket FROM sigc
       |  UNION ALL
       |  SELECT vec_id, 1 AS band, sig // 256 AS bucket FROM sigc
       |), bq AS (
       |  SELECT vec_id, 0 AS band, sig % 256 AS bucket FROM sigq
       |  UNION ALL
       |  SELECT vec_id, 1 AS band, sig // 256 AS bucket FROM sigq
       |), pairs AS (
       |  SELECT DISTINCT q.vec_id AS q_id, c.vec_id AS n_id
       |  FROM bq q JOIN bc c ON q.band = c.band AND q.bucket = c.bucket AND q.vec_id <> c.vec_id
       |), sims AS (
       |  SELECT p.q_id, p.n_id,
       |    CAST(round(CAST(list_dot_product(a.v, b.v) AS DECIMAL(18,8)), 4) AS DOUBLE) AS ip
       |  FROM pairs p
       |  JOIN e a ON a.vec_id = p.q_id
       |  JOIN e b ON b.vec_id = p.n_id
       |)
       |SELECT q_id, rank, n_id, ip FROM (
       |  SELECT q_id, n_id, ip,
       |    row_number() OVER (PARTITION BY q_id ORDER BY ip DESC, n_id) AS rank
       |  FROM sims
       |) WHERE rank <= 3
       |ORDER BY q_id, rank""".stripMargin
      .replace("${0}", sigExpr("augc"))
      .replace("${1}", sigExpr("augq"))
  }

  // ---------------------------------------------------------------
  // NDCG@3 of the LSH index against the exact-cosine ground truth —
  // the RANKING-quality companion to sim_recall_eval's set-overlap
  // metric: recall treats all three truth neighbors alike, NDCG pays
  // more for putting the BEST neighbor first. Graded relevance
  // rel = 4 − exact_rank (3/2/1); position discounts are the standard
  // 1/log2(pos+1) FIXED to 3-decimal integer weights (1000, 631, 500
  // per-mille — exact integer arithmetic end to end, so no engine can
  // disagree about a logarithm ulp), and IDCG = 3·1000 + 2·631 + 500 =
  // 4762 is a constant. One left join of the (8×3)-row LSH shortlist
  // against the (8×3)-row truth set — both sides are bounded by the
  // query panel, so the whole evaluation is a driver-sized epilogue no
  // matter the corpus size (the expensive parts, index + truth, are
  // the queries being graded).
  private def ndcgEval(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.table(spark, dir, "embeddings")
      .select(col("vec_id"), expr("transform(embedding, x -> cast(x AS double))").as("v"))
      .withColumn("nrm", sqrt(ndot(col("v"), col("v"))))
    val q = e.select(col("vec_id").as("q_id"), col("v").as("qv"), col("nrm").as("qn"))
      .filter(col("q_id") < 8)
    val wE = Window.partitionBy(col("q_id")).orderBy(col("sim").desc, col("n_id"))
    val exact = e.select(col("vec_id").as("n_id"), col("v").as("nv"), col("nrm").as("nn"))
      .join(broadcast(q), col("q_id") =!= col("n_id"))
      .withColumn("sim",
        graft.ops.Registry.rnd(ndot(col("qv"), col("nv")) / (col("qn") * col("nn")), 4))
      .withColumn("rank", row_number().over(wE)).filter(col("rank") <= 3)
      .select(col("q_id"), col("n_id"), (lit(4) - col("rank")).cast("long").as("rel"))
    val disc = when(col("rank") === 1, 1000L).when(col("rank") === 2, 631L)
      .otherwise(500L)
    val gains = lshRanked(spark, dir)
      .join(broadcast(exact), Seq("q_id", "n_id"), "left")
      .withColumn("gain", coalesce(col("rel"), lit(0L)) * disc)
      .groupBy(col("q_id"))
      .agg(count(col("rel")).as("n_hit"), sum(col("gain")).as("dcg_m"))
    exact.select(col("q_id")).distinct()
      .join(gains, Seq("q_id"), "left")
      .select(col("q_id"),
        coalesce(col("n_hit"), lit(0L)).as("n_hit"),
        coalesce(col("dcg_m"), lit(0L)).as("dcg_m"))
      .withColumn("ndcg", graft.ops.Registry.rnd(col("dcg_m") / lit(4762.0), 4))
      .orderBy(col("q_id"))
  }

  private lazy val ndcgEvalSql =
    s"""WITH $lshCtes, lsh AS (
       |  SELECT q_id, rank, n_id FROM ranked WHERE rank <= 3
       |), exact AS (
       |  SELECT q_id, n_id, 4 - rank AS rel FROM (
       |    SELECT a.vec_id AS q_id, b.vec_id AS n_id,
       |      row_number() OVER (PARTITION BY a.vec_id ORDER BY
       |        CAST(round(CAST(list_dot_product(a.v, b.v) / (a.nrm * b.nrm) AS DECIMAL(18,8)), 4) AS DOUBLE) DESC,
       |        b.vec_id) AS rank
       |    FROM e a JOIN e b ON a.vec_id < 8 AND b.vec_id <> a.vec_id
       |  ) WHERE rank <= 3
       |), g AS (
       |  SELECT l.q_id, count(ex.rel) AS n_hit,
       |    CAST(sum(COALESCE(ex.rel, 0) *
       |      CASE l.rank WHEN 1 THEN 1000 WHEN 2 THEN 631 ELSE 500 END) AS BIGINT) AS dcg_m
       |  FROM lsh l LEFT JOIN exact ex ON ex.q_id = l.q_id AND ex.n_id = l.n_id
       |  GROUP BY l.q_id
       |), qpanel AS (
       |  SELECT DISTINCT q_id FROM exact
       |)
       |SELECT p.q_id,
       |  COALESCE(g.n_hit, 0) AS n_hit,
       |  COALESCE(g.dcg_m, 0) AS dcg_m,
       |  CAST(round(CAST(COALESCE(g.dcg_m, 0) / 4762.0 AS DECIMAL(18,8)), 4) AS DOUBLE) AS ndcg
       |FROM qpanel p LEFT JOIN g USING (q_id)
       |ORDER BY p.q_id""".stripMargin

  // ---------------------------------------------------------------
  // Trained-codebook cache: one spherical k-means train per data dir
  // per JVM — the offline index build a real deployment runs once and
  // amortizes across every query (and every bench pass). The oracle-SQL
  // builders below read the SAME cache: Verify evaluates `oracleSql`
  // AFTER running the queries, so the DuckDB twin inlines the exact
  // centroid literals the Spark plan used (the LSH-planes pattern,
  // except the literals are data-derived instead of seed-derived).
  private val trained =
    new java.util.concurrent.ConcurrentHashMap[String, Vector[(Long, Vector[Double], Double)]]()
  @volatile private var lastTrainedDir: Option[String] = None

  /** Test hook: drop the in-JVM cache so a "restarted session" can be
    * simulated — the reload must come from [[CodebookStore]]'s file. */
  private[llm] def resetCodebookCacheForTest(): Unit = {
    trained.clear(); lastTrainedDir = None
  }

  private def trainedCodebook(
      spark: SparkSession, dir: String): Vector[(Long, Vector[Double], Double)] = {
    // memory cache → persisted index file → train-once (√N-sized k);
    // see CodebookStore for the restart/scale rationale
    val cb = trained.computeIfAbsent(dir, d => CodebookStore.loadOrTrain(spark, d))
    lastTrainedDir = Some(dir)
    cb
  }

  /** Cells above which the codebook rides a broadcast relation instead
    * of a plan literal. A |C| ≈ √N codebook at 1e9 vectors is ~31k
    * cells (~16 MB of doubles): as a `typedLit` that constant is
    * serialized into EVERY task's plan copy and blows up codegen;
    * as a broadcast it ships once per executor. Below the threshold the
    * literal wins (no join operator at all). Tunable for tests and
    * deployments via -Dgraft.ivf.bcastThreshold. */
  private[graft] def broadcastThreshold: Int =
    sys.props.get("graft.ivf.bcastThreshold").map(_.toInt).getOrElse(256)

  /** Attach the trained codebook to a corpus frame for the per-row
    * NearestCell(s) assignment projection, auto-selecting the delivery
    * mode by |C| (see [[broadcastThreshold]]). Returns the (possibly
    * joined) frame and the Column holding the codebook array.
    *
    * Broadcast mode collapses the codebook to ONE row holding the
    * `array<struct<cid, cv, cn>>` and equi-joins it on a constant key:
    * a BroadcastHashJoin whose build side is a single row — the corpus
    * side keeps its partitioning, no shuffle — and the assignment
    * stays the same zero-exchange NearestCell projection either way.
    * This removes the old |C| <= 64 literal-projection wall: kFor's cap
    * can be raised to √N at any corpus size without touching the
    * dataflow ([[CodebookStore.kFor]]). */
  private[graft] def attachCodebook(
      spark: SparkSession, e: DataFrame,
      cb: Vector[(Long, Vector[Double], Double)],
      forceBroadcast: Boolean = false): (DataFrame, org.apache.spark.sql.Column) =
    if (!forceBroadcast && cb.size <= broadcastThreshold) (e, typedLit(cb))
    else {
      import spark.implicits._
      // the codebook array built driver-side as ONE local row — no
      // collect_list aggregation (which would plan a build-side
      // Exchange SinglePartition for nothing)
      val cbRow = Seq(Tuple1(cb)).toDF("__cb").withColumn("__cbk", lit(1))
      val joined = e.withColumn("__cbk", lit(1))
        .join(broadcast(cbRow), Seq("__cbk")).drop("__cbk")
      (joined, col("__cb"))
    }

  /** The trained codebook as a DuckDB VALUES relation `(cid, cv, cn)`.
    * Centroid components are 4-dp decimals (exact in both engines); the
    * norm roundtrips through the shortest double repr like the LSH
    * plane literals. Falls back to the deterministic first-64-seed
    * codebook WITHOUT training if no training ran in this JVM — that
    * only happens when the IVF queries themselves never ran, i.e. there
    * is no Spark dump to compare the SQL against anyway. */
  private def codebookSql: String = {
    val cb = lastTrainedDir.flatMap(d => Option(trained.get(d)))
    cb match {
      case Some(c) =>
        val rows = c.map { case (cid, cv, cn) =>
          s"(CAST($cid AS BIGINT), CAST(${cv.mkString("[", ", ", "]")} AS DOUBLE[]), CAST($cn AS DOUBLE))"
        }.mkString(",\n    ")
        s"SELECT * FROM (VALUES\n    $rows\n  ) t(cid, cv, cn)"
      case None =>
        """SELECT vec_id AS cid, v AS cv, nrm AS cn FROM e
          |  WHERE vec_id IN (SELECT vec_id FROM e ORDER BY vec_id LIMIT 64)""".stripMargin
    }
  }

  // ---------------------------------------------------------------
  // IVF-style ANN over a TRAINED codebook: `KMeans.train` (spherical
  // k-means, deterministic first-k seeds, k capped at 64 — |C| must be
  // FIXED, not grow with the corpus, or the N x |C| assignment turns
  // super-linear: uncapped, the 10x sweep measured 20x) runs ONCE per
  // JVM per data dir — the offline index build a real deployment
  // amortizes across every query — and its centroids enter the plan as
  // a LITERAL codebook (the LSH-planes pattern, except data-derived).
  // Each vector is assigned to its nearest centroid by (rounded)
  // cosine, then queries probe ONLY their own cell (nProbe=1) and
  // exact-rank within it. This is the inverted-file scale path: at
  // 100 TB the assignment is one literal-codebook projection (no join
  // at all) and search touches 1/|C| of the corpus per probe; recall
  // is tuned by nProbe without changing the dataflow shape.
  // Assignment/ranking compare 4-dp-rounded sims with centroid-id /
  // neighbor-id tiebreaks, so both engines pick identical cells.
  /** The corpus → cell assignment frame `(vec_id, cid, v, nrm)` —
    * shared by the IVF queries and pinned directly in PlanSpec.
    * Assignment is a pure PROJECTION: each vector takes its own argmax
    * against the trained codebook via the native NearestCell
    * expression — no window, no corpus exchange, no interpreted
    * lambda. A row_number over Window.partitionBy(vec_id) here would
    * shuffle+sort the whole corpus just to pick a per-row max against
    * constant data. The codebook arrives as a literal or a broadcast
    * relation by |C| ([[attachCodebook]]); either way the corpus side
    * keeps its partitioning. */
  private[graft] def ivfAssignment(spark: SparkSession, dir: String,
      forceBroadcast: Boolean = false): DataFrame = {
    val e = Tables.table(spark, dir, "embeddings")
      .select(col("vec_id"), expr("transform(embedding, x -> cast(x AS double))").as("v"))
      .withColumn("nrm", sqrt(ndot(col("v"), col("v"))))
    val (ec, cbCol) = attachCodebook(spark, e, trainedCodebook(spark, dir), forceBroadcast)
    ec.withColumn("cid",
        graft.expressions.CellFunctions.nearestCell(col("v"), col("nrm"), cbCol))
      .select(col("vec_id"), col("cid"), col("v"), col("nrm"))
  }

  private def ivfTopK(spark: SparkSession, dir: String): DataFrame =
    ivfTopKFrom(ivfAssignment(spark, dir))

  /** The broadcast-codebook twin as its own oracle-gated query: same
    * semantics (and the same DuckDB SQL) as `sim_ivf_topk`, but the
    * codebook is FORCED onto the broadcast-relation path — so the
    * 100 TB delivery mode is hash-checked by the correctness gate
    * every round, not only pinned by CodebookPlanSpec. */
  private def ivfTopKBcast(spark: SparkSession, dir: String): DataFrame =
    ivfTopKFrom(ivfAssignment(spark, dir, forceBroadcast = true))

  private def ivfTopKFrom(assign: DataFrame): DataFrame = {
    val q = assign.filter(col("vec_id") < 8)
      .select(col("vec_id").as("q_id"), col("cid").as("qcid"), col("v").as("qv"), col("nrm").as("qn"))
    val pairs = assign.select(col("vec_id").as("n_id"), col("cid"), col("v").as("nv"), col("nrm").as("nn"))
      .join(broadcast(q), col("qcid") === col("cid") && col("q_id") =!= col("n_id"))
      .withColumn("sim", graft.ops.Registry.rnd(ndot(col("qv"), col("nv")) / (col("qn") * col("nn")), 4))
    val w = Window.partitionBy(col("q_id")).orderBy(col("sim").desc, col("n_id"))
    pairs.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 3)
      .select(col("q_id"), col("rank"), col("n_id"), col("sim"))
      .orderBy(col("q_id"), col("rank"))
  }

  // Multi-probe IVF — the standard recall knob (nProbe=2): queries
  // search their TWO nearest cells instead of one, catching neighbors
  // that fell just across a Voronoi boundary. The probe list comes from
  // the native NearestCells expression — still a projection against the
  // literal trained codebook (no window, no exchange); per-query cost
  // scales linearly in nProbe while the corpus-side assignment is
  // unchanged. Recall-vs-nProbe on sf0.1 is recorded in BASELINE.md.
  private def ivfMultiprobe(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.table(spark, dir, "embeddings")
      .select(col("vec_id"), expr("transform(embedding, x -> cast(x AS double))").as("v"))
      .withColumn("nrm", sqrt(ndot(col("v"), col("v"))))
    val (ec, cbCol) = attachCodebook(spark, e, trainedCodebook(spark, dir))
    val assign = ec
      .withColumn("cid",
        graft.expressions.CellFunctions.nearestCell(col("v"), col("nrm"), cbCol))
      .select(col("vec_id"), col("cid"), col("v"), col("nrm"))
    val q = ec.filter(col("vec_id") < 8)
      .withColumn("probe", explode(
        graft.expressions.CellFunctions.nearestCells(col("v"), col("nrm"), cbCol, 2)))
      .select(col("vec_id").as("q_id"), col("probe"), col("v").as("qv"), col("nrm").as("qn"))
    val pairs = assign.select(col("vec_id").as("n_id"), col("cid"), col("v").as("nv"), col("nrm").as("nn"))
      .join(broadcast(q), col("probe") === col("cid") && col("q_id") =!= col("n_id"))
      .withColumn("sim", graft.ops.Registry.rnd(ndot(col("qv"), col("nv")) / (col("qn") * col("nn")), 4))
    val w = Window.partitionBy(col("q_id")).orderBy(col("sim").desc, col("n_id"))
    pairs.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 3)
      .select(col("q_id"), col("rank"), col("n_id"), col("sim"))
      .orderBy(col("q_id"), col("rank"))
  }

  private def ivfMultiprobeSql =
    s"""WITH e AS (
      |  SELECT vec_id, embedding::DOUBLE[] AS v,
      |    sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS nrm
      |  FROM embeddings
      |), c AS (
      |  $codebookSql
      |), assign AS (
      |  SELECT vec_id, cid, v, nrm FROM (
      |    SELECT e.vec_id, c.cid, e.v, e.nrm,
      |      row_number() OVER (PARTITION BY e.vec_id ORDER BY
      |        CAST(round(CAST(list_dot_product(e.v, c.cv) / (e.nrm * c.cn) AS DECIMAL(18,8)), 4) AS DOUBLE) DESC,
      |        c.cid) AS rn
      |    FROM e CROSS JOIN c
      |  ) WHERE rn = 1
      |), probes AS (
      |  SELECT vec_id AS q_id, cid AS probe, v AS qv, nrm AS qn FROM (
      |    SELECT e.vec_id, c.cid, e.v, e.nrm,
      |      row_number() OVER (PARTITION BY e.vec_id ORDER BY
      |        CAST(round(CAST(list_dot_product(e.v, c.cv) / (e.nrm * c.cn) AS DECIMAL(18,8)), 4) AS DOUBLE) DESC,
      |        c.cid) AS rn
      |    FROM e CROSS JOIN c WHERE e.vec_id < 8
      |  ) WHERE rn <= 2
      |), pairs AS (
      |  SELECT p.q_id, a.vec_id AS n_id,
      |    CAST(round(CAST(list_dot_product(p.qv, a.v) / (p.qn * a.nrm) AS DECIMAL(18,8)), 4) AS DOUBLE) AS sim
      |  FROM assign a JOIN probes p ON a.cid = p.probe AND p.q_id <> a.vec_id
      |), ranked AS (
      |  SELECT q_id, n_id, sim,
      |    row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, n_id) AS rank
      |  FROM pairs
      |)
      |SELECT q_id, rank, n_id, sim FROM ranked WHERE rank <= 3
      |ORDER BY q_id, rank""".stripMargin

  private def ivfTopKSql =
    s"""WITH e AS (
      |  SELECT vec_id, embedding::DOUBLE[] AS v,
      |    sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS nrm
      |  FROM embeddings
      |), c AS (
      |  $codebookSql
      |), assign AS (
      |  SELECT vec_id, cid, v, nrm FROM (
      |    SELECT e.vec_id, c.cid, e.v, e.nrm,
      |      row_number() OVER (PARTITION BY e.vec_id ORDER BY
      |        CAST(round(CAST(list_dot_product(e.v, c.cv) / (e.nrm * c.cn) AS DECIMAL(18,8)), 4) AS DOUBLE) DESC,
      |        c.cid) AS rn
      |    FROM e CROSS JOIN c
      |  ) WHERE rn = 1
      |), q AS (
      |  SELECT vec_id AS q_id, cid AS qcid, v AS qv, nrm AS qn
      |  FROM assign WHERE vec_id < 8
      |), pairs AS (
      |  SELECT q.q_id, a.vec_id AS n_id,
      |    CAST(round(CAST(list_dot_product(q.qv, a.v) / (q.qn * a.nrm) AS DECIMAL(18,8)), 4) AS DOUBLE) AS sim
      |  FROM assign a JOIN q ON a.cid = q.qcid AND q.q_id <> a.vec_id
      |), ranked AS (
      |  SELECT q_id, n_id, sim,
      |    row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, n_id) AS rank
      |  FROM pairs
      |)
      |SELECT q_id, rank, n_id, sim FROM ranked WHERE rank <= 3
      |ORDER BY q_id, rank""".stripMargin

  // ---------------------------------------------------------------
  // Hard-negative mining — the contrastive-training data op (what
  // retrieval/embedding model training wants: per anchor, the most-similar
  // candidates that are NOT positives): same IVF cell-probe dataflow
  // as sim_ivf_topk, but candidates at or above the positive
  // threshold (near-dups / true matches, 0.35 on this fixture's sim
  // scale) are EXCLUDED before ranking, so the top-3 that remain are
  // the hardest negatives. At 100 TB the shape is identical to the
  // ANN search — one zero-exchange assignment, per-cell candidate
  // join, per-query top-k — so mining cost equals search cost, and
  // the threshold is the one knob between "too easy" and "false
  // negatives".
  private val HardNegPositiveThreshold = 0.35

  private def hardNegatives(spark: SparkSession, dir: String): DataFrame = {
    val assign = ivfAssignment(spark, dir)
    val q = assign.filter(col("vec_id") < 8)
      .select(col("vec_id").as("q_id"), col("cid").as("qcid"), col("v").as("qv"), col("nrm").as("qn"))
    val pairs = assign.select(col("vec_id").as("n_id"), col("cid"), col("v").as("nv"), col("nrm").as("nn"))
      .join(broadcast(q), col("qcid") === col("cid") && col("q_id") =!= col("n_id"))
      .withColumn("sim", graft.ops.Registry.rnd(ndot(col("qv"), col("nv")) / (col("qn") * col("nn")), 4))
      .filter(col("sim") < lit(HardNegPositiveThreshold))
    val w = Window.partitionBy(col("q_id")).orderBy(col("sim").desc, col("n_id"))
    pairs.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 3)
      .select(col("q_id"), col("rank"), col("n_id"), col("sim"))
      .orderBy(col("q_id"), col("rank"))
  }

  private def hardNegativesSql =
    s"""WITH e AS (
      |  SELECT vec_id, embedding::DOUBLE[] AS v,
      |    sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS nrm
      |  FROM embeddings
      |), c AS (
      |  $codebookSql
      |), assign AS (
      |  SELECT vec_id, cid, v, nrm FROM (
      |    SELECT e.vec_id, c.cid, e.v, e.nrm,
      |      row_number() OVER (PARTITION BY e.vec_id ORDER BY
      |        CAST(round(CAST(list_dot_product(e.v, c.cv) / (e.nrm * c.cn) AS DECIMAL(18,8)), 4) AS DOUBLE) DESC,
      |        c.cid) AS rn
      |    FROM e CROSS JOIN c
      |  ) WHERE rn = 1
      |), q AS (
      |  SELECT vec_id AS q_id, cid AS qcid, v AS qv, nrm AS qn
      |  FROM assign WHERE vec_id < 8
      |), pairs AS (
      |  SELECT q.q_id, a.vec_id AS n_id,
      |    CAST(round(CAST(list_dot_product(q.qv, a.v) / (q.qn * a.nrm) AS DECIMAL(18,8)), 4) AS DOUBLE) AS sim
      |  FROM assign a JOIN q ON a.cid = q.qcid AND q.q_id <> a.vec_id
      |), ranked AS (
      |  SELECT q_id, n_id, sim,
      |    row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, n_id) AS rank
      |  FROM pairs WHERE sim < $HardNegPositiveThreshold
      |)
      |SELECT q_id, rank, n_id, sim FROM ranked WHERE rank <= 3
      |ORDER BY q_id, rank""".stripMargin

  // ---------------------------------------------------------------
  // ANN index-quality evaluation: recall@3 of the trained-codebook IVF
  // search against exact cosine top-3, per query and probe width — the
  // acceptance gate every production ANN index ships with (promoted
  // from the tools/IvfRecall generator behind BASELINE.md's recall
  // table into an oracle-checked query). Scale shape: ground truth is
  // ONE broadcast-q exact pass over the corpus — O(|panel| x N) — and
  // the IVF legs reuse the zero-exchange literal-codebook assignment;
  // at 100 TB the panel stays fixed (|Q|=8 here) so evaluation cost is
  // a constant multiple of one corpus scan, independent of corpus
  // growth in everything but the scan itself. Recall is a 4-dp-rounded
  // ratio of counted hits, so the hash gate pins the INDEX's quality,
  // not just its output shape — a codebook regression (e.g. the
  // untrained-seed bug r8 fixed) flips this query, not a human eyeball.
  private def recallEval(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.table(spark, dir, "embeddings")
      .select(col("vec_id"), expr("transform(embedding, x -> cast(x AS double))").as("v"))
      .withColumn("nrm", sqrt(ndot(col("v"), col("v"))))
    val (ec, cbCol) = attachCodebook(spark, e, trainedCodebook(spark, dir))
    // ground truth: exact top-3 for the 8-query panel
    val q = e.filter(col("vec_id") < 8)
      .select(col("vec_id").as("q_id"), col("v").as("qv"), col("nrm").as("qn"))
    val wE = Window.partitionBy(col("q_id")).orderBy(col("sim").desc, col("n_id"))
    val exact = e.select(col("vec_id").as("n_id"), col("v").as("nv"), col("nrm").as("nn"))
      .join(broadcast(q), col("q_id") =!= col("n_id"))
      .withColumn("sim",
        graft.ops.Registry.rnd(ndot(col("qv"), col("nv")) / (col("qn") * col("nn")), 4))
      .withColumn("rank", row_number().over(wE)).filter(col("rank") <= 3)
      .select(col("q_id"), col("n_id"))
    // IVF shortlist per probe width: posexplode gives the probe's rank
    // (0-based), so one exploded frame serves every nProbe level via
    // `pp < n_probe` — the index is built once, evaluated at each width
    val assign = ec
      .withColumn("cid",
        graft.expressions.CellFunctions.nearestCell(col("v"), col("nrm"), cbCol))
      .select(col("vec_id").as("n_id"), col("cid"), col("v").as("nv"), col("nrm").as("nn"))
    val probes = ec.filter(col("vec_id") < 8)
      .select(col("vec_id").as("q_id"), col("v").as("qv"), col("nrm").as("qn"),
        posexplode(graft.expressions.CellFunctions.nearestCells(col("v"), col("nrm"), cbCol, 2))
          .as(Seq("pp", "probe")))
      .crossJoin(spark.range(1).select(explode(array(lit(1), lit(2))).as("n_probe")))
      .filter(col("pp") < col("n_probe"))
    val wA = Window.partitionBy(col("n_probe"), col("q_id")).orderBy(col("sim").desc, col("n_id"))
    val approx = assign
      .join(broadcast(probes), col("probe") === col("cid") && col("q_id") =!= col("n_id"))
      .withColumn("sim",
        graft.ops.Registry.rnd(ndot(col("qv"), col("nv")) / (col("qn") * col("nn")), 4))
      .withColumn("rank", row_number().over(wA)).filter(col("rank") <= 3)
      .select(col("n_probe"), col("q_id"), col("n_id"), lit(1).as("hit"))
    // every (q_id, n_probe) cell survives even at zero hits: cross the
    // truth set with the probe levels, LEFT-join the shortlist
    exact
      .crossJoin(spark.range(1).select(explode(array(lit(1), lit(2))).as("n_probe")))
      .join(broadcast(approx), Seq("n_probe", "q_id", "n_id"), "left")
      .groupBy(col("q_id"), col("n_probe"))
      .agg(count(col("hit")).as("n_hit"))
      .withColumn("recall", graft.ops.Registry.rnd(col("n_hit") / lit(3.0), 4))
      .select(col("q_id"), col("n_probe"), col("n_hit"), col("recall"))
      .orderBy(col("q_id"), col("n_probe"))
  }

  private def recallEvalSql =
    s"""WITH e AS (
      |  SELECT vec_id, embedding::DOUBLE[] AS v,
      |    sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS nrm
      |  FROM embeddings
      |), c AS (
      |  $codebookSql
      |), exact AS (
      |  SELECT q_id, n_id FROM (
      |    SELECT a.vec_id AS q_id, b.vec_id AS n_id,
      |      row_number() OVER (PARTITION BY a.vec_id ORDER BY
      |        CAST(round(CAST(list_dot_product(a.v, b.v) / (a.nrm * b.nrm) AS DECIMAL(18,8)), 4) AS DOUBLE) DESC,
      |        b.vec_id) AS rank
      |    FROM e a JOIN e b ON a.vec_id < 8 AND b.vec_id <> a.vec_id
      |  ) WHERE rank <= 3
      |), assign AS (
      |  SELECT vec_id, cid, v, nrm FROM (
      |    SELECT e.vec_id, c.cid, e.v, e.nrm,
      |      row_number() OVER (PARTITION BY e.vec_id ORDER BY
      |        CAST(round(CAST(list_dot_product(e.v, c.cv) / (e.nrm * c.cn) AS DECIMAL(18,8)), 4) AS DOUBLE) DESC,
      |        c.cid) AS rn
      |    FROM e CROSS JOIN c
      |  ) WHERE rn = 1
      |), probes AS (
      |  SELECT vec_id AS q_id, cid AS probe, rn AS pp, v AS qv, nrm AS qn FROM (
      |    SELECT e.vec_id, c.cid, e.v, e.nrm,
      |      row_number() OVER (PARTITION BY e.vec_id ORDER BY
      |        CAST(round(CAST(list_dot_product(e.v, c.cv) / (e.nrm * c.cn) AS DECIMAL(18,8)), 4) AS DOUBLE) DESC,
      |        c.cid) AS rn
      |    FROM e CROSS JOIN c WHERE e.vec_id < 8
      |  ) WHERE rn <= 2
      |), levels AS (
      |  SELECT * FROM (VALUES (1), (2)) t(n_probe)
      |), approx AS (
      |  SELECT n_probe, q_id, n_id FROM (
      |    SELECT l.n_probe, p.q_id, a.vec_id AS n_id,
      |      row_number() OVER (PARTITION BY l.n_probe, p.q_id ORDER BY
      |        CAST(round(CAST(list_dot_product(p.qv, a.v) / (p.qn * a.nrm) AS DECIMAL(18,8)), 4) AS DOUBLE) DESC,
      |        a.vec_id) AS rank
      |    FROM probes p JOIN levels l ON p.pp <= l.n_probe
      |    JOIN assign a ON a.cid = p.probe AND p.q_id <> a.vec_id
      |  ) WHERE rank <= 3
      |)
      |SELECT ex.q_id, l.n_probe, count(ap.n_id) AS n_hit,
      |  CAST(round(CAST(count(ap.n_id) / 3.0 AS DECIMAL(18,8)), 4) AS DOUBLE) AS recall
      |FROM exact ex CROSS JOIN levels l
      |LEFT JOIN approx ap
      |  ON ap.n_probe = l.n_probe AND ap.q_id = ex.q_id AND ap.n_id = ex.n_id
      |GROUP BY ex.q_id, l.n_probe
      |ORDER BY ex.q_id, l.n_probe""".stripMargin

  // ---------------------------------------------------------------
  // Diversity sampling, k-center style: the corpus's COVERAGE HOLES —
  // the points least similar to their nearest trained centroid — are
  // exactly the points a k-center / farthest-point diversity pass would
  // promote to new centers (and the docs a curation pipeline
  // over-samples to keep tail modes represented). One step = top-8
  // worst-covered points; iterating appends them to the codebook and
  // repeats (the kmeans/LR one-iteration pattern).
  //
  // Scale shape: cov_sim is a pure projection — NearestCell picks the
  // cell, then the assigned centroid's vector comes from a LITERAL
  // cid→centroid map (element_at against constant data; no join, no
  // window, no exchange) and one dot product recomputes its cosine,
  // which by construction IS the max over the codebook. The top-8
  // plans TakeOrderedAndProject on (cov_sim ASC, vec_id): at 100 TB
  // this is one scan with a per-partition heap, no shuffle until the
  // 8-row final.
  private def kcenterStep(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.table(spark, dir, "embeddings")
      .select(col("vec_id"), expr("transform(embedding, x -> cast(x AS double))").as("v"))
      .withColumn("nrm", sqrt(ndot(col("v"), col("v"))))
    val cb = trainedCodebook(spark, dir)
    val (ec, cbCol) = attachCodebook(spark, e, cb)
    val assigned = ec.withColumn("cid",
        graft.expressions.CellFunctions.nearestCell(col("v"), col("nrm"), cbCol))
      .select(col("vec_id"), col("cid"), col("v"), col("nrm"))
    // assigned-centroid lookup: literal map below the threshold (pure
    // projection); above it, a BroadcastHashJoin on cid against the
    // |C|-row codebook relation — same auto-selection as the
    // assignment, so a raised kFor cap never re-inflates the plan
    val withC =
      if (cb.size <= broadcastThreshold) {
        val cbMap = typedLit(cb.map { case (cid, cv, cn) => cid -> ((cv, cn)) }.toMap)
        assigned.withColumn("c", element_at(cbMap, col("cid")))
          .withColumn("cov_sim",
            graft.ops.Registry.rnd(ndot(col("v"), col("c._1")) / (col("nrm") * col("c._2")), 4))
      } else {
        import spark.implicits._
        assigned.join(broadcast(cb.toDF("cid", "cv", "cn")), Seq("cid"))
          .withColumn("cov_sim",
            graft.ops.Registry.rnd(ndot(col("v"), col("cv")) / (col("nrm") * col("cn")), 4))
      }
    withC
      .select(col("vec_id"), col("cid"), col("cov_sim"))
      .orderBy(col("cov_sim").asc, col("vec_id").asc)
      .limit(8)
  }

  private def kcenterStepSql =
    s"""WITH e AS (
      |  SELECT vec_id, embedding::DOUBLE[] AS v,
      |    sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS nrm
      |  FROM embeddings
      |), c AS (
      |  $codebookSql
      |), assign AS (
      |  SELECT vec_id, cid, sim FROM (
      |    SELECT e.vec_id, c.cid,
      |      CAST(round(CAST(list_dot_product(e.v, c.cv) / (e.nrm * c.cn) AS DECIMAL(18,8)), 4) AS DOUBLE) AS sim,
      |      row_number() OVER (PARTITION BY e.vec_id ORDER BY
      |        CAST(round(CAST(list_dot_product(e.v, c.cv) / (e.nrm * c.cn) AS DECIMAL(18,8)), 4) AS DOUBLE) DESC,
      |        c.cid) AS rn
      |    FROM e CROSS JOIN c
      |  ) WHERE rn = 1
      |)
      |SELECT vec_id, cid, sim AS cov_sim
      |FROM assign
      |ORDER BY cov_sim ASC, vec_id ASC
      |LIMIT 8""".stripMargin

  // ---------------------------------------------------------------
  // Embedding quantization: per-vector min/max affine int8 (256-level)
  // codes, reporting the mean absolute reconstruction error — the
  // storage-compression pass a 100 TB embedding corpus runs before
  // indexing (4x smaller than float32, error bounded by (hi-lo)/510).
  // The quantized code is computed through a DECIMAL round so both
  // engines snap to identical levels.
  private def quantizeError(spark: SparkSession, dir: String): DataFrame =
    Tables.table(spark, dir, "embeddings")
      .select(col("vec_id"), expr("transform(embedding, x -> cast(x AS double))").as("v"))
      .withColumn("lo", array_min(col("v")))
      .withColumn("hi", array_max(col("v")))
      .withColumn("mean_abs_err", graft.ops.Registry.rnd(expr(
        """aggregate(v, 0D,
          |  (acc, x) -> acc + abs(x - (lo + cast(round(cast((x - lo) * 255.0 / (hi - lo) AS decimal(18,8)), 0) AS double) * (hi - lo) / 255.0)),
          |  acc -> acc / size(v))""".stripMargin), 6))
      .select(col("vec_id"), graft.ops.Registry.rnd(col("lo"), 6).as("lo"),
        graft.ops.Registry.rnd(col("hi"), 6).as("hi"), col("mean_abs_err"))
      .orderBy(col("vec_id"))

  private val quantizeErrorSql =
    """WITH mm AS (
      |  SELECT vec_id, embedding::DOUBLE[] AS v,
      |    list_min(embedding::DOUBLE[]) AS lo, list_max(embedding::DOUBLE[]) AS hi
      |  FROM embeddings
      |)
      |SELECT vec_id,
      |  CAST(round(CAST(lo AS DECIMAL(18,8)), 6) AS DOUBLE) AS lo,
      |  CAST(round(CAST(hi AS DECIMAL(18,8)), 6) AS DOUBLE) AS hi,
      |  CAST(round(CAST(list_sum(list_transform(v, x ->
      |    abs(x - (lo + CAST(round(CAST((x - lo) * 255.0 / (hi - lo) AS DECIMAL(18,8)), 0) AS DOUBLE) * (hi - lo) / 255.0)))) / len(v) AS DECIMAL(18,8)), 6) AS DOUBLE) AS mean_abs_err
      |FROM mm ORDER BY vec_id""".stripMargin

  // ---------------------------------------------------------------
  // One Lloyd (k-means) iteration — the centroid-training step that
  // turns the IVF path's deterministic seed codebook into a real
  // index: assign every vector to its nearest of k=8 fixed seeds
  // (vec_id < 8), then recompute each centroid as the element-wise
  // member mean. Emitted in LONG form (cid, pos, c_val, n_members) so
  // every output cell is scalar — k*64 rows at ANY corpus size.
  //
  // Scale shape: assignment is the same zero-exchange native
  // NearestCell projection as sim_ivf_topk. The update posexplodes to
  // (cid, pos, val) — a 64x row fan-out, but hash aggregation combines
  // map-side, so the shuffle carries at most partitions x k x 64
  // partial sums, not the exploded corpus. Iterating to convergence
  // repeats this same dataflow with the previous round's centroids as
  // the codebook; one iteration is the representative (and oracle-able)
  // unit.
  private def kmeansUpdate(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.table(spark, dir, "embeddings")
      .select(col("vec_id"), expr("transform(embedding, x -> cast(x AS double))").as("v"))
      .withColumn("nrm", sqrt(ndot(col("v"), col("v"))))
    val c = e.filter(col("vec_id") < 8)
      .select(col("vec_id").as("cid"), col("v").as("cv"), col("nrm").as("cn"))
    val cb = c.agg(collect_list(struct(col("cid"), col("cv"), col("cn"))).as("cb"))
    val assign = e.crossJoin(broadcast(cb))
      .withColumn("cid",
        graft.expressions.CellFunctions.nearestCell(col("v"), col("nrm"), col("cb")))
      .select(col("cid"), col("v"))
    assign
      .select(col("cid"), posexplode(col("v")).as(Seq("pos0", "val")))
      .groupBy(col("cid"), (col("pos0") + 1).cast("long").as("pos"))
      // avg over DECIMAL, not raw doubles: decimal summation is exact
      // and order-independent, so partition order can't flip c_val at a
      // 4th-decimal rounding boundary (the repo's cross-row aggregation
      // rule, Registry.dec)
      .agg(graft.ops.Registry.rnd(avg(graft.ops.Registry.dec(col("val"))), 4).as("c_val"),
        count(lit(1)).as("n_members"))
      .select(col("cid"), col("pos"), col("c_val"), col("n_members"))
      .orderBy(col("cid"), col("pos"))
  }

  private val kmeansUpdateSql =
    """WITH e AS (
      |  SELECT vec_id, embedding::DOUBLE[] AS v,
      |    sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS nrm
      |  FROM embeddings
      |), c AS (
      |  SELECT vec_id AS cid, v AS cv, nrm AS cn FROM e WHERE vec_id < 8
      |), assign AS (
      |  SELECT vec_id, cid, v FROM (
      |    SELECT e.vec_id, c.cid, e.v,
      |      row_number() OVER (PARTITION BY e.vec_id ORDER BY
      |        CAST(round(CAST(list_dot_product(e.v, c.cv) / (e.nrm * c.cn) AS DECIMAL(18,8)), 4) AS DOUBLE) DESC,
      |        c.cid) AS rn
      |    FROM e CROSS JOIN c
      |  ) WHERE rn = 1
      |), exploded AS (
      |  SELECT cid, CAST(generate_subscripts(v, 1) AS BIGINT) AS pos, unnest(v) AS val
      |  FROM assign
      |)
      |SELECT cid, pos,
      |  CAST(round(CAST(avg(CAST(val AS DECIMAL(18,4))) AS DECIMAL(18,8)), 4) AS DOUBLE) AS c_val,
      |  count(*) AS n_members
      |FROM exploded
      |GROUP BY cid, pos
      |ORDER BY cid, pos""".stripMargin

  // ---------------------------------------------------------------
  // Product quantization + asymmetric distance computation (ADC) — the
  // billion-scale ANN design (Jégou et al., "Product Quantization for
  // Nearest Neighbor Search", TPAMI'11; the public formulation):
  // unit-normalized vectors are split into M=8 subvectors, each
  // quantized against its own K=16-centroid codebook (4 bits/subspace →
  // an 8-byte code per 64-dim vector, 32x smaller than float32). A
  // query never decodes candidates: it builds an M x K lookup table of
  // subspace distances ONCE, and each candidate's approximate distance
  // is just M table lookups summed — the scan reads codes, not vectors.
  //
  // Plan shape, and why it is the 100 TB path: encoding is one
  // broadcast join (128-row codebook) + a per-(vector, subspace)
  // argmin window — in production it runs once, offline, like the IVF
  // codebook build. The search side joins the code table against the
  // broadcast LUT on (subspace, code) — a hash equi-join whose probe
  // side is the 8-byte codes, never the embeddings; the exchange
  // carries (q_id, n_id, partial) into a DECIMAL-summed aggregation.
  // The search is the standard two-stage retrieval: the ADC scan cuts
  // the corpus to a per-query shortlist of R=32 codes-only candidates,
  // then ONLY those R rows join back to the stored vectors for an exact
  // cosine re-rank — at 100 TB the exact math touches R rows per query
  // instead of N, and R is the recall knob (measured here: raw ADC
  // top-3 recall 0.375 on the near-uniform harness vectors; with the
  // R=32 re-rank the reported top-3 are exact over the shortlist).
  //
  // Determinism discipline: subspace distances round to 4 dp through
  // DECIMAL before BOTH the assignment argmin (centroid-id tiebreak)
  // and the ADC sum (DECIMAL summation — exact, order-independent), so
  // Spark and the DuckDB oracle pick identical codes and identical
  // final rankings. Training (2 Lloyd rounds, DECIMAL-routed means)
  // runs once per JVM per dir like the IVF codebook; the oracle inlines
  // the trained per-subspace centroids as literals.
  private[llm] val PqM = 16 // subspaces
  private[llm] val PqK = 32 // centroids per subspace (5-bit codes)
  private val PqSub = 4     // dims per subspace (64 / M)
  private val PqRounds = 2
  private val PqRerank = 32 // ADC shortlist size for the exact re-rank

  private val pqTrained =
    new java.util.concurrent.ConcurrentHashMap[String, Vector[(Int, Long, Vector[Double])]]()
  @volatile private var lastPqDir: Option[String] = None

  /** Test hook: drop the in-JVM PQ caches so a "restarted session" can
    * be simulated — the reload must come from [[PqStore]]'s files. */
  private[llm] def resetPqCacheForTest(): Unit = {
    pqTrained.clear(); pqCodes.clear(); lastPqDir = None
  }

  /** Unit-normalized vectors with their per-subspace slices exploded to
    * (vec_id, j, sub) — the shared shape of training, encoding, and the
    * query LUT. */
  private def pqSubvectors(spark: SparkSession, dir: String): DataFrame =
    pqSubvectorsOf(Tables.table(spark, dir, "embeddings"))

  /** The same subspace-slice shape over an arbitrary `(vec_id,
    * embedding)` frame — lets [[pqAbsorb]] encode a BATCH through the
    * identical dataflow the full encode uses. */
  private def pqSubvectorsOf(vectors: DataFrame): DataFrame =
    vectors
      .select(col("vec_id"), expr("transform(embedding, x -> cast(x AS double))").as("v"))
      .withColumn("nrm", sqrt(ndot(col("v"), col("v"))))
      .withColumn("u", expr("transform(v, x -> x / nrm)"))
      .select(col("vec_id"), posexplode(
        expr(s"transform(sequence(0, ${PqM - 1}), j -> slice(u, j * $PqSub + 1, $PqSub))"))
        .as(Seq("j", "sub")))

  /** Rounded squared L2 between a subvector column and a centroid
    * column, in the exact algebraic form the oracle replays
    * (dot(s,s) - 2 dot(s,c) + dot(c,c), sequential dots). */
  private def pqD2(s: org.apache.spark.sql.Column, c: org.apache.spark.sql.Column) =
    graft.ops.Registry.rnd(ndot(s, s) - lit(2.0) * ndot(s, c) + ndot(c, c), 4)

  private def pqCodebook(
      spark: SparkSession, dir: String): Vector[(Int, Long, Vector[Double])] = {
    // memory cache -> persisted index file -> train-once (see PqStore
    // for the restart/scale rationale)
    val cb = pqTrained.computeIfAbsent(dir,
      d => PqStore.loadOrTrain(spark, d, PqM, PqK)(pqTrain(spark, d)))
    lastPqDir = Some(dir)
    cb
  }

  private def pqTrain(
      spark: SparkSession, d: String): Vector[(Int, Long, Vector[Double])] = {
    {
      import spark.implicits._
      val subs = pqSubvectors(spark, d).localCheckpoint()
      // deterministic seeds: the first K vectors' subvectors, cid = rank
      // of vec_id among them (ids only cross the driver here)
      val seedIds = subs.select(col("vec_id")).distinct()
        .orderBy(col("vec_id")).limit(PqK)
        .as[Long].collect().sorted
      val cidOf = seedIds.zipWithIndex.toMap
      var codebook: Vector[(Int, Long, Vector[Double])] = subs
        .filter(col("vec_id").isin(seedIds.toIndexedSeq: _*))
        .select(col("vec_id"), col("j"), col("sub"))
        .collect().toVector
        .map(r => (r.getInt(1), cidOf(r.getLong(0)).toLong,
          r.getSeq[Double](2).toVector))
        .sortBy(t => (t._1, t._2))
      (1 to PqRounds).foreach { _ =>
        val cbDf = broadcast(codebook.toDF("j", "cid", "cv"))
        val w = Window.partitionBy(col("vec_id"), col("j"))
          .orderBy(col("d2"), col("cid"))
        val assigned = subs.join(cbDf, Seq("j"))
          .withColumn("d2", pqD2(col("sub"), col("cv")))
          .withColumn("rn", row_number().over(w))
          .filter(col("rn") === 1)
        val rebuilt = assigned
          .select(col("j"), col("cid"), posexplode(col("sub")).as(Seq("pos", "x")))
          .groupBy(col("j"), col("cid"), col("pos"))
          .agg(graft.ops.Registry.rnd(avg(graft.ops.Registry.dec(col("x"))), 4).as("c"))
          .groupBy(col("j"), col("cid"))
          .agg(expr("transform(sort_array(collect_list(struct(pos, c))), s -> s.c)").as("cv"))
          .collect().toVector
          .map(r => (r.getInt(0), r.getLong(1), r.getSeq[Double](2).toVector))
        // a (j, cid) cell that lost every member keeps its previous centroid
        val rebuiltKeys = rebuilt.map(t => (t._1, t._2)).toSet
        codebook = (rebuilt ++ codebook.filterNot(t => rebuiltKeys((t._1, t._2))))
          .sortBy(t => (t._1, t._2))
      }
      subs.unpersist()
      codebook
    }
  }

  /** Encoded corpus per (session, dir): like the trained codebook, the
    * code table is OFFLINE index state — a deployment materializes it
    * once (a parquet table of 10-byte codes beside the vectors) and
    * every search reads codes, not embeddings. The in-JVM
    * localCheckpoint is the harness-scale stand-in for that table; the
    * encode job (N·M·K rounded distances + per-(vector, subspace)
    * argmin) runs once per corpus, not once per query. */
  private val pqCodes =
    new java.util.concurrent.ConcurrentHashMap[(SparkSession, String), DataFrame]()

  /** Encode an arbitrary `(vec_id, embedding)` frame against dir's
    * (frozen) trained codebook — the one encode dataflow both the full
    * build and the O(batch) absorb run, so they cannot drift. */
  private[llm] def pqEncodeFrame(spark: SparkSession, dir: String,
      vectors: DataFrame): DataFrame = {
    import spark.implicits._
    val cbDf = broadcast(pqCodebook(spark, dir).toDF("j", "cid", "cv"))
    val w = Window.partitionBy(col("vec_id"), col("j"))
      .orderBy(col("d2"), col("cid"))
    pqSubvectorsOf(vectors).join(cbDf, Seq("j"))
      .withColumn("d2", pqD2(col("sub"), col("cv")))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("vec_id").as("n_id"), col("j"), col("cid").as("code"))
  }

  private def pqEncodedCorpus(spark: SparkSession, dir: String): DataFrame =
    // memory cache -> persisted parquet code table -> encode-once: the
    // encode is a full corpus pass (N x M x K rounded distances),
    // exactly what a restart must NOT silently repeat at 100 TB
    pqCodes.computeIfAbsent((spark, dir), { case (s, d) =>
      PqStore.loadOrEncode(s, d, PqM, PqK)(pqEncodeFrame(s, d, _))
    })

  /** Bootstrap/test hook: persist the PQ codes of ONLY `subset` of
    * dir's corpus ([[PqStore.encodeBase]]) — the base state a
    * [[pqAbsorb]] then extends. */
  private[llm] def pqEncodeBaseFor(spark: SparkSession, dir: String,
      subset: DataFrame): Unit = {
    PqStore.encodeBase(dir, PqM, PqK, subset)(pqEncodeFrame(spark, dir, _))
    pqCodes.remove((spark, dir))
  }

  /** O(batch) incremental PQ index maintenance (r15 verdict #6):
    * `batch` (vec_id, embedding) vectors have LANDED in dir's
    * embeddings table; [[PqStore.absorb]] encodes ONLY them against the
    * frozen codebook as a delta segment — the existing corpus's codes
    * are immutable under a frozen codebook, so unlike the kNN graph
    * there is no re-rank half at all: absorb ≡ full re-encode EXACTLY
    * (PqAbsorbSpec pins the code-set equality), and every reader —
    * including `sim_pq_topk` — resolves the absorbed index with zero
    * rebuild. */
  def pqAbsorb(spark: SparkSession, dir: String, batch: DataFrame): DataFrame = {
    val codes = PqStore.absorb(spark, dir, PqM, PqK, batch)(pqEncodeFrame(spark, dir, _))
    pqCodes.remove((spark, dir))
    codes
  }

  private def pqTopK(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val cbDf = broadcast(pqCodebook(spark, dir).toDF("j", "cid", "cv"))
    val subs = pqSubvectors(spark, dir)
    val codes = pqEncodedCorpus(spark, dir)
    // query half: the M x K distance lookup table per query vector
    val lut = subs.filter(col("vec_id") < 8).join(cbDf, Seq("j"))
      .select(col("vec_id").as("q_id"), col("j"), col("cid"),
        pqD2(col("sub"), col("cv")).as("d"))
    // ADC scan: M lookups per candidate, DECIMAL-summed (exact)
    val adist = codes.join(broadcast(lut),
        codes("j") === lut("j") && codes("code") === lut("cid") &&
          col("q_id") =!= col("n_id"))
      .groupBy(col("q_id"), col("n_id"))
      .agg(graft.ops.Registry.rnd(sum(col("d").cast("decimal(18,8)")), 4).as("adist"))
    // codes-only shortlist: top-R by approximate distance
    val sw = Window.partitionBy(col("q_id")).orderBy(col("adist"), col("n_id"))
    val shortlist = adist.withColumn("srank", row_number().over(sw))
      .filter(col("srank") <= PqRerank)
      .select(col("q_id"), col("n_id"))
    // exact re-rank: only R rows per query touch the stored vectors
    val e = Tables.table(spark, dir, "embeddings")
      .select(col("vec_id"), expr("transform(embedding, x -> cast(x AS double))").as("v"))
      .withColumn("nrm", sqrt(ndot(col("v"), col("v"))))
    val q = e.filter(col("vec_id") < 8)
      .select(col("vec_id").as("q_id"), col("v").as("qv"), col("nrm").as("qn"))
    val rescored = broadcast(shortlist)
      .join(e.select(col("vec_id").as("n_id"), col("v").as("nv"), col("nrm").as("nn")), Seq("n_id"))
      .join(broadcast(q), Seq("q_id"))
      .withColumn("sim",
        graft.ops.Registry.rnd(ndot(col("qv"), col("nv")) / (col("qn") * col("nn")), 4))
    val rw = Window.partitionBy(col("q_id")).orderBy(col("sim").desc, col("n_id"))
    rescored.withColumn("rank", row_number().over(rw))
      .filter(col("rank") <= 3)
      .select(col("q_id"), col("rank"), col("n_id"), col("sim"))
      .orderBy(col("q_id"), col("rank"))
  }

  /** The trained PQ codebook as DuckDB VALUES `(j, cid, cv)`; falls
    * back to the seed formulation only if no training ran in this JVM
    * (i.e. the PQ query itself never ran — no dump to compare against
    * anyway). */
  private def pqCodebookSql: String =
    lastPqDir.flatMap(d => Option(pqTrained.get(d))) match {
      case Some(c) =>
        val rows = c.map { case (j, cid, cv) =>
          s"($j, CAST($cid AS BIGINT), CAST(${cv.mkString("[", ", ", "]")} AS DOUBLE[]))"
        }.mkString(",\n    ")
        s"SELECT * FROM (VALUES\n    $rows\n  ) t(j, cid, cv)"
      case None =>
        s"""SELECT s.j, CAST(row_number() OVER (PARTITION BY s.j ORDER BY s.vec_id) - 1 AS BIGINT) AS cid, s.sub AS cv
           |  FROM subs s WHERE s.vec_id IN (SELECT vec_id FROM e ORDER BY vec_id LIMIT $PqK)""".stripMargin
    }

  private def pqTopKSql =
    s"""WITH e AS (
      |  SELECT vec_id, embedding::DOUBLE[] AS v,
      |    sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS nrm
      |  FROM embeddings
      |), un AS (
      |  SELECT vec_id, list_transform(v, x -> x / nrm) AS u FROM e
      |), subs AS (
      |  SELECT vec_id, CAST(t.j AS INT) AS j,
      |    list_slice(u, t.j * $PqSub + 1, t.j * $PqSub + $PqSub) AS sub
      |  FROM un, range($PqM) t(j)
      |), cb AS (
      |  $pqCodebookSql
      |), assign AS (
      |  SELECT vec_id AS n_id, j, cid AS code FROM (
      |    SELECT s.vec_id, s.j, c.cid,
      |      row_number() OVER (PARTITION BY s.vec_id, s.j ORDER BY
      |        CAST(round(CAST(list_dot_product(s.sub, s.sub) - 2 * list_dot_product(s.sub, c.cv) + list_dot_product(c.cv, c.cv) AS DECIMAL(18,8)), 4) AS DOUBLE),
      |        c.cid) AS rn
      |    FROM subs s JOIN cb c ON c.j = s.j
      |  ) WHERE rn = 1
      |), lut AS (
      |  SELECT s.vec_id AS q_id, s.j, c.cid,
      |    CAST(round(CAST(list_dot_product(s.sub, s.sub) - 2 * list_dot_product(s.sub, c.cv) + list_dot_product(c.cv, c.cv) AS DECIMAL(18,8)), 4) AS DOUBLE) AS d
      |  FROM subs s JOIN cb c ON c.j = s.j
      |  WHERE s.vec_id < 8
      |), adist AS (
      |  SELECT l.q_id, a.n_id,
      |    CAST(round(CAST(sum(CAST(l.d AS DECIMAL(18,8))) AS DECIMAL(18,8)), 4) AS DOUBLE) AS adist
      |  FROM assign a JOIN lut l ON l.j = a.j AND l.cid = a.code AND l.q_id <> a.n_id
      |  GROUP BY l.q_id, a.n_id
      |), shortlist AS (
      |  SELECT q_id, n_id FROM (
      |    SELECT q_id, n_id,
      |      row_number() OVER (PARTITION BY q_id ORDER BY adist, n_id) AS srank
      |    FROM adist
      |  ) WHERE srank <= $PqRerank
      |), rescored AS (
      |  SELECT s.q_id, s.n_id,
      |    CAST(round(CAST(list_dot_product(a.v, b.v) / (a.nrm * b.nrm) AS DECIMAL(18,8)), 4) AS DOUBLE) AS sim
      |  FROM shortlist s
      |  JOIN e a ON a.vec_id = s.q_id
      |  JOIN e b ON b.vec_id = s.n_id
      |), ranked AS (
      |  SELECT q_id, n_id, sim,
      |    row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, n_id) AS rank
      |  FROM rescored
      |)
      |SELECT q_id, rank, n_id, sim FROM ranked WHERE rank <= 3
      |ORDER BY q_id, rank""".stripMargin

  // ---------------------------------------------------------------
  // One power-iteration step toward the corpus's top principal
  // direction — the linear-algebra primitive under embedding
  // whitening / dimensionality reduction / spectral diagnostics:
  // u = Xᵀ(X·v₀), normalized, from the deterministic uniform unit
  // start v₀ = 1/√d. Iterating feeds u back as v₀ (the
  // kmeans/LR/pagerank one-step pattern; deflation gives the next
  // component).
  //
  // Scale shape: the projection X·v₀ is a pure row-local fold; the
  // back-projection is ONE posexplode + d-group partial aggregation —
  // shuffle carries partitions × d partial sums, never the corpus
  // (identical to sim_kmeans_update's centroid reduce). The d-row
  // normalization is a broadcast 1-row aggregate. Per-row terms snap
  // to DECIMAL(18,8) (full-entropy products — the repo's cross-row
  // aggregation rule) so the sums are order-independent and exact.
  private def pcaPowerStep(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.table(spark, dir, "embeddings")
      .select(col("vec_id"), expr("transform(embedding, x -> cast(x AS double))").as("v"))
      // v·v₀ with v₀ = (1/√d,…): Σx / √d, row-local
      .withColumn("proj",
        expr("aggregate(v, 0D, (acc, x) -> acc + x) / sqrt(cast(size(v) AS double))"))
    val s = e
      .select(posexplode(col("v")).as(Seq("pos0", "x")), col("proj"))
      .select((col("pos0") + 1).cast("long").as("pos"),
        (col("x") * col("proj")).cast("decimal(18,8)").as("t"))
      .groupBy(col("pos"))
      .agg(sum(col("t")).cast("double").as("s"))
      // two consumers (the normalization agg and the output join) would
      // each re-run the corpus explode+shuffle lineage; pinning the
      // d-row result keeps this a single corpus pass (the
      // klBySource/cluster_canonical shared-subplan discipline)
      .localCheckpoint()
    val nrm = s.agg(
      sqrt(sum((col("s") * col("s")).cast("decimal(18,8)")).cast("double")).as("nrm"))
    s.crossJoin(broadcast(nrm))
      .select(col("pos"),
        graft.ops.Registry.rnd(col("s") / col("nrm"), 6).as("component"),
        graft.ops.Registry.rnd(col("s"), 4).as("loading"))
      .orderBy(col("pos"))
  }

  private val pcaPowerStepSql =
    """WITH e AS (
      |  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
      |), p AS (
      |  SELECT v, list_aggregate(v, 'sum') / sqrt(CAST(len(v) AS DOUBLE)) AS proj FROM e
      |), x AS (
      |  SELECT CAST(generate_subscripts(v, 1) AS BIGINT) AS pos, unnest(v) AS x, proj
      |  FROM p
      |), s AS (
      |  SELECT pos, CAST(sum(CAST(x * proj AS DECIMAL(18,8))) AS DOUBLE) AS s
      |  FROM x GROUP BY pos
      |), n AS (
      |  SELECT sqrt(CAST(sum(CAST(s * s AS DECIMAL(18,8))) AS DOUBLE)) AS nrm FROM s
      |)
      |SELECT pos,
      |  CAST(round(CAST(s / nrm AS DECIMAL(18,8)), 6) AS DOUBLE) AS component,
      |  CAST(round(CAST(s AS DECIMAL(18,8)), 4) AS DOUBLE) AS loading
      |FROM s, n ORDER BY pos""".stripMargin

  // ---------------------------------------------------------------
  // Classifier-quality evaluation: per-label one-vs-rest ROC-AUC of
  // the centroid-cosine score — does distance-to-class-centroid
  // separate the class? This is the acceptance metric a curation
  // pipeline computes for every learned filter (the quality-classifier
  // LR step, an embedding-based domain tagger) before trusting it;
  // AUC via the Mann-Whitney rank-sum with MIDRANKS so tied (rounded)
  // scores are handled exactly:
  //   AUC = (Σ_{positives} midrank − nP(nP+1)/2) / (nP·nN).
  //
  // Shape: centroids are a (labels × d)-row aggregate (broadcast);
  // scoring is one posexplode + broadcast join + (vec, label) partial
  // aggregation; the ranking is a per-label global sort — the honest
  // cost of exact AUC (the 100 TB variant bins scores into a
  // fixed-width histogram and computes the trapezoid AUC from bin
  // counts, one aggregation, at ~1e-3 accuracy; the exact form is
  // right at evaluation-set scale). Midranks are integers-or-halves
  // (exact in double), so the AUC arithmetic is bit-identical across
  // engines before the final round.
  /** (clabel, label, score): every vector's centroid-cosine against
    * every label's centroid — shared by the exact and binned AUC. */
  private def centroidScores(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.table(spark, dir, "embeddings")
      .select(col("vec_id"), col("label").cast("long").as("label"),
        expr("transform(embedding, x -> cast(x AS double))").as("v"))
      .withColumn("nrm", sqrt(ndot(col("v"), col("v"))))
    val pe = e.select(col("vec_id"), col("label"), col("nrm"),
      posexplode(col("v")).as(Seq("pos0", "x")))
      .select(col("vec_id"), col("label"), col("nrm"),
        (col("pos0") + 1).cast("long").as("pos"), col("x"))
    // per-label centroids, components snapped to 6 dp (engine-portable
    // literals, the codebook discipline)
    val cent = pe.groupBy(col("label").as("clabel"), col("pos"))
      .agg(graft.ops.Registry.rnd(avg(graft.ops.Registry.dec(col("x"))), 6).as("c"))
      .localCheckpoint()
    val cnorm = cent.groupBy(col("clabel"))
      .agg(sqrt(sum((col("c") * col("c")).cast("decimal(18,8)")).cast("double")).as("cn"))
    pe
      .join(broadcast(cent), Seq("pos"))
      .select(col("vec_id"), col("label"), col("nrm"), col("clabel"),
        (col("x") * col("c")).cast("decimal(18,8)").as("t"))
      .groupBy(col("vec_id"), col("label"), col("nrm"), col("clabel"))
      .agg(sum(col("t")).cast("double").as("num"))
      .join(broadcast(cnorm), Seq("clabel"))
      .select(col("clabel"), col("label"),
        graft.ops.Registry.rnd(col("num") / (col("nrm") * col("cn")), 6).as("score"))
  }

  private def aucCentroid(spark: SparkSession, dir: String): DataFrame = {
    val scored = centroidScores(spark, dir)
    val w = Window.partitionBy(col("clabel")).orderBy(col("score"))
    val ranked = scored
      .withColumn("minrank", rank().over(w))
      .withColumn("ties", count(lit(1)).over(Window.partitionBy(col("clabel"), col("score"))))
      .withColumn("midrank", col("minrank") + (col("ties") - 1) / lit(2.0))
    ranked.groupBy(col("clabel"))
      .agg(
        sum(when(col("label") === col("clabel"), 1L).otherwise(0L)).as("n_pos"),
        sum(when(col("label") =!= col("clabel"), 1L).otherwise(0L)).as("n_neg"),
        sum(when(col("label") === col("clabel"), col("midrank"))).as("rank_sum"))
      .select(col("clabel").as("label"), col("n_pos"), col("n_neg"),
        graft.ops.Registry.rnd(
          (col("rank_sum") - col("n_pos") * (col("n_pos") + 1) / lit(2.0)) /
            (col("n_pos") * col("n_neg")).cast("double"), 6).as("auc"))
      .orderBy(col("label"))
  }

  /** The shared scored-CTE chain (e → pe → cent → cnorm → scored). */
  private val scoredCtes =
    """WITH e AS (
      |  SELECT vec_id, CAST(label AS BIGINT) AS label, embedding::DOUBLE[] AS v,
      |    sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS nrm
      |  FROM embeddings
      |), pe AS (
      |  SELECT vec_id, label, nrm,
      |    CAST(generate_subscripts(v, 1) AS BIGINT) AS pos, unnest(v) AS x
      |  FROM e
      |), cent AS (
      |  SELECT label AS clabel, pos,
      |    CAST(round(CAST(avg(CAST(x AS DECIMAL(18,4))) AS DECIMAL(18,8)), 6) AS DOUBLE) AS c
      |  FROM pe GROUP BY label, pos
      |), cnorm AS (
      |  SELECT clabel, sqrt(CAST(sum(CAST(c * c AS DECIMAL(18,8))) AS DOUBLE)) AS cn
      |  FROM cent GROUP BY clabel
      |), scored AS (
      |  SELECT s.clabel, s.label,
      |    CAST(round(CAST(s.num / (s.nrm * n.cn) AS DECIMAL(18,8)), 6) AS DOUBLE) AS score
      |  FROM (
      |    SELECT pe.vec_id, pe.label, pe.nrm, cent.clabel,
      |      CAST(sum(CAST(pe.x * cent.c AS DECIMAL(18,8))) AS DOUBLE) AS num
      |    FROM pe JOIN cent USING (pos)
      |    GROUP BY pe.vec_id, pe.label, pe.nrm, cent.clabel
      |  ) s JOIN cnorm n USING (clabel)
      |)""".stripMargin

  private val aucCentroidSql =
    scoredCtes + """, ranked AS (
      |  SELECT clabel, label,
      |    rank() OVER (PARTITION BY clabel ORDER BY score)
      |      + (count(*) OVER (PARTITION BY clabel, score) - 1) / 2.0 AS midrank
      |  FROM scored
      |)
      |SELECT clabel AS label,
      |  CAST(sum(CASE WHEN label = clabel THEN 1 ELSE 0 END) AS BIGINT) AS n_pos,
      |  CAST(sum(CASE WHEN label <> clabel THEN 1 ELSE 0 END) AS BIGINT) AS n_neg,
      |  CAST(round(CAST(
      |    (sum(CASE WHEN label = clabel THEN midrank END) - sum(CASE WHEN label = clabel THEN 1 ELSE 0 END) * (sum(CASE WHEN label = clabel THEN 1 ELSE 0 END) + 1) / 2.0)
      |    / (sum(CASE WHEN label = clabel THEN 1 ELSE 0 END) * CAST(sum(CASE WHEN label <> clabel THEN 1 ELSE 0 END) AS DOUBLE))
      |  AS DECIMAL(18,8)), 6) AS DOUBLE) AS auc
      |FROM ranked GROUP BY clabel
      |ORDER BY label""".stripMargin

  // ---------------------------------------------------------------
  // The 100 TB form of the same metric: HISTOGRAM AUC. Scores bin into
  // fixed 1e-3-wide buckets; within a bin positives and negatives tie,
  // so AUC = Σ_bins (negBelow + negInBin/2)·posInBin / (nP·nN) — the
  // midrank estimator over bins. No global sort: one (label, bin)
  // aggregation plus a window over the ≤2001 bins per label. The
  // binning quantization bounds the error at ~binWidth/2 of score
  // mass; QueriesSpec pins agreement with the exact form to 2e-3.
  // All arithmetic is integer-derived, so the two engines agree
  // bit-for-bit before the final round.
  private def aucBinned(spark: SparkSession, dir: String): DataFrame = {
    val binned = centroidScores(spark, dir)
      // scores are 6-dp decimals in [-1, 1]; floor to 1e-3 bins
      .withColumn("bin", floor(col("score") * 1000).cast("long"))
      .groupBy(col("clabel"), col("bin"))
      .agg(
        sum(when(col("label") === col("clabel"), 1L).otherwise(0L)).as("pos"),
        sum(when(col("label") =!= col("clabel"), 1L).otherwise(0L)).as("neg"))
    val w = Window.partitionBy(col("clabel")).orderBy(col("bin"))
      .rowsBetween(Window.unboundedPreceding, -1)
    binned
      .withColumn("neg_below", coalesce(sum(col("neg")).over(w), lit(0L)))
      .groupBy(col("clabel"))
      .agg(
        sum(col("pos")).as("n_pos"), sum(col("neg")).as("n_neg"),
        sum(col("pos") * col("neg_below")).as("below_pairs"),
        sum(col("pos") * col("neg")).as("tie_pairs"))
      .select(col("clabel").as("label"), col("n_pos"), col("n_neg"),
        graft.ops.Registry.rnd(
          (col("below_pairs") + col("tie_pairs") / lit(2.0)) /
            (col("n_pos") * col("n_neg")).cast("double"), 6).as("auc"))
      .orderBy(col("label"))
  }

  private val aucBinnedSql =
    scoredCtes + """, binned AS (
      |  SELECT clabel, CAST(floor(score * 1000) AS BIGINT) AS bin,
      |    CAST(sum(CASE WHEN label = clabel THEN 1 ELSE 0 END) AS BIGINT) AS pos,
      |    CAST(sum(CASE WHEN label <> clabel THEN 1 ELSE 0 END) AS BIGINT) AS neg
      |  FROM scored GROUP BY clabel, bin
      |), cum AS (
      |  SELECT clabel, pos, neg,
      |    COALESCE(CAST(sum(neg) OVER (PARTITION BY clabel ORDER BY bin
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT), 0) AS neg_below
      |  FROM binned
      |)
      |SELECT clabel AS label,
      |  CAST(sum(pos) AS BIGINT) AS n_pos, CAST(sum(neg) AS BIGINT) AS n_neg,
      |  CAST(round(CAST(
      |    (CAST(sum(pos * neg_below) AS DOUBLE) + CAST(sum(pos * neg) AS DOUBLE) / 2.0)
      |    / (CAST(sum(pos) AS DOUBLE) * CAST(sum(neg) AS DOUBLE))
      |  AS DECIMAL(18,8)), 6) AS DOUBLE) AS auc
      |FROM cum GROUP BY clabel
      |ORDER BY label""".stripMargin

  // ---------------------------------------------------------------
  // Matryoshka recall — evaluate truncated-dimension retrieval
  // (Kusupati et al. 2022): with MRL-style embeddings, the FIRST d
  // dimensions form a usable d-dim embedding, so a pipeline can
  // shortlist on a cheap prefix (8 of 64 dims = 8x less memory
  // bandwidth) and re-rank the shortlist at full width. This query
  // measures exactly what that costs: recall@3 of top-3-by-prefix-
  // cosine against the full-width exact top-3, for d in {8, 16, 64},
  // over the 8-query panel (d = 64 is the sanity anchor — recall 1).
  //
  // Scale shape: ONE corpus x panel broadcast join (the sim_ family's
  // 8-row panel discipline) computes all three truncation sims per
  // row — the d fan-out explodes AFTER the join, so the corpus is
  // touched once; ranking windows partition by (d, q_id). The exact
  // baseline reuses the same joined frame at d = 64.
  //
  // Determinism: sims quantize to 4 dp before ranking (ulp-safe),
  // ties break on n_id; recall counts are integers over 3.
  private val matryoshkaDims = Seq(8, 16, 64)

  private def recallMatryoshka(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.table(spark, dir, "embeddings")
      .select(col("vec_id"), expr("transform(embedding, x -> cast(x AS double))").as("v"))
    val q = e.filter(col("vec_id") < 8)
      .select(col("vec_id").as("q_id"), col("v").as("qv"))
    val joined = e.select(col("vec_id").as("n_id"), col("v").as("nv"))
      .join(broadcast(q), col("q_id") =!= col("n_id"))
    val sims = joined.select(col("q_id"), col("n_id"),
      explode(array(matryoshkaDims.map { d =>
        struct(lit(d).as("d"),
          graft.ops.Registry.rnd(
            ndot(expr(s"slice(qv, 1, $d)"), expr(s"slice(nv, 1, $d)")) /
              (sqrt(ndot(expr(s"slice(qv, 1, $d)"), expr(s"slice(qv, 1, $d)"))) *
                sqrt(ndot(expr(s"slice(nv, 1, $d)"), expr(s"slice(nv, 1, $d)")))), 4)
            .as("sim"))
      }: _*)).as("x"))
      .select(col("q_id"), col("n_id"), col("x.d").as("d"), col("x.sim").as("sim"))
    val wD = Window.partitionBy(col("d"), col("q_id")).orderBy(col("sim").desc, col("n_id"))
    val top = sims.withColumn("rank", row_number().over(wD)).filter(col("rank") <= 3)
    val exact = top.filter(col("d") === 64)
      .select(col("q_id"), col("n_id"))
    // every (q_id, d) cell survives even at zero hits (the recallEval
    // cross-levels + left-join discipline)
    exact
      .crossJoin(spark.range(1)
        .select(explode(array(matryoshkaDims.map(lit(_)): _*)).as("d")))
      .join(broadcast(top.select(col("d"), col("q_id"), col("n_id"), lit(1).as("hit"))),
        Seq("d", "q_id", "n_id"), "left")
      .groupBy(col("q_id"), col("d"))
      .agg(count(col("hit")).as("n_hit"))
      .withColumn("recall", graft.ops.Registry.rnd(col("n_hit") / lit(3.0), 4))
      .orderBy(col("q_id"), col("d"))
  }

  private val recallMatryoshkaSql = {
    val dims = matryoshkaDims.mkString(", ")
    s"""WITH e AS (
      |  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
      |), sims AS (
      |  SELECT a.vec_id AS q_id, b.vec_id AS n_id, dd.d,
      |    CAST(round(CAST(
      |      list_dot_product(a.v[1:dd.d], b.v[1:dd.d])
      |        / (sqrt(list_dot_product(a.v[1:dd.d], a.v[1:dd.d]))
      |           * sqrt(list_dot_product(b.v[1:dd.d], b.v[1:dd.d])))
      |    AS DECIMAL(18,8)), 4) AS DOUBLE) AS sim
      |  FROM e a
      |  JOIN e b ON a.vec_id < 8 AND b.vec_id <> a.vec_id
      |  CROSS JOIN (SELECT unnest([$dims]) AS d) dd
      |), top AS (
      |  SELECT d, q_id, n_id FROM (
      |    SELECT d, q_id, n_id,
      |      row_number() OVER (PARTITION BY d, q_id ORDER BY sim DESC, n_id) AS rank
      |    FROM sims
      |  ) WHERE rank <= 3
      |), exact AS (
      |  SELECT q_id, n_id FROM top WHERE d = 64
      |), levels AS (
      |  SELECT unnest([$dims]) AS d
      |)
      |SELECT x.q_id, l.d, CAST(count(t.n_id) AS BIGINT) AS n_hit,
      |  CAST(round(CAST(count(t.n_id) / 3.0 AS DECIMAL(18,8)), 4) AS DOUBLE) AS recall
      |FROM exact x CROSS JOIN levels l
      |LEFT JOIN top t ON t.d = l.d AND t.q_id = x.q_id AND t.n_id = x.n_id
      |GROUP BY x.q_id, l.d
      |ORDER BY x.q_id, l.d""".stripMargin
  }

  // ---------------------------------------------------------------
  // Embedding-centroid drift per label between two corpus halves
  // (vec_id parity = the harness stand-in for "last snapshot vs this
  // one"): cosine distance between each label's per-half mean vector.
  // The embedding-space monitoring primitive — a label whose centroid
  // moves is a class whose upstream encoder, data mix, or labeling
  // drifted, caught without re-running any eval set.
  //
  // Scale shape: ONE pass over (vec, dim) rows reduces to
  // |labels| x 2 x d per-dim DECIMAL sums (map-side combinable);
  // centroid assembly and the cosine are window/array math on that
  // reduction. Nothing after the first shuffle exceeds |labels| x d
  // rows. Determinism: per-dim means divide exact DECIMAL sums and
  // snap at 6 dp; the dot products run left-to-right over the same
  // 6-dp arrays in both engines (the dedup_embedding_pairs
  // list_dot_product discipline); sqrt is IEEE-exact.
  /** Per-(label, half) 6-dp centroid arrays of the drift query. */
  private def centroidMeans(spark: SparkSession, dir: String): DataFrame = {
    val comp = Tables.table(spark, dir, "embeddings")
      .select(col("label"), pmod(col("vec_id"), lit(2)).as("half"),
        posexplode(col("embedding")).as(Seq("dim", "x")))
    val means = comp.groupBy(col("label"), col("half"), col("dim"))
      .agg(count(lit(1)).as("n"),
        graft.ops.Registry.rnd(
          sum(col("x").cast("decimal(18,8)")).cast("double") / count(lit(1)), 6).as("mu"))
    means.groupBy(col("label"), col("half"))
      .agg(max(col("n")).as("n"),
        expr("transform(sort_array(collect_list(struct(dim, mu))), s -> s.mu)").as("c"))
  }

  private def centroidDrift(spark: SparkSession, dir: String): DataFrame = {
    val vecs = centroidMeans(spark, dir)
    val dot = (a: String, b: String) =>
      expr(s"aggregate(zip_with($a, $b, (p, q) -> p * q), 0D, (acc, v) -> acc + v)")
    vecs.filter(col("half") === 0).select(col("label"), col("n").as("n_even"), col("c").as("c0"))
      .join(vecs.filter(col("half") === 1)
        .select(col("label"), col("n").as("n_odd"), col("c").as("c1")), Seq("label"))
      .withColumn("drift", graft.ops.Registry.rnd(
        lit(1.0) - dot("c0", "c1") / (sqrt(dot("c0", "c0")) * sqrt(dot("c1", "c1"))), 6))
      .select(col("label"), col("n_even"), col("n_odd"), col("drift"))
      .orderBy(col("label"))
  }

  private val centroidDriftSql =
    """WITH comp AS (
      |  SELECT label, vec_id % 2 AS half, i AS dim, CAST(embedding[i] AS DOUBLE) AS x
      |  FROM embeddings, unnest(range(1, len(embedding) + 1)) AS t(i)
      |), m AS (
      |  SELECT label, half, dim, CAST(count(*) AS BIGINT) AS n,
      |    CAST(round(CAST(CAST(sum(CAST(x AS DECIMAL(18,8))) AS DOUBLE) / count(*)
      |      AS DECIMAL(18,8)), 6) AS DOUBLE) AS mu
      |  FROM comp GROUP BY label, half, dim
      |), v AS (
      |  SELECT label, half, max(n) AS n, list(mu ORDER BY dim) AS c
      |  FROM m GROUP BY label, half
      |)
      |SELECT a.label, a.n AS n_even, b.n AS n_odd,
      |  CAST(round(CAST(1.0 - list_dot_product(a.c, b.c)
      |    / (sqrt(list_dot_product(a.c, a.c)) * sqrt(list_dot_product(b.c, b.c)))
      |    AS DECIMAL(18,8)), 6) AS DOUBLE) AS drift
      |FROM v a JOIN v b ON a.label = b.label AND a.half = 0 AND b.half = 1
      |ORDER BY a.label""".stripMargin

  // ---------------------------------------------------------------
  // Graph-refined ANN — one beam-search hop over the persisted k-NN
  // graph sidecar ([[KnnGraphStore]]): seed candidates are the query's
  // own IVF cell (nProbe=1, the cheap probe), the graph expands the
  // top-3 seeds' stored neighborhoods (≤ 24 ids — edges built at
  // nProbe=2 cross the Voronoi boundaries plain IVF misses), and an
  // exact cosine re-rank over seed ∪ expansion returns top-3. This is
  // the HNSW/NSG refinement idea in its batch form: recall recovered
  // not by probing more cells (multiprobe's linear cost in nProbe) but
  // by following edges from the best hits found so far.
  //
  // Scale shape: the corpus NEVER joins through a shuffle here — cell
  // members stream against the broadcast 8-query panel, the graph
  // sidecar streams against the broadcast seed ids, and the expansion
  // vector fetch streams the corpus against the broadcast ≤192-id
  // candidate list (PlanSpec pins: no SortMergeJoin/ShuffledHashJoin/
  // CartesianProduct). Per-query cost is one cell (N/|C| ≈ √N) plus a
  // CONSTANT 24-vector fetch, vs multiprobe's 2N/|C| — half the
  // candidate budget at equal-or-better recall (BASELINE.md records
  // the recall@3 table from tools.GraphRecall). The graph build itself
  // is the offline pre-paid index pass (see KnnGraphStore).
  private def graphTopk(spark: SparkSession, dir: String): DataFrame =
    graphBeam(spark, dir, hops = 1)

  // Multi-hop beam search (r14 verdict #6): the HNSW idea pays off over
  // 2–3 hops — hop h's frontier is the top-beamWidth of everything
  // ranked so far (seeds ∪ previous expansions), and its stored
  // neighborhoods join the candidate pool. A hub-and-spoke region one
  // edge away from the query's cell is unreachable in one hop but two
  // pointer chases away in the graph. Scale shape: corpus touches stay
  // CONSTANT per hop — each hop is one broadcast of a ≤beamWidth
  // frontier against the edge sidecar plus one broadcast ≤degree·
  // beamWidth id fetch against the corpus — so total cost is
  // hops·degree·beamWidth exact sims regardless of corpus size, where
  // multiprobe pays another √N-growing cell per extra probe.
  private def graphTopk2(spark: SparkSession, dir: String): DataFrame =
    graphBeam(spark, dir, hops = 2)

  private def graphBeam(spark: SparkSession, dir: String, hops: Int,
      width: Int = KnnGraphStore.beamWidth, topK: Int = 3,
      panelIds: Option[DataFrame] = None, seedProbe: Int = 1): DataFrame = {
    val e = Tables.table(spark, dir, "embeddings")
      .select(col("vec_id"), expr("transform(embedding, x -> cast(x AS double))").as("v"))
      .withColumn("nrm", sqrt(ndot(col("v"), col("v"))))
    val (ec, cbCol) = attachCodebook(spark, e, trainedCodebook(spark, dir))
    val assign = ec
      .withColumn("cid",
        graft.expressions.CellFunctions.nearestCell(col("v"), col("nrm"), cbCol))
      .select(col("vec_id"), col("cid"), col("v"), col("nrm"))
    // seed admission: the query's seedProbe nearest cells (1 = the
    // cheap production probe; 2 = multiprobe's admission, which the
    // hardened recall gate evaluates — the graph must BEAT multiprobe
    // at its own seed budget, not just refine the easy case)
    val probed = ec
      .withColumn("qcid", explode(graft.expressions.CellFunctions
        .nearestCells(col("v"), col("nrm"), cbCol, seedProbe)))
      .select(col("vec_id"), col("qcid"), col("v"), col("nrm"))
    // the panel materializes once (localCheckpoint): it feeds the seed
    // join's broadcast side AND every hop's re-rank — left lazy, each
    // consumer re-scans the corpus just to re-derive it
    val panelled = panelIds match {
      case Some(p) => probed.join(broadcast(p), probed("vec_id") === p("q_id"))
      case None    => probed.filter(col("vec_id") < 8)
    }
    val q = panelled
      .select(probed("vec_id").as("q_id"), col("qcid"),
        col("v").as("qv"), col("nrm").as("qn"))
      .localCheckpoint()
    // seed leg: the query's own cell, exact sims (sim_ivf_topk's
    // shape). Materialized once (panel × cell ≈ 8·N/|C| rows — KBs):
    // the beam window, the candidate union, and the expansion's
    // broadcast seed list all reuse it; lazy, the corpus-sized seed
    // join would run once per hop per consumer
    val seedPairs = assign
      .select(col("vec_id").as("n_id"), col("cid"), col("v").as("nv"), col("nrm").as("nn"))
      .join(broadcast(q), col("qcid") === col("cid") && col("q_id") =!= col("n_id"))
      .withColumn("sim",
        graft.ops.Registry.rnd(ndot(col("qv"), col("nv")) / (col("qn") * col("nn")), 4))
      .select(col("q_id"), col("n_id"), col("sim"))
      .localCheckpoint()
    val wQ = Window.partitionBy(col("q_id")).orderBy(col("sim").desc, col("n_id"))
    val graph = KnnGraphStore.loadOrBuild(spark, dir)
    // one row per query again (q carries seedProbe rows per query)
    val qv = q.select(col("q_id"), col("qv"), col("qn")).dropDuplicates("q_id")
    var cand = seedPairs
    var h = 0
    while (h < hops) {
      // frontier: top-beamWidth of everything ranked so far (a
      // frontier node seen in an earlier hop just re-derives the same
      // expansion rows — the candidate dedup makes the loop idempotent,
      // no visited-set state needed)
      val frontier = cand.withColumn("rk", row_number().over(wQ))
        .filter(col("rk") <= width)
        .select(col("q_id"), col("n_id").as("seed_id"))
      // stored neighborhoods of the frontier — the graph sidecar
      // streams, the ≤beamWidth·panel frontier broadcasts
      val expansion = graph
        .join(broadcast(frontier), col("src_id") === col("seed_id"))
        .select(col("q_id"), col("dst_id").as("n_id")).distinct()
      // exact sims for the expansion: fetch its vectors map-side
      // (broadcast id list), recompute the identical 4-dp sim
      val expPairs = e
        .select(col("vec_id").as("n_id"), col("v").as("nv"), col("nrm").as("nn"))
        .join(broadcast(expansion), Seq("n_id"))
        .join(broadcast(qv), Seq("q_id"))
        .filter(col("q_id") =!= col("n_id"))
        .withColumn("sim",
          graft.ops.Registry.rnd(ndot(col("qv"), col("nv")) / (col("qn") * col("nn")), 4))
        .select(col("q_id"), col("n_id"), col("sim"))
      cand = cand.unionByName(expPairs).dropDuplicates("q_id", "n_id")
      h += 1
      // pin the pool between hops (≤ panel·(cell + h·degree·beamWidth)
      // rows — KBs) so hop h+1's frontier window doesn't replay hop h;
      // the final pool ranks lazily. r19 A/B (verdict #4, 6 healthy
      // bench passes each over topk/topk2/recall_hard2): dropping the
      // pin regressed topk2 1.10->1.47 s (the pool is genuinely
      // multi-consumed: frontier window + next union); a lazy
      // localCheckpoint(false) variant saved the eager job but measured
      // no better (totals 3.50 vs eager 3.26) — the eager pin stays.
      if (h < hops) cand = cand.localCheckpoint()
    }
    cand.withColumn("rank", row_number().over(wQ))
      .filter(col("rank") <= topK)
      .select(col("q_id"), col("rank"), col("n_id"), col("sim"))
      .orderBy(col("q_id"), col("rank"))
  }

  // The oracle re-derives the graph from the inlined codebook literals
  // (build determinism is the sidecar's contract — 4-dp sims, dst-id
  // tiebreaks), then replays the same seed/expansion/re-rank hops,
  // unrolled. The CTE body is shared with the recall evals' oracles.
  private def graphTopkSql =
    s"""WITH ${graphBeamCtes(1)}
      |SELECT q_id, rank, n_id, sim FROM ranked WHERE rank <= 3
      |ORDER BY q_id, rank""".stripMargin

  private def graphTopk2Sql =
    s"""WITH ${graphBeamCtes(2)}
      |SELECT q_id, rank, n_id, sim FROM ranked WHERE rank <= 3
      |ORDER BY q_id, rank""".stripMargin

  /** The default oracle panel: the 8 smallest vec_ids. The hardened
    * recall evals swap in the reciprocity-stratified panel
    * ([[hardPanelCtes]]) instead. */
  private val defaultPanelCte =
    """q AS MATERIALIZED (
      |  SELECT vec_id AS q_id, cid AS qcid, v AS qv, nrm AS qn
      |  FROM assign WHERE vec_id < 8
      |)""".stripMargin

  /** The sidecar-equivalent graph derivation (corpus → cells → home
    * assignment → nProbe=2 top-degree edges) as DuckDB CTEs — the
    * shared front of every graph-query oracle (beam search, PageRank
    * centrality). Ends at `graph(src_id, dst_id)` + `assign`. */
  private def graphCoreCtes: String =
    s"""e AS MATERIALIZED (
      |  SELECT vec_id, embedding::DOUBLE[] AS v,
      |    sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS nrm
      |  FROM embeddings
      |), c AS (
      |  $codebookSql
      |), cells AS MATERIALIZED (
      |  SELECT e.vec_id, c.cid, e.v, e.nrm,
      |    row_number() OVER (PARTITION BY e.vec_id ORDER BY
      |      CAST(round(CAST(list_dot_product(e.v, c.cv) / (e.nrm * c.cn) AS DECIMAL(18,8)), 4) AS DOUBLE) DESC,
      |      c.cid) AS rn
      |  FROM e CROSS JOIN c
      |), assign AS MATERIALIZED (
      |  SELECT vec_id, cid, v, nrm FROM cells WHERE rn = 1
      |), graph AS MATERIALIZED (
      |  SELECT src_id, dst_id FROM (
      |    SELECT p.vec_id AS src_id, a.vec_id AS dst_id,
      |      row_number() OVER (PARTITION BY p.vec_id ORDER BY
      |        CAST(round(CAST(list_dot_product(p.v, a.v) / (p.nrm * a.nrm) AS DECIMAL(18,8)), 4) AS DOUBLE) DESC,
      |        a.vec_id) AS rank
      |    FROM (SELECT * FROM cells WHERE rn <= 2) p
      |    JOIN assign a ON a.cid = p.cid AND a.vec_id <> p.vec_id
      |  ) WHERE rank <= ${KnnGraphStore.degree}
      |)""".stripMargin

  private def graphBeamCtes(hops: Int,
      width: Int = KnnGraphStore.beamWidth,
      panelCtes: String = defaultPanelCte): String = {
    val base =
      s"""$graphCoreCtes, $panelCtes, seedpairs AS MATERIALIZED (
      |  SELECT q.q_id, a.vec_id AS n_id,
      |    CAST(round(CAST(list_dot_product(q.qv, a.v) / (q.qn * a.nrm) AS DECIMAL(18,8)), 4) AS DOUBLE) AS sim
      |  FROM assign a JOIN q ON a.cid = q.qcid AND q.q_id <> a.vec_id
      |), cand0 AS MATERIALIZED (
      |  SELECT DISTINCT q_id, n_id, sim FROM seedpairs
      |)""".stripMargin
    val hopCtes = (1 to hops).map { hh =>
      s""", beam$hh AS MATERIALIZED (
      |  SELECT q_id, n_id AS seed_id FROM (
      |    SELECT q_id, n_id,
      |      row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, n_id) AS rk
      |    FROM cand${hh - 1}
      |  ) WHERE rk <= $width
      |), expp$hh AS (
      |  SELECT DISTINCT b.q_id, g.dst_id AS n_id,
      |    CAST(round(CAST(list_dot_product(q.qv, e.v) / (q.qn * e.nrm) AS DECIMAL(18,8)), 4) AS DOUBLE) AS sim
      |  FROM beam$hh b JOIN graph g ON g.src_id = b.seed_id
      |  JOIN e ON e.vec_id = g.dst_id
      |  JOIN q ON q.q_id = b.q_id
      |  WHERE g.dst_id <> b.q_id
      |), cand$hh AS MATERIALIZED (
      |  SELECT DISTINCT q_id, n_id, sim FROM (
      |    SELECT * FROM cand${hh - 1} UNION ALL SELECT * FROM expp$hh
      |  )
      |)""".stripMargin
    }.mkString
    val ranked =
      s""", ranked AS (
      |  SELECT q_id, n_id, sim,
      |    row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, n_id) AS rank
      |  FROM cand$hops
      |)""".stripMargin
    base + hopCtes + ranked
  }

  // ---------------------------------------------------------------
  // Graph-beam recall eval — sim_recall_eval's discipline applied to
  // the graph-refined index: recall@3 of the beam search vs exact
  // cosine top-3, hash-gated every round, so a graph-build or
  // beam-width regression flips a correctness row instead of waiting
  // for a human to re-run tools.GraphRecall. Ground truth is the one
  // broadcast-panel exact pass; the beam leg is sim_graph_topk's own
  // dataflow (sidecar graph + constant expansion).
  private def recallGraph(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.table(spark, dir, "embeddings")
      .select(col("vec_id"), expr("transform(embedding, x -> cast(x AS double))").as("v"))
      .withColumn("nrm", sqrt(ndot(col("v"), col("v"))))
    val q = e.filter(col("vec_id") < 8)
      .select(col("vec_id").as("q_id"), col("v").as("qv"), col("nrm").as("qn"))
    val wE = Window.partitionBy(col("q_id")).orderBy(col("sim").desc, col("n_id"))
    val exact = e.select(col("vec_id").as("n_id"), col("v").as("nv"), col("nrm").as("nn"))
      .join(broadcast(q), col("q_id") =!= col("n_id"))
      .withColumn("sim",
        graft.ops.Registry.rnd(ndot(col("qv"), col("nv")) / (col("qn") * col("nn")), 4))
      .withColumn("rank", row_number().over(wE)).filter(col("rank") <= 3)
      .select(col("q_id"), col("n_id"))
    // got is panel-bounded (<= panel x topK rows) — broadcast it; left
    // lazy the eval planned a SortMergeJoin over two derived frames
    // with no statistics (guide §3.1)
    val got = graphTopk(spark, dir).select(col("q_id"), col("n_id"), lit(1).as("hit"))
    exact.join(broadcast(got), Seq("q_id", "n_id"), "left")
      .groupBy(col("q_id")).agg(count(col("hit")).as("n_hit"))
      .withColumn("recall", graft.ops.Registry.rnd(col("n_hit") / lit(3.0), 4))
      .select(col("q_id"), col("n_hit"), col("recall"))
      .orderBy(col("q_id"))
  }

  private def recallGraphSql =
    s"""WITH ${graphBeamCtes(1)}, gt AS (
      |  SELECT q_id, n_id FROM ranked WHERE rank <= 3
      |), exact AS (
      |  SELECT q_id, n_id FROM (
      |    SELECT a.vec_id AS q_id, b.vec_id AS n_id,
      |      row_number() OVER (PARTITION BY a.vec_id ORDER BY
      |        CAST(round(CAST(list_dot_product(a.v, b.v) / (a.nrm * b.nrm) AS DECIMAL(18,8)), 4) AS DOUBLE) DESC,
      |        b.vec_id) AS rank
      |    FROM e a JOIN e b ON a.vec_id < 8 AND b.vec_id <> a.vec_id
      |  ) WHERE rank <= 3
      |)
      |SELECT ex.q_id, count(g.n_id) AS n_hit,
      |  CAST(round(CAST(count(g.n_id) / 3.0 AS DECIMAL(18,8)), 4) AS DOUBLE) AS recall
      |FROM exact ex LEFT JOIN gt g ON g.q_id = ex.q_id AND g.n_id = ex.n_id
      |GROUP BY ex.q_id
      |ORDER BY ex.q_id""".stripMargin

  // ---------------------------------------------------------------
  // HARDENED recall eval (r14 verdict #2): sim_recall_graph's easy
  // 8-query panel pinned at 1.0 could not catch a one-edge regression
  // — and round 15 found WHY it read 1.0: a stale graph sidecar keyed
  // on the count-only fingerprint was silently serving edges built
  // under an older codebook (the exact collision CorpusStamp closes);
  // freshly-derived, even the easy panel reads 22/24. This panel is
  // stratified by construction: 32 queries STRIDED across the edge-
  // reciprocity ordering (one per ~N/32 percentile band), so the
  // hub-and-spoke regions sim_graph_reach identifies — where a hub's
  // spokes point at it while its own edges point elsewhere — are
  // represented alongside the typical mass. The eval is recall@10 of
  // the production beam dataflow.
  //
  // Two budget-matched variants:
  //  - sim_recall_hard:  1 hop, width 8 → ≤ 64 expansion fetches
  //  - sim_recall_hard2: 2 hops, width 4 → ≤ 2·32 expansion fetches
  // same candidate budget, so the pair measures what the EXTRA HOP
  // buys (pointer-chasing reach) rather than what more candidates buy.
  //
  // Honest calibration note (BASELINE.md round 15 records the full
  // recall-vs-budget surface): the fixture embeddings are ISOTROPIC —
  // measured same-label mean cosine 1.8e-5 vs 1.3e-5 cross-label,
  // top-3 same-label fraction 9.3% ≈ the 10% chance floor — so exact
  // nearest neighbors are noise-dominated and NO sublinear index
  // clears 0.85 recall here (recall tracks the scanned fraction:
  // 8-of-45 cells ≈ 18% scan bought 0.53). The gate's value is
  // therefore low-and-sensitive rather than high-with-headroom; what
  // it pins is that the index's measured recall surface never moves
  // without a hash change.
  //
  // Scale shape: reciprocity is one self-join + agg over the N·degree
  // EDGE table (never the corpus); the panel is a 32-row strided
  // sample of that ordering; ground truth is one corpus pass against
  // the broadcast panel; the beam legs are sim_graph_topk's own
  // constant-cost dataflow.
  /** Reciprocity-ascending rank of every graph source — the hardness
    * ordering (low reciprocity = hub-and-spoke region where beam search
    * loses recall). The global window runs over ONE tiny (src, recip)
    * row per corpus vector — at 100 TB this is the N-row eval-panel
    * derivation, not a data-path operator. */
  private def recipRanked(spark: SparkSession, dir: String): DataFrame = {
    val g = KnnGraphStore.loadOrBuild(spark, dir)
    val fwd = g.select(col("src_id"), col("dst_id"))
    val rev = g.select(col("src_id").as("r_dst"), col("dst_id").as("r_src"))
    fwd.join(rev,
        col("src_id") === col("r_src") && col("dst_id") === col("r_dst"), "left")
      .groupBy(col("src_id"))
      .agg((sum(when(col("r_src").isNotNull, 1.0d).otherwise(0.0d))
        / count(lit(1))).as("recip"))
      .withColumn("rn", row_number().over(
        Window.orderBy(col("recip").asc, col("src_id").asc)))
  }

  /** The production hard panel: 32 queries STRIDED across the full
    * reciprocity ordering (one per ~N/32 percentile band), so the
    * hardest hubs (rn=1) and the typical mass are both represented.
    * The stride self-derives from the corpus size, so the same SQL
    * twin holds at every SF. */
  private[graft] def hardPanel(spark: SparkSession, dir: String): DataFrame =
    recipRanked(spark, dir)
      .withColumn("total", count(lit(1)).over(Window.partitionBy()))
      .filter((col("rn") - 1)
        % greatest(lit(1L), floor(col("total") / lit(32.0)).cast("long")) === 0)
      .orderBy(col("rn")).limit(32)
      .select(col("src_id").as("q_id"))

  /** Probe hook: a contiguous slice of the hardness ordering. */
  private[graft] def hardPanelSlice(spark: SparkSession, dir: String,
      skip: Int, take: Int, stride: Int = 1): DataFrame =
    recipRanked(spark, dir)
      .filter(col("rn") > skip && (col("rn") - lit(skip) - 1) % lit(stride) === 0)
      .orderBy(col("rn")).limit(take)
      .select(col("src_id").as("q_id"))

  private[graft] def recallHardOf(spark: SparkSession, dir: String,
      hops: Int, width: Int, k: Int = 10, seedProbe: Int = 1,
      panelOverride: Option[DataFrame] = None): DataFrame = {
    val panel = panelOverride.getOrElse(hardPanel(spark, dir)).localCheckpoint()
    val e = Tables.table(spark, dir, "embeddings")
      .select(col("vec_id"), expr("transform(embedding, x -> cast(x AS double))").as("v"))
      .withColumn("nrm", sqrt(ndot(col("v"), col("v"))))
    val qv = e.join(broadcast(panel), e("vec_id") === panel("q_id"))
      .select(col("q_id"), col("v").as("qv"), col("nrm").as("qn"))
    val wE = Window.partitionBy(col("q_id")).orderBy(col("sim").desc, col("n_id"))
    val exact = e.select(col("vec_id").as("n_id"), col("v").as("nv"), col("nrm").as("nn"))
      .join(broadcast(qv), col("q_id") =!= col("n_id"))
      .withColumn("sim",
        graft.ops.Registry.rnd(ndot(col("qv"), col("nv")) / (col("qn") * col("nn")), 4))
      .withColumn("rank", row_number().over(wE)).filter(col("rank") <= k)
      .select(col("q_id"), col("n_id"))
    val got = graphBeam(spark, dir, hops, width, topK = k,
      panelIds = Some(panel), seedProbe = seedProbe)
      .select(col("q_id"), col("n_id"), lit(1).as("hit"))
    // panel-bounded beam output — broadcast (was SMJ; guide §3.1)
    exact.join(broadcast(got), Seq("q_id", "n_id"), "left")
      .groupBy(col("q_id")).agg(count(col("hit")).as("n_hit"))
      .withColumn("recall", graft.ops.Registry.rnd(col("n_hit") / lit(k.toDouble), 4))
      .select(col("q_id"), col("n_hit"), col("recall"))
      .orderBy(col("q_id"))
  }

  private def recallHard(spark: SparkSession, dir: String): DataFrame =
    recallHardOf(spark, dir, hops = 1, width = 8)

  private def recallHard2(spark: SparkSession, dir: String): DataFrame =
    recallHardOf(spark, dir, hops = 2, width = 4)

  /** The reciprocity-stratified panel + its `q` CTE (replaces the
    * default vec_id<8 panel inside [[graphBeamCtes]]). */
  private val hardPanelCtes =
    """recipr AS MATERIALIZED (
      |  SELECT f.src_id,
      |    CAST(sum(CASE WHEN r.src_id IS NOT NULL THEN 1.0 ELSE 0.0 END) AS DOUBLE)
      |      / count(*) AS recip
      |  FROM graph f LEFT JOIN graph r
      |    ON r.src_id = f.dst_id AND r.dst_id = f.src_id
      |  GROUP BY f.src_id
      |), panel AS MATERIALIZED (
      |  SELECT src_id AS q_id FROM (
      |    SELECT src_id, row_number() OVER (ORDER BY recip ASC, src_id ASC) AS rn,
      |      count(*) OVER () AS total
      |    FROM recipr
      |  ) WHERE (rn - 1) % greatest(1, CAST(floor(total / 32.0) AS BIGINT)) = 0
      |  ORDER BY rn LIMIT 32
      |), q AS MATERIALIZED (
      |  SELECT a.vec_id AS q_id, a.cid AS qcid, a.v AS qv, a.nrm AS qn
      |  FROM assign a JOIN panel p ON p.q_id = a.vec_id
      |)""".stripMargin

  private def recallHardSqlOf(hops: Int, width: Int) =
    s"""WITH ${graphBeamCtes(hops, width, hardPanelCtes)}, gt AS (
      |  SELECT q_id, n_id FROM ranked WHERE rank <= 10
      |), exact AS (
      |  SELECT q_id, n_id FROM (
      |    SELECT q.q_id, b.vec_id AS n_id,
      |      row_number() OVER (PARTITION BY q.q_id ORDER BY
      |        CAST(round(CAST(list_dot_product(q.qv, b.v) / (q.qn * b.nrm) AS DECIMAL(18,8)), 4) AS DOUBLE) DESC,
      |        b.vec_id) AS rank
      |    FROM q JOIN e b ON b.vec_id <> q.q_id
      |  ) WHERE rank <= 10
      |)
      |SELECT ex.q_id, count(g.n_id) AS n_hit,
      |  CAST(round(CAST(count(g.n_id) / 10.0 AS DECIMAL(18,8)), 4) AS DOUBLE) AS recall
      |FROM exact ex LEFT JOIN gt g ON g.q_id = ex.q_id AND g.n_id = ex.n_id
      |GROUP BY ex.q_id
      |ORDER BY ex.q_id""".stripMargin

  private def recallHardSql = recallHardSqlOf(1, 8)
  private def recallHard2Sql = recallHardSqlOf(2, 4)

  // ---------------------------------------------------------------
  // k-NN graph health audit — the acceptance metrics an ANN index
  // ships with, over the persisted edge sidecar: per edge rank, the
  // edge count, the mean similarity (how fast neighborhood quality
  // decays with rank), and reciprocity (fraction of rank-r edges whose
  // reverse edge exists at ANY rank — low reciprocity marks hub-and-
  // spoke regions where beam search loses recall; HNSW's neighbor
  // selection heuristics exist precisely to manage this). Scale shape:
  // every operator here touches the EDGE TABLE (N·degree rows), never
  // the corpus — one self-join keyed on the edge pair and one rank
  // aggregation.
  private def graphReach(spark: SparkSession, dir: String): DataFrame = {
    val g = KnnGraphStore.loadOrBuild(spark, dir)
    val fwd = g.select(col("src_id"), col("rank"), col("dst_id"), col("sim"))
    val rev = g.select(col("src_id").as("r_dst"), col("dst_id").as("r_src"))
    fwd.join(rev,
        col("src_id") === col("r_src") && col("dst_id") === col("r_dst"), "left")
      .groupBy(col("rank"))
      .agg(
        count(lit(1)).as("n_edges"),
        graft.ops.Registry.rnd(
          sum(round(col("sim").cast("decimal(18,8)"), 6)).cast("double") / count(lit(1)), 6)
          .as("mean_sim"),
        graft.ops.Registry.rnd(
          sum(when(col("r_src").isNotNull, 1.0d).otherwise(0.0d)).cast("double")
            / count(lit(1)), 6).as("reciprocity"))
      .select(col("rank"), col("n_edges"), col("mean_sim"), col("reciprocity"))
      .orderBy(col("rank"))
  }

  private def graphReachSql =
    s"""WITH e AS MATERIALIZED (
      |  SELECT vec_id, embedding::DOUBLE[] AS v,
      |    sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS nrm
      |  FROM embeddings
      |), c AS (
      |  $codebookSql
      |), cells AS MATERIALIZED (
      |  SELECT e.vec_id, c.cid, e.v, e.nrm,
      |    row_number() OVER (PARTITION BY e.vec_id ORDER BY
      |      CAST(round(CAST(list_dot_product(e.v, c.cv) / (e.nrm * c.cn) AS DECIMAL(18,8)), 4) AS DOUBLE) DESC,
      |      c.cid) AS rn
      |  FROM e CROSS JOIN c
      |), assign AS MATERIALIZED (
      |  SELECT vec_id, cid, v, nrm FROM cells WHERE rn = 1
      |), graph AS MATERIALIZED (
      |  SELECT src_id, rank, dst_id, sim FROM (
      |    SELECT p.vec_id AS src_id, a.vec_id AS dst_id,
      |      CAST(round(CAST(list_dot_product(p.v, a.v) / (p.nrm * a.nrm) AS DECIMAL(18,8)), 4) AS DOUBLE) AS sim,
      |      row_number() OVER (PARTITION BY p.vec_id ORDER BY
      |        CAST(round(CAST(list_dot_product(p.v, a.v) / (p.nrm * a.nrm) AS DECIMAL(18,8)), 4) AS DOUBLE) DESC,
      |        a.vec_id) AS rank
      |    FROM (SELECT * FROM cells WHERE rn <= 2) p
      |    JOIN assign a ON a.cid = p.cid AND a.vec_id <> p.vec_id
      |  ) WHERE rank <= ${KnnGraphStore.degree}
      |)
      |SELECT f.rank, CAST(count(*) AS BIGINT) AS n_edges,
      |  CAST(round(CAST(CAST(sum(round(CAST(f.sim AS DECIMAL(18,8)), 6)) AS DOUBLE) / count(*) AS DECIMAL(18,8)), 6) AS DOUBLE) AS mean_sim,
      |  CAST(round(CAST(CAST(sum(CASE WHEN r.src_id IS NOT NULL THEN 1.0 ELSE 0.0 END) AS DOUBLE) / count(*) AS DECIMAL(18,8)), 6) AS DOUBLE) AS reciprocity
      |FROM graph f LEFT JOIN graph r ON r.src_id = f.dst_id AND r.dst_id = f.src_id
      |GROUP BY f.rank
      |ORDER BY f.rank""".stripMargin

  // ---------------------------------------------------------------
  // Cluster-aware curation mix — the cross-modal operator joining the
  // IVF cell structure (over embeddings) with the documents it indexes
  // (vec_id ≡ doc_id, TESTDATA's contract): per cell, how many docs,
  // how many distinct sources, their mean length, and the modal
  // source's share. A cell dominated by one source (share → 1) is the
  // curation signal for near-dup-heavy or single-crawl clusters that a
  // mix rebalancer down-weights; k-means-cluster-level source audits
  // are standard curation practice. Scale shape: the assignment is the
  // zero-exchange NearestCell projection, the documents side joins on
  // doc_id map-side only at bench scale — at 100 TB BOTH sides
  // pre-shuffle once on the shared id, then (cid, source) → cid are
  // two map-side-combinable aggregations; nothing quadratic, nothing
  // driver-side.
  private def clusterMix(spark: SparkSession, dir: String): DataFrame = {
    val assign = ivfAssignment(spark, dir).select(col("vec_id"), col("cid"))
    val docs = Tables.table(spark, dir, "documents")
      .select(col("doc_id"), col("source"), col("n_chars"))
    val perSource = assign.join(docs, col("vec_id") === col("doc_id"))
      .groupBy(col("cid"), col("source"))
      .agg(count(lit(1)).as("n"), sum(col("n_chars")).as("chars"))
    perSource.groupBy(col("cid"))
      .agg(
        sum(col("n")).as("n_docs"),
        count(lit(1)).as("n_sources"),
        graft.ops.Registry.rnd(
          sum(col("chars")).cast("double") / sum(col("n")), 2).as("mean_chars"),
        graft.ops.Registry.rnd(
          max(col("n")).cast("double") / sum(col("n")), 6).as("top_source_share"))
      .select(col("cid"), col("n_docs"), col("n_sources"),
        col("mean_chars"), col("top_source_share"))
      .orderBy(col("cid"))
  }

  private def clusterMixSql =
    s"""WITH e AS (
      |  SELECT vec_id, embedding::DOUBLE[] AS v,
      |    sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS nrm
      |  FROM embeddings
      |), c AS (
      |  $codebookSql
      |), assign AS (
      |  SELECT vec_id, cid FROM (
      |    SELECT e.vec_id, c.cid,
      |      row_number() OVER (PARTITION BY e.vec_id ORDER BY
      |        CAST(round(CAST(list_dot_product(e.v, c.cv) / (e.nrm * c.cn) AS DECIMAL(18,8)), 4) AS DOUBLE) DESC,
      |        c.cid) AS rn
      |    FROM e CROSS JOIN c
      |  ) WHERE rn = 1
      |), per_source AS (
      |  SELECT a.cid, d.source, count(*) AS n, sum(d.n_chars) AS chars
      |  FROM assign a JOIN documents d ON a.vec_id = d.doc_id
      |  GROUP BY a.cid, d.source
      |)
      |SELECT cid, CAST(sum(n) AS BIGINT) AS n_docs,
      |  CAST(count(*) AS BIGINT) AS n_sources,
      |  CAST(round(CAST(CAST(sum(chars) AS DOUBLE) / sum(n) AS DECIMAL(18,8)), 2) AS DOUBLE) AS mean_chars,
      |  CAST(round(CAST(CAST(max(n) AS DOUBLE) / sum(n) AS DECIMAL(18,8)), 6) AS DOUBLE) AS top_source_share
      |FROM per_source
      |GROUP BY cid
      |ORDER BY cid""".stripMargin

  // ---------------------------------------------------------------
  // Per-dimension embedding health audit: mean / variance / min / max
  // for each of the 64 dimensions, plus a dead-dimension flag
  // (variance below 1e-4 — a collapsed or constant dimension, the
  // classic symptom of a mis-trained or truncated encoder). This is
  // the first table anyone looks at before trusting an embedding
  // column at scale.
  //
  // Scale shape: posexplode fans N rows to N·d NARROW rows (no
  // shuffle), then ONE d-key aggregation — map-side partials reduce
  // every task to at most d=64 rows before the exchange, so the wire
  // carries O(tasks · d) regardless of corpus size; output is O(d).
  // Determinism: per-element snap to DECIMAL(18,8) before summing
  // (exact, order-free), sums rounded to scale 4 before the decimal→
  // double conversion so both engines convert ≤12-significant-digit
  // values (exactly representable — no last-ulp divergence), all
  // derived doubles then computed from identical inputs and rnd-
  // snapped.
  private def dimStats(spark: SparkSession, dir: String): DataFrame = {
    val x = Tables.table(spark, dir, "embeddings")
      .select(posexplode(col("embedding")).as(Seq("dim", "xf")))
      .select(col("dim"),
        col("xf").cast("double").cast("decimal(18,8)").as("d"))
    val agg = x.groupBy(col("dim")).agg(
      count(lit(1)).as("n"),
      round(sum(col("d")), 4).cast("double").as("sx"),
      // d*d must be a DOUBLE multiply (decimal→double per factor first):
      // a decimal×decimal exact product snapped to 8 dp can differ from
      // the oracle's double product by one 8th-dp ulp per element, and
      // 20k such ulps are enough to move the 4-dp sum across a rounding
      // boundary (seen at sf1, dim 62).
      round(sum((col("d").cast("double") * col("d").cast("double"))
        .cast("decimal(18,8)")), 4)
        .cast("double").as("sxx"),
      min(col("d")).cast("double").as("min_x"),
      max(col("d")).cast("double").as("max_x"))
    // Derived ratios snap at DECIMAL scale 12, NOT the usual 8: sx4/n
    // is an exact ≤9-dp rational (4-dp sum over n = 2·10^k rows), so an
    // 8-dp snap can land EXACTLY on a rounding tie (seen at sf1 dim 62:
    // sxx/n = 0.015671495), where the two engines' double→decimal casts
    // resolve the borderline double differently. At scale 12 the exact
    // rational is representable, the nearest double sits ~1e-17 from it
    // (never near a midpoint), and both casts agree unconditionally.
    // Variance uses the PUBLISHED 6-dp mean so its exact value stays
    // ≤12 dp too (9-dp sxx/n minus a 12-dp mean²).
    def snap12(c: org.apache.spark.sql.Column, s: Int): org.apache.spark.sql.Column =
      round(c.cast("decimal(38,12)"), s).cast("double")
    agg
      .withColumn("mean_x", snap12(col("sx") / col("n"), 6))
      .withColumn("var_raw",
        col("sxx") / col("n") - col("mean_x") * col("mean_x"))
      .select(
        col("dim"), col("n"), col("mean_x"),
        snap12(col("var_raw"), 6).as("var_x"),
        col("min_x"), col("max_x"),
        (snap12(col("var_raw"), 6) < 0.0001).as("is_dead"))
      .orderBy(col("dim"))
  }

  private val dimStatsSql =
    """WITH x AS (
      |  SELECT generate_subscripts(embedding, 1) - 1 AS dim,
      |    CAST(unnest(embedding::DOUBLE[]) AS DECIMAL(18,8)) AS d
      |  FROM embeddings
      |), agg AS (
      |  SELECT dim, count(*) AS n,
      |    CAST(round(sum(d), 4) AS DOUBLE) AS sx,
      |    CAST(round(sum(CAST(CAST(d AS DOUBLE) * CAST(d AS DOUBLE) AS DECIMAL(18,8))), 4) AS DOUBLE) AS sxx,
      |    CAST(min(d) AS DOUBLE) AS min_x,
      |    CAST(max(d) AS DOUBLE) AS max_x
      |  FROM x GROUP BY dim
      |)
      |, m AS (
      |  SELECT *, CAST(round(CAST(sx / n AS DECIMAL(38,12)), 6) AS DOUBLE) AS mean_x
      |  FROM agg
      |)
      |SELECT dim, n, mean_x,
      |  CAST(round(CAST(sxx / n - mean_x * mean_x AS DECIMAL(38,12)), 6) AS DOUBLE) AS var_x,
      |  min_x, max_x,
      |  CAST(round(CAST(sxx / n - mean_x * mean_x AS DECIMAL(38,12)), 6) AS DOUBLE) < 0.0001 AS is_dead
      |FROM m ORDER BY dim""".stripMargin

  // ---------------------------------------------------------------
  // Corpus anisotropy (Ethayarajh 2019): the expected cosine between
  // two random corpus vectors, computed EXACTLY in one pass via
  //   E[cos] = (||Σ u||² − N) / (N(N−1)),   u = x/||x||
  // — the pairwise mean collapses algebraically to the squared norm
  // of the unit-vector resultant, so the O(N²) pair set is never
  // formed. Near-0 means the embedding space is isotropic (healthy);
  // values ≫0 mean vectors crowd a narrow cone and cosine thresholds
  // lose contrast — the audit that explains a near-dup or ANN recall
  // regression before anyone re-tunes the index.
  //
  // Scale shape: one corpus pass to d per-dim unit sums (same
  // map-side-partial exchange as [[dimStats]]) plus one 1-row norm
  // aggregate; everything after is a d-row reduction. Determinism:
  // u_d snapped to DECIMAL(18,12) per element (exact order-free
  // sums), the per-dim resultant snapped to scale 6 before the
  // double conversion, squared terms re-snapped before the final
  // 64-term sum.
  private def anisotropy(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.table(spark, dir, "embeddings")
      .select(expr("transform(embedding, x -> cast(x AS double))").as("v"))
      .withColumn("nrm", sqrt(graft.expressions.VectorFunctions.dot(col("v"), col("v"))))
    val sums = e
      .select(posexplode(expr("transform(v, x -> cast(x / nrm AS decimal(18,12)))"))
        .as(Seq("dim", "ud")))
      .groupBy(col("dim"))
      .agg(round(sum(col("ud")), 6).cast("double").as("sd"))
      .agg(round(sum((col("sd") * col("sd")).cast("decimal(28,10)")), 6)
        .cast("double").as("ss"))
    val norms = e.agg(
      count(lit(1)).as("n"),
      round(sum(col("nrm").cast("decimal(18,8)")), 4).cast("double").as("snrm"))
      .select(col("n"),
        graft.ops.Registry.rnd(col("snrm") / col("n"), 6).as("mean_norm"))
    norms.crossJoin(sums)
      .select(col("n"), col("mean_norm"),
        graft.ops.Registry.rnd(
          (col("ss") - col("n")) / (col("n") * (col("n") - lit(1))), 8)
          .as("anisotropy"))
  }

  private val anisotropySql =
    """WITH e AS (
      |  SELECT embedding::DOUBLE[] AS v,
      |    sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS nrm
      |  FROM embeddings
      |), u AS (
      |  SELECT generate_subscripts(v, 1) - 1 AS dim,
      |    CAST(unnest(v) / nrm AS DECIMAL(18,12)) AS ud
      |  FROM e
      |), s AS (
      |  SELECT dim, CAST(round(sum(ud), 6) AS DOUBLE) AS sd FROM u GROUP BY dim
      |), ss AS (
      |  SELECT CAST(round(sum(CAST(sd * sd AS DECIMAL(28,10))), 6) AS DOUBLE) AS ss FROM s
      |), norms AS (
      |  SELECT n,
      |    CAST(round(CAST(snrm / n AS DECIMAL(18,8)), 6) AS DOUBLE) AS mean_norm
      |  FROM (
      |    SELECT count(*) AS n,
      |      CAST(round(sum(CAST(nrm AS DECIMAL(18,8))), 4) AS DOUBLE) AS snrm
      |    FROM e
      |  )
      |)
      |SELECT n, mean_norm,
      |  CAST(round(CAST((ss - n) / (n * (n - 1.0)) AS DECIMAL(18,8)), 8) AS DOUBLE) AS anisotropy
      |FROM norms CROSS JOIN ss""".stripMargin

  // ---------------------------------------------------------------
  // SEMANTIC decontamination — the third leg of the decontamination
  // family (exact n-gram: pipeline_decontaminate; sketched:
  // pipeline_decontaminate_bloom): paraphrased eval leakage that no
  // n-gram overlap catches shows up as high EMBEDDING similarity, so
  // the gate is "corpus docs whose cosine to any eval item crosses τ".
  // The report is what a contamination review actually reads: each
  // eval item's top-3 nearest corpus docs with similarity, source and
  // language attribution, and the τ = 0.9 flag. The eval panel is the
  // 8-smallest-vec_id stand-in, EXCLUDED from the corpus side (a real
  // eval set is external to the training corpus by construction).
  //
  // Scale shape: the production IVF discipline — the panel broadcasts
  // with its nProbe=2 probe cells, the corpus streams map-side through
  // the zero-exchange NearestCell assignment, candidates are
  // cell-bounded (never panel × corpus), the per-eval top-3 is a
  // WindowGroupLimit over candidate rows, and the documents table
  // joins against the ≤ panel·3 flagged rows BROADCAST — at 100 TB the
  // attribution join moves 24 rows, not the corpus.
  private def decontaminateSemantic(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.table(spark, dir, "embeddings")
      .select(col("vec_id"), expr("transform(embedding, x -> cast(x AS double))").as("v"))
      .withColumn("nrm", sqrt(ndot(col("v"), col("v"))))
    val (ec, cbCol) = attachCodebook(spark, e, trainedCodebook(spark, dir))
    val corpus = ec.filter(col("vec_id") >= 8)
      .withColumn("cid",
        graft.expressions.CellFunctions.nearestCell(col("v"), col("nrm"), cbCol))
      .select(col("vec_id").as("n_id"), col("cid"), col("v").as("nv"), col("nrm").as("nn"))
    val panel = ec.filter(col("vec_id") < 8)
      .withColumn("probe", explode(
        graft.expressions.CellFunctions.nearestCells(col("v"), col("nrm"), cbCol, 2)))
      .select(col("vec_id").as("q_id"), col("probe"), col("v").as("qv"), col("nrm").as("qn"))
    val w = Window.partitionBy(col("q_id")).orderBy(col("sim").desc, col("n_id"))
    val top = corpus
      .join(broadcast(panel), col("probe") === col("cid"))
      .withColumn("sim",
        graft.ops.Registry.rnd(ndot(col("qv"), col("nv")) / (col("qn") * col("nn")), 4))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 3)
      .select(col("q_id"), col("rank"), col("n_id"), col("sim"))
    val docs = Tables.table(spark, dir, "documents")
      .select(col("doc_id"), col("source"), col("lang"))
    docs.join(broadcast(top), col("doc_id") === col("n_id"))
      .select(col("q_id"), col("rank"), col("n_id").as("doc_id"), col("sim"),
        col("source"), col("lang"), (col("sim") >= 0.9).as("flagged"))
      .orderBy(col("q_id"), col("rank"))
  }

  private def decontaminateSemanticSql =
    s"""WITH e AS (
      |  SELECT vec_id, embedding::DOUBLE[] AS v,
      |    sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS nrm
      |  FROM embeddings
      |), c AS (
      |  $codebookSql
      |), corpus AS (
      |  SELECT vec_id AS n_id, cid, v AS nv, nrm AS nn FROM (
      |    SELECT e.vec_id, c.cid, e.v, e.nrm,
      |      row_number() OVER (PARTITION BY e.vec_id ORDER BY
      |        CAST(round(CAST(list_dot_product(e.v, c.cv) / (e.nrm * c.cn) AS DECIMAL(18,8)), 4) AS DOUBLE) DESC,
      |        c.cid) AS rn
      |    FROM e CROSS JOIN c WHERE e.vec_id >= 8
      |  ) WHERE rn = 1
      |), panel AS (
      |  SELECT vec_id AS q_id, cid AS probe, v AS qv, nrm AS qn FROM (
      |    SELECT e.vec_id, c.cid, e.v, e.nrm,
      |      row_number() OVER (PARTITION BY e.vec_id ORDER BY
      |        CAST(round(CAST(list_dot_product(e.v, c.cv) / (e.nrm * c.cn) AS DECIMAL(18,8)), 4) AS DOUBLE) DESC,
      |        c.cid) AS rn
      |    FROM e CROSS JOIN c WHERE e.vec_id < 8
      |  ) WHERE rn <= 2
      |), ranked AS (
      |  SELECT q_id, n_id, sim,
      |    row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, n_id) AS rank
      |  FROM (
      |    SELECT p.q_id, a.n_id,
      |      CAST(round(CAST(list_dot_product(p.qv, a.nv) / (p.qn * a.nn) AS DECIMAL(18,8)), 4) AS DOUBLE) AS sim
      |    FROM corpus a JOIN panel p ON a.cid = p.probe
      |  )
      |)
      |SELECT r.q_id, r.rank, r.n_id AS doc_id, r.sim, d.source, d.lang,
      |  r.sim >= 0.9 AS flagged
      |FROM ranked r JOIN documents d ON d.doc_id = r.n_id
      |WHERE r.rank <= 3
      |ORDER BY r.q_id, r.rank""".stripMargin

  // ---------------------------------------------------------------
  // Anisotropy after mean-centering — the REMEDIATION twin of
  // [[anisotropy]]: subtracting the corpus mean is the standard first
  // fix for a crowded embedding cone (Mu & Viswanath 2018's "all-but-
  // the-top" without the PCA step), and this query re-measures
  // E[cos] over the centered vectors so the audit→remediate→re-audit
  // loop closes inside the engine. Reading the pair: raw ≫ centered
  // means the crowding was a common-mean artifact (cheap fix works);
  // raw ≈ centered means the cone is structural and the index needs
  // retuning instead.
  //
  // Scale shape: one extra corpus pass over [[anisotropy]]'s — the
  // d-value mean vector (same map-side-partial d-key aggregation as
  // [[dimStats]]) collects 64 doubles to the driver (the bounded
  // K-row codebook pattern) and re-enters as an array literal; the
  // centered resultant pass is then identical to the raw query's.
  // Determinism: means snap at scale 12 → 8 dp (the exact-rational
  // window), centering is double arithmetic from identical inputs,
  // the centered dot runs SEQUENTIALLY in both engines (zip_with +
  // native dot vs list_transform + list_dot_product — double addition
  // is not associative, so both sides must fold in array order), unit
  // components snap at DECIMAL(18,12) before the exact order-free
  // sums.
  private def centerAnisotropy(spark: SparkSession, dir: String): DataFrame = {
    def snap12(c: org.apache.spark.sql.Column, s: Int): org.apache.spark.sql.Column =
      round(c.cast("decimal(38,12)"), s).cast("double")
    val mu = Tables.table(spark, dir, "embeddings")
      .select(posexplode(col("embedding")).as(Seq("dim", "xf")))
      .select(col("dim"), col("xf").cast("double").cast("decimal(18,8)").as("d"))
      .groupBy(col("dim"))
      .agg(round(sum(col("d")), 4).cast("double").as("sx"), count(lit(1)).as("cnt"))
      .select(col("dim"), snap12(col("sx") / col("cnt"), 8).as("m"))
      .orderBy(col("dim")).collect().map(_.getDouble(1))
    val e = Tables.table(spark, dir, "embeddings")
      .select(expr("transform(embedding, x -> cast(x AS double))").as("v"))
      .withColumn("mu", typedLit(mu.toSeq))
      .withColumn("cv", expr("zip_with(v, mu, (x, m) -> x - m)"))
      .withColumn("nrm",
        sqrt(graft.expressions.VectorFunctions.dot(col("cv"), col("cv"))))
      .filter(col("nrm") > 0)
    val sums = e
      .select(posexplode(expr("transform(cv, x -> cast(x / nrm AS decimal(18,12)))"))
        .as(Seq("dim", "ud")))
      .groupBy(col("dim"))
      .agg(round(sum(col("ud")), 6).cast("double").as("sd"))
      .agg(round(sum((col("sd") * col("sd")).cast("decimal(28,10)")), 6)
        .cast("double").as("ss"))
    val norms = e.agg(
      count(lit(1)).as("n"),
      round(sum(col("nrm").cast("decimal(18,8)")), 4).cast("double").as("snrm"))
      .select(col("n"), snap12(col("snrm") / col("n"), 6).as("mean_cnorm"))
    norms.crossJoin(sums)
      .select(col("n"), col("mean_cnorm"),
        graft.ops.Registry.rnd(
          (col("ss") - col("n")) / (col("n") * (col("n") - lit(1))), 8)
          .as("anisotropy_centered"))
  }

  private val centerAnisotropySql =
    """WITH x AS (
      |  SELECT generate_subscripts(embedding, 1) - 1 AS dim,
      |    CAST(unnest(embedding::DOUBLE[]) AS DECIMAL(18,8)) AS d
      |  FROM embeddings
      |), mu AS (
      |  SELECT dim,
      |    CAST(round(CAST(CAST(round(sum(d), 4) AS DOUBLE) / count(*) AS DECIMAL(38,12)), 8) AS DOUBLE) AS m
      |  FROM x GROUP BY dim
      |), muarr AS (
      |  SELECT list(m ORDER BY dim) AS mu FROM mu
      |), e AS (
      |  SELECT embedding::DOUBLE[] AS v FROM embeddings
      |), c AS (
      |  SELECT list_transform(range(1, len(v) + 1), i -> v[i] - mu[i]) AS cv
      |  FROM e CROSS JOIN muarr
      |), cn AS MATERIALIZED (
      |  SELECT cv, sqrt(list_dot_product(cv, cv)) AS nrm FROM c
      |  WHERE sqrt(list_dot_product(cv, cv)) > 0
      |), u AS (
      |  SELECT generate_subscripts(cv, 1) - 1 AS dim,
      |    CAST(unnest(cv) / nrm AS DECIMAL(18,12)) AS ud
      |  FROM cn
      |), s AS (
      |  SELECT dim, CAST(round(sum(ud), 6) AS DOUBLE) AS sd FROM u GROUP BY dim
      |), ss AS (
      |  SELECT CAST(round(sum(CAST(sd * sd AS DECIMAL(28,10))), 6) AS DOUBLE) AS ss FROM s
      |), norms AS (
      |  SELECT n,
      |    CAST(round(CAST(snrm / n AS DECIMAL(38,12)), 6) AS DOUBLE) AS mean_cnorm
      |  FROM (
      |    SELECT count(*) AS n,
      |      CAST(round(sum(CAST(nrm AS DECIMAL(18,8))), 4) AS DOUBLE) AS snrm
      |    FROM cn
      |  )
      |)
      |SELECT n, mean_cnorm,
      |  CAST(round(CAST((ss - n) / (n * (n - 1.0)) AS DECIMAL(18,8)), 8) AS DOUBLE) AS anisotropy_centered
      |FROM norms CROSS JOIN ss""".stripMargin

  // ---------------------------------------------------------------
  // PageRank centrality over the persisted kNN graph — the per-cell
  // representative selector: the top-3 most central vectors of every
  // IVF cell (high PageRank in a similarity graph = the vectors most
  // "pointed at" by their neighborhoods — prototype members, the docs
  // a cluster-level curator samples first; cf. LexRank, Erkan & Radev
  // 2004). Runs entirely off the index sidecar: the corpus parquet is
  // never scanned (PlanSpec pins a FileScan-free final plan).
  //
  // Determinism: EVERY quantity is integer micro-units — scores carry
  // 1e12 scale, per-edge contributions are
  // integer floor division pr DIV outd, the damping split is
  // (15·S) DIV (100·N) + (85·(inflow + dang DIV N)) DIV 100. No float
  // ever forms, so both engines are bit-exact with NO snapping at all
  // (flooring loses ≤1 micro-unit per division, deterministically).
  //
  // Scale shape: two paths over the same integer rounds, picked by the
  // graph's bytes against the session's
  // spark.sql.autoBroadcastJoinThreshold (the byte cap the CDC key side
  // uses; -1 turns the driver path off).
  //  - Under the cap ([[pagerankOnDriver]]): one collect of the nodes
  //    and edges, bounded by a limit derived from the cap, the rounds as
  //    array arithmetic on the driver, and the per-cell top 3 returned as
  //    one pre-sorted local relation. A graph row counts 24 bytes of row
  //    and slot plus its two longs, and a sidecar node brings ≤ degree
  //    edges, so ~29k nodes fit the 10 MB default, far above every
  //    benched and oracle graph (≤ 2k nodes). The stacked distributed
  //    query below ran ~35 jobs there for ~0.2 s of executor work; the
  //    fold runs a handful.
  //  - Above it ([[pagerankDistributed]], the scale path; the sf10 graph
  //    has 2M nodes): the Pregel/GraphX shape — iteration state is the
  //    O(N) (vec_id, pr) frame; each round is ONE edges⋈scores shuffle
  //    join (both sides hash-partition on src_id; the edge side is
  //    pre-joined with outdeg once, before the loop) + ONE dst-key
  //    aggregation with map-side partials. 8·2 bounded exchanges total,
  //    independent of N; nothing is ever all-pairs, and a billion-vector
  //    corpus runs the exact same plan with bigger partitions.
  // Both read the graph the same way: an edge into a vertex that is not
  // a node is dropped, yet counts in its source's out-degree; a node
  // with no out-edge is dangling and spreads its mass over all N.
  // KnnGraphStoreSpec pins the two paths bit-identical on the sidecar
  // and on a hand-built graph. The oracle unrolls the same 8 rounds as
  // CTEs over the SQL-re-derived graph ([[graphCoreCtes]]).
  private val prScale = 1000000000000L // 1e12 micro-units
  private val prRounds = 8
  private val prRowBytes = 24L + 8 + 8 // row and slot plus two longs

  private def pagerankCentral(spark: SparkSession, dir: String): DataFrame = {
    // populate the oracle's literal-codebook cache: graphCoreCtes must
    // re-derive the graph under the SAME trained codebook the sidecar
    // was built with (every sidecar-consuming query does this)
    trainedCodebook(spark, dir)
    val edges = KnnGraphStore.loadOrBuild(spark, dir)
      .select(col("src_id"), col("dst_id"))
    val assign = KnnGraphStore.loadAssign(spark, dir)
    pagerankOnDriver(assign, edges, prRounds)
      .getOrElse(pagerankDistributed(assign, edges, prRounds))
  }

  /** Per-cell top 3 of `rounds` PageRank rounds over `assign (vec_id,
    * cid)` and `edges (src_id, dst_id)`, folded on the driver — None when
    * the session's broadcast threshold is -1 or the graph's bytes pass
    * it. Rows come back in (cid, cell_rank) order. */
  private[llm] def pagerankOnDriver(assign: DataFrame, edges: DataFrame,
      rounds: Int): Option[DataFrame] = {
    val spark = assign.sparkSession
    val cap = spark.sessionState.conf.autoBroadcastJoinThreshold
    // nodes, then edges, in ONE single-task job: the limit stops the scan
    // one row past the cap, and that row proves the overflow
    val lim = math.min(cap / prRowBytes, Int.MaxValue - 1L).toInt
    val graph =
      if (cap < 0) None
      else Some(assign.select(lit(true).as("node"), col("vec_id"), col("cid"))
        .union(edges.select(lit(false), col("src_id"), col("dst_id")))
        .coalesce(1).limit(lim + 1).collect()).filter(_.length <= lim)
    graph.map { rows =>
      val (nodes, links) = rows.partition(_.getBoolean(0))
      val n = nodes.length
      val ids = nodes.map(_.getLong(1))
      val at = ids.iterator.zipWithIndex.toMap
      val src = links.map(r => at.getOrElse(r.getLong(1), -1))
      val dst = links.map(r => at.getOrElse(r.getLong(2), -1))
      val outd = new Array[Long](n)
      src.foreach(s => if (s >= 0) outd(s) += 1)
      val nn = math.max(n, 1).toLong
      val base = (15L * prScale) / (100L * nn)
      var pr = Array.fill(n)(prScale / nn)
      for (_ <- 1 to rounds) {
        val infl = new Array[Long](n)
        for (e <- src.indices if src(e) >= 0 && dst(e) >= 0)
          infl(dst(e)) += pr(src(e)) / outd(src(e))
        // each node's share of the dangling nodes' mass
        val dangShare = (0 until n).iterator.filter(outd(_) == 0).map(pr(_)).sum / nn
        pr = Array.tabulate(n)(i => base + 85L * (infl(i) + dangShare) / 100L)
      }
      val cells = (0 until n).groupBy(i =>
        if (nodes(i).isNullAt(2)) None else Some(nodes(i).getLong(2)))
      val out = new java.util.ArrayList[Row]()
      for ((cid, members) <- cells.toSeq.sortBy(_._1);
           (i, rank) <- members.sortBy(i => (-pr(i), ids(i))).take(3).zipWithIndex)
        out.add(Row(cid.map(Long.box).orNull, rank + 1, ids(i), pr(i)))
      spark.createDataFrame(out, StructType(Seq(
        StructField("cid", LongType), StructField("cell_rank", IntegerType, nullable = false),
        StructField("vec_id", LongType), StructField("pr_micro", LongType))))
    }
  }

  /** [[pagerankOnDriver]]'s answer as distributed joins and
    * aggregations: the path for graphs above the driver's byte cap, and
    * for a broadcast threshold of -1. */
  private[llm] def pagerankDistributed(assignIn: DataFrame, edges: DataFrame,
      rounds: Int): DataFrame = {
    val assign = assignIn.localCheckpoint()
    val nodes = assign.select(col("vec_id"))
    // node count as a DRIVER LITERAL (r19): the old 1-row `nn` aggregate
    // was crossJoined into the init and every round — 9 replicated agg
    // subtrees and 9 BroadcastNestedLoopJoins in the plan, all to
    // deliver one constant of the pinned assign frame. One count job on
    // the checkpointed frame (the BlockGuard 1-row-statistic
    // discipline; per-invocation, nothing cached across runs) rides the
    // plan as a literal instead. max(1): when the corpus is empty there
    // are no node rows, so the value is never used — the guard only
    // keeps the driver-side constant folding from dividing by zero.
    val nVecs = math.max(assign.count(), 1L)
    val outdeg = edges.groupBy(col("src_id")).agg(count(lit(1)).as("outd"))
    // edge side of every round's join, built once outside the loop
    // (an explicit repartition-to-data-size was A/B'd here and LOST —
    // the per-round agg exchange plans at the session shuffle width
    // regardless, so extra repartitions only added cost; AQE's
    // partition coalescing already right-sizes the small case)
    val contrib = edges.join(outdeg, "src_id").localCheckpoint()
    // dangling probe, ONCE, by cardinality (r19): a kNN graph gives
    // every vector out-edges unless its probe cells were empty of
    // peers, so dangling nodes EXIST iff the graph has fewer distinct
    // sources than there are nodes — one count over the out-degree
    // aggregate instead of materializing an anti-join just to ask
    // isEmpty (two jobs -> one); the dangling id frame itself is built
    // and pinned only on the branch that consumes it 8 times.
    val hasDangling = outdeg.count() < nVecs
    val danglingIds =
      if (hasDangling)
        nodes.join(outdeg, nodes("vec_id") === outdeg("src_id"), "left_anti")
          .localCheckpoint()
      else null
    val base = (15L * prScale) / (100L * nVecs)
    var r = nodes.select(col("vec_id"), lit(prScale / nVecs).as("pr"))
    for (_ <- 1 to rounds) {
      val inflow = contrib.join(r, contrib("src_id") === r("vec_id"))
        .select(col("dst_id"), expr("pr DIV outd").as("c"))
        .groupBy(col("dst_id")).agg(sum(col("c")).as("infl"))
      val next = if (hasDangling) {
        val dang = r.join(danglingIds, Seq("vec_id"), "left_semi")
          .agg(coalesce(sum(col("pr")), lit(0L)).as("dang"))
        nodes.join(inflow, nodes("vec_id") === inflow("dst_id"), "left")
          .crossJoin(dang)
          .select(nodes("vec_id"),
            expr(s"${base}L + " +
              s"(85L * (coalesce(infl, 0L) + dang DIV ${nVecs}L)) DIV 100L").as("pr"))
      } else
        nodes.join(inflow, nodes("vec_id") === inflow("dst_id"), "left")
          .select(nodes("vec_id"),
            expr(s"${base}L + (85L * coalesce(infl, 0L)) DIV 100L").as("pr"))
      // r18 (refined r19 per ADVICE): the pin policy follows the
      // CONSUMPTION COUNT of r, per branch.
      //  - no dangling nodes (the benched fixture, and the common kNN
      //    case): each round consumes r exactly once, lineage is LINEAR
      //    in rounds (8 stacked join+agg layers over the two pinned
      //    leaves contrib/danglingIds) — no pin; the old
      //    every-other-round localCheckpoint bought no reuse and cost 4
      //    eager materialization jobs per invocation (A/B under a load
      //    sentinel: ratio 1.39 pinned -> 1.17 lazy). The whole power
      //    iteration plans and runs as ONE query.
      //  - dangling nodes present: the round consumes r TWICE (the
      //    inflow join AND the dangling-mass semi-join), so unpinned
      //    lineage doubles per round (~2^rounds copies of the round
      //    subtree) and only runtime exchange reuse stands between that
      //    and exponential recompute — pin each round's frontier and
      //    release its predecessor (guide §5: pin exactly the
      //    multi-consumed frames).
      r = if (hasDangling) {
        val pinned = next.localCheckpoint()
        r.unpersist()
        pinned
      } else next
    }
    val w = Window.partitionBy(col("cid")).orderBy(col("pr").desc, col("vec_id"))
    r.join(assign, "vec_id")
      .withColumn("cell_rank", row_number().over(w))
      .filter(col("cell_rank") <= 3)
      .select(col("cid"), col("cell_rank"), col("vec_id"), col("pr").as("pr_micro"))
      .orderBy(col("cid"), col("cell_rank"))
  }

  private def pagerankCentralSql: String = {
    val rounds = (1 to prRounds).map { k =>
      s""", c$k AS (
      |  SELECT g.dst_id, CAST(sum(r.pr // o.outd) AS BIGINT) AS infl
      |  FROM graph g JOIN r${k - 1} r ON r.vec_id = g.src_id
      |  JOIN outdeg o ON o.src_id = g.src_id
      |  GROUP BY g.dst_id
      |), d$k AS (
      |  SELECT CAST(coalesce(sum(r.pr), 0) AS BIGINT) AS dang
      |  FROM r${k - 1} r LEFT JOIN outdeg o ON o.src_id = r.vec_id
      |  WHERE o.src_id IS NULL
      |), r$k AS MATERIALIZED (
      |  SELECT a.vec_id,
      |    (15 * $prScale) // (100 * nn.n)
      |      + (85 * (coalesce(c.infl, 0) + d.dang // nn.n)) // 100 AS pr
      |  FROM assign a LEFT JOIN c$k c ON c.dst_id = a.vec_id
      |  CROSS JOIN d$k d CROSS JOIN nn
      |)""".stripMargin
    }.mkString
    s"""WITH $graphCoreCtes, nn AS (
      |  SELECT count(*) AS n FROM assign
      |), outdeg AS MATERIALIZED (
      |  SELECT src_id, count(*) AS outd FROM graph GROUP BY src_id
      |), r0 AS MATERIALIZED (
      |  SELECT vec_id, $prScale // nn.n AS pr FROM assign CROSS JOIN nn
      |)$rounds, ranked AS (
      |  SELECT a.cid, r.vec_id, r.pr,
      |    row_number() OVER (PARTITION BY a.cid ORDER BY r.pr DESC, r.vec_id) AS cell_rank
      |  FROM r$prRounds r JOIN assign a ON a.vec_id = r.vec_id
      |)
      |SELECT cid, cell_rank, vec_id, CAST(pr AS BIGINT) AS pr_micro
      |FROM ranked WHERE cell_rank <= 3
      |ORDER BY cid, cell_rank""".stripMargin
  }

  // ---------------------------------------------------------------
  // Degree assortativity of the persisted kNN graph — the third index
  // health audit next to sim_graph_reach (edge quality/reciprocity)
  // and sim_pagerank_central (centrality): the Pearson correlation of
  // IN-degree across edge endpoints (out-degree is constant = the
  // graph's degree knob, so in-degree carries all the structure).
  // Strongly NEGATIVE assortativity marks hub-and-spoke topology —
  // many low-degree vectors all pointing at a few hubs — exactly the
  // regions where beam search loses recall (the reciprocity finding
  // made quantitative as one number); ~0 marks the benign homogeneous
  // topology. Also reports n_orphans (vectors no neighborhood cites —
  // unreachable by graph expansion from anywhere, an index defect
  // counter).
  //
  // Scale shape: runs entirely off the O(N·degree) edge sidecar — one
  // in-degree aggregation, two equi-joins to decorate edge endpoints,
  // then a single-row reduction of six integer sufficient statistics.
  // The corpus parquet is never scanned; all sums are exact BIGINTs
  // (degree ≤ N keeps every product far inside 2^63), and the one
  // division happens once on the final row, snapped at 6 dp. The
  // denominator keeps the sqrt(a)·sqrt(b) factored form in BOTH
  // engines (sqrt(a·b) rounds differently).
  private def graphAssort(spark: SparkSession, dir: String): DataFrame = {
    trainedCodebook(spark, dir)
    val edges = KnnGraphStore.loadOrBuild(spark, dir)
      .select(col("src_id"), col("dst_id"))
    val nodes = KnnGraphStore.loadAssign(spark, dir).select(col("vec_id"))
    val indeg = edges.groupBy(col("dst_id")).agg(count(lit(1)).as("ind0"))
    val nodeDeg = nodes
      .join(indeg, nodes("vec_id") === indeg("dst_id"), "left")
      .select(col("vec_id"), coalesce(col("ind0"), lit(0L)).as("ind"))
    val x = nodeDeg.select(col("vec_id").as("src_id"), col("ind").as("dx"))
    val y = nodeDeg.select(col("vec_id").as("dst_id"), col("ind").as("dy"))
    val st = edges.join(x, "src_id").join(y, "dst_id")
      .agg(
        count(lit(1)).as("n_edges"),
        sum(col("dx")).as("sx"), sum(col("dy")).as("sy"),
        sum(col("dx") * col("dx")).as("sxx"),
        sum(col("dy") * col("dy")).as("syy"),
        sum(col("dx") * col("dy")).as("sxy"))
    val ns = nodeDeg.agg(
      count(lit(1)).as("n_nodes"),
      max(col("ind")).as("max_indeg"),
      sum(when(col("ind") === 0L, 1L).otherwise(0L)).as("n_orphans"))
    val vx = col("n_edges") * col("sxx") - col("sx") * col("sx")
    val vy = col("n_edges") * col("syy") - col("sy") * col("sy")
    st.crossJoin(ns)
      .withColumn("assortativity",
        when(vx > 0L && vy > 0L,
          graft.ops.Registry.rnd((col("n_edges") * col("sxy") - col("sx") * col("sy")).cast("double")
            / (sqrt(vx.cast("double")) * sqrt(vy.cast("double"))), 6))
          .otherwise(lit(null).cast("double")))
      .select(col("n_nodes"), col("n_edges"), col("max_indeg"), col("n_orphans"),
        col("assortativity"))
  }

  private def graphAssortSql: String =
    s"""WITH $graphCoreCtes, ind0 AS (
      |  SELECT dst_id, count(*) AS ind FROM graph GROUP BY dst_id
      |), indeg AS MATERIALIZED (
      |  SELECT a.vec_id, CAST(coalesce(i.ind, 0) AS BIGINT) AS ind
      |  FROM assign a LEFT JOIN ind0 i ON i.dst_id = a.vec_id
      |), st AS (
      |  SELECT count(*) AS n_edges,
      |    sum(x.ind) AS sx, sum(y.ind) AS sy,
      |    sum(x.ind * x.ind) AS sxx, sum(y.ind * y.ind) AS syy,
      |    sum(x.ind * y.ind) AS sxy
      |  FROM graph g
      |  JOIN indeg x ON x.vec_id = g.src_id
      |  JOIN indeg y ON y.vec_id = g.dst_id
      |), ns AS (
      |  SELECT count(*) AS n_nodes, max(ind) AS max_indeg,
      |    sum(CASE WHEN ind = 0 THEN 1 ELSE 0 END) AS n_orphans
      |  FROM indeg
      |)
      |SELECT ns.n_nodes, CAST(st.n_edges AS BIGINT) AS n_edges, ns.max_indeg,
      |  CAST(ns.n_orphans AS BIGINT) AS n_orphans,
      |  CASE WHEN st.n_edges * st.sxx - st.sx * st.sx > 0
      |        AND st.n_edges * st.syy - st.sy * st.sy > 0
      |    THEN CAST(round(CAST(
      |      CAST(st.n_edges * st.sxy - st.sx * st.sy AS DOUBLE)
      |        / (sqrt(CAST(st.n_edges * st.sxx - st.sx * st.sx AS DOUBLE))
      |           * sqrt(CAST(st.n_edges * st.syy - st.sy * st.sy AS DOUBLE)))
      |      AS DECIMAL(18,8)), 6) AS DOUBLE)
      |    ELSE NULL END AS assortativity
      |FROM st, ns""".stripMargin

  // ---------------------------------------------------------------
  // MMR (maximal marginal relevance, Carbonell & Goldstein 1998)
  // diversified re-ranking — the retrieval-side dedup: from each panel
  // query's top-10 exact-cosine candidates, greedily pick 3 results
  // maximizing λ·relevance − (1−λ)·max-similarity-to-already-picked
  // (λ = 0.7). A plain top-k over a near-dup-heavy corpus returns 3
  // copies of the same document; MMR returns one copy plus the best
  // NON-redundant alternatives — the diversity knob every RAG /
  // training-data retrieval stack ships.
  //
  // Scale shape: candidate generation is the ONLY corpus touch (here
  // the exact broadcast-panel scan for determinism; production swaps
  // in the IVF/graph path — same contract, a (q_id, n_id, rel) frame);
  // the greedy loop runs on the C=10 candidate frame per query —
  // candidate pairwise sims are C² per query, selection is k bounded
  // window argmaxes, all independent of corpus size. The greedy
  // recursion unrolls to exactly k−1 self-joins because the selected
  // set is tiny and explicit — no iterative driver loop.
  //
  // Determinism: rel and pairwise sims snap at 4 dp (the family
  // grain), every MMR score at 6 dp BEFORE its argmax, ties broken by
  // n_id — the pick sequence cannot drift cross-engine.
  private def mmrRerank(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.table(spark, dir, "embeddings")
      .select(col("vec_id"), expr("transform(embedding, x -> cast(x AS double))").as("v"))
      .withColumn("nrm", sqrt(ndot(col("v"), col("v"))))
    val q = e.select(col("vec_id").as("q_id"), col("v").as("qv"), col("nrm").as("qn"))
      .filter(col("q_id") < 8)
    val w = Window.partitionBy(col("q_id")).orderBy(col("rel").desc, col("n_id"))
    val cands = e.select(col("vec_id").as("n_id"), col("v").as("nv"), col("nrm").as("nn"))
      .join(broadcast(q), col("q_id") =!= col("n_id"))
      .withColumn("rel",
        graft.ops.Registry.rnd(ndot(col("qv"), col("nv")) / (col("qn") * col("nn")), 4))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 10)
      .select(col("q_id"), col("n_id"), col("rel"), col("nv"), col("nn"))
      .localCheckpoint() // tiny (80 rows); 4 consumers below
    // every frame below is CONSTANT-SIZE by construction (panel ×
    // ≤10 candidates = 80 rows; picks are 8 rows) — but a
    // localCheckpointed frame carries no size statistic, so the planner
    // defaulted every one of these joins to SortMergeJoin (24 SMJs /
    // 27 Exchanges in the r18 before-plan). Explicit broadcasts are the
    // scale-CORRECT strategy here, independent of corpus size
    // (guide §3.1).
    val pair = cands.select(col("q_id"), col("n_id").as("c_id"),
        col("nv").as("cv"), col("nn").as("cn"))
      .join(broadcast(cands.select(col("q_id").as("q2"), col("n_id").as("s_id"),
        col("nv").as("sv"), col("nn").as("sn"))),
        col("q_id") === col("q2") && col("c_id") =!= col("s_id"))
      .withColumn("psim",
        graft.ops.Registry.rnd(ndot(col("cv"), col("sv")) / (col("cn") * col("sn")), 4))
      .select(col("q_id"), col("c_id"), col("s_id"), col("psim"))
    val wS = Window.partitionBy(col("q_id")).orderBy(col("score").desc, col("n_id"))
    val s1 = cands
      .withColumn("score", graft.ops.Registry.rnd(lit(0.7) * col("rel"), 6))
      .withColumn("rn", row_number().over(wS)).filter(col("rn") === 1)
      .select(col("q_id"), col("n_id"), col("rel"), col("score"))
    val pairA = pair.select(col("q_id").as("qa"), col("c_id").as("ca"),
      col("s_id").as("sa"), col("psim"))
    val s2 = cands
      .join(broadcast(s1.select(col("q_id"), col("n_id").as("p1"))), "q_id")
      .filter(col("n_id") =!= col("p1"))
      .join(broadcast(pairA), col("q_id") === col("qa") && col("n_id") === col("ca")
        && col("p1") === col("sa"))
      .withColumn("score",
        graft.ops.Registry.rnd(lit(0.7) * col("rel") - lit(0.3) * col("psim"), 6))
      .withColumn("rn", row_number().over(wS)).filter(col("rn") === 1)
      .select(col("q_id"), col("n_id"), col("rel"), col("score"))
    val s3base = cands
      .join(broadcast(s1.select(col("q_id"), col("n_id").as("p1"))), "q_id")
      .join(broadcast(s2.select(col("q_id"), col("n_id").as("p2"))), "q_id")
      .filter(col("n_id") =!= col("p1") && col("n_id") =!= col("p2"))
    val p1sim = pair.select(col("q_id").as("qc"), col("c_id").as("cc"),
      col("s_id").as("sc"), col("psim").as("sim1"))
    val p2sim = pair.select(col("q_id").as("qb"), col("c_id").as("cb"),
      col("s_id").as("sb"), col("psim").as("sim2"))
    val s3 = s3base
      .join(broadcast(p1sim), col("q_id") === col("qc") && col("n_id") === col("cc")
        && col("p1") === col("sc"))
      .join(broadcast(p2sim), col("q_id") === col("qb") && col("n_id") === col("cb")
        && col("p2") === col("sb"))
      .withColumn("score", graft.ops.Registry.rnd(
        lit(0.7) * col("rel") - lit(0.3) * greatest(col("sim1"), col("sim2")), 6))
      .withColumn("rn", row_number().over(wS)).filter(col("rn") === 1)
      .select(col("q_id"), col("n_id"), col("rel"), col("score"))
    s1.withColumn("pick", lit(1))
      .unionAll(s2.withColumn("pick", lit(2)))
      .unionAll(s3.withColumn("pick", lit(3)))
      .select(col("q_id"), col("pick"), col("n_id"), col("rel"),
        col("score").as("mmr_score"))
      .orderBy(col("q_id"), col("pick"))
  }

  private val mmrRerankSql =
    """WITH e AS MATERIALIZED (
      |  SELECT vec_id, embedding::DOUBLE[] AS v,
      |    sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS nrm
      |  FROM embeddings
      |), ranked AS (
      |  SELECT a.vec_id AS q_id, b.vec_id AS n_id,
      |    CAST(round(CAST(list_dot_product(a.v, b.v) / (a.nrm * b.nrm)
      |      AS DECIMAL(18,8)), 4) AS DOUBLE) AS rel,
      |    row_number() OVER (PARTITION BY a.vec_id ORDER BY
      |      CAST(round(CAST(list_dot_product(a.v, b.v) / (a.nrm * b.nrm)
      |        AS DECIMAL(18,8)), 4) AS DOUBLE) DESC, b.vec_id) AS rank
      |  FROM e a JOIN e b ON a.vec_id < 8 AND b.vec_id <> a.vec_id
      |), cands AS MATERIALIZED (
      |  SELECT q_id, n_id, rel FROM ranked WHERE rank <= 10
      |), pair AS MATERIALIZED (
      |  SELECT c1.q_id, c1.n_id AS c_id, c2.n_id AS s_id,
      |    CAST(round(CAST(list_dot_product(e1.v, e2.v) / (e1.nrm * e2.nrm)
      |      AS DECIMAL(18,8)), 4) AS DOUBLE) AS psim
      |  FROM cands c1 JOIN cands c2 ON c1.q_id = c2.q_id AND c1.n_id <> c2.n_id
      |  JOIN e e1 ON e1.vec_id = c1.n_id
      |  JOIN e e2 ON e2.vec_id = c2.n_id
      |), s1 AS MATERIALIZED (
      |  SELECT q_id, n_id, rel, score FROM (
      |    SELECT q_id, n_id, rel,
      |      CAST(round(CAST(0.7 * rel AS DECIMAL(18,8)), 6) AS DOUBLE) AS score,
      |      row_number() OVER (PARTITION BY q_id ORDER BY
      |        CAST(round(CAST(0.7 * rel AS DECIMAL(18,8)), 6) AS DOUBLE) DESC, n_id) AS rn
      |    FROM cands
      |  ) WHERE rn = 1
      |), s2 AS MATERIALIZED (
      |  SELECT q_id, n_id, rel, score FROM (
      |    SELECT c.q_id, c.n_id, c.rel,
      |      CAST(round(CAST(0.7 * c.rel - 0.3 * p.psim AS DECIMAL(18,8)), 6) AS DOUBLE) AS score,
      |      row_number() OVER (PARTITION BY c.q_id ORDER BY
      |        CAST(round(CAST(0.7 * c.rel - 0.3 * p.psim AS DECIMAL(18,8)), 6) AS DOUBLE) DESC,
      |        c.n_id) AS rn
      |    FROM cands c
      |    JOIN s1 ON s1.q_id = c.q_id AND c.n_id <> s1.n_id
      |    JOIN pair p ON p.q_id = c.q_id AND p.c_id = c.n_id AND p.s_id = s1.n_id
      |  ) WHERE rn = 1
      |), s3 AS (
      |  SELECT q_id, n_id, rel, score FROM (
      |    SELECT c.q_id, c.n_id, c.rel,
      |      CAST(round(CAST(0.7 * c.rel - 0.3 * greatest(p1.psim, p2.psim)
      |        AS DECIMAL(18,8)), 6) AS DOUBLE) AS score,
      |      row_number() OVER (PARTITION BY c.q_id ORDER BY
      |        CAST(round(CAST(0.7 * c.rel - 0.3 * greatest(p1.psim, p2.psim)
      |          AS DECIMAL(18,8)), 6) AS DOUBLE) DESC, c.n_id) AS rn
      |    FROM cands c
      |    JOIN s1 ON s1.q_id = c.q_id AND c.n_id <> s1.n_id
      |    JOIN s2 ON s2.q_id = c.q_id AND c.n_id <> s2.n_id
      |    JOIN pair p1 ON p1.q_id = c.q_id AND p1.c_id = c.n_id AND p1.s_id = s1.n_id
      |    JOIN pair p2 ON p2.q_id = c.q_id AND p2.c_id = c.n_id AND p2.s_id = s2.n_id
      |  ) WHERE rn = 1
      |)
      |SELECT q_id, 1 AS pick, n_id, rel, score AS mmr_score FROM s1
      |UNION ALL SELECT q_id, 2 AS pick, n_id, rel, score AS mmr_score FROM s2
      |UNION ALL SELECT q_id, 3 AS pick, n_id, rel, score AS mmr_score FROM s3
      |ORDER BY q_id, pick""".stripMargin

  // ---------------------------------------------------------------
  // IVF cell-balance audit — the partition-health metric every
  // inverted-file index ships: probing cost is proportional to the
  // PROBED cells' sizes, so a skewed assignment makes nProbe-bounded
  // search pay unbounded work on hot cells. Reports the imbalance
  // factor λ = k·Σn²/N² (1.0 = perfectly balanced; λ× is the expected
  // probe-cost blowup vs uniform under random queries) and the Gini
  // coefficient of cell sizes — both from EXACT integer sufficient
  // statistics (λ's numerator/denominator are BIGINT products; Gini's
  // numerator Σ(2i−k−1)nᵢ runs over the ≤k-row sorted cell frame).
  //
  // Scale shape: one zero-exchange NearestCell projection + one
  // map-side-combinable count per cell reduces the corpus to k ≤ 64
  // rows; everything after is window math on that frame. The audit
  // pairs with sim_graph_assort (edge health) and sim_graph_reach
  // (neighborhood quality) as the index acceptance trio.
  private def ivfBalance(spark: SparkSession, dir: String): DataFrame = {
    val cells = ivfAssignment(spark, dir).select(col("vec_id"), col("cid"))
      .groupBy(col("cid")).agg(count(lit(1)).as("n"))
    val wAsc = Window.orderBy(col("n"), col("cid"))
    val ranked = cells
      .withColumn("i", row_number().over(wAsc))
      .withColumn("k", count(lit(1)).over(Window.partitionBy()))
    ranked.agg(
        count(lit(1)).as("n_cells"),
        sum(col("n")).as("n_vecs"),
        min(col("n")).as("min_cell"),
        max(col("n")).as("max_cell"),
        sum(col("n") * col("n")).as("ss"),
        sum((lit(2) * col("i") - col("k") - 1) * col("n")).as("gini_num"))
      .withColumn("imbalance", graft.ops.Registry.rnd(
        (col("n_cells") * col("ss")).cast("double")
          / (col("n_vecs") * col("n_vecs")).cast("double"), 6))
      .withColumn("gini", graft.ops.Registry.rnd(
        col("gini_num").cast("double")
          / (col("n_cells") * col("n_vecs")).cast("double"), 6))
      .select(col("n_cells"), col("n_vecs"), col("min_cell"), col("max_cell"),
        col("imbalance"), col("gini"))
  }

  private def ivfBalanceSql: String =
    s"""WITH e AS (
      |  SELECT vec_id, embedding::DOUBLE[] AS v,
      |    sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS nrm
      |  FROM embeddings
      |), c AS (
      |  $codebookSql
      |), assign AS (
      |  SELECT vec_id, cid FROM (
      |    SELECT e.vec_id, c.cid,
      |      row_number() OVER (PARTITION BY e.vec_id ORDER BY
      |        CAST(round(CAST(list_dot_product(e.v, c.cv) / (e.nrm * c.cn) AS DECIMAL(18,8)), 4) AS DOUBLE) DESC,
      |        c.cid) AS rn
      |    FROM e CROSS JOIN c
      |  ) WHERE rn = 1
      |), cells AS (
      |  SELECT cid, count(*) AS n FROM assign GROUP BY cid
      |), ranked AS (
      |  SELECT n, row_number() OVER (ORDER BY n, cid) AS i,
      |    count(*) OVER () AS k
      |  FROM cells
      |), st AS (
      |  SELECT count(*) AS n_cells, sum(n) AS n_vecs, min(n) AS min_cell,
      |    max(n) AS max_cell, sum(n * n) AS ss,
      |    sum((2 * i - k - 1) * n) AS gini_num
      |  FROM ranked
      |)
      |SELECT CAST(n_cells AS BIGINT) AS n_cells, CAST(n_vecs AS BIGINT) AS n_vecs,
      |  min_cell, max_cell,
      |  CAST(round(CAST(CAST(n_cells * ss AS DOUBLE)
      |    / CAST(n_vecs * n_vecs AS DOUBLE) AS DECIMAL(18,8)), 6) AS DOUBLE) AS imbalance,
      |  CAST(round(CAST(CAST(gini_num AS DOUBLE)
      |    / CAST(n_cells * n_vecs AS DOUBLE) AS DECIMAL(18,8)), 6) AS DOUBLE) AS gini
      |FROM st""".stripMargin

  // ---------------------------------------------------------------
  // kNN label classification eval — does the embedding space encode
  // the label structure? For a deterministic eval slice (every 25th
  // vector), predict the label by majority vote of the 5 nearest
  // exact-cosine neighbors (ties broken by count desc, label asc) and
  // report per-class accuracy. On THESE fixtures the honest reading is
  // near-chance (the r15 isotropy finding: labels are not geometrically
  // separable) — which is exactly what an embedding-quality gate is
  // for: a real encoder moves this number, and the hash then moves too.
  //
  // Scale shape: the eval slice broadcasts over the corpus (one scan,
  // panel-bounded); voting and accuracy are window math on the
  // |slice|×5 frame. Production swaps the exact scan for the IVF/graph
  // candidate path — the recall-eval contract.
  private def knnClassify(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.table(spark, dir, "embeddings")
      .select(col("vec_id"), col("label"),
        expr("transform(embedding, x -> cast(x AS double))").as("v"))
      .withColumn("nrm", sqrt(ndot(col("v"), col("v"))))
    val q = e.filter(col("vec_id") % 25 === 0)
      .select(col("vec_id").as("q_id"), col("label").as("true_label"),
        col("v").as("qv"), col("nrm").as("qn"))
    val wR = Window.partitionBy(col("q_id")).orderBy(col("sim").desc, col("n_id"))
    val top5 = e.select(col("vec_id").as("n_id"), col("label").as("n_label"),
        col("v").as("nv"), col("nrm").as("nn"))
      .join(broadcast(q), col("q_id") =!= col("n_id"))
      .withColumn("sim",
        graft.ops.Registry.rnd(ndot(col("qv"), col("nv")) / (col("qn") * col("nn")), 4))
      .withColumn("rank", row_number().over(wR))
      .filter(col("rank") <= 5)
      .select(col("q_id"), col("true_label"), col("n_label"))
    val wV = Window.partitionBy(col("q_id"))
      .orderBy(col("votes").desc, col("n_label"))
    val pred = top5.groupBy(col("q_id"), col("true_label"), col("n_label"))
      .agg(count(lit(1)).as("votes"))
      .withColumn("vr", row_number().over(wV))
      .filter(col("vr") === 1)
      .select(col("q_id"), col("true_label"), col("n_label").as("predicted"))
    pred.groupBy(col("true_label"))
      .agg(count(lit(1)).as("n_eval"),
        sum(when(col("predicted") === col("true_label"), 1L).otherwise(0L))
          .as("n_correct"))
      .withColumn("accuracy",
        graft.ops.Registry.rnd(col("n_correct").cast("double") / col("n_eval"), 4))
      .select(col("true_label"), col("n_eval"), col("n_correct"), col("accuracy"))
      .orderBy(col("true_label"))
  }

  private val knnClassifySql =
    """WITH e AS MATERIALIZED (
      |  SELECT vec_id, label, embedding::DOUBLE[] AS v,
      |    sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS nrm
      |  FROM embeddings
      |), top5 AS (
      |  SELECT q_id, true_label, n_label FROM (
      |    SELECT a.vec_id AS q_id, a.label AS true_label, b.label AS n_label,
      |      row_number() OVER (PARTITION BY a.vec_id ORDER BY
      |        CAST(round(CAST(list_dot_product(a.v, b.v) / (a.nrm * b.nrm)
      |          AS DECIMAL(18,8)), 4) AS DOUBLE) DESC, b.vec_id) AS rank
      |    FROM e a JOIN e b ON a.vec_id % 25 = 0 AND b.vec_id <> a.vec_id
      |  ) WHERE rank <= 5
      |), pred AS (
      |  SELECT q_id, true_label, n_label AS predicted FROM (
      |    SELECT q_id, true_label, n_label, count(*) AS votes,
      |      row_number() OVER (PARTITION BY q_id ORDER BY count(*) DESC, n_label) AS vr
      |    FROM top5 GROUP BY 1, 2, 3
      |  ) WHERE vr = 1
      |)
      |SELECT true_label, count(*) AS n_eval,
      |  CAST(sum(CASE WHEN predicted = true_label THEN 1 ELSE 0 END) AS BIGINT) AS n_correct,
      |  CAST(round(CAST(CAST(sum(CASE WHEN predicted = true_label THEN 1 ELSE 0 END) AS DOUBLE)
      |    / count(*) AS DECIMAL(18,8)), 4) AS DOUBLE) AS accuracy
      |FROM pred
      |GROUP BY 1
      |ORDER BY true_label""".stripMargin
}
