package graft.llm

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.ops.{NamedQuery, Tables}

/** Deduplication operators over the `documents` table — the
  * training-data-pipeline extensions (BASELINE.json north star).
  *
  * Scale design: every variant is shuffle-bounded by a *bucket* key
  * (content hash, LSH band bucket, or (lang, source) block), never by a
  * global cross join. At 100 TB:
  *  - exact/normalized dedup shuffle once on the hash — identical to a
  *    groupBy at any scale;
  *  - minhash banding turns near-dup search into an equi-join on
  *    (band, bucket), linear in candidates sharing a bucket;
  *  - the pairwise Jaccard is restricted to (lang, source) blocks —
  *    at real scale the block key would be the LSH bucket itself.
  */
object DedupQueries {

  def queries: Vector[NamedQuery] = Vector(
    NamedQuery("dedup_exact", exact, Some(exactSql)),
    NamedQuery("dedup_norm", norm, Some(normSql)),
    NamedQuery("dedup_jaccard_pairs", jaccard, Some(jaccardSql)),
    NamedQuery("dedup_jaccard_capped", jaccardCapped, Some(jaccardCappedSql)),
    NamedQuery("dedup_minhash_pairs", minhash, Some(minhashSql)),
    NamedQuery("dedup_minhash_estimate", minhashEstimate, Some(minhashEstimateSql)),
    NamedQuery("dedup_cluster_canonical", clusterCanonical, Some(clusterCanonicalSql)),
    NamedQuery("dedup_cluster_star", clusterStar, Some(clusterCanonicalSql)),
    NamedQuery("dedup_cluster_keep_best", keepBest, Some(keepBestSql)),
    NamedQuery("dedup_simhash", simhash, Some(simhashSql)),
    NamedQuery("dedup_simhash_pairs", simhashPairs, Some(simhashPairsSql)),
    NamedQuery("dedup_embedding_pairs", embeddingPairs, Some(embeddingPairsSql)),
    NamedQuery("dedup_embedding_pairs_lsh", embeddingPairsLsh, Some(embeddingPairsLshSql)),
    NamedQuery("dedup_semantic", semanticDedup, Some(semanticDedupSql)),
    NamedQuery("dedup_substring_frac", substringFrac, Some(substringFracSql)),
    NamedQuery("dedup_substring_spans", substringSpans, Some(substringSpansSql)),
    NamedQuery("dedup_containment_pairs", containment, Some(containmentSql)),
    NamedQuery("dedup_containment_capped", containmentCapped, Some(containmentCappedSql)),
    NamedQuery("dedup_lsh_tuning", lshTuning, Some(lshTuningSql)),
    NamedQuery("dedup_lsh_tuning_sampled", lshTuningSampled, Some(lshTuningSampledSql)),
    NamedQuery("dedup_graph_triangles", graphTriangles, Some(graphTrianglesSql)),
  )

  // ---------------------------------------------------------------
  // Exact dedup: content-hash groups; first doc_id per group is kept.
  private def exact(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("h")).orderBy(col("doc_id"))
    Tables.table(spark, dir, "documents")
      .select(col("doc_id"), md5(col("text")).as("h"))
      .withColumn("keep", row_number().over(w) === 1)
      .orderBy(col("doc_id"))
  }

  private val exactSql =
    """SELECT doc_id, md5(text) AS h,
      |  (row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) = 1) AS keep
      |FROM documents ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------
  // Normalized dedup: lowercase, strip non-alphanumerics, collapse
  // whitespace, then hash; canonical representative = min doc_id.
  private def norm(spark: SparkSession, dir: String): DataFrame = {
    val normText = trim(regexp_replace(
      regexp_replace(lower(col("text")), "[^a-z0-9 ]", ""), " +", " "))
    Tables.table(spark, dir, "documents")
      .select(col("doc_id"), md5(normText).as("h"))
      .withColumn("canonical", min(col("doc_id")).over(Window.partitionBy(col("h"))))
      .orderBy(col("doc_id"))
  }

  private val normSql =
    """WITH n AS (
      |  SELECT doc_id,
      |    md5(trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'), ' +', ' ', 'g'))) AS h
      |  FROM documents
      |)
      |SELECT doc_id, h, min(doc_id) OVER (PARTITION BY h) AS canonical
      |FROM n ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------
  // n-gram (word-set) Jaccard similarity pairs within (lang, source)
  // blocks. Instead of a self-join on (block, word) — which shuffles the
  // exploded word rows twice and re-reads the corpus per side — the word
  // rows shuffle ONCE into per-word posting lists, and candidate pairs
  // (i<j within the sorted list) are generated in place: identical pair
  // set, one pass. Set sizes come straight off the scan
  // (size(array_distinct(...))) with no explode or shuffle at all, and
  // broadcast-join onto the (small) surviving pair set.
  //
  // Scale note: a posting list is bounded by block size; at 100 TB a
  // stopword cap (drop words with document frequency above a threshold)
  // bounds the quadratic term — standard practice, since ubiquitous
  // words carry no similarity signal.
  private def jaccard(spark: SparkSession, dir: String): DataFrame =
    jaccardPairs(spark, dir, dfCap = None)

  // The capped variant is the 100 TB form: a posting list's length is a
  // word's document frequency, and pair generation is quadratic in it —
  // one ubiquitous word ("the") yields |block|² candidates. Dropping
  // lists above the cap bounds every list's pair fan-out at cap²/2 while
  // losing no signal (a word appearing everywhere discriminates nothing).
  // Set sizes stay uncapped, so jaccard scores only ever shrink — a
  // candidate either survives on its rare words or was never a near-dup.
  private def jaccardCapped(spark: SparkSession, dir: String): DataFrame =
    jaccardPairs(spark, dir, dfCap = Some(64))

  /** Deterministic 50% doc sample: first md5 hex digit of the doc id
    * below '8' — the suite's no-RNG block-sampling discipline (same
    * hash-slice family as pipeline_split_assign). Identical text in
    * both engines. */
  private val sampleCondSpark = "substring(md5(cast(doc_id as string)), 1, 1) < '8'"
  private val sampleCondSql = "substring(md5(CAST(doc_id AS VARCHAR)), 1, 1) < '8'"

  private def jaccardPairs(spark: SparkSession, dir: String, dfCap: Option[Int],
      minSim: Double = 0.5, simScale: Int = 4, sample: Boolean = false): DataFrame = {
    val docs0 = Tables.table(spark, dir, "documents")
    val docs = if (sample) docs0.filter(expr(sampleCondSpark)) else docs0
    // NOTE (r18 A/B, guide §1.2): a fanOut-before-explode rewrite — one
    // spread exchange feeding words + both size builds — was measured
    // here and LOST (jaccard_pairs min 0.52→1.14 s, containment 2×):
    // the posting groupBy is this plan's only heavy exchange and it
    // already spreads the pair work; fronting it with a full-text
    // shuffle serializes the broadcast size builds behind that shuffle
    // and re-pays the split per consumer. Keep the scan-pipelined form.
    val words = docs.select(col("doc_id"), col("lang"), col("source"),
      explode(array_distinct(split(col("text"), " "))).as("w"))
    val sizes = docs.select(col("doc_id"),
      size(array_distinct(split(col("text"), " "))).as("sz"))
    val posting = words.groupBy(col("lang"), col("source"), col("w"))
      .agg(sort_array(collect_list(col("doc_id"))).as("ids"))
      .filter(size(col("ids")) >= 2)
    val capped = dfCap.fold(posting)(c => posting.filter(size(col("ids")) <= c))
    // two-level explode streams the i<j pairs through pipelined Generate
    // operators — no per-row materialization of a quadratic pair array
    val pairs = capped
      .select(col("ids"), posexplode(col("ids")).as(Seq("i", "a_id")))
      .select(col("a_id"), explode(expr("slice(ids, i + 2, size(ids))")).as("b_id"))
    val inter = pairs.groupBy(col("a_id"), col("b_id")).agg(count(lit(1)).as("inter"))
    inter
      .join(broadcast(sizes.withColumnRenamed("doc_id", "a_id").withColumnRenamed("sz", "sa")), "a_id")
      .join(broadcast(sizes.withColumnRenamed("doc_id", "b_id").withColumnRenamed("sz", "sb")), "b_id")
      .withColumn("jaccard",
        graft.ops.Registry.rnd(col("inter").cast("double") / (col("sa") + col("sb") - col("inter")), simScale))
      .filter(col("jaccard") >= minSim)
      .select(col("a_id"), col("b_id"), col("jaccard"))
      .orderBy(col("a_id"), col("b_id"))
  }

  private def jaccardSqlFor(dfCap: Option[Int], sample: Boolean = false): String = {
    val docSrc = if (sample) s"documents WHERE $sampleCondSql" else "documents"
    val cappedCtes = dfCap.fold("") { c =>
      s"""), df AS (
         |  SELECT lang, source, w, count(*) AS df FROM words GROUP BY lang, source, w
         |), kept AS (
         |  SELECT wo.doc_id, wo.lang, wo.source, wo.w
         |  FROM words wo JOIN df d ON wo.lang = d.lang AND wo.source = d.source AND wo.w = d.w
         |  WHERE d.df <= $c
         |""".stripMargin
    }
    val src = if (dfCap.isDefined) "kept" else "words"
    s"""WITH words AS (
       |  SELECT doc_id, lang, source, unnest(list_distinct(string_split(text, ' '))) AS w
       |  FROM $docSrc
       |$cappedCtes), sizes AS (
       |  SELECT doc_id, count(*) AS sz FROM words GROUP BY doc_id
       |), inter AS (
       |  SELECT a.doc_id AS a_id, b.doc_id AS b_id, count(*) AS inter
       |  FROM $src a JOIN $src b
       |    ON a.lang = b.lang AND a.source = b.source AND a.w = b.w AND a.doc_id < b.doc_id
       |  GROUP BY a.doc_id, b.doc_id
       |)
       |SELECT a_id, b_id,
       |  CAST(round(CAST(CAST(inter AS DOUBLE) / (sa.sz + sb.sz - inter) AS DECIMAL(18,8)), 4) AS DOUBLE) AS jaccard
       |FROM inter
       |JOIN sizes sa ON sa.doc_id = a_id
       |JOIN sizes sb ON sb.doc_id = b_id
       |WHERE CAST(round(CAST(CAST(inter AS DOUBLE) / (sa.sz + sb.sz - inter) AS DECIMAL(18,8)), 4) AS DOUBLE) >= 0.5
       |ORDER BY a_id, b_id""".stripMargin
  }

  private lazy val jaccardSql = jaccardSqlFor(None)
  private lazy val jaccardCappedSql = jaccardSqlFor(Some(64))

  // ---------------------------------------------------------------
  // LSH parameter tuning FROM DATA — before running minhash-LSH over
  // 100 TB you pick (bands b, rows-per-band r) with b·r = #hashes; the
  // wrong choice either misses near-dups (low collision probability at
  // the target similarity) or floods the verifier with low-similarity
  // candidates. The S-curve P(candidate | s) = 1 − (1 − s^r)^b is
  // closed-form, so the right tuning input is the corpus's OWN
  // pair-similarity histogram: this query measures it (df-capped
  // posting-list join, the dedup_jaccard_capped universe — exactly the
  // pairs an LSH could ever surface, since a pair sharing no token has
  // no common band) and evaluates each candidate config's expected
  // candidate load and expected recall above the dedup threshold τ.
  //
  // Scale shape: the histogram collapses the pair set to ≤ 10³ 3-dp
  // similarity levels in the same single-shuffle plan as
  // dedup_jaccard_capped; the S-curve evaluation is a constant-size
  // (levels × configs) projection. At 100 TB the histogram itself
  // would come from a SAMPLE of blocks — the estimator is linear in
  // whatever pair universe feeds it.
  //
  // Determinism: the S-curve needs s^r and (1−s^r)^b — libm pow() ulp
  // is NOT trusted cross-engine; both engines instead compute the
  // integer powers by repeated DECIMAL(12,8) squaring with a HALF_UP
  // round to 8 dp after every multiply (r, b are powers of two, so the
  // chain is 2–5 squarings), making every intermediate bit-exact.
  private val LshTuneCap = 64
  private val LshTuneTau = 0.8

  /** (bands, rows_per_band) candidate grid. The classic form evaluates
    * three configs at b·r = 128; the sampled 100 TB form widens to
    * b·r ∈ {64, 128, 256} (all powers of two — the repeated-squaring
    * determinism chain needs nothing else). */
  private def lshTuneConfigs(wide: Boolean): Seq[(Long, Long)] =
    if (!wide) Seq((32L, 4L), (16L, 8L), (8L, 16L))
    else Seq(
      (16L, 4L), (8L, 8L),                         // b·r = 64
      (32L, 4L), (16L, 8L), (8L, 16L),             // b·r = 128
      (64L, 4L), (32L, 8L), (16L, 16L))            // b·r = 256

  private def lshSq(c: Column): Column = round(c * c, 8).cast("decimal(12,8)")

  private def lshTuning(spark: SparkSession, dir: String): DataFrame =
    lshTuningOn(spark, dir, wide = false, sample = false)

  /** The 100 TB form (r12 verdict #6): the pair-similarity histogram
    * comes from a deterministic md5-keyed 50% BLOCK SAMPLE of the
    * corpus instead of every pair, and the config grid widens to
    * b·r ∈ {64,128,256}. The S-curve is a property of the similarity
    * DISTRIBUTION, not the pair count, so the sampled histogram picks
    * the same config ranking (LshTuningSpec pins sample-vs-full
    * agreement on the shared configs) at a quarter of the pair
    * volume — at real scale the sample is what makes measuring the
    * histogram feasible at all. */
  private def lshTuningSampled(spark: SparkSession, dir: String): DataFrame =
    lshTuningOn(spark, dir, wide = true, sample = true)

  /** The df-cap must SCALE with the sample fraction (64 → 32 at 50%):
    * a word's sampled document frequency is ~frac·df, so an unscaled
    * cap would admit words the full-corpus tuner excludes (df in
    * 65..128), inflating — not estimating — the pair histogram.
    * Measured: unscaled, the sampled run costs MORE than the full one
    * at sf1; scaled, it observes the same word population at a quarter
    * of the pair volume. */
  // The pair-similarity histogram is the tuner's materialized INPUT —
  // a ≤1001-row reduction of the (expensive) capped-jaccard pair pass
  // that a pipeline computes once per corpus snapshot and then sweeps
  // configs over at will. Cache it per (dir, sample, session) like the
  // cluster labeling: the config sweep stays live (re-planned per
  // query), only the histogram build amortizes.
  private val histCache = new java.util.concurrent.ConcurrentHashMap[
    (String, Boolean, SparkSession), DataFrame]()

  /** Test hook: drop the cached histograms (a "restarted session"). */
  private[llm] def resetHistCache(): Unit = histCache.clear()

  /** The un-checkpointed histogram pipeline — exposed so PlanSpec can
    * pin the BUILD plan (posting-list Generates, broadcast sizes, no
    * cartesian), which the cached query no longer shows. */
  private[graft] def tuningHistFresh(
      spark: SparkSession, dir: String, sample: Boolean): DataFrame =
    jaccardPairs(spark, dir,
        dfCap = Some(if (sample) LshTuneCap / 2 else LshTuneCap),
        minSim = 0.0, simScale = 3, sample = sample)
      .select(col("jaccard").as("sim"))
      .groupBy(col("sim")).agg(count(lit(1)).as("n"))

  private def tuningHist(spark: SparkSession, dir: String, sample: Boolean): DataFrame =
    histCache.computeIfAbsent((dir, sample, spark),
      (k: (String, Boolean, SparkSession)) =>
        tuningHistFresh(k._3, k._1, k._2).localCheckpoint())

  private def lshTuningOn(
      spark: SparkSession, dir: String, wide: Boolean, sample: Boolean): DataFrame = {
    val hist = tuningHist(spark, dir, sample)
    val cfgs = array(lshTuneConfigs(wide).map { case (b, r) =>
      struct(lit(b).as("bands"), lit(r).as("r")) }: _*)
    val scored0 = hist
      .select(col("sim"), col("n"), explode(cfgs).as("cfg"))
      .select(col("sim"), col("n"),
        col("cfg.bands").as("bands"), col("cfg.r").as("rows_per_band"))
    val one = lit(1).cast("decimal(12,8)")
    val x0 = col("sim").cast("decimal(12,8)")
    val x2 = lshSq(lshSq(x0))                    // s^4
    val x3 = lshSq(x2)                           // s^8
    val x4 = lshSq(x3)                           // s^16
    val sr = when(col("rows_per_band") === 4L, x2)
      .when(col("rows_per_band") === 8L, x3).otherwise(x4)
    val q0 = (one - sr).cast("decimal(12,8)")
    val q8 = lshSq(lshSq(lshSq(q0)))             // (1-s^r)^8
    val q16 = lshSq(q8)
    val q32 = lshSq(q16)
    val q64 = lshSq(q32)
    val qb = when(col("bands") === 8L, q8)
      .when(col("bands") === 16L, q16)
      .when(col("bands") === 32L, q32).otherwise(q64)
    val scored = scored0.withColumn("p", round(one - qb, 6).cast("double"))
    val term = round((col("n") * col("p")).cast("decimal(18,8)"), 6)
    val zero = lit(0).cast("decimal(18,8)")
    scored.groupBy(col("bands"), col("rows_per_band"))
      .agg(
        sum(col("n")).as("n_pairs"),
        round(sum(term), 3).cast("double").as("exp_candidates"),
        sum(when(col("sim") >= LshTuneTau, col("n")).otherwise(0L)).as("n_above"),
        round(sum(when(col("sim") >= LshTuneTau, term).otherwise(zero)), 3)
          .cast("double").as("exp_caught"))
      .withColumn("recall_above",
        when(col("n_above") > 0, graft.ops.Registry.rnd(col("exp_caught") / col("n_above"), 4)))
      .orderBy(col("rows_per_band"), col("bands"))
  }

  private def lshTuningSqlFor(wide: Boolean, sample: Boolean): String = {
    val histCore = jaccardSqlFor(
      Some(if (sample) LshTuneCap / 2 else LshTuneCap), sample = sample)
    // reuse the capped-jaccard CTE chain up to `inter`, then histogram
    // at 3 dp with no threshold (the tuning universe is every pair an
    // LSH could surface)
    val upToInter = histCore.substring(0, histCore.indexOf("SELECT a_id"))
    val cfgRows = lshTuneConfigs(wide).zipWithIndex.map {
      case ((b, r), 0) => s"SELECT CAST($b AS BIGINT) AS bands, CAST($r AS BIGINT) AS rows_per_band"
      case ((b, r), _) => s"UNION ALL SELECT $b, $r"
    }.mkString("\n      |        ")
    s"""${upToInter}SELECT bands, rows_per_band, n_pairs, exp_candidates, n_above, exp_caught,
      |  CASE WHEN n_above > 0 THEN CAST(round(CAST(exp_caught / n_above AS DECIMAL(18,8)), 4) AS DOUBLE) END AS recall_above
      |FROM (
      |  SELECT bands, rows_per_band,
      |    CAST(sum(n) AS BIGINT) AS n_pairs,
      |    CAST(round(sum(round(CAST(n * p AS DECIMAL(18,8)), 6)), 3) AS DOUBLE) AS exp_candidates,
      |    CAST(sum(CASE WHEN sim >= $LshTuneTau THEN n ELSE 0 END) AS BIGINT) AS n_above,
      |    CAST(round(sum(CASE WHEN sim >= $LshTuneTau THEN round(CAST(n * p AS DECIMAL(18,8)), 6) ELSE CAST(0 AS DECIMAL(18,8)) END), 3) AS DOUBLE) AS exp_caught
      |  FROM (
      |    SELECT sim, n, bands, rows_per_band,
      |      CAST(round(1 - (CASE WHEN bands = 8 THEN q3 WHEN bands = 16 THEN q4 WHEN bands = 32 THEN q5 ELSE q6 END), 6) AS DOUBLE) AS p
      |    FROM (SELECT *, CAST(round(q5*q5, 8) AS DECIMAL(12,8)) AS q6
      |    FROM (SELECT *, CAST(round(q4*q4, 8) AS DECIMAL(12,8)) AS q5
      |    FROM (SELECT *, CAST(round(q3*q3, 8) AS DECIMAL(12,8)) AS q4
      |    FROM (SELECT *, CAST(round(q2*q2, 8) AS DECIMAL(12,8)) AS q3
      |    FROM (SELECT *, CAST(round(q1*q1, 8) AS DECIMAL(12,8)) AS q2
      |    FROM (SELECT *, CAST(round(q0*q0, 8) AS DECIMAL(12,8)) AS q1
      |    FROM (SELECT *, CAST(1 - (CASE WHEN rows_per_band = 4 THEN x2 WHEN rows_per_band = 8 THEN x3 ELSE x4 END) AS DECIMAL(12,8)) AS q0
      |    FROM (SELECT *, CAST(round(x3*x3, 8) AS DECIMAL(12,8)) AS x4
      |    FROM (SELECT *, CAST(round(x2*x2, 8) AS DECIMAL(12,8)) AS x3
      |    FROM (SELECT *, CAST(round(x1*x1, 8) AS DECIMAL(12,8)) AS x2
      |    FROM (SELECT *, CAST(round(x0*x0, 8) AS DECIMAL(12,8)) AS x1
      |    FROM (
      |      SELECT h.sim, h.n, c.bands, c.rows_per_band, CAST(h.sim AS DECIMAL(12,8)) AS x0
      |      FROM (
      |        SELECT sim, CAST(count(*) AS BIGINT) AS n FROM (
      |          SELECT CAST(round(CAST(CAST(inter AS DOUBLE) / (sa.sz + sb.sz - inter) AS DECIMAL(18,8)), 3) AS DOUBLE) AS sim
      |          FROM inter JOIN sizes sa ON sa.doc_id = a_id JOIN sizes sb ON sb.doc_id = b_id
      |        ) GROUP BY sim
      |      ) h CROSS JOIN (
      |        $cfgRows
      |      ) c
      |    )))))))))))))
      |  GROUP BY bands, rows_per_band
      |)
      |ORDER BY rows_per_band, bands""".stripMargin
  }

  private lazy val lshTuningSql = lshTuningSqlFor(wide = false, sample = false)
  private lazy val lshTuningSampledSql = lshTuningSqlFor(wide = true, sample = true)

  // ---------------------------------------------------------------
  // Containment (asymmetric overlap): inter / |smaller set|. Jaccard
  // misses a short doc pasted inside a much longer one (the union term
  // drowns it); containment is the signal sub-document duplication
  // actually emits. Same single-shuffle posting-list plan as jaccard —
  // only the final score arithmetic differs — so the scale properties
  // (pipelined i<j pair explode, broadcast size joins, DF-cappable
  // lists) carry over unchanged.
  //
  // Scale bound (why the measured 10.2x wall at 10x data is acceptable
  // and NOT the label-block quadratic trap): candidate pairs = Σ_w
  // C(k_w, 2) over per-(lang, source, word) posting lists of length
  // k_w — bounded by the DOCUMENT FREQUENCY distribution (Zipf), not
  // by label-block size. Growing the corpus N× grows each CONTENT
  // word's k_w ~N× only for words whose df is corpus-proportional —
  // i.e., stopword-frequency terms — and those are exactly the lists
  // the dfCap twin drops (trading recall only on pairs whose overlap is
  // carried exclusively by ubiquitous words, which containment >= 0.8
  // pairs never are: they share rare words too). With a df cap in
  // place the bound is Σk² <= (#capped lists)·cap², linear in corpus
  // size. The uncapped query keeps exact semantics for the harness;
  // `dedup_containment_capped` (dfCap = 64, same mechanism as
  // `dedup_jaccard_capped`) is the 100 TB form, and PlanSpec pins the
  // posting-list equi-join shape of both.
  private def containment(spark: SparkSession, dir: String): DataFrame =
    containmentPairs(spark, dir, dfCap = None)

  private def containmentCapped(spark: SparkSession, dir: String): DataFrame =
    containmentPairs(spark, dir, dfCap = Some(64))

  private def containmentPairs(spark: SparkSession, dir: String, dfCap: Option[Int]): DataFrame = {
    // same scan-pipelined shape as jaccardPairs (a fanOut rewrite was
    // A/B'd there and lost — see the note above)
    val docs = Tables.table(spark, dir, "documents")
    val words = docs.select(col("doc_id"), col("lang"), col("source"),
      explode(array_distinct(split(col("text"), " "))).as("w"))
    val sizes = docs.select(col("doc_id"),
      size(array_distinct(split(col("text"), " "))).as("sz"))
    val posting = words.groupBy(col("lang"), col("source"), col("w"))
      .agg(sort_array(collect_list(col("doc_id"))).as("ids"))
      .filter(size(col("ids")) >= 2)
    val capped = dfCap.fold(posting)(c => posting.filter(size(col("ids")) <= c))
    val pairs = capped
      .select(col("ids"), posexplode(col("ids")).as(Seq("i", "a_id")))
      .select(col("a_id"), explode(expr("slice(ids, i + 2, size(ids))")).as("b_id"))
    val inter = pairs.groupBy(col("a_id"), col("b_id")).agg(count(lit(1)).as("inter"))
    inter
      .join(broadcast(sizes.withColumnRenamed("doc_id", "a_id").withColumnRenamed("sz", "sa")), "a_id")
      .join(broadcast(sizes.withColumnRenamed("doc_id", "b_id").withColumnRenamed("sz", "sb")), "b_id")
      .withColumn("containment",
        graft.ops.Registry.rnd(col("inter").cast("double") / least(col("sa"), col("sb")), 4))
      .filter(col("containment") >= 0.8)
      .select(col("a_id"), col("b_id"), col("containment"))
      .orderBy(col("a_id"), col("b_id"))
  }

  private def containmentSqlFor(dfCap: Option[Int]): String = {
    val cappedCtes = dfCap.fold("") { c =>
      s"""), df AS (
         |  SELECT lang, source, w, count(*) AS df FROM words GROUP BY lang, source, w
         |), kept AS (
         |  SELECT wo.doc_id, wo.lang, wo.source, wo.w
         |  FROM words wo JOIN df d ON wo.lang = d.lang AND wo.source = d.source AND wo.w = d.w
         |  WHERE d.df <= $c
         |""".stripMargin
    }
    val src = if (dfCap.isDefined) "kept" else "words"
    s"""WITH words AS (
       |  SELECT doc_id, lang, source, unnest(list_distinct(string_split(text, ' '))) AS w
       |  FROM documents
       |$cappedCtes), sizes AS (
       |  SELECT doc_id, count(*) AS sz FROM words GROUP BY doc_id
       |), inter AS (
       |  SELECT a.doc_id AS a_id, b.doc_id AS b_id, count(*) AS inter
       |  FROM $src a JOIN $src b
       |    ON a.lang = b.lang AND a.source = b.source AND a.w = b.w AND a.doc_id < b.doc_id
       |  GROUP BY a.doc_id, b.doc_id
       |)
       |SELECT a_id, b_id,
       |  CAST(round(CAST(CAST(inter AS DOUBLE) / least(sa.sz, sb.sz) AS DECIMAL(18,8)), 4) AS DOUBLE) AS containment
       |FROM inter
       |JOIN sizes sa ON sa.doc_id = a_id
       |JOIN sizes sb ON sb.doc_id = b_id
       |WHERE CAST(round(CAST(CAST(inter AS DOUBLE) / least(sa.sz, sb.sz) AS DECIMAL(18,8)), 4) AS DOUBLE) >= 0.8
       |ORDER BY a_id, b_id""".stripMargin
  }

  private lazy val containmentSql = containmentSqlFor(None)
  private lazy val containmentCappedSql = containmentSqlFor(Some(64))

  // ---------------------------------------------------------------
  // MinHash + LSH banding: 3-word shingles, 4 hash functions taken as
  // disjoint 8-hex slices of ONE md5 per shingle (4x less hashing, no
  // per-seed row blowup), 2 bands of 2 — candidate pairs share a
  // (band, bucket). md5 is the hash family so the oracle reproduces it
  // exactly.
  private def minhash(spark: SparkSession, dir: String): DataFrame =
    minhashPairs(spark, dir).orderBy(col("a_id"), col("b_id"))

  /** (doc_id, band, bucket) LSH band rows for any `(doc_id, text)`
    * frame — the signature scheme shared by dedup_minhash_pairs and
    * the incremental archive index (MinHashIndexStore /
    * pipeline_incremental_neardup): 3-word shingles, ONE md5 per
    * shingle sliced into 4 disjoint 8-hex min-hashes, 2 bands of 2.
    * One row per (doc, band) via array-explode (a union of two selects
    * would carry the aggregation subtree twice). Docs under 3 words
    * have no signature and emit no rows.
    *
    * The 4 min-hashes are kept as BIGINTs (each 8-hex slice parsed via
    * conv once per shingle): md5 hex is fixed-width lowercase, so
    * lexicographic order of the slice equals numeric order of its
    * value — min() picks the same shingle and bucket EQUALITY is
    * preserved exactly (the only property banding uses; the DuckDB
    * twin keeps the string form and derives the identical pair set).
    * What the numeric form buys (guide §2.3/§4): min(bigint) plans as
    * a codegen HashAggregate instead of min(string)'s SortAggregate —
    * no per-partition sort of the corpus-sized shingle stream — and
    * the partial-agg rows crossing the exchange are 4 longs, not 4
    * 8-char strings. */
  private[llm] def bandRows(docs: DataFrame): DataFrame = {
    val ws = docs
      .withColumn("ws", split(col("text"), " "))
      .filter(size(col("ws")) >= 3)
    val shingled = ws.select(col("doc_id"),
      explode(expr("transform(sequence(0, size(ws)-3), i -> concat(ws[i], ' ', ws[i+1], ' ', ws[i+2]))")).as("sh"))
    val mins = shingled
      .withColumn("h", md5(col("sh")))
      .groupBy(col("doc_id"))
      .agg(
        min(expr("cast(conv(substring(h, 1, 8), 16, 10) as bigint)")).as("m0"),
        min(expr("cast(conv(substring(h, 9, 8), 16, 10) as bigint)")).as("m1"),
        min(expr("cast(conv(substring(h, 17, 8), 16, 10) as bigint)")).as("m2"),
        min(expr("cast(conv(substring(h, 25, 8), 16, 10) as bigint)")).as("m3"))
    mins.select(col("doc_id"), explode(array(
        struct(lit(0).as("band"), concat(col("m0").cast("string"), lit("|"), col("m1").cast("string")).as("bucket")),
        struct(lit(1).as("band"), concat(col("m2").cast("string"), lit("|"), col("m3").cast("string")).as("bucket")))).as("bb"))
      .select(col("doc_id"), col("bb.band").as("band"), col("bb.bucket").as("bucket"))
  }

  // ---------------------------------------------------------------
  // MinHash estimator calibration — the dedup-index analogue of
  // sim_recall_eval: over the banding's OWN candidate pairs, compare
  // the signature-agreement Jaccard estimate (matching positions / 4 —
  // the only similarity a 100 TB pipeline can afford to read off the
  // index) against the exact 3-shingle-set Jaccard, grouped into the
  // estimator's quarter-grain calibration curve (est → n_pairs, mean
  // exact Jaccard, mean |error|). A banding regression (broken hash
  // slicing, wrong shingle width) flips this query's hash, not a
  // human eyeball. Exactness: est is an exact binary quarter, the
  // exact Jaccard is an integer ratio 4-dp-snapped, and the per-pair
  // |error| terms quantize to 6 dp before an exact decimal sum (the
  // mean6 discipline). Scale shape: pairs are bucket-bounded (the
  // thing LSH guarantees); the intersection join touches only
  // candidate docs' shingles — never all pairs.
  private def minhashEstimate(spark: SparkSession, dir: String): DataFrame = {
    import graft.ops.Registry.rnd
    val docs = Tables.table(spark, dir, "documents")
    // ONE doc-keyed pass carries everything downstream: the 4
    // signature mins (duplicate-invariant) AND the distinct shingle
    // SET itself — so the exact-Jaccard leg becomes a row-local
    // array_intersect over the candidate pairs instead of re-shuffling
    // the corpus-sized (doc, shingle) stream per intersection side
    // (measured: the shuffled-join form paid ~8 s at sf1 for 5k pairs;
    // this shape pays one corpus agg + 5k-row joins). The doc-sized
    // frame materializes per call (localCheckpoint, no cross-call
    // cache) and feeds the pair derivation, the estimate, and the
    // exact leg.
    val sig = Tables.fanOut(docs) // single-row-group fixture: spread the explode+md5
      .withColumn("ws", split(col("text"), " "))
      .filter(size(col("ws")) >= 3)
      .select(col("doc_id"),
        explode(expr("transform(sequence(0, size(ws)-3), i -> concat(ws[i], ' ', ws[i+1], ' ', ws[i+2]))")).as("sh"))
      .withColumn("h", md5(col("sh")))
      .groupBy(col("doc_id"))
      .agg(
        // string min-hash slices KEPT here (unlike bandRows): the
        // collect_set below already forces ObjectHashAggregate, which
        // handles string mins without a sort — the r18 conv-to-BIGINT
        // variant only added 4 hex parses per shingle (A/B min
        // 0.62->0.66 s, reverted)
        min(substring(col("h"), 1, 8)).as("m0"),
        min(substring(col("h"), 9, 8)).as("m1"),
        min(substring(col("h"), 17, 8)).as("m2"),
        min(substring(col("h"), 25, 8)).as("m3"),
        collect_set(col("sh")).as("shs"))
      .withColumn("n_sh", size(col("shs")).cast("long"))
      .localCheckpoint()
    // candidate pairs off the signature's 2x2 banding (minhashPairs'
    // posting-list shape, from the already-aggregated doc-sized frame)
    val pairs = sig
      .select(col("doc_id"), explode(array(
        struct(lit(0).as("band"), concat(col("m0"), lit("|"), col("m1")).as("bucket")),
        struct(lit(1).as("band"), concat(col("m2"), lit("|"), col("m3")).as("bucket")))).as("bb"))
      .groupBy(col("bb.band"), col("bb.bucket"))
      .agg(sort_array(collect_list(col("doc_id"))).as("ids"))
      .filter(size(col("ids")) >= 2)
      .select(col("ids"), posexplode(col("ids")).as(Seq("i", "a_id")))
      .select(col("a_id"), explode(expr("slice(ids, i + 2, size(ids))")).as("b_id"))
      .distinct()
    def renamed(p: String) =
      sig.toDF(s"${p}_id", s"${p}0", s"${p}1", s"${p}2", s"${p}3",
        s"${p}_shs", s"${p}_sh")
    def mean6(c: org.apache.spark.sql.Column) =
      rnd(sum(round(c.cast("decimal(18,8)"), 6)).cast("double") / count(lit(1)), 6)
    pairs
      .join(renamed("a"), "a_id").join(renamed("b"), "b_id")
      .withColumn("n_match", (0 to 3).map(i =>
        when(col(s"a$i") === col(s"b$i"), 1).otherwise(0)).reduce(_ + _))
      .withColumn("est", rnd(col("n_match") / lit(4.0), 2))
      .withColumn("n_inter",
        size(array_intersect(col("a_shs"), col("b_shs"))).cast("long"))
      .withColumn("jaccard",
        rnd(col("n_inter") / (col("a_sh") + col("b_sh") - col("n_inter")), 4))
      .groupBy(col("est"))
      .agg(
        count(lit(1)).as("n_pairs"),
        mean6(col("jaccard")).as("mean_jaccard"),
        mean6(abs(col("est") - col("jaccard"))).as("mean_abs_err"))
      .select(col("est"), col("n_pairs"), col("mean_jaccard"), col("mean_abs_err"))
      .orderBy(col("est"))
  }

  // def, not val: minhashCtes is declared further down the object and
  // a val here would interpolate null at object init
  private def minhashEstimateSql =
    s"""WITH $minhashCtes, shd AS (
      |  SELECT DISTINCT doc_id, sh FROM shingles
      |), sizes AS (
      |  SELECT doc_id, count(*) AS n_sh FROM shd GROUP BY doc_id
      |), est AS (
      |  SELECT p.a_id, p.b_id,
      |    CAST(round(CAST((
      |      CASE WHEN sa.m0 = sb.m0 THEN 1 ELSE 0 END +
      |      CASE WHEN sa.m1 = sb.m1 THEN 1 ELSE 0 END +
      |      CASE WHEN sa.m2 = sb.m2 THEN 1 ELSE 0 END +
      |      CASE WHEN sa.m3 = sb.m3 THEN 1 ELSE 0 END) / 4.0 AS DECIMAL(18,8)), 2) AS DOUBLE) AS est
      |  FROM mh_pairs p
      |  JOIN mins sa ON sa.doc_id = p.a_id
      |  JOIN mins sb ON sb.doc_id = p.b_id
      |), inter AS (
      |  SELECT p.a_id, p.b_id, count(*) AS n_inter
      |  FROM mh_pairs p
      |  JOIN shd a ON a.doc_id = p.a_id
      |  JOIN shd b ON b.doc_id = p.b_id AND b.sh = a.sh
      |  GROUP BY p.a_id, p.b_id
      |), scored AS (
      |  SELECT e.est,
      |    CAST(round(CAST(COALESCE(i.n_inter, 0)
      |      / (sa.n_sh + sb.n_sh - COALESCE(i.n_inter, 0)) AS DECIMAL(18,8)), 4) AS DOUBLE) AS jaccard
      |  FROM est e
      |  LEFT JOIN inter i ON i.a_id = e.a_id AND i.b_id = e.b_id
      |  JOIN sizes sa ON sa.doc_id = e.a_id
      |  JOIN sizes sb ON sb.doc_id = e.b_id
      |)
      |SELECT est, CAST(count(*) AS BIGINT) AS n_pairs,
      |  CAST(round(CAST(CAST(sum(round(CAST(jaccard AS DECIMAL(18,8)), 6)) AS DOUBLE) / count(*) AS DECIMAL(18,8)), 6) AS DOUBLE) AS mean_jaccard,
      |  CAST(round(CAST(CAST(sum(round(CAST(abs(est - jaccard) AS DECIMAL(18,8)), 6)) AS DOUBLE) / count(*) AS DECIMAL(18,8)), 6) AS DOUBLE) AS mean_abs_err
      |FROM scored
      |GROUP BY est
      |ORDER BY est""".stripMargin

  private def minhashPairs(spark: SparkSession, dir: String): DataFrame = {
    // candidate pairs from per-bucket posting lists — the signature
    // aggregation is planned ONCE and the pair space stays
    // bucket-bounded, with no self-join re-reading the corpus.
    // fanOut (guide §2.5 input skew): the harness parquet is one row
    // group, so the shingle explode + per-shingle md5 — the dominant
    // per-task work of every minhash consumer — otherwise runs inside
    // the single scan task; hashing by doc_id also lets the signature
    // groupBy reuse the same partitioning (no second exchange).
    val bands = bandRows(Tables.fanOut(Tables.table(spark, dir, "documents")))
    bands.groupBy(col("band"), col("bucket"))
      .agg(sort_array(collect_list(col("doc_id"))).as("ids"))
      .filter(size(col("ids")) >= 2)
      .select(col("ids"), posexplode(col("ids")).as(Seq("i", "a_id")))
      .select(col("a_id"), explode(expr("slice(ids, i + 2, size(ids))")).as("b_id"))
      .distinct()
  }

  private[llm] val minhashCtes =
    """ws AS (
      |  SELECT doc_id, string_split(text, ' ') AS w FROM documents WHERE len(string_split(text, ' ')) >= 3
      |), shingles AS (
      |  SELECT doc_id, unnest(list_transform(generate_series(1, len(w)-2),
      |    i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS sh
      |  FROM ws
      |), mins AS (
      |  SELECT doc_id,
      |    min(substring(md5(sh), 1, 8)) AS m0,
      |    min(substring(md5(sh), 9, 8)) AS m1,
      |    min(substring(md5(sh), 17, 8)) AS m2,
      |    min(substring(md5(sh), 25, 8)) AS m3
      |  FROM shingles GROUP BY doc_id
      |), bands AS (
      |  SELECT doc_id, 0 AS band, m0 || '|' || m1 AS bucket FROM mins
      |  UNION ALL
      |  SELECT doc_id, 1 AS band, m2 || '|' || m3 AS bucket FROM mins
      |), mh_pairs AS (
      |  SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
      |  FROM bands a JOIN bands b
      |    ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id
      |)""".stripMargin

  private lazy val minhashSql =
    s"""WITH $minhashCtes
       |SELECT a_id, b_id FROM mh_pairs
       |ORDER BY a_id, b_id""".stripMargin

  // ---------------------------------------------------------------
  // Near-dup cluster resolution: connected components over the minhash
  // candidate pairs, one canonical survivor (min doc_id) per cluster —
  // the step every real dedup pipeline runs after pair generation (the
  // reference's analog is its one-survivor-per-key compaction,
  // src/processor.ts:260-297).
  //
  // The Spark side runs iterative min-label propagation: each round is
  // one edge-join + min-aggregation, and a component's labels converge
  // in O(diameter) rounds — the dataflow shape of large-scale CC
  // (large-star/small-star contraction cuts rounds to O(log n) at
  // 100 TB, same join+agg per round). The per-round driver action is
  // one boolean convergence check, not data; localCheckpoint keeps the
  // plan flat instead of growing one join per round, the previous
  // round's blocks are unpersisted as soon as the next round is
  // materialized (a long bench session would otherwise accumulate
  // them), and the convergence check carries the old label through the
  // round's aggregation so it is a filter over the just-checkpointed
  // result, not a second shuffle join. The oracle walks the same
  // reachability with a recursive CTE (UNION-distinct terminates on
  // cycles) and takes min per node.
  private def clusterCanonical(spark: SparkSession, dir: String): DataFrame =
    clusterLabels(spark, dir)
      .withColumn("is_canonical", col("component") === col("doc_id"))
      .orderBy(col("doc_id"))

  /** Full-corpus (doc_id, component) labeling — the min-label
    * propagation loop, singletons included — shared by
    * [[clusterCanonical]] and [[keepBest]].
    *
    * Cached per (dir, session): the labeling is the CLUSTER INDEX a
    * dedup pipeline materializes once and shares across every policy
    * query downstream (canonical-by-id, keep-best, dedup_semantic's
    * consumers) — the same build-once amortization as the trained
    * codebook / PQ sidecars. Only the checkpointed handle is held on
    * the driver; the blocks live on the executors. Keyed by session so
    * a restarted session (whose checkpointed RDDs are gone) rebuilds
    * instead of dereferencing a dead context. */
  private val labelCache =
    new java.util.concurrent.ConcurrentHashMap[(String, SparkSession), DataFrame]()

  private def clusterLabels(spark: SparkSession, dir: String): DataFrame =
    labelCache.computeIfAbsent((dir, spark),
      (k: (String, SparkSession)) => clusterLabelsBuild(k._2, k._1))

  private def clusterLabelsBuild(spark: SparkSession, dir: String): DataFrame = {
    val pairs = minhashPairs(spark, dir).localCheckpoint()
    val edges = pairs.select(col("a_id").as("u"), col("b_id").as("v"))
      .union(pairs.select(col("b_id").as("u"), col("a_id").as("v")))
      .localCheckpoint()
    var labels = pairs.select(explode(array(col("a_id"), col("b_id"))).as("node"))
      .distinct()
      .select(col("node"), col("node").as("component"))
      .localCheckpoint()
    pairs.unpersist()
    var converged = false
    var rounds = 0
    while (!converged && rounds < 50) {
      val viaNeighbor = edges.join(labels, edges("v") === labels("node"))
        .groupBy(edges("u").as("node"))
        .agg(min(col("component")).as("nb"))
      val next = labels.join(viaNeighbor, Seq("node"), "left")
        .select(col("node"),
          least(col("component"), coalesce(col("nb"), col("component"))).as("component"),
          col("component").as("old"))
        .localCheckpoint()
      converged = next.filter(col("component") =!= col("old")).isEmpty
      labels.unpersist()
      labels = next.select(col("node"), col("component"))
      rounds += 1
    }
    edges.unpersist()
    // docs in no candidate pair are their own singleton component
    Tables.table(spark, dir, "documents").select(col("doc_id"))
      .join(labels, col("doc_id") === col("node"), "left")
      .select(col("doc_id"),
        coalesce(col("component"), col("doc_id")).as("component"))
  }

  // ---------------------------------------------------------------
  // Canonical selection by QUALITY, not by id: real dedup pipelines
  // keep the best-scoring member of each near-dup cluster (longest /
  // cleanest / highest-LM-score), not the lowest key — the survivor
  // choice is a policy, and this query is the policy twin of
  // clusterCanonical with the text_quality score as the priority.
  // Same component labeling (shared clusterLabels loop + the identical
  // recursive-CTE oracle), then one argmax window per component over
  // (quality DESC, doc_id) — the score is 3-dp-rounded BEFORE ranking,
  // so cross-engine near-ties collapse to exact ties broken by doc_id
  // (the tfidf_keyword discipline).
  //
  // Scale shape: labeling is the propagation loop (O(diameter) rounds,
  // star-contraction upgrade documented at clusterStar); the argmax is
  // ONE shuffle on component over doc-level rows. Nothing here touches
  // the corpus text a second time — quality is a per-row projection.
  private def keepBest(spark: SparkSession, dir: String): DataFrame = {
    val q = TextQueries.qualityScore(Tables.table(spark, dir, "documents"))
    val w = Window.partitionBy(col("component"))
      .orderBy(col("quality").desc, col("doc_id"))
    clusterLabels(spark, dir)
      .join(q, Seq("doc_id"))
      .withColumn("keep", row_number().over(w) === 1)
      .select(col("doc_id"), col("component"), col("quality"), col("keep"))
      .orderBy(col("doc_id"))
  }

  private lazy val keepBestSql =
    s"""WITH RECURSIVE $minhashCtes, edges AS (
       |  SELECT a_id AS u, b_id AS v FROM mh_pairs
       |  UNION ALL
       |  SELECT b_id AS u, a_id AS v FROM mh_pairs
       |), reach(node, r) AS (
       |  SELECT DISTINCT u, u FROM edges
       |  UNION
       |  SELECT e.v, reach.r FROM reach JOIN edges e ON e.u = reach.node
       |), comp AS (
       |  SELECT node, min(r) AS component FROM reach GROUP BY node
       |), labeled AS (
       |  SELECT d.doc_id, COALESCE(c.component, d.doc_id) AS component
       |  FROM documents d LEFT JOIN comp c ON c.node = d.doc_id
       |), feat AS (
       |  SELECT doc_id,
       |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_words,
       |    CAST(len(list_filter(string_split(text, ' '),
       |      w -> w IN ('the','a','and','of','to','in'))) AS BIGINT) AS n_stop
       |  FROM documents
       |), q AS (
       |  SELECT doc_id,
       |    CAST(round(CAST(0.5 * least(CAST(n_words AS DOUBLE) / 100.0, 1.0)
       |      + 0.5 * (1.0 - CAST(round(CAST(CAST(n_stop AS DOUBLE) / n_words AS DECIMAL(18,8)), 3) AS DOUBLE)) AS DECIMAL(18,8)), 3) AS DOUBLE) AS quality
       |  FROM feat
       |)
       |SELECT l.doc_id, l.component, q.quality,
       |  (row_number() OVER (PARTITION BY l.component ORDER BY q.quality DESC, l.doc_id) = 1) AS keep
       |FROM labeled l JOIN q USING (doc_id)
       |ORDER BY l.doc_id""".stripMargin

  // ---------------------------------------------------------------
  // Connected components by ALTERNATING LARGE-STAR/SMALL-STAR
  // contraction — the O(log n)-round formulation the propagation
  // variant's comment promises as the 100 TB upgrade, here as a
  // first-class query producing the identical labeling (same oracle).
  //
  // Why rounds matter at scale: min-label propagation needs O(diameter)
  // rounds, and near-dup clusters can chain (A~B~C~...) into long
  // paths; each round is a full shuffle over the edge set, so a
  // 40-link chain costs 40 shuffles. Star contraction rewires edges
  // toward component minima so the structure collapses geometrically:
  //  - large-star(u): every strictly-larger neighbor of u re-attaches
  //    to m(u) = min(Γ(u) ∪ {u});
  //  - small-star(u): every smaller-or-equal neighbor (and u itself)
  //    re-attaches to m(u).
  // Both are one groupBy + one join over the edges — the same per-round
  // dataflow as propagation — but the alternation converges in
  // O(log n) rounds regardless of diameter (Kiveris et al.,
  // "Connected Components in MapReduce and Beyond", SOCC'14; the
  // public formulation followed here). Edges stay canonical (hi, lo)
  // between steps; convergence = edge-set fixpoint (count + one
  // anti-join — exact, not a hash heuristic). Each round
  // localCheckpoints and unpersists its predecessor, same lineage
  // discipline as the propagation variant.
  //
  // Measured honestly at sf0.1: star 1.97 s vs propagation 1.57 s —
  // the harness's near-dup clusters are shallow, so propagation's
  // single cheaper op per round wins at toy scale; star's advantage is
  // the round COUNT bound, which pays off exactly when components
  // chain deep (the regime a 100 TB web-dedup corpus lives in, where a
  // diameter-40 chain costs propagation 40 full-edge shuffles).
  private def clusterStar(spark: SparkSession, dir: String): DataFrame = {
    // no pin on the pair table (r19): it is consumed exactly once — by
    // the edge canonicalization directly below, whose own checkpoint
    // already truncates the banding lineage — so the old eager
    // localCheckpoint was one full extra materialization job per
    // invocation for zero reuse (the pagerank single-consumer lesson,
    // guide §5)
    val pairs = minhashPairs(spark, dir)
    // canonical undirected edges: hi > lo (minhash pairs have a_id <
    // b_id already; keep the invariant explicit and dedup)
    var edges = pairs
      .select(greatest(col("a_id"), col("b_id")).as("hi"),
        least(col("a_id"), col("b_id")).as("lo"))
      .filter(col("hi") =!= col("lo")).distinct()
      .localCheckpoint()

    // Both ops compute each node's neighborhood min as a WINDOW over
    // the adjacency, not a groupBy + self-join: the aggregate-join form
    // moves the (large) adjacency side through TWO hash exchanges per
    // op, the window form through one exchange + an in-partition sort —
    // at 100 TB the adjacency is the term that matters. (At sf0.1 the
    // wall time is unchanged ~1.96 s either way: the toy-scale cost is
    // per-round job latency — checkpoint + convergence probes — not
    // data volume; the exchange halving is a scale property, same as
    // the O(log n) round bound itself.)
    import org.apache.spark.sql.expressions.Window

    def largeStar(e: DataFrame): DataFrame = {
      val nb = e.select(col("hi").as("u"), col("lo").as("v"))
        .union(e.select(col("lo").as("u"), col("hi").as("v")))
      // strictly-larger neighbors re-attach to m(u); m <= u < v keeps
      // the (hi=v, lo=m) canonical form for free
      nb.withColumn("m",
          least(min(col("v")).over(Window.partitionBy(col("u"))), col("u")))
        .filter(col("v") > col("u"))
        .select(col("v").as("hi"), col("m").as("lo"))
      // no distinct here (r18): smallStar consumes this through a
      // duplicate-invariant window min and ends in its own distinct, so
      // the round's edge set is identical — dropping the intermediate
      // dedup removes one exchange per round (guide §2.4); duplicate
      // (v, m) rows exist only where several smaller neighbors of v
      // share a minimum, bounded by the round's own contraction
    }

    def smallStar(e: DataFrame): DataFrame = {
      // neighbors ≤ u are exactly the lo side of canonical edges; each
      // edge row emits its re-attached lo-neighbor and (once, via
      // distinct) the hub's own edge to m
      e.withColumn("m", min(col("lo")).over(Window.partitionBy(col("hi"))))
        .select(explode(array(
          struct(col("lo").as("hi"), col("m").as("lo")),
          struct(col("hi"), col("m").as("lo")))).as("edge"))
        .select(col("edge.hi").as("hi"), col("edge.lo").as("lo"))
        .filter(col("hi") =!= col("lo"))
        .distinct()
    }

    var converged = false
    var rounds = 0
    // per-round job budget (r19, the 8v32-core inverse-ratio item): at
    // toy scale each round is job-launch bound, so the loop runs TWO
    // jobs per round instead of four — the checkpoint is LAZY (the
    // convergence count is the action that materializes it; an eager
    // pin would run the identical computation as its own extra job)
    // and the predecessor's cardinality is carried in a variable
    // instead of recounted (same number: it was counted when it was
    // `next`). The anti-join probe only runs on count-equal rounds.
    var edgeCount = edges.count()
    while (!converged && rounds < 15) {
      val next = smallStar(largeStar(edges)).localCheckpoint(false)
      // exact fixpoint: same cardinality and no edge left the set
      val nextCount = next.count()
      converged = nextCount == edgeCount &&
        next.join(edges, Seq("hi", "lo"), "left_anti").isEmpty
      edges.unpersist()
      edges = next
      edgeCount = nextCount
      rounds += 1
    }
    // star state: every node's min neighbor (or itself) IS its
    // component label
    val nb = edges.select(col("hi").as("u"), col("lo").as("v"))
      .union(edges.select(col("lo").as("u"), col("hi").as("v")))
    val labels = nb.groupBy(col("u")).agg(min(col("v")).as("mn"))
      .select(col("u").as("node"), least(col("mn"), col("u")).as("component"))
    Tables.table(spark, dir, "documents").select(col("doc_id"))
      .join(labels, col("doc_id") === col("node"), "left")
      .select(col("doc_id"),
        coalesce(col("component"), col("doc_id")).as("component"))
      .withColumn("is_canonical", col("component") === col("doc_id"))
      .orderBy(col("doc_id"))
  }

  private lazy val clusterCanonicalSql =
    s"""WITH RECURSIVE $minhashCtes, edges AS (
       |  SELECT a_id AS u, b_id AS v FROM mh_pairs
       |  UNION ALL
       |  SELECT b_id AS u, a_id AS v FROM mh_pairs
       |), reach(node, r) AS (
       |  SELECT DISTINCT u, u FROM edges
       |  UNION
       |  SELECT e.v, reach.r FROM reach JOIN edges e ON e.u = reach.node
       |), comp AS (
       |  SELECT node, min(r) AS component FROM reach GROUP BY node
       |)
       |SELECT d.doc_id,
       |  COALESCE(c.component, d.doc_id) AS component,
       |  (COALESCE(c.component, d.doc_id) = d.doc_id) AS is_canonical
       |FROM documents d LEFT JOIN comp c ON c.node = d.doc_id
       |ORDER BY d.doc_id""".stripMargin

  // ---------------------------------------------------------------
  // SimHash near-dup pairs: candidates share the 16-bit prefix bucket
  // (the LSH step), then exact Hamming distance over the fingerprints
  // filters to <= 12 differing bits. Like every near-dup variant here,
  // the pair space is bucket-bounded, never all-pairs.
  private def simhashPairs(spark: SparkSession, dir: String): DataFrame = {
    // per-bucket posting lists: the (expensive) 63-vote fingerprint
    // aggregation is planned ONCE, vs twice with a self-join on prefix16
    fingerprints(spark, dir)
      .groupBy(col("prefix16"))
      .agg(sort_array(collect_list(struct(col("doc_id"), col("simhash")))).as("xs"))
      .filter(size(col("xs")) >= 2)
      .select(col("xs"), posexplode(col("xs")).as(Seq("i", "x")))
      .select(col("x"), explode(expr("slice(xs, i + 2, size(xs))")).as("y"))
      .select(col("x.doc_id").as("a_id"), col("y.doc_id").as("b_id"),
        expr("bit_count(x.simhash ^ y.simhash)").cast("int").as("hamming"))
      .filter(col("hamming") <= 12)
      .orderBy(col("a_id"), col("b_id"))
  }

  private def simhashPairsSql: String =
    s"""WITH $fingerprintCtes
       |SELECT a.doc_id AS a_id, b.doc_id AS b_id,
       |  CAST(bit_count(xor(a.simhash, b.simhash)) AS INT) AS hamming
       |FROM fp a JOIN fp b ON a.prefix16 = b.prefix16 AND a.doc_id < b.doc_id
       |WHERE bit_count(xor(a.simhash, b.simhash)) <= 12
       |ORDER BY a_id, b_id""".stripMargin

  // ---------------------------------------------------------------
  // Embedding-cosine near-dup: vector pairs above a similarity
  // threshold, blocked by a caller-chosen key — unblocked all-pairs is
  // quadratic in the corpus. Two registered forms: `label` (the
  // cluster/shard key a curated corpus already carries) and an 8-bit
  // sign-LSH signature (the self-contained key a raw 100 TB corpus
  // derives from the vectors themselves; same cosine-LSH family as
  // SimilarityQueries.lshTopK). Unit vectors are precomputed once so
  // the per-pair work is a single dot product.
  private def embeddingPairs(spark: SparkSession, dir: String): DataFrame = {
    val e = embeddingsWithUnit(spark, dir).withColumn("block", col("label"))
    blockedPairs(e, threshold = 0.4,
      guard = Some(("embedding_pairs_label", s"$dir/embeddings.parquet")))
      .withColumnRenamed("block", "label")
      .select(col("a_id"), col("b_id"), col("label"), col("sim"))
  }

  // sign-LSH signature: bit i = (v[i] > 0) — axis-aligned random
  // hyperplanes, reproducible from the raw floats in any engine; the
  // native ElementSignBits expression packs the 8 sign tests in one
  // codegen'd loop (same SignBits family as sim_lsh_topk's signature)
  private def embeddingPairsLsh(spark: SparkSession, dir: String): DataFrame = {
    val e = embeddingsWithUnit(spark, dir)
      .withColumn("block", graft.expressions.SignFunctions.elementSignBits(col("v"), 8))
    blockedPairs(e, threshold = 0.3,
      guard = Some(("embedding_pairs_lsh", s"$dir/embeddings.parquet")))
      .select(col("a_id"), col("b_id"), col("block"), col("sim"))
  }

  // ---------------------------------------------------------------
  // Semantic dedup (the SemDeDup shape, Abbas et al. 2023): cluster the
  // corpus by nearest-centroid assignment, then WITHIN each cell drop
  // every vector that has a higher-similarity twin with a smaller id —
  // one survivor per near-dup set, no cross-cell pairs ever formed.
  // The cell key is self-derived (fixed 64-centroid codebook via the
  // native exchange-free NearestCell assignment), so block sizes track
  // data geometry, not corpus size — the property the round-6 sweep
  // showed separates linear from quadratic scaling. Composition of
  // existing primitives: IVF assignment + blocked pairs + min-id keep.
  private def semanticDedup(spark: SparkSession, dir: String): DataFrame = {
    import graft.expressions.VectorFunctions.{dot => ndot}
    val e = embeddingsWithUnit(spark, dir)
    val c = e.filter(col("vec_id") % 50 === 0 && col("vec_id") < 50 * 64)
      .select(col("vec_id").as("cid"), col("v").as("cv"), col("nrm").as("cn"))
    val cb = c.agg(collect_list(struct(col("cid"), col("cv"), col("cn"))).as("cb"))
    val assign = e.crossJoin(broadcast(cb))
      .withColumn("cell",
        graft.expressions.CellFunctions.nearestCell(col("v"), col("nrm"), col("cb")))
      .select(col("vec_id"), col("cell"), col("u"))
    val a = assign.select(col("vec_id").as("a_id"), col("cell"), col("u").as("au"))
    val b = assign.select(col("vec_id").as("b_id"), col("cell").as("c2"), col("u").as("bu"))
    // a vector is dropped iff some SMALLER-id vector in its cell is a
    // near-dup (sim >= 0.4 on the rounded cosine)
    val dropped = a.join(b, col("cell") === col("c2") && col("a_id") < col("b_id"))
      .withColumn("sim", graft.ops.Registry.rnd(ndot(col("au"), col("bu")), 4))
      .filter(col("sim") >= 0.4)
      .select(col("b_id")).distinct()
    assign.join(dropped, col("vec_id") === col("b_id"), "left")
      .select(col("vec_id"), col("cell"), col("b_id").isNull.as("keep"))
      .orderBy(col("vec_id"))
  }

  private val semanticDedupSql =
    """WITH e AS (
      |  SELECT vec_id, embedding::DOUBLE[] AS v,
      |    sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS nrm,
      |    list_transform(embedding::DOUBLE[],
      |      x -> x / sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]))) AS u
      |  FROM embeddings
      |), c AS (
      |  SELECT vec_id AS cid, v AS cv, nrm AS cn FROM e
      |  WHERE vec_id % 50 = 0 AND vec_id < 3200
      |), assign AS (
      |  SELECT vec_id, cid AS cell, u FROM (
      |    SELECT e.vec_id, c.cid, e.u,
      |      row_number() OVER (PARTITION BY e.vec_id ORDER BY
      |        CAST(round(CAST(list_dot_product(e.v, c.cv) / (e.nrm * c.cn) AS DECIMAL(18,8)), 4) AS DOUBLE) DESC,
      |        c.cid) AS rn
      |    FROM e CROSS JOIN c
      |  ) WHERE rn = 1
      |), dropped AS (
      |  SELECT DISTINCT b.vec_id AS b_id
      |  FROM assign a JOIN assign b ON a.cell = b.cell AND a.vec_id < b.vec_id
      |  WHERE CAST(round(CAST(list_dot_product(a.u, b.u) AS DECIMAL(18,8)), 4) AS DOUBLE) >= 0.4
      |)
      |SELECT v.vec_id, v.cell, (d.b_id IS NULL) AS keep
      |FROM assign v LEFT JOIN dropped d ON v.vec_id = d.b_id
      |ORDER BY v.vec_id""".stripMargin

  private[llm] def embeddingsWithUnit(spark: SparkSession, dir: String): DataFrame = {
    import graft.expressions.VectorFunctions.{dot => ndot}
    Tables.table(spark, dir, "embeddings")
      .select(col("vec_id"), col("label"), expr("transform(embedding, x -> cast(x AS double))").as("v"))
      .withColumn("nrm", sqrt(ndot(col("v"), col("v"))))
      .withColumn("u", expr("transform(v, x -> x / nrm)"))
  }

  /** Same-block pairs above the cosine threshold; expects (vec_id,
    * block, u). The per-pair join is quadratic IN THE BLOCK, so the
    * block-size contract is ENFORCED, not just documented (VERDICT r6
    * #5): any block larger than `maxBlock` aborts the query with the
    * remediation spelled out, instead of silently launching an
    * all-pairs join a 100 TB corpus cannot afford. The bound check is
    * one cheap aggregate over the (already small) per-block counts. */
  private[llm] def blockedPairs(e: DataFrame, threshold: Double, maxBlock: Long = 100000L,
      guard: Option[(String, String)] = None): DataFrame = {
    import graft.expressions.VectorFunctions.{dot => ndot}
    // worst-block stat: session-cached per (guard name, table mtime)
    // when the caller supplies a stable table identity, recomputed per
    // call for ad-hoc frames; the bound is enforced on EVERY invocation
    def computeWorst: Option[(Vector[Any], Long)] =
      e.groupBy(col("block")).count()
        .orderBy(col("count").desc).limit(1).collect()
        .headOption.map(r => (Vector(r.get(0)), r.getLong(1)))
    val worst = guard match {
      case Some((name, path)) => graft.ops.BlockGuard.worstBlock(name, path)(computeWorst)
      case None               => computeWorst
    }
    worst.filter(_._2 > maxBlock).foreach { case (labels, n) =>
      throw new IllegalStateException(
        s"embedding block '${labels(0)}' holds $n vectors (bound: $maxBlock): " +
          "the exact pair form is quadratic per block — use the sign-LSH-blocked variant " +
          "(dedup_embedding_pairs_lsh) or the ANN top-k path, or raise maxBlock deliberately")
    }
    val a = e.select(col("vec_id").as("a_id"), col("block"), col("u").as("au"))
    val b = e.select(col("vec_id").as("b_id"), col("block").as("b2"), col("u").as("bu"))
    a.join(b, col("block") === col("b2") && col("a_id") < col("b_id"))
      .withColumn("sim", graft.ops.Registry.rnd(ndot(col("au"), col("bu")), 4))
      .filter(col("sim") >= threshold)
      .select(col("a_id"), col("b_id"), col("block"), col("sim"))
      .orderBy(col("a_id"), col("b_id"))
  }

  private val embeddingPairsSql =
    """WITH e AS (
      |  SELECT vec_id, label,
      |    list_transform(embedding::DOUBLE[],
      |      x -> x / sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]))) AS u
      |  FROM embeddings
      |)
      |SELECT a.vec_id AS a_id, b.vec_id AS b_id, a.label AS label,
      |  CAST(round(CAST(list_dot_product(a.u, b.u) AS DECIMAL(18,8)), 4) AS DOUBLE) AS sim
      |FROM e a JOIN e b ON a.label = b.label AND a.vec_id < b.vec_id
      |WHERE CAST(round(CAST(list_dot_product(a.u, b.u) AS DECIMAL(18,8)), 4) AS DOUBLE) >= 0.4
      |ORDER BY a_id, b_id""".stripMargin

  private lazy val embeddingPairsLshSql = {
    val sig = (0 until 8)
      .map(i => s"(CASE WHEN v[${i + 1}] > 0 THEN ${1L << i} ELSE 0 END)")
      .mkString(" + ")
    s"""WITH e AS (
       |  SELECT vec_id, embedding::DOUBLE[] AS v,
       |    list_transform(embedding::DOUBLE[],
       |      x -> x / sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]))) AS u
       |  FROM embeddings
       |), sig AS (
       |  SELECT vec_id, u, CAST($sig AS BIGINT) AS block FROM e
       |)
       |SELECT a.vec_id AS a_id, b.vec_id AS b_id, a.block AS block,
       |  CAST(round(CAST(list_dot_product(a.u, b.u) AS DECIMAL(18,8)), 4) AS DOUBLE) AS sim
       |FROM sig a JOIN sig b ON a.block = b.block AND a.vec_id < b.vec_id
       |WHERE CAST(round(CAST(list_dot_product(a.u, b.u) AS DECIMAL(18,8)), 4) AS DOUBLE) >= 0.3
       |ORDER BY a_id, b_id""".stripMargin
  }

  // ---------------------------------------------------------------
  // SimHash: 60-bit fingerprint from md5 word hashes (bit votes).
  // One wide aggregation (60 conditional sums) instead of exploding a
  // row per (word, bit) — single pass over the word rows, all codegen.
  // A word's hash is the first 15 hex chars of md5(w) parsed as a
  // 60-bit integer — ONE string parse per word (conv here, a '0x' cast
  // in DuckDB), after which every bit vote is pure integer arithmetic;
  // the same md5-slice trick that made minhash oracle-portable, so the
  // whole SimHash family is DuckDB-checked.
  private def simhash(spark: SparkSession, dir: String): DataFrame =
    fingerprints(spark, dir).orderBy(col("doc_id"))

  private def simhashSql: String =
    s"""WITH $fingerprintCtes
       |SELECT doc_id, simhash, prefix16 FROM fp ORDER BY doc_id""".stripMargin

  private def fingerprints(spark: SparkSession, dir: String): DataFrame = {
    // fanOut: the per-word md5+conv below is the family's hot loop and
    // the harness scan is one row group (single task without the
    // spread); hashing by doc_id lets the 60-vote groupBy reuse the
    // partitioning instead of adding an exchange (guide §2.4/§2.5)
    val words = Tables.fanOut(Tables.table(spark, dir, "documents"))
      .select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
      .select(col("doc_id"),
        expr("cast(conv(substring(md5(w), 1, 15), 16, 10) AS bigint)").as("hl"))
    val voteAggs = (0 until 60).map { i =>
      sum(when(expr(s"(hl div ${1L << i}L) % 2 = 1"), 1).otherwise(-1)).as(s"s$i")
    }
    val assemble = (0 until 60)
      .map(i => s"if(s$i > 0, ${1L << i}L, 0L)").mkString(" + ")
    words.groupBy(col("doc_id"))
      .agg(voteAggs.head, voteAggs.tail: _*)
      .select(col("doc_id"), expr(assemble).as("simhash"))
      // bucket = top prefix bits of the 60-bit fingerprint; width from
      // the one LSH knob (graft.ops.Lsh — default 16, oracle-stable).
      // the column keeps its historical name at any width
      .withColumn("prefix16",
        expr(s"simhash div ${1L << (60 - graft.ops.Lsh.prefixBits(16, 60))}L"))
  }

  /** DuckDB twin of [[fingerprints]], shared by both simhash oracles. */
  private def fingerprintCtes: String = {
    val votes = (0 until 60)
      .map(i => s"sum(CASE WHEN (hl // ${1L << i}) % 2 = 1 THEN 1 ELSE -1 END) AS s$i")
      .mkString(",\n    ")
    val assemble = (0 until 60)
      .map(i => s"(CASE WHEN s$i > 0 THEN ${1L << i} ELSE 0 END)")
      .mkString(" + ")
    s"""words AS (
       |  SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents
       |), hashes AS (
       |  SELECT doc_id, ('0x' || substring(md5(w), 1, 15))::BIGINT AS hl FROM words
       |), votes AS (
       |  SELECT doc_id,
       |    $votes
       |  FROM hashes GROUP BY doc_id
       |), fp0 AS (
       |  SELECT doc_id, CAST($assemble AS BIGINT) AS simhash FROM votes
       |), fp AS (
       |  SELECT doc_id, simhash,
       |    simhash // ${1L << (60 - graft.ops.Lsh.prefixBits(16, 60))} AS prefix16 FROM fp0
       |)""".stripMargin
  }

  // ---------------------------------------------------------------
  // Exact-substring window dedup (the Lee et al. 2022 "duplicated
  // training-data span" shape): every K-token window is hashed; a
  // window is DUP iff the same hash occurs in at least one OTHER doc.
  //
  // Plan: one explode keeps windows inside the scan task; the dup flag
  // is min!=max-doc over the hash key (ONE shuffle, no join — the
  // ngram-novelty trick); per-doc stats re-aggregate on doc_id (second
  // linear shuffle). At 100 TB the only refinement is skew: a
  // boilerplate window shared by millions of docs makes a hot hash
  // partition, and the window formulation would sort it — swap the
  // flag to groupBy(h).agg(min,max) (map-side combine flattens the hot
  // key) + a join back. The hash itself is an md5 prefix for oracle
  // parity; a deployment would use xxhash64 (same plan, 4x cheaper).
  private val winK = 8

  /** (doc_id, pos, h) for every K-token window; pos is the 1-based
    * start-token index. */
  private def substringWindows(docs: DataFrame): DataFrame =
    // fanOut: the K-token window explode computes one md5 per TOKEN
    // POSITION — the heaviest per-row stage in the dedup family — and
    // the harness scan is one row group; spread it across the pool
    // before the explode (guide §2.5; no-op effect at real scale where
    // the scan arrives pre-split)
    Tables.fanOut(docs)
      .withColumn("ws", split(col("text"), " "))
      .where(size(col("ws")) >= winK)
      .select(col("doc_id"), posexplode(expr(
        s"transform(sequence(1, size(ws) - ${winK - 1}), " +
          s"i -> substring(md5(concat_ws(' ', slice(ws, i, $winK))), 1, 16))"))
        .as(Seq("pos0", "h")))
      .select(col("doc_id"), (col("pos0") + 1).cast("long").as("pos"), col("h"))

  private def dupFlagged(docs: DataFrame): DataFrame = {
    val byH = Window.partitionBy(col("h"))
    substringWindows(docs)
      .withColumn("dup",
        min(col("doc_id")).over(byH) =!= max(col("doc_id")).over(byH))
  }

  /** Per-doc duplicated-window fraction + keep gate; covers EVERY doc
    * (sub-K-word docs surface with n_windows = 0, keep = true). */
  def substringFracGate(docs: DataFrame): DataFrame = {
    val scored = dupFlagged(docs)
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_windows"),
        sum(when(col("dup"), 1L).otherwise(0L)).as("n_dup"))
      .withColumn("dup_frac",
        graft.ops.Registry.rnd(col("n_dup").cast("double") / col("n_windows"), 4))
    docs.select(col("doc_id"))
      .join(scored, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_windows"), lit(0L)).as("n_windows"),
        coalesce(col("n_dup"), lit(0L)).as("n_dup"),
        col("dup_frac"),
        when(col("n_windows").isNull, lit(true))
          .otherwise(col("dup_frac") <= 0.5).as("keep"))
  }

  private def substringFrac(spark: SparkSession, dir: String): DataFrame =
    substringFracGate(Tables.table(spark, dir, "documents"))
      .orderBy(col("doc_id"))

  private val substringWindowsSql =
    s"""w AS (
       |  SELECT doc_id, ws FROM (
       |    SELECT doc_id, string_split(text, ' ') AS ws FROM documents
       |  ) WHERE len(ws) >= $winK
       |), win AS (
       |  SELECT doc_id,
       |    unnest(range(1, len(ws) - ${winK - 2})) AS pos,
       |    unnest(list_transform(range(1, len(ws) - ${winK - 2}),
       |      i -> substring(md5(array_to_string(list_slice(ws, i, i + ${winK - 1}), ' ')), 1, 16))) AS h
       |  FROM w
       |), d AS (
       |  SELECT doc_id, pos,
       |    min(doc_id) OVER (PARTITION BY h) <> max(doc_id) OVER (PARTITION BY h) AS dup
       |  FROM win
       |)""".stripMargin

  private lazy val substringFracSql =
    s"""WITH $substringWindowsSql, a AS (
       |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_windows,
       |    CAST(sum(CASE WHEN dup THEN 1 ELSE 0 END) AS BIGINT) AS n_dup
       |  FROM d GROUP BY doc_id
       |)
       |SELECT x.doc_id,
       |  CAST(COALESCE(a.n_windows, 0) AS BIGINT) AS n_windows,
       |  CAST(COALESCE(a.n_dup, 0) AS BIGINT) AS n_dup,
       |  CAST(round(CAST(CAST(a.n_dup AS DOUBLE) / a.n_windows AS DECIMAL(18,8)), 4) AS DOUBLE) AS dup_frac,
       |  CASE WHEN a.n_windows IS NULL THEN true
       |    ELSE CAST(round(CAST(CAST(a.n_dup AS DOUBLE) / a.n_windows AS DECIMAL(18,8)), 4) AS DOUBLE) <= 0.5
       |  END AS keep
       |FROM documents x LEFT JOIN a ON a.doc_id = x.doc_id
       |ORDER BY x.doc_id""".stripMargin

  /** Merged duplicated spans per doc: consecutive dup windows whose
    * starts are within K tokens chain into one [span_start,
    * span_end_excl) token range — the unit a substring-dedup pipeline
    * actually cuts. Same sessionize shape as events_sessionize: lag +
    * running sum over (doc_id, pos). */
  private def substringSpans(spark: SparkSession, dir: String): DataFrame =
    substringSpansOf(Tables.table(spark, dir, "documents"))
      .orderBy(col("doc_id"), col("span_start"))

  /** The span extractor over any documents-shaped frame (doc_id, text). */
  def substringSpansOf(docs: DataFrame): DataFrame = {
    val byDoc = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    val running = byDoc.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    dupFlagged(docs)
      .filter(col("dup"))
      .withColumn("prev", lag(col("pos"), 1).over(byDoc))
      .withColumn("brk",
        when(col("prev").isNull || col("pos") - col("prev") > winK, 1L).otherwise(0L))
      .withColumn("span", sum(col("brk")).over(running))
      .groupBy(col("doc_id"), col("span"))
      .agg(min(col("pos")).as("span_start"),
        (max(col("pos")) + winK).as("span_end_excl"),
        count(lit(1)).as("n_windows"))
      .select(col("doc_id"), col("span_start"), col("span_end_excl"), col("n_windows"))
  }

  private lazy val substringSpansSql =
    s"""WITH $substringWindowsSql, f AS (
       |  SELECT doc_id, pos,
       |    CASE WHEN lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) IS NULL
       |      OR pos - lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) > $winK
       |      THEN 1 ELSE 0 END AS brk
       |  FROM d WHERE dup
       |), n AS (
       |  SELECT doc_id, pos,
       |    sum(brk) OVER (PARTITION BY doc_id ORDER BY pos
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS span
       |  FROM f
       |)
       |SELECT doc_id, CAST(min(pos) AS BIGINT) AS span_start,
       |  CAST(max(pos) + $winK AS BIGINT) AS span_end_excl,
       |  CAST(count(*) AS BIGINT) AS n_windows
       |FROM n GROUP BY doc_id, span
       |ORDER BY doc_id, span_start""".stripMargin

  // ---------------------------------------------------------------
  // Dup-graph transitivity audit: triangle count and global
  // clustering coefficient of the MinHash candidate-pair graph. A
  // near-dup graph of TRUE copies is cliquish (every pair of a
  // 3-copy cluster collides → triangles); a graph of drifting
  // chained edits or hash-collision noise is path-like (wedges that
  // never close). Transitivity = 3·triangles / wedges is the one
  // number separating the two regimes — the index-health audit run
  // before trusting connected components to define dedup clusters
  // (a low value says "clusters are chains; survivor choice loses
  // real variants").
  //
  // Algorithm: degree-ordered triangle enumeration (the distributed
  // standard — Suri & Vassilvitskii, WWW 2011: orient every edge from
  // its lower (degree, id) endpoint, enumerate wedges at the low
  // vertex, close against the oriented edge set). Orientation bounds
  // wedge work by Σ d_out² = O(m^1.5) regardless of hubs, and because
  // wedge legs sort by the SAME (degree, id) key as the orientation,
  // the closing edge is always oriented v→w — one equi-join, no
  // direction disjunction.
  //
  // Scale shape: the graph is the banding's candidate-pair output —
  // already bucket-bounded (never all-pairs). Degrees are one
  // aggregation over 2·m rows; the wedge self-join shuffles on the
  // low vertex and the close is an equi-join on (v, w). All counts
  // are exact integers; the coefficient floats once, snapped 6 dp.
  private def graphTriangles(spark: SparkSession, dir: String): DataFrame = {
    // Pin the candidate-pair table: the plan below references `pairs`
    // once per degree/orientation/wedge/close consumer, and with the
    // oriented self-join those references multiply — the un-pinned
    // initial plan carried the shingle+md5+banding subtree 148-Exchange
    // deep (plans/r18/dedup_graph_triangles_before.txt) and leaned on
    // runtime exchange reuse to deduplicate it. The pair table is
    // bucket-bounded (tiny vs the corpus), so the one eager
    // materialization replaces dozens of planned subtrees with a
    // cached-block scan (guide §5 localCheckpoint; same discipline as
    // clusterStar).
    val pairs = minhashPairs(spark, dir).localCheckpoint()
    val deg = pairs.select(col("a_id").as("node"))
      .union(pairs.select(col("b_id").as("node")))
      .groupBy(col("node")).agg(count(lit(1)).as("d"))
    val aLess = (col("da") < col("db")) ||
      (col("da") === col("db") && col("a_id") < col("b_id"))
    val oriented = pairs
      .join(deg.select(col("node").as("a_id"), col("d").as("da")), "a_id")
      .join(deg.select(col("node").as("b_id"), col("d").as("db")), "b_id")
      .select(
        when(aLess, col("a_id")).otherwise(col("b_id")).as("u"),
        when(aLess, col("b_id")).otherwise(col("a_id")).as("v"),
        when(aLess, col("db")).otherwise(col("da")).as("dv"))
    val wedgeLess = (col("e1.dv") < col("e2.dv")) ||
      (col("e1.dv") === col("e2.dv") && col("e1.v") < col("e2.v"))
    val tri = oriented.as("e1")
      .join(oriented.as("e2"), col("e1.u") === col("e2.u") && wedgeLess)
      .select(col("e1.v").as("x"), col("e2.v").as("y"))
      .join(oriented.select(col("u").as("x"), col("v").as("y")), Seq("x", "y"))
      .agg(count(lit(1)).as("n_triangles"))
    val nodeStats = deg.agg(
      count(lit(1)).as("n_nodes"),
      max(col("d")).as("max_degree"),
      sum(expr("d * (d - 1) div 2")).as("n_wedges"))
    val edgeStats = pairs.agg(count(lit(1)).as("n_edges"))
    nodeStats.crossJoin(broadcast(edgeStats)).crossJoin(broadcast(tri))
      .withColumn("transitivity", when(col("n_wedges") > 0,
        graft.ops.Registry.rnd(lit(3.0) * col("n_triangles") / col("n_wedges"), 6)))
      .select(col("n_nodes"), col("n_edges"), col("max_degree"),
        col("n_wedges"), col("n_triangles"), col("transitivity"))
  }

  private lazy val graphTrianglesSql =
    s"""WITH $minhashCtes,
       |deg AS (
       |  SELECT node, CAST(count(*) AS BIGINT) AS d FROM (
       |    SELECT a_id AS node FROM mh_pairs UNION ALL SELECT b_id FROM mh_pairs
       |  ) GROUP BY 1
       |), oriented AS (
       |  SELECT CASE WHEN (da.d, a_id) < (db.d, b_id) THEN a_id ELSE b_id END AS u,
       |         CASE WHEN (da.d, a_id) < (db.d, b_id) THEN b_id ELSE a_id END AS v,
       |         CASE WHEN (da.d, a_id) < (db.d, b_id) THEN db.d ELSE da.d END AS dv
       |  FROM mh_pairs JOIN deg da ON da.node = a_id JOIN deg db ON db.node = b_id
       |), tri AS (
       |  SELECT CAST(count(*) AS BIGINT) AS n_triangles FROM oriented e1
       |  JOIN oriented e2 ON e1.u = e2.u AND (e1.dv, e1.v) < (e2.dv, e2.v)
       |  JOIN oriented e3 ON e3.u = e1.v AND e3.v = e2.v
       |), ns AS (
       |  SELECT CAST(count(*) AS BIGINT) AS n_nodes,
       |    max(d) AS max_degree,
       |    CAST(sum(d * (d - 1) // 2) AS BIGINT) AS n_wedges
       |  FROM deg
       |), es AS (SELECT CAST(count(*) AS BIGINT) AS n_edges FROM mh_pairs)
       |SELECT n_nodes, n_edges, max_degree, n_wedges, n_triangles,
       |  CASE WHEN n_wedges > 0 THEN CAST(round(CAST(3.0 * n_triangles / n_wedges
       |    AS DECIMAL(18,8)), 6) AS DOUBLE) END AS transitivity
       |FROM ns, es, tri""".stripMargin
}
