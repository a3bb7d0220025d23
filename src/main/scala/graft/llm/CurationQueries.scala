package graft.llm

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.ops.{NamedQuery, Tables}
import graft.ops.Registry.rnd

/** Corpus-curation operators: the filtering / sampling / balancing steps a
  * training-data pipeline runs between raw ingest and tokenization.
  * Complements DedupQueries (near-dup detection) and TextQueries
  * (per-doc scoring) with the *decision* layer: repetition-based quality
  * gates, PII redaction, first-occurrence n-gram novelty, deterministic
  * stratified sampling, BM25 relevance ranking, and domain-mix
  * balancing.
  *
  * Scale posture: `text_gopher_quality`, `text_pii_redact` and
  * `sample_stratified` are pure scans (zero exchange — plan-asserted);
  * `dedup_ngram_novelty` shuffles once on the gram key and once on
  * doc_id; `text_bm25_topdocs` and `pipeline_domain_mix` reduce to a
  * single broadcast-able stats row. Nothing collects to the driver.
  */
object CurationQueries {

  def queries: Vector[NamedQuery] = Vector(
    NamedQuery("text_gopher_quality", gopherQuality, Some(gopherQualitySql)),
    NamedQuery("text_pii_redact", piiRedact, Some(piiRedactSql)),
    NamedQuery("dedup_ngram_novelty", ngramNovelty, Some(ngramNoveltySql)),
    NamedQuery("sample_stratified", sampleStratified, Some(sampleStratifiedSql)),
    NamedQuery("text_bm25_topdocs", bm25TopDocs, Some(bm25TopDocsSql)),
    NamedQuery("pipeline_domain_mix", domainMix, Some(domainMixSql)),
    NamedQuery("text_quality_lr_step", qualityLrStep, Some(qualityLrStepSql)),
    NamedQuery("eval_calibration_bins", calibrationBins, Some(calibrationBinsSql)),
    NamedQuery("eval_calibration_trained", calibrationTrained, Some(calibrationTrainedSql)),
    NamedQuery("pipeline_domain_reweight_step", domainReweight, Some(domainReweightSql)),
    NamedQuery("pipeline_source_cap", sourceCap, Some(sourceCapSql)),
    NamedQuery("pipeline_budget_select", budgetSelect, Some(budgetSelectSql)),
    NamedQuery("pipeline_epoch_plan", epochPlan, Some(epochPlanSql)),
    NamedQuery("pipeline_dataset_card", datasetCard, Some(datasetCardSql)),
    NamedQuery("eval_judge_agreement", judgeAgreement, Some(judgeAgreementSql)),
    NamedQuery("eval_psi_drift", psiDrift, Some(psiDriftSql)),
    NamedQuery("pipeline_temperature_mix", temperatureMix, Some(temperatureMixSql)),
    NamedQuery("pipeline_length_batches", lengthBatches, Some(lengthBatchesSql)),
    NamedQuery("curate_length_trim", lengthTrim, Some(lengthTrimSql)),
    NamedQuery("curate_quantile_norm", quantileNorm, Some(quantileNormSql)),
    NamedQuery("curate_quantile_norm_approx", quantileNormApprox,
      Some(quantileNormApproxSql)),
    NamedQuery("curate_pareto_frontier", paretoFrontier, Some(paretoFrontierSql)),
  )

  // ---------------------------------------------------------------
  // Pareto frontier (skyline) over (quality, length) — the
  // multi-objective curation pick (Börzsönyi et al. ICDE'01): a doc
  // survives iff NO other doc is at-least-as-good on both axes and
  // strictly better on one. Single-objective cuts force a weighting;
  // the skyline is the weighting-free answer ("every doc a rational
  // curator could prefer under SOME monotone utility").
  //
  // The textbook objection is the O(N²) dominance test. The r16 cut
  // densified distinct(qm) × distinct(len) — and the len axis is RAW
  // char lengths, so at 100 TB that grid is ~10⁹ rows (r16 verdict
  // "watch"). The 2-D skyline doesn't need a grid at all: a doc below
  // its quality level's max length is dominated WITHIN the level, so
  // only the ≤1001 per-level (qm, max len) points remain, and one of
  // those is on the frontier iff every strictly-higher quality level
  // has a strictly smaller max length — a single running-max window
  // over the ≤1001-row level frame (single-partition by construction:
  // the frame is CORPUS-INDEPENDENT, bounded by the 3-dp milli grid).
  // Equal-on-both points never dominate each other, so every doc in a
  // surviving (qm, len) cell lists — the broadcast semi-join back.
  //
  // Scale shape: one corpus pass to per-level maxima (map-side
  // combinable), one window over ≤1001 rows, one broadcast semi-join
  // back over the second corpus pass. Determinism: all integers;
  // output ordered by (qm desc, len desc, doc_id).
  private def paretoFrontier(spark: SparkSession, dir: String): DataFrame = {
    val scored = Tables.table(spark, dir, "documents")
      .withColumn("ws", split(col("text"), " "))
      .withColumn("n_words", size(col("ws")).cast("long"))
      .withColumn("n_stop", expr(
        "size(filter(ws, w -> w IN ('the','a','and','of','to','in')))").cast("long"))
      .withColumn("v", rnd(
        lit(0.5) * least(col("n_words").cast("double") / 100.0, lit(1.0)) +
          lit(0.5) * (lit(1.0) - rnd(col("n_stop").cast("double") / col("n_words"), 3)),
        3).cast("decimal(6,3)"))
      .select(col("doc_id"), (col("v") * 1000).cast("long").as("qm"),
        col("n_chars").as("len"))
    val perQm = scored.groupBy(col("qm")).agg(max(col("len")).as("len"))
    val wQdescExcl = Window.orderBy(col("qm").desc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val frontierCells = perQm
      .withColumn("best", max(col("len")).over(wQdescExcl))
      .where(col("best").isNull || col("len") > col("best"))
      .select(col("qm"), col("len"))
    scored.join(broadcast(frontierCells), Seq("qm", "len"))
      .select(col("doc_id"), col("qm"), col("len"))
      .orderBy(col("qm").desc, col("len").desc, col("doc_id"))
  }

  private val paretoFrontierSql =
    """WITH scored AS (
      |  SELECT doc_id,
      |    CAST(CAST(round(CAST(0.5 * least(CAST(len(string_split(text, ' ')) AS DOUBLE) / 100.0, 1.0)
      |      + 0.5 * (1.0 - CAST(round(CAST(CAST(len(list_filter(string_split(text, ' '),
      |        w -> w IN ('the','a','and','of','to','in'))) AS DOUBLE)
      |        / len(string_split(text, ' ')) AS DECIMAL(18,8)), 3) AS DOUBLE))
      |      AS DECIMAL(18,8)), 3) AS DECIMAL(6,3)) * 1000 AS BIGINT) AS qm,
      |    n_chars AS len
      |  FROM documents
      |), pm AS (
      |  SELECT qm, max(len) AS len FROM scored GROUP BY qm
      |), fc AS (
      |  SELECT qm, len FROM (
      |    SELECT qm, len,
      |      max(len) OVER (ORDER BY qm DESC
      |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS best
      |    FROM pm)
      |  WHERE best IS NULL OR len > best
      |)
      |SELECT s.doc_id, s.qm, s.len
      |FROM scored s JOIN fc USING (qm, len)
      |ORDER BY s.qm DESC, s.len DESC, s.doc_id""".stripMargin

  // ---------------------------------------------------------------
  // Per-source adaptive length trimming: every source gets its OWN
  // [P5, P95] n_chars window, and docs outside it are cut — the
  // outlier gate that a single global length threshold gets wrong
  // (a fixed cut tuned on web text amputates books and keeps
  // boilerplate-heavy crawls whole; per-source quantiles adapt to
  // each distribution automatically). Emits the per-source card a
  // curation review reads: bounds, kept count/fraction, kept chars.
  //
  // Determinism: the bounds are DISCRETE rank statistics — the value
  // at 1-indexed rank ceil(q·n), computed with INTEGER arithmetic
  // ((n+19) DIV 20 and (19n+19) DIV 20), never an interpolated
  // percentile (whose q·(n−1) float position is a cross-engine
  // divergence trap — Spark parses 0.05 in SQL as DECIMAL, DuckDB
  // too, but the DataFrame literal is a double; rank arithmetic
  // sidesteps the whole class). kept_frac divides exact ints and
  // snaps at DECIMAL(38,12) (the sim_dim_stats tie lesson).
  //
  // Scale shape: two corpus passes. Pass 1 ranks n_chars per source —
  // ONE source-key exchange + per-partition sort (the exact path;
  // at 100 TB the sketch twin replaces it: approx_percentile bounds
  // with map-side sketch combine, the agg_percentiles_approx
  // pattern — same downstream plan, rank error 1e-4·n). Pass 2 is a
  // broadcast of the O(|sources|) bounds row + one map-side-combined
  // aggregation. Output O(|sources|).
  private def lengthTrim(spark: SparkSession, dir: String): DataFrame = {
    def snap12(c: org.apache.spark.sql.Column, s: Int) =
      round(c.cast("decimal(38,12)"), s).cast("double")
    val docs = Tables.table(spark, dir, "documents")
      .select(col("source"), col("doc_id"), col("n_chars"))
    val counts = docs.groupBy(col("source")).agg(count(lit(1)).as("n"))
    val w = Window.partitionBy(col("source")).orderBy(col("n_chars"), col("doc_id"))
    val bounds = docs.withColumn("rn", row_number().over(w))
      .join(counts, "source")
      .groupBy(col("source"))
      .agg(
        max(when(col("rn") === expr("(n + 19) DIV 20"), col("n_chars"))).as("lo"),
        max(when(col("rn") === expr("(19 * n + 19) DIV 20"), col("n_chars"))).as("hi"),
        max(col("n")).as("n"))
    docs.join(broadcast(bounds), "source")
      .withColumn("keep", col("n_chars") >= col("lo") && col("n_chars") <= col("hi"))
      .groupBy(col("source"))
      .agg(max(col("n")).as("n_docs"), max(col("lo")).as("lo"), max(col("hi")).as("hi"),
        sum(when(col("keep"), 1L).otherwise(0L)).as("n_kept"),
        sum(when(col("keep"), col("n_chars")).otherwise(0L)).as("chars_kept"))
      .withColumn("kept_frac",
        snap12(col("n_kept").cast("double") / col("n_docs"), 6))
      .select(col("source"), col("n_docs"), col("lo"), col("hi"),
        col("n_kept"), col("chars_kept"), col("kept_frac"))
      .orderBy(col("source"))
  }

  private val lengthTrimSql =
    """WITH counts AS (
      |  SELECT source, count(*) AS n FROM documents GROUP BY source
      |), ranked AS (
      |  SELECT source, n_chars,
      |    row_number() OVER (PARTITION BY source ORDER BY n_chars, doc_id) AS rn
      |  FROM documents
      |), bounds AS (
      |  SELECT r.source,
      |    max(CASE WHEN rn = (c.n + 19) // 20 THEN n_chars END) AS lo,
      |    max(CASE WHEN rn = (19 * c.n + 19) // 20 THEN n_chars END) AS hi,
      |    max(c.n) AS n
      |  FROM ranked r JOIN counts c ON c.source = r.source
      |  GROUP BY r.source
      |)
      |SELECT d.source, max(b.n) AS n_docs, max(b.lo) AS lo, max(b.hi) AS hi,
      |  CAST(coalesce(sum(CASE WHEN d.n_chars BETWEEN b.lo AND b.hi THEN 1 END), 0) AS BIGINT) AS n_kept,
      |  CAST(coalesce(sum(CASE WHEN d.n_chars BETWEEN b.lo AND b.hi THEN d.n_chars END), 0) AS BIGINT) AS chars_kept,
      |  CAST(round(CAST(CAST(coalesce(sum(CASE WHEN d.n_chars BETWEEN b.lo AND b.hi THEN 1 END), 0) AS DOUBLE) / max(b.n) AS DECIMAL(38,12)), 6) AS DOUBLE) AS kept_frac
      |FROM documents d JOIN bounds b ON b.source = d.source
      |GROUP BY d.source
      |ORDER BY d.source""".stripMargin

  // ---------------------------------------------------------------
  // Classifier-based quality filtering (the FineWeb-Edu / CCNet shape):
  // a linear model over cheap text features, trained to separate a
  // curated seed slice from the rest of the crawl, replaces hand-tuned
  // heuristic gates. This query is ONE training step — the analog of
  // sim_kmeans_update's one-Lloyd-step unit: logistic gradient over the
  // whole corpus from a fixed current weight vector, emitted per
  // feature with the updated weights. Iterating it to convergence
  // repeats the same dataflow with the previous step's weights as the
  // literal vector (exactly the k-means/codebook pattern).
  //
  // Scale shape: ONE corpus pass — features are per-row projections,
  // the gradient is a 4-value aggregate with map-side partials; output
  // is O(features) rows at any corpus size. Nothing collects beyond
  // the feature-width row.
  //
  // Determinism: features are DECIMAL-rounded before entering the dot
  // product; the link is a HARD sigmoid (clamp(0.5 + z/4)) — piecewise
  // linear, so both engines compute bit-identical per-row error without
  // trusting exp() ulp agreement; per-row gradient terms quantize to
  // 6 dp through DECIMAL(18,8) (the Registry.rnd discipline) before an
  // exact decimal sum and one double division — and quantized gradients
  // are themselves standard practice at scale.
  private val lrSeedSources = Seq("src0", "src1", "src2", "src3", "src4")
  private val lrW = Seq("bias" -> 0.1, "f1_stopword" -> -0.2,
    "f2_len" -> 0.3, "f3_wordlen" -> 0.05)

  /** The quality model's feature frame `(f1, f2, f3, y)` — 3-dp
    * decimal-quantized features + seed-source label, shared verbatim by
    * the one-step gradient query, both calibration queries, and the
    * [[LrModel]] training loop (one definition so the trained model
    * scores EXACTLY what the oracle-checked step trained on). */
  private[llm] def lrFeatures(spark: SparkSession, dir: String): DataFrame =
    Tables.table(spark, dir, "documents")
      .withColumn("ws", split(col("text"), " "))
      .withColumn("n_words", size(col("ws")).cast("long"))
      .withColumn("n_stop", expr(
        "size(filter(ws, w -> w IN ('the','a','and','of','to','in')))").cast("long"))
      .select(
        rnd(col("n_stop").cast("double") / col("n_words"), 3).as("f1"),
        rnd(least(col("n_words").cast("double") / 100.0, lit(1.0)), 3).as("f2"),
        rnd((col("n_chars") - col("n_words") + 1).cast("double") / col("n_words") / 10.0, 3).as("f3"),
        when(col("source").isin(lrSeedSources: _*), 1.0d).otherwise(0.0d).as("y"))

  private def qualityLrStep(spark: SparkSession, dir: String): DataFrame = {
    val feats = lrFeatures(spark, dir)
    val z = lit(lrW(0)._2) + lit(lrW(1)._2) * col("f1") +
      lit(lrW(2)._2) * col("f2") + lit(lrW(3)._2) * col("f3")
    val p = least(greatest(lit(0.5) + z / 4.0, lit(0.0)), lit(1.0))
    // mean = per-row 6-dp decimal quantization (through DECIMAL(18,8)
    // first — the Registry.rnd discipline; a direct double→DECIMAL(18,4)
    // cast tie-splits between engines because Spark quantizes the
    // SHORTEST decimal repr and DuckDB the binary value), exact decimal
    // sum, then ONE double division (Spark's decimal avg divides in
    // decimal HALF_UP, DuckDB's in double — they disagree at the 6-dp
    // boundary; sum-then-double-divide is bit-identical)
    def mean6(c: org.apache.spark.sql.Column) =
      rnd(sum(round(c.cast("decimal(18,8)"), 6)).cast("double") / count(lit(1)), 6)
    val g = feats
      .withColumn("err", p - col("y"))
      .agg(
        mean6(col("err")).as("g0"),
        mean6(col("err") * col("f1")).as("g1"),
        mean6(col("err") * col("f2")).as("g2"),
        mean6(col("err") * col("f3")).as("g3"))
    g.select(explode(array(lrW.zipWithIndex.map { case ((name, w), i) =>
        struct(lit(name).as("feature"), lit(w).as("w_old"), col(s"g$i").as("grad"))
      }: _*)).as("r"))
      .select(col("r.feature").as("feature"), col("r.w_old").as("w_old"),
        col("r.grad").as("grad"),
        rnd(col("r.w_old") - lit(0.5) * col("r.grad"), 6).as("w_next"))
      .orderBy(col("feature"))
  }

  private val qualityLrStepSql = {
    val seeds = lrSeedSources.map(s => s"'$s'").mkString(", ")
    val rows = lrW.zipWithIndex.map { case ((name, w), i) =>
      s"SELECT '$name' AS feature, CAST($w AS DOUBLE) AS w_old, g$i AS grad FROM g"
    }.mkString("\n      |  UNION ALL ")
    s"""WITH t AS (
      |  SELECT n_chars, source,
      |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_words,
      |    CAST(len(list_filter(string_split(text, ' '),
      |      w -> w IN ('the','a','and','of','to','in'))) AS BIGINT) AS n_stop
      |  FROM documents
      |), f AS (
      |  SELECT
      |    CAST(round(CAST(CAST(n_stop AS DOUBLE) / n_words AS DECIMAL(18,8)), 3) AS DOUBLE) AS f1,
      |    CAST(round(CAST(least(CAST(n_words AS DOUBLE) / 100.0, 1.0) AS DECIMAL(18,8)), 3) AS DOUBLE) AS f2,
      |    CAST(round(CAST(CAST(n_chars - n_words + 1 AS DOUBLE) / n_words / 10.0 AS DECIMAL(18,8)), 3) AS DOUBLE) AS f3,
      |    CASE WHEN source IN ($seeds) THEN 1.0 ELSE 0.0 END AS y
      |  FROM t
      |), e AS (
      |  SELECT least(greatest(0.5 + (${lrW(0)._2} + ${lrW(1)._2} * f1 + ${lrW(2)._2} * f2 + ${lrW(3)._2} * f3) / 4.0, 0.0), 1.0) - y AS err,
      |    f1, f2, f3
      |  FROM f
      |), g AS (
      |  SELECT
      |    CAST(round(CAST(CAST(sum(round(CAST(err AS DECIMAL(18,8)), 6)) AS DOUBLE) / count(*) AS DECIMAL(18,8)), 6) AS DOUBLE) AS g0,
      |    CAST(round(CAST(CAST(sum(round(CAST(err * f1 AS DECIMAL(18,8)), 6)) AS DOUBLE) / count(*) AS DECIMAL(18,8)), 6) AS DOUBLE) AS g1,
      |    CAST(round(CAST(CAST(sum(round(CAST(err * f2 AS DECIMAL(18,8)), 6)) AS DOUBLE) / count(*) AS DECIMAL(18,8)), 6) AS DOUBLE) AS g2,
      |    CAST(round(CAST(CAST(sum(round(CAST(err * f3 AS DECIMAL(18,8)), 6)) AS DOUBLE) / count(*) AS DECIMAL(18,8)), 6) AS DOUBLE) AS g3
      |  FROM e
      |), u AS (
      |  $rows
      |)
      |SELECT feature, w_old, grad,
      |  CAST(round(CAST(w_old - 0.5 * grad AS DECIMAL(18,8)), 6) AS DOUBLE) AS w_next
      |FROM u
      |ORDER BY feature""".stripMargin
  }

  // ---------------------------------------------------------------
  // Reliability (calibration) bins for the quality classifier — the
  // evaluation every learned curation gate needs before its scores
  // drive keep/drop decisions: bucket documents by predicted
  // seed-probability (10 equal-width bins), compare the bin's mean
  // prediction against its observed seed fraction; |gap| is the
  // calibration error per bin (ECE is their n-weighted sum). Uses the
  // SAME features, weights and hard-sigmoid link as qualityLrStep, so
  // the two queries grade the same model.
  //
  // Scale shape: one corpus pass — features and p are per-row
  // projections, the bin rollup is a 10-group aggregate with map-side
  // partials; output is O(bins) at any corpus size. Determinism: the
  // link is piecewise linear (no exp ulp), bin = floor(p*10) clamped —
  // integer; bin means use the mean6 exact-decimal discipline.
  private def calibrationBins(spark: SparkSession, dir: String): DataFrame =
    calibrationOf(spark, dir, lrW.map(_._2).toVector)

  // The trained-model twin (r13 verdict #6): the SAME binning over the
  // weights LrModel trained to its 6-dp fixpoint. The fixed-weight
  // query above stays as-is (eval_psi_drift scores with the same fixed
  // weights), while this one closes the loop model-training →
  // persisted sidecar → calibration eval. Its oracle SQL inlines the
  // trained weights (codebookSql pattern: Verify renders oracle SQL
  // AFTER the queries ran, so the literals are the exact doubles the
  // Spark plan used).
  private def calibrationTrained(spark: SparkSession, dir: String): DataFrame = {
    val w = LrModel.loadOrTrain(spark, dir)
    trainedLrCache.put(dir, w)
    lastTrainedLrDir = Some(dir)
    calibrationOf(spark, dir, w)
  }

  private val trainedLrCache =
    new java.util.concurrent.ConcurrentHashMap[String, Vector[Double]]()
  @volatile private var lastTrainedLrDir: Option[String] = None

  private def calibrationOf(spark: SparkSession, dir: String, w: Vector[Double]): DataFrame = {
    val feats = lrFeatures(spark, dir)
    val z = lit(w(0)) + lit(w(1)) * col("f1") +
      lit(w(2)) * col("f2") + lit(w(3)) * col("f3")
    val p = least(greatest(lit(0.5) + z / 4.0, lit(0.0)), lit(1.0))
    def mean6(c: org.apache.spark.sql.Column) =
      rnd(sum(round(c.cast("decimal(18,8)"), 6)).cast("double") / count(lit(1)), 6)
    feats
      .withColumn("p", p)
      .withColumn("bin", least(floor(col("p") * 10), lit(9L)).cast("int"))
      .groupBy(col("bin"))
      .agg(
        count(lit(1)).as("n"),
        mean6(col("p")).as("mean_p"),
        mean6(col("y")).as("frac_pos"))
      .withColumn("gap", rnd(col("mean_p") - col("frac_pos"), 6))
      .select(col("bin"), col("n"), col("mean_p"), col("frac_pos"), col("gap"))
      .orderBy(col("bin"))
  }

  private val calibrationBinsSql = calibrationSqlOf(lrW.map(_._2).toVector)

  /** Trained-weight twin SQL — the weights LrModel converged to,
    * inlined as literals (6-dp decimals; shortest-repr round-trip is
    * exact in both engines). Falls back to the seed weights if no
    * trained run happened in this JVM — which only occurs when the
    * query itself never ran, i.e. there is no dump to compare against. */
  private def calibrationTrainedSql: String = calibrationSqlOf(
    lastTrainedLrDir.flatMap(d => Option(trainedLrCache.get(d)))
      .getOrElse(lrW.map(_._2).toVector))

  private def calibrationSqlOf(w: Vector[Double]): String = {
    val seeds = lrSeedSources.map(s => s"'$s'").mkString(", ")
    s"""WITH t AS (
      |  SELECT n_chars, source,
      |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_words,
      |    CAST(len(list_filter(string_split(text, ' '),
      |      w -> w IN ('the','a','and','of','to','in'))) AS BIGINT) AS n_stop
      |  FROM documents
      |), f AS (
      |  SELECT
      |    CAST(round(CAST(CAST(n_stop AS DOUBLE) / n_words AS DECIMAL(18,8)), 3) AS DOUBLE) AS f1,
      |    CAST(round(CAST(least(CAST(n_words AS DOUBLE) / 100.0, 1.0) AS DECIMAL(18,8)), 3) AS DOUBLE) AS f2,
      |    CAST(round(CAST(CAST(n_chars - n_words + 1 AS DOUBLE) / n_words / 10.0 AS DECIMAL(18,8)), 3) AS DOUBLE) AS f3,
      |    CASE WHEN source IN ($seeds) THEN 1.0 ELSE 0.0 END AS y
      |  FROM t
      |), pr AS (
      |  SELECT least(greatest(0.5 + (${w(0)} + ${w(1)} * f1 + ${w(2)} * f2 + ${w(3)} * f3) / 4.0, 0.0), 1.0) AS p, y
      |  FROM f
      |), binned AS (
      |  SELECT CAST(least(floor(p * 10), 9) AS INT) AS bin, p, y FROM pr
      |)
      |SELECT bin, CAST(count(*) AS BIGINT) AS n,
      |  CAST(round(CAST(CAST(sum(round(CAST(p AS DECIMAL(18,8)), 6)) AS DOUBLE) / count(*) AS DECIMAL(18,8)), 6) AS DOUBLE) AS mean_p,
      |  CAST(round(CAST(CAST(sum(round(CAST(y AS DECIMAL(18,8)), 6)) AS DOUBLE) / count(*) AS DECIMAL(18,8)), 6) AS DOUBLE) AS frac_pos,
      |  CAST(round(CAST(
      |    CAST(round(CAST(CAST(sum(round(CAST(p AS DECIMAL(18,8)), 6)) AS DOUBLE) / count(*) AS DECIMAL(18,8)), 6) AS DOUBLE)
      |    - CAST(round(CAST(CAST(sum(round(CAST(y AS DECIMAL(18,8)), 6)) AS DOUBLE) / count(*) AS DECIMAL(18,8)), 6) AS DOUBLE)
      |  AS DECIMAL(18,8)), 6) AS DOUBLE) AS gap
      |FROM binned
      |GROUP BY bin
      |ORDER BY bin""".stripMargin
  }

  // ---------------------------------------------------------------
  // Gopher-style repetition gates (per Rae et al. 2021 §A1.1 shape):
  // duplicate-word fraction, modal-word fraction, modal-bigram fraction,
  // and the keep decision. All computed WITHIN the row via higher-order
  // functions — zero shuffle, scales linearly with the corpus. The
  // modal-count scan is O(distinct²) per doc, bounded by doc length —
  // cheap next to the I/O that feeds it.
  private def gopherQuality(spark: SparkSession, dir: String): DataFrame =
    gopherGate(Tables.table(spark, dir, "documents"))
      .orderBy(col("doc_id"))

  /** The repetition gate over any documents-shaped frame (doc_id, text) —
    * exposed so callers (and the spec) can gate arbitrary corpora, not
    * just the harness table. */
  def gopherGate(docs: DataFrame): DataFrame =
    docs
      .withColumn("ws", split(col("text"), " "))
      // sub-2-word docs: Spark's sequence(1, 0) is the DESCENDING [1, 0]
      // (not empty like DuckDB's end-exclusive range), and element_at(_, 0)
      // throws — guard so the empty case degrades to NULL fracs exactly
      // like the twin (list_max([]) is NULL)
      .withColumn("bg", expr(
        "CASE WHEN size(ws) >= 2 THEN transform(sequence(1, size(ws) - 1), i -> concat(element_at(ws, i), ' ', element_at(ws, i + 1))) ELSE array() END"))
      .withColumn("n_words", size(col("ws")).cast("long"))
      .withColumn("max_word", expr(
        "array_max(transform(array_distinct(ws), d -> size(filter(ws, x -> x = d))))").cast("long"))
      .withColumn("max_bigram", expr(
        "array_max(transform(array_distinct(bg), d -> size(filter(bg, x -> x = d))))").cast("long"))
      .withColumn("dup_word_frac",
        rnd(lit(1.0) - size(array_distinct(col("ws"))).cast("double") / col("n_words"), 4))
      .withColumn("top_word_frac", rnd(col("max_word").cast("double") / col("n_words"), 4))
      .withColumn("top_bigram_frac",
        when(col("n_words") >= 2,
          rnd(col("max_bigram").cast("double") / (col("n_words") - 1), 4)))
      .select(col("doc_id"), col("n_words"), col("dup_word_frac"),
        col("top_word_frac"), col("top_bigram_frac"),
        (col("dup_word_frac") <= 0.8 && col("top_word_frac") <= 0.2 &&
          col("top_bigram_frac") <= 0.18).as("keep"))

  private val gopherQualitySql =
    """WITH t AS (
      |  SELECT doc_id, string_split(text, ' ') AS ws,
      |    list_transform(range(1, len(string_split(text, ' '))),
      |      i -> string_split(text, ' ')[i] || ' ' || string_split(text, ' ')[i + 1]) AS bg
      |  FROM documents
      |), m AS (
      |  SELECT doc_id, CAST(len(ws) AS BIGINT) AS n_words,
      |    CAST(list_max(list_transform(list_distinct(ws), d -> len(list_filter(ws, x -> x = d)))) AS BIGINT) AS max_word,
      |    CAST(list_max(list_transform(list_distinct(bg), d -> len(list_filter(bg, x -> x = d)))) AS BIGINT) AS max_bigram,
      |    CAST(round(CAST(1.0 - CAST(len(list_distinct(ws)) AS DOUBLE) / len(ws) AS DECIMAL(18,8)), 4) AS DOUBLE) AS dup_word_frac
      |  FROM t
      |), f AS (
      |  SELECT doc_id, n_words, dup_word_frac,
      |    CAST(round(CAST(CAST(max_word AS DOUBLE) / n_words AS DECIMAL(18,8)), 4) AS DOUBLE) AS top_word_frac,
      |    CAST(round(CAST(CAST(max_bigram AS DOUBLE) / (n_words - 1) AS DECIMAL(18,8)), 4) AS DOUBLE) AS top_bigram_frac
      |  FROM m
      |)
      |SELECT doc_id, n_words, dup_word_frac, top_word_frac, top_bigram_frac,
      |  (dup_word_frac <= 0.8 AND top_word_frac <= 0.2 AND top_bigram_frac <= 0.18) AS keep
      |FROM f ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------
  // PII redaction: regex detect-and-mask over the customer table.
  // Identifier runs (>=4 digits) are masked; email-shaped and
  // phone-shaped tokens are counted by the same pass (the synthetic
  // names carry only id runs, but the operator is the full shape a
  // curation pipeline runs over raw text). Pure scan, zero shuffle;
  // the regexes are codegen'd `regexp_replace`/`regexp_extract_all`.
  private def piiRedact(spark: SparkSession, dir: String): DataFrame =
    Tables.table(spark, dir, "customer")
      .select(
        col("c_custkey"),
        regexp_replace(col("c_name"), "\\d{4,}", "[ID]").as("name_redacted"),
        size(expr("regexp_extract_all(c_name, '\\\\d{4,}', 0)")).cast("long").as("n_id_runs"),
        size(expr("regexp_extract_all(c_name, '[a-zA-Z0-9._]+@[a-zA-Z0-9.]+', 0)")).cast("long").as("n_emails"),
        (size(expr("regexp_extract_all(c_name, '\\\\d{4,}', 0)")) > 0).as("has_pii"),
        floor(col("c_acctbal") / 1000).cast("long").as("bal_bucket"))
      .orderBy(col("c_custkey"))

  private val piiRedactSql =
    """SELECT c_custkey,
      |  regexp_replace(c_name, '\d{4,}', '[ID]', 'g') AS name_redacted,
      |  CAST(len(regexp_extract_all(c_name, '\d{4,}')) AS BIGINT) AS n_id_runs,
      |  CAST(len(regexp_extract_all(c_name, '[a-zA-Z0-9._]+@[a-zA-Z0-9.]+')) AS BIGINT) AS n_emails,
      |  len(regexp_extract_all(c_name, '\d{4,}')) > 0 AS has_pii,
      |  CAST(floor(c_acctbal / 1000) AS BIGINT) AS bal_bucket
      |FROM customer ORDER BY c_custkey""".stripMargin

  // ---------------------------------------------------------------
  // First-occurrence n-gram novelty (the RefinedWeb/C4 "seen before"
  // gate): a doc's 5-gram is NOVEL iff no lower-doc_id document
  // contains it; docs whose novel fraction falls below the threshold
  // are near-duplicates of earlier corpus content and dropped.
  //
  // Plan: distinct 5-grams stay inside the row until ONE explode;
  // first-occurrence is a min() window on the gram key (one shuffle),
  // then a doc_id re-aggregation (second shuffle). No join, no
  // quadratic term: a gram's posting list is never materialized, only
  // min-reduced — at 100 TB this is two linear shuffles, and the gram
  // key can additionally be hashed down to 8 bytes to cut shuffle
  // width (kept as text here for oracle parity).
  private def ngramNovelty(spark: SparkSession, dir: String): DataFrame =
    ngramNoveltyGate(Tables.table(spark, dir, "documents"))
      .orderBy(col("doc_id"))

  /** The novelty gate over any documents-shaped frame (doc_id, text). */
  def ngramNoveltyGate(docs: DataFrame): DataFrame = {
    val grams = docs
      .withColumn("ws", split(col("text"), " "))
      .where(size(col("ws")) >= 5)
      .select(col("doc_id"), explode(array_distinct(expr(
        "transform(sequence(1, size(ws) - 4), i -> concat_ws(' ', slice(ws, i, 5)))"))).as("g"))
    val scored = grams
      .withColumn("first_doc", min(col("doc_id")).over(Window.partitionBy(col("g"))))
      .groupBy(col("doc_id"))
      .agg(
        count(lit(1)).as("n_grams"),
        sum(when(col("first_doc") === col("doc_id"), 1L).otherwise(0L)).as("n_novel"))
      .withColumn("novelty", rnd(col("n_novel").cast("double") / col("n_grams"), 4))
    // the decision table covers EVERY doc: sub-5-word docs carry no
    // 5-gram evidence, so they surface with n_grams = 0, NULL novelty
    // and keep = true (no duplication signal -> no drop) instead of
    // silently vanishing from the output
    docs.select(col("doc_id"))
      .join(scored, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_grams"), lit(0L)).as("n_grams"),
        coalesce(col("n_novel"), lit(0L)).as("n_novel"),
        col("novelty"),
        when(col("n_grams").isNull, lit(true))
          .otherwise(col("novelty") >= 0.3).as("keep"))
  }

  private val ngramNoveltySql =
    """WITH w AS (
      |  SELECT doc_id, string_split(text, ' ') AS ws FROM documents
      |  WHERE len(string_split(text, ' ')) >= 5
      |), g AS (
      |  SELECT DISTINCT doc_id, g FROM (
      |    SELECT doc_id,
      |      unnest(list_transform(range(1, len(ws) - 3),
      |        i -> array_to_string(list_slice(ws, i, i + 4), ' '))) AS g
      |    FROM w
      |  )
      |), f AS (
      |  SELECT doc_id, g, min(doc_id) OVER (PARTITION BY g) AS first_doc FROM g
      |), a AS (
      |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_grams,
      |    CAST(sum(CASE WHEN first_doc = doc_id THEN 1 ELSE 0 END) AS BIGINT) AS n_novel
      |  FROM f GROUP BY doc_id
      |)
      |SELECT d.doc_id,
      |  COALESCE(a.n_grams, 0) AS n_grams,
      |  COALESCE(a.n_novel, 0) AS n_novel,
      |  CAST(round(CAST(CAST(a.n_novel AS DOUBLE) / a.n_grams AS DECIMAL(18,8)), 4) AS DOUBLE) AS novelty,
      |  CASE WHEN a.n_grams IS NULL THEN true
      |    ELSE CAST(round(CAST(CAST(a.n_novel AS DOUBLE) / a.n_grams AS DECIMAL(18,8)), 4) AS DOUBLE) >= 0.3
      |  END AS keep
      |FROM documents d LEFT JOIN a ON a.doc_id = d.doc_id
      |ORDER BY d.doc_id""".stripMargin

  // ---------------------------------------------------------------
  // Deterministic stratified sampling: per-language keep rates applied
  // via an md5-derived per-doc bucket — reproducible across engines,
  // runs, and partitionings (no RNG state), and exchange-free: the
  // sampling decision is a pure projection, so at 100 TB it fuses into
  // the scan. The same construction extends to any stratum key and to
  // weighted mixes (see pipeline_domain_mix for rate derivation).
  private def sampleStratified(spark: SparkSession, dir: String): DataFrame =
    Tables.table(spark, dir, "documents")
      .select(col("doc_id"), col("lang"),
        expr("cast(conv(substring(md5(concat(lang, '#', cast(doc_id AS string))), 1, 6), 16, 10) AS bigint) % 1000")
          .as("bucket"),
        when(col("lang") === "en", 500L).when(col("lang") === "zh", 300L)
          .otherwise(100L).as("rate_pm"))
      .withColumn("keep", col("bucket") < col("rate_pm"))
      .orderBy(col("doc_id"))

  private val sampleStratifiedSql =
    """SELECT doc_id, lang,
      |  ('0x' || substring(md5(lang || '#' || CAST(doc_id AS VARCHAR)), 1, 6))::BIGINT % 1000 AS bucket,
      |  CAST(CASE lang WHEN 'en' THEN 500 WHEN 'zh' THEN 300 ELSE 100 END AS BIGINT) AS rate_pm,
      |  ('0x' || substring(md5(lang || '#' || CAST(doc_id AS VARCHAR)), 1, 6))::BIGINT % 1000
      |    < CASE lang WHEN 'en' THEN 500 WHEN 'zh' THEN 300 ELSE 100 END AS keep
      |FROM documents ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------
  // BM25 (k1=1.2, b=0.75) ranking of the corpus against a term set.
  // Corpus stats (N, avgdl, per-term df) reduce to ONE row that Spark
  // broadcast-joins back onto the scan — the pattern that holds at any
  // corpus size; the top-k itself is TakeOrderedAndProject, never a
  // full sort. Scores round through DECIMAL(18,8) so the ln/division
  // ulp difference between engines cannot move the hash.
  private val bm25Terms = Seq("spark", "merge", "query", "vector")

  private def bm25TopDocs(spark: SparkSession, dir: String): DataFrame = {
    val tf = Tables.table(spark, dir, "documents")
      .withColumn("ws", split(col("text"), " "))
      .select(Seq(col("doc_id"), size(col("ws")).cast("long").as("dl")) ++
        bm25Terms.zipWithIndex.map { case (t, i) =>
          expr(s"size(filter(ws, w -> w = '$t'))").cast("long").as(s"tf$i")
        }: _*)
    val statCols = Seq(count(lit(1)).as("n"), avg(col("dl")).as("avgdl")) ++
      bm25Terms.indices.map(i => sum(when(col(s"tf$i") > 0, 1L).otherwise(0L)).as(s"df$i"))
    val stats = tf.agg(statCols.head, statCols.tail: _*)
    val score = bm25Terms.indices.map { i =>
      val idf = log(lit(1.0) +
        (col("n") - col(s"df$i") + 0.5) / (col(s"df$i") + 0.5))
      idf * (col(s"tf$i") * (lit(1.2) + 1.0)) /
        (col(s"tf$i") + lit(1.2) * (lit(1.0) - 0.75 + lit(0.75) * col("dl") / col("avgdl")))
    }.reduce(_ + _)
    tf.crossJoin(broadcast(stats))
      .select(col("doc_id"), col("dl"), rnd(score, 4).as("score"))
      .orderBy(col("score").desc, col("doc_id"))
      .limit(20)
  }

  private val bm25TopDocsSql = {
    val tfCols = bm25Terms.zipWithIndex.map { case (t, i) =>
      s"CAST(len(list_filter(ws, w -> w = '$t')) AS BIGINT) AS tf$i"
    }.mkString(",\n      |    ")
    val dfCols = bm25Terms.indices.map { i =>
      s"CAST(sum(CASE WHEN tf$i > 0 THEN 1 ELSE 0 END) AS BIGINT) AS df$i"
    }.mkString(", ")
    val scoreSum = bm25Terms.indices.map { i =>
      s"ln(1.0 + (n - df$i + 0.5) / (df$i + 0.5)) * (tf$i * (1.2 + 1.0)) / (tf$i + 1.2 * (1.0 - 0.75 + 0.75 * dl / avgdl))"
    }.mkString("\n      |    + ")
    s"""WITH d AS (
      |  SELECT doc_id, string_split(text, ' ') AS ws FROM documents
      |), t AS (
      |  SELECT doc_id, CAST(len(ws) AS BIGINT) AS dl,
      |    $tfCols
      |  FROM d
      |), s AS (
      |  SELECT CAST(count(*) AS BIGINT) AS n, avg(dl) AS avgdl, $dfCols FROM t
      |)
      |SELECT doc_id, dl,
      |  CAST(round(CAST($scoreSum AS DECIMAL(18,8)), 4) AS DOUBLE) AS score
      |FROM t, s
      |ORDER BY score DESC, doc_id LIMIT 20""".stripMargin
  }

  // ---------------------------------------------------------------
  // Domain-mix balancing: per-source token mass, and the sampling rate
  // that downsamples every source to the smallest source's mass (a
  // uniform mix; any target vector substitutes the same way). The
  // whole query reduces to |sources| rows — the rate table is what a
  // pipeline broadcast-joins onto the corpus (exactly what
  // sample_stratified then applies).
  private def domainMix(spark: SparkSession, dir: String): DataFrame = {
    val bySource = Tables.table(spark, dir, "documents")
      .groupBy(col("source"))
      .agg(count(lit(1)).as("docs"), sum(col("n_chars")).as("chars"))
    val floorRow = bySource.agg(min(col("chars")).as("min_chars"))
    bySource.crossJoin(broadcast(floorRow))
      .select(col("source"), col("docs"), col("chars"),
        rnd(col("min_chars").cast("double") / col("chars"), 6).as("sample_rate"),
        floor(col("chars") * rnd(col("min_chars").cast("double") / col("chars"), 6))
          .cast("long").as("expected_chars"))
      .orderBy(col("source"))
  }

  // ---------------------------------------------------------------
  // Per-source frequency cap — the C4/RefinedWeb-style guard against a
  // single host flooding the corpus: within each source keep only the
  // top `cap` documents by quality (here the n_chars length proxy;
  // doc_id breaks ties deterministically). This is the DECISION
  // companion to pipeline_domain_mix's rate balancer: mix reweights
  // sampling, the cap hard-bounds any one host's contribution.
  //
  // Scale shape: ONE hash exchange on source — and the rank<=cap
  // filter is rewritten by Spark's InferWindowGroupLimit into a
  // WindowGroupLimit on BOTH sides of the exchange (plan-pinned in
  // PlanSpec), so each map task forwards at most cap rows per source
  // it sees: O(sources x cap) rows cross the wire at any corpus size,
  // never the corpus. The hottest host on the web costs the same as
  // the coldest.
  private val SourceCapN = 10

  private def sourceCap(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("source")).orderBy(col("n_chars").desc, col("doc_id"))
    Tables.table(spark, dir, "documents")
      .select(col("doc_id"), col("source"), col("n_chars"))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= SourceCapN)
      .select(col("source"), col("rank"), col("doc_id"), col("n_chars"))
      .orderBy(col("source"), col("rank"))
  }

  private val sourceCapSql =
    s"""SELECT source, CAST(rank AS BIGINT) AS rank, doc_id, n_chars FROM (
      |  SELECT doc_id, source, n_chars,
      |    row_number() OVER (PARTITION BY source ORDER BY n_chars DESC, doc_id) AS rank
      |  FROM documents
      |) WHERE rank <= $SourceCapN
      |ORDER BY source, rank""".stripMargin

  // ---------------------------------------------------------------
  // Budget-constrained selection — "keep the best quarter of the
  // corpus by quality, by token budget" WITHOUT a global sort: the
  // greedy optimum (take docs by quality desc, doc_id tiebreak, until
  // the token budget fills) computed the way 100 TB allows. The trick
  // is that the 3-dp-rounded quality score is ALGEBRAICALLY bounded to
  // <= 1001 distinct levels, so the global prefix structure lives in a
  // <= 1001-row level table (one corpus agg + a tiny window — the
  // eval_auc_binned pattern), and the only per-doc running sum is a
  // window PARTITIONED by level (one hash exchange; each level's docs
  // cumsum independently in doc_id order). A doc is selected iff the
  // tokens of all strictly-better levels plus its own level's running
  // prefix fit the budget — exactly the greedy answer, with the
  // boundary level resolved per doc. Output is the <= 1001-row
  // per-level audit (selected / partial / dropped) the curation run
  // logs.
  private def budgetSelect(spark: SparkSession, dir: String): DataFrame = {
    // fanOut: the split/filter per-row work would otherwise run
    // single-threaded on the fixture's one-row-group scan (Tables doc)
    val docs = Tables.fanOut(Tables.table(spark, dir, "documents"))
      .withColumn("ws", split(col("text"), " "))
      .withColumn("n_words", size(col("ws")).cast("long"))
      .withColumn("n_stop", expr(
        "size(filter(ws, w -> w IN ('the','a','and','of','to','in')))").cast("long"))
      .withColumn("score", rnd(
        lit(0.5) * least(col("n_words").cast("double") / 100.0, lit(1.0)) +
          lit(0.5) * (lit(1.0) - rnd(col("n_stop").cast("double") / col("n_words"), 3)),
        3))
      .select(col("doc_id"), col("n_words"), col("score"))
    // NOTE (r18 A/B): pinning this scored frame (localCheckpoint) was
    // measured and did NOT repay its materialization job at sf0.1
    // (ratio-to-sentinel 0.77 pinned vs 0.79 unpinned under load) —
    // the three consumers' re-scores run in parallel off the shared
    // fanOut exchange. Kept lazy.
    budgetSelectFrom(docs, denom = 4)
  }

  /** The binned greedy core over any `(doc_id, n_words, score)` frame
    * with score already quantized to a BOUNDED level set; budget =
    * floor(total tokens / denom). Exposed for the property spec that
    * pins binned ≡ global-sort greedy on random inputs. */
  private[llm] def budgetSelectFrom(docs: DataFrame, denom: Int): DataFrame = {
    // budget: 1/denom of the corpus tokens (integer floor)
    val budgetRow = docs.agg((sum(col("n_words")) / lit(denom)).cast("long").as("budget"))
    // <= 1001-row level table with the strictly-better-levels prefix
    val levels = docs.groupBy(col("score"))
      .agg(sum(col("n_words")).as("level_tokens"))
    val wLvl = Window.orderBy(col("score").desc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val lv = levels.withColumn("cum_before",
      coalesce(sum(col("level_tokens")).over(wLvl), lit(0L)))
    val wDoc = Window.partitionBy(col("score")).orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    docs
      .withColumn("run", sum(col("n_words")).over(wDoc))
      .join(broadcast(lv.select(col("score"), col("cum_before"))), Seq("score"))
      .crossJoin(broadcast(budgetRow))
      .withColumn("sel", col("cum_before") + col("run") <= col("budget"))
      .groupBy(col("score"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_words")).as("level_tokens"),
        sum(when(col("sel"), 1L).otherwise(0L)).as("taken_docs"),
        coalesce(sum(when(col("sel"), col("n_words"))), lit(0L)).as("taken_tokens"))
      .withColumn("status",
        when(col("taken_docs") === col("n_docs"), lit("selected"))
          .when(col("taken_docs") > 0, lit("partial"))
          .otherwise(lit("dropped")))
      .select(col("score"), col("n_docs"), col("level_tokens"),
        col("taken_docs"), col("taken_tokens"), col("status"))
      .orderBy(col("score").desc)
  }

  private val budgetSelectSql =
    """WITH t AS (
      |  SELECT doc_id,
      |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_words,
      |    CAST(len(list_filter(string_split(text, ' '),
      |      w -> w IN ('the','a','and','of','to','in'))) AS BIGINT) AS n_stop
      |  FROM documents
      |), d AS (
      |  SELECT doc_id, n_words,
      |    CAST(round(CAST(0.5 * least(CAST(n_words AS DOUBLE) / 100.0, 1.0)
      |      + 0.5 * (1.0 - CAST(round(CAST(CAST(n_stop AS DOUBLE) / n_words AS DECIMAL(18,8)), 3) AS DOUBLE)) AS DECIMAL(18,8)), 3) AS DOUBLE) AS score
      |  FROM t
      |), b AS (
      |  SELECT CAST(sum(n_words) // 4 AS BIGINT) AS budget FROM d
      |), lv AS (
      |  SELECT score, sum(n_words) AS level_tokens FROM d GROUP BY score
      |), c AS (
      |  SELECT score, CAST(coalesce(sum(level_tokens) OVER (
      |    ORDER BY score DESC ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS cum_before
      |  FROM lv
      |), p AS (
      |  SELECT d.doc_id, d.score, d.n_words, c.cum_before, b.budget,
      |    sum(d.n_words) OVER (PARTITION BY d.score ORDER BY d.doc_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS run
      |  FROM d JOIN c USING (score), b
      |)
      |SELECT score, CAST(count(*) AS BIGINT) AS n_docs,
      |  CAST(sum(n_words) AS BIGINT) AS level_tokens,
      |  CAST(sum(CASE WHEN cum_before + run <= budget THEN 1 ELSE 0 END) AS BIGINT) AS taken_docs,
      |  CAST(coalesce(sum(CASE WHEN cum_before + run <= budget THEN n_words END), 0) AS BIGINT) AS taken_tokens,
      |  CASE WHEN sum(CASE WHEN cum_before + run <= budget THEN 1 ELSE 0 END) = count(*) THEN 'selected'
      |       WHEN sum(CASE WHEN cum_before + run <= budget THEN 1 ELSE 0 END) > 0 THEN 'partial'
      |       ELSE 'dropped' END AS status
      |FROM p GROUP BY score ORDER BY score DESC""".stripMargin

  // ---------------------------------------------------------------
  // Epoch planning — the LLaMA-style data table: given a token budget
  // and a target mix (uniform here; any weight vector substitutes the
  // same way), how many effective EPOCHS of each source does training
  // consume, and which sources exceed the repetition threshold where
  // memorization risk outweighs the mixing gain (Muennighoff et al.
  // 2023 put the knee near 4 epochs)? `pipeline_domain_mix` balances
  // DOWN to the smallest source; this is the complementary plan when
  // the budget forces small sources to repeat.
  //
  // Scale shape: one corpus pass to per-source token mass (map-side
  // partial agg), then all planning arithmetic happens on the
  // |sources|-row table against a broadcast totals row. The output is
  // the per-source repetition table a training run records in its
  // data card.
  private val EpochBudgetMult = 2L // token budget = 2x corpus mass
  private val EpochRiskCap    = 4.0 // effective epochs beyond which we flag

  private def epochPlan(spark: SparkSession, dir: String): DataFrame = {
    val bySource = Tables.table(spark, dir, "documents")
      .select(col("source"), size(split(col("text"), " ")).cast("long").as("toks"))
      .groupBy(col("source")).agg(sum(col("toks")).as("tokens"))
    // corpus totals via a window over the |sources|-row aggregate — NOT
    // a second .agg() lineage, which would rescan the corpus (the
    // single-partition window input is |sources| rows at any scale)
    val wAll = Window.partitionBy()
    bySource
      .withColumn("total", sum(col("tokens")).over(wAll))
      .withColumn("n_sources", count(lit(1)).over(wAll))
      .withColumn("share", rnd(col("tokens").cast("double") / col("total"), 6))
      .withColumn("planned_tokens",
        floor((col("total") * lit(EpochBudgetMult)).cast("double") / col("n_sources"))
          .cast("long"))
      .withColumn("epochs",
        rnd(col("planned_tokens").cast("double") / col("tokens"), 4))
      .withColumn("overfit_risk", col("epochs") > lit(EpochRiskCap))
      .select(col("source"), col("tokens"), col("share"), col("planned_tokens"),
        col("epochs"), col("overfit_risk"))
      .orderBy(col("source"))
  }

  private val epochPlanSql =
    s"""WITH s AS (
      |  SELECT source, CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS tokens
      |  FROM documents GROUP BY source
      |), t AS (
      |  SELECT CAST(sum(tokens) AS BIGINT) AS total,
      |    CAST(count(*) AS BIGINT) AS n_sources FROM s
      |), p AS (
      |  SELECT source, tokens,
      |    CAST(round(CAST(CAST(tokens AS DOUBLE) / total AS DECIMAL(18,8)), 6) AS DOUBLE) AS share,
      |    CAST(floor(CAST(total * $EpochBudgetMult AS DOUBLE) / n_sources) AS BIGINT) AS planned_tokens
      |  FROM s, t
      |)
      |SELECT source, tokens, share, planned_tokens,
      |  CAST(round(CAST(CAST(planned_tokens AS DOUBLE) / tokens AS DECIMAL(18,8)), 4) AS DOUBLE) AS epochs,
      |  CAST(round(CAST(CAST(planned_tokens AS DOUBLE) / tokens AS DECIMAL(18,8)), 4) AS DOUBLE) > $EpochRiskCap AS overfit_risk
      |FROM p ORDER BY source""".stripMargin

  // ---------------------------------------------------------------
  // Dataset card — the datasheet summary a corpus release publishes:
  // per (source, lang) cell, per source, and whole-corpus rollups of
  // document count, token mass, mean/max length and language spread,
  // in ONE grouping-sets pass (each input row feeds all three levels
  // through Spark's Expand, partial-aggregated map-side — the corpus
  // is scanned once no matter how many levels the card reports).
  private def datasetCard(spark: SparkSession, dir: String): DataFrame = {
    Tables.table(spark, dir, "documents").createOrReplaceTempView("documents_card")
    spark.sql(
      """SELECT
        |  CASE WHEN source IS NULL AND lang IS NULL THEN 'corpus'
        |       WHEN lang IS NULL THEN 'source' ELSE 'source_lang' END AS level,
        |  source, lang,
        |  count(*) AS n_docs,
        |  CAST(sum(size(split(text, ' '))) AS BIGINT) AS tokens,
        |  CAST(round(avg(CAST(n_chars AS DECIMAL(18,4))), 2) AS DOUBLE) AS avg_chars,
        |  CAST(max(n_chars) AS BIGINT) AS max_chars,
        |  count(DISTINCT lang) AS n_langs
        |FROM documents_card
        |GROUP BY GROUPING SETS ((source, lang), (source), ())
        |ORDER BY level ASC, source ASC NULLS FIRST, lang ASC NULLS FIRST""".stripMargin)
  }

  private val datasetCardSql =
    """SELECT
      |  CASE WHEN source IS NULL AND lang IS NULL THEN 'corpus'
      |       WHEN lang IS NULL THEN 'source' ELSE 'source_lang' END AS level,
      |  source, lang,
      |  count(*) AS n_docs,
      |  CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS tokens,
      |  CAST(round(avg(CAST(n_chars AS DECIMAL(18,4))), 2) AS DOUBLE) AS avg_chars,
      |  CAST(max(n_chars) AS BIGINT) AS max_chars,
      |  count(DISTINCT lang) AS n_langs
      |FROM documents
      |GROUP BY GROUPING SETS ((source, lang), (source), ())
      |ORDER BY level ASC, source ASC NULLS FIRST, lang ASC NULLS FIRST""".stripMargin

  private val domainMixSql =
    """WITH s AS (
      |  SELECT source, CAST(count(*) AS BIGINT) AS docs,
      |    CAST(sum(n_chars) AS BIGINT) AS chars
      |  FROM documents GROUP BY source
      |), m AS (SELECT min(chars) AS min_chars FROM s)
      |SELECT source, docs, chars,
      |  CAST(round(CAST(CAST(min_chars AS DOUBLE) / chars AS DECIMAL(18,8)), 6) AS DOUBLE) AS sample_rate,
      |  CAST(floor(chars * CAST(round(CAST(CAST(min_chars AS DOUBLE) / chars AS DECIMAL(18,8)), 6) AS DOUBLE)) AS BIGINT) AS expected_chars
      |FROM s, m ORDER BY source""".stripMargin

  // ---------------------------------------------------------------
  // Loss-driven domain reweighting — one multiplicative-weights step of
  // the DoReMi shape: domains whose average loss exceeds the corpus
  // average get up-weighted (the model finds them hard → sample more),
  // w'(d) ∝ exp(eta * excess_loss(d)), renormalized. This is the
  // *learned* counterpart of pipeline_domain_mix's static balancer; a
  // full run alternates proxy-model evaluation and this step (the
  // kmeans/LR one-iteration pattern — the previous step's weights enter
  // as literals).
  //
  // The loss proxy here is per-doc log2(1+n_chars) (a stand-in column;
  // in production the per-doc LM loss lands in its place). Determinism:
  // per-row proxies snap to DECIMAL(18,4) before summing, so the
  // domain sums are order-independent and exact in both engines; the
  // averages then divide identical doubles by integer counts, so the
  // exp() inputs are bit-equal and rnd(_,6) absorbs libm ulp.
  //
  // Scale shape: one partial-aggregate shuffle of |domains| groups over
  // the corpus scan; everything after operates on the |domains|-row
  // table (corpus totals via a second tiny agg, softmax via a window
  // over |domains| rows). The output is the sampling-weight table the
  // next epoch broadcast-joins onto the corpus.
  private def domainReweight(spark: SparkSession, dir: String): DataFrame = {
    import graft.ops.Registry.dec
    val eta = 0.5
    val d = Tables.table(spark, dir, "documents")
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        round(sum(dec(log2(lit(1) + col("n_chars")))), 4).cast("double").as("loss_sum"))
      .withColumn("loss_avg", col("loss_sum") / col("n_docs"))
    val corpus = d.agg(
      (round(sum(dec(col("loss_sum"))), 4).cast("double") / sum(col("n_docs")))
        .as("corpus_avg"))
    val w = d.crossJoin(broadcast(corpus))
      .withColumn("excess", col("loss_avg") - col("corpus_avg"))
      .withColumn("uw", rnd(exp(lit(eta) * col("excess")), 6))
    w.withColumn("weight",
        rnd(col("uw") / sum(col("uw").cast("decimal(18,8)"))
          .over(Window.partitionBy()).cast("double"), 6))
      .select(col("source"), col("n_docs"), rnd(col("loss_avg"), 6).as("loss_avg"),
        rnd(col("excess"), 6).as("excess"), col("weight"))
      .orderBy(col("source"))
  }

  private val domainReweightSql =
    """WITH d AS (
      |  SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
      |    CAST(round(sum(CAST(log2(1 + n_chars) AS DECIMAL(18,4))), 4) AS DOUBLE) AS loss_sum
      |  FROM documents GROUP BY source
      |), t AS (
      |  SELECT *, loss_sum / n_docs AS loss_avg FROM d
      |), c AS (
      |  SELECT CAST(round(sum(CAST(loss_sum AS DECIMAL(18,4))), 4) AS DOUBLE)
      |    / sum(n_docs) AS corpus_avg FROM t
      |), w AS (
      |  SELECT source, n_docs, loss_avg, loss_avg - corpus_avg AS excess,
      |    CAST(round(CAST(exp(0.5 * (loss_avg - corpus_avg)) AS DECIMAL(18,8)), 6) AS DOUBLE) AS uw
      |  FROM t, c
      |)
      |SELECT source, n_docs,
      |  CAST(round(CAST(loss_avg AS DECIMAL(18,8)), 6) AS DOUBLE) AS loss_avg,
      |  CAST(round(CAST(excess AS DECIMAL(18,8)), 6) AS DOUBLE) AS excess,
      |  CAST(round(CAST(uw / CAST(sum(CAST(uw AS DECIMAL(18,8))) OVER () AS DOUBLE)
      |    AS DECIMAL(18,8)), 6) AS DOUBLE) AS weight
      |FROM w ORDER BY source""".stripMargin

  // ---------------------------------------------------------------
  // Temperature-scaled source mixing — the mT5/multilingual sampling
  // rule p_i ∝ share_i^alpha: alpha = 1 keeps the natural
  // distribution, alpha → 0 approaches uniform; 0.2–0.7 is the
  // published range that up-samples small sources without flooding
  // the mix with them. Emits the weight table for three alphas side
  // by side, with the boost factor (weight / natural share) a
  // pipeline broadcast-joins onto the corpus as a sampling rate.
  //
  // Scale shape: one partial-agg corpus pass to per-source token
  // mass; totals via a window over the |sources|-row table (no
  // rescan); the alpha fan-out and softmax normalization live on
  // |sources| x 3 rows. Determinism: share divides exact integers;
  // share^alpha computes as exp(alpha * ln(share)) with ln snapped to
  // 6 dp and the exp output snapped again (the domain-reweight exp()
  // discipline), normalizers sum exact decimals.
  private val mixAlphas = Seq(0.2, 0.5, 1.0)

  private def temperatureMix(spark: SparkSession, dir: String): DataFrame = {
    val bySource = Tables.table(spark, dir, "documents")
      .select(col("source"), size(split(col("text"), " ")).cast("long").as("toks"))
      .groupBy(col("source")).agg(sum(col("toks")).as("tokens"))
    val wAll = Window.partitionBy()
    val shared = bySource
      .withColumn("total", sum(col("tokens")).over(wAll))
      .withColumn("share", col("tokens").cast("double") / col("total"))
      .select(col("source"), col("tokens"), col("share"),
        explode(array(mixAlphas.map(a => lit(a)): _*)).as("alpha"))
    val term = rnd(exp(col("alpha") * rnd(log(col("share")), 6)), 6)
    val wAlpha = Window.partitionBy(col("alpha"))
    shared
      .withColumn("term", term)
      .withColumn("weight",
        rnd(col("term") / sum(col("term").cast("decimal(18,8)")).over(wAlpha).cast("double"), 6))
      .withColumn("boost", rnd(col("weight") / col("share"), 4))
      .select(col("alpha"), col("source"), col("tokens"),
        rnd(col("share"), 6).as("share"), col("weight"), col("boost"))
      .orderBy(col("alpha"), col("source"))
  }

  private val temperatureMixSql = {
    val alphaList = mixAlphas.mkString("[", ", ", "]")
    s"""WITH s AS (
      |  SELECT source, CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS tokens
      |  FROM documents GROUP BY source
      |), t AS (
      |  SELECT source, tokens,
      |    CAST(tokens AS DOUBLE) / sum(tokens) OVER () AS share
      |  FROM s
      |), x AS (
      |  SELECT source, tokens, share, CAST(aa.alpha AS DOUBLE) AS alpha,
      |    CAST(round(CAST(exp(CAST(aa.alpha AS DOUBLE) * CAST(round(CAST(ln(share) AS DECIMAL(18,8)), 6) AS DOUBLE)) AS DECIMAL(18,8)), 6) AS DOUBLE) AS term
      |  FROM t CROSS JOIN (SELECT unnest($alphaList) AS alpha) aa
      |)
      |SELECT alpha, source, tokens,
      |  CAST(round(CAST(share AS DECIMAL(18,8)), 6) AS DOUBLE) AS share,
      |  CAST(round(CAST(term / CAST(sum(CAST(term AS DECIMAL(18,8))) OVER (PARTITION BY alpha) AS DOUBLE) AS DECIMAL(18,8)), 6) AS DOUBLE) AS weight,
      |  CAST(round(CAST(
      |    CAST(round(CAST(term / CAST(sum(CAST(term AS DECIMAL(18,8))) OVER (PARTITION BY alpha) AS DOUBLE) AS DECIMAL(18,8)), 6) AS DOUBLE) / share
      |  AS DECIMAL(18,8)), 4) AS DOUBLE) AS boost
      |FROM x ORDER BY alpha, source""".stripMargin
  }

  // ---------------------------------------------------------------
  // Length-bucketed batch planning — the inference/training batching
  // decision: fixed-size batches pad every sequence to the batch max,
  // so arrival-order batches waste (max - len) slots per row while
  // length-sorted batches put similar lengths together. This query
  // quantifies the tradeoff on the corpus itself: per (strategy,
  // language), the batch count, real token mass, padded slot mass and
  // padding fraction of batching at B = 32. Sorting minimizes the sum
  // of per-batch maxima over consecutive groups, so the sorted
  // strategy's padding is provably <= arrival's (spec-pinned).
  //
  // Scale shape: ONE language exchange serves both strategies' window
  // numbering (two sorts, same partitioning); the batch and rollup
  // aggregations run on ~n/B and |strategies x langs| rows. In
  // production the partition key gains a shard dimension so each
  // shard's numbering is independent — the per-lang layout here is
  // the per-shard unit of that plan.
  private val batchSize = 32

  private def lengthBatches(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.table(spark, dir, "documents")
      .select(col("doc_id"), col("lang"),
        size(split(col("text"), " ")).cast("long").as("len"))
    val wSorted = Window.partitionBy(col("lang")).orderBy(col("len"), col("doc_id"))
    val wArrival = Window.partitionBy(col("lang")).orderBy(col("doc_id"))
    val long = docs
      .withColumn("rn_sorted", row_number().over(wSorted))
      .withColumn("rn_arrival", row_number().over(wArrival))
      .select(col("lang"), col("len"), explode(array(
        struct(lit("length_sorted").as("strategy"),
          floor((col("rn_sorted") - 1) / batchSize).cast("long").as("batch")),
        struct(lit("arrival").as("strategy"),
          floor((col("rn_arrival") - 1) / batchSize).cast("long").as("batch")))).as("e"))
      .select(col("lang"), col("len"),
        col("e.strategy").as("strategy"), col("e.batch").as("batch"))
    val perBatch = long.groupBy(col("strategy"), col("lang"), col("batch"))
      .agg(count(lit(1)).as("bn"), max(col("len")).as("mx"), sum(col("len")).as("sl"))
    perBatch.groupBy(col("strategy"), col("lang"))
      .agg(
        count(lit(1)).as("n_batches"),
        sum(col("bn")).as("n_docs"),
        sum(col("sl")).as("total_tokens"),
        sum(col("mx") * col("bn")).as("padded_slots"))
      .withColumn("padding_frac",
        rnd(lit(1.0) - col("total_tokens").cast("double") / col("padded_slots"), 6))
      .select(col("strategy"), col("lang"), col("n_docs"), col("n_batches"),
        col("total_tokens"), col("padded_slots"), col("padding_frac"))
      .orderBy(col("strategy"), col("lang"))
  }

  private val lengthBatchesSql =
    s"""WITH d AS (
      |  SELECT doc_id, lang, CAST(len(string_split(text, ' ')) AS BIGINT) AS len
      |  FROM documents
      |), rn AS (
      |  SELECT lang, len,
      |    row_number() OVER (PARTITION BY lang ORDER BY len, doc_id) AS rn_sorted,
      |    row_number() OVER (PARTITION BY lang ORDER BY doc_id) AS rn_arrival
      |  FROM d
      |), long AS (
      |  SELECT lang, len, 'length_sorted' AS strategy,
      |    CAST(floor((rn_sorted - 1) / $batchSize.0) AS BIGINT) AS batch FROM rn
      |  UNION ALL
      |  SELECT lang, len, 'arrival' AS strategy,
      |    CAST(floor((rn_arrival - 1) / $batchSize.0) AS BIGINT) AS batch FROM rn
      |), b AS (
      |  SELECT strategy, lang, batch, CAST(count(*) AS BIGINT) AS bn,
      |    max(len) AS mx, sum(len) AS sl
      |  FROM long GROUP BY strategy, lang, batch
      |)
      |SELECT strategy, lang,
      |  CAST(sum(bn) AS BIGINT) AS n_docs,
      |  CAST(count(*) AS BIGINT) AS n_batches,
      |  CAST(sum(sl) AS BIGINT) AS total_tokens,
      |  CAST(sum(mx * bn) AS BIGINT) AS padded_slots,
      |  CAST(round(CAST(1.0 - CAST(sum(sl) AS DOUBLE) / sum(mx * bn) AS DECIMAL(18,8)), 6) AS DOUBLE) AS padding_frac
      |FROM b GROUP BY strategy, lang
      |ORDER BY strategy, lang""".stripMargin

  // ---------------------------------------------------------------
  // Judge agreement — Cohen's kappa between two independent quality
  // judges over the same corpus: the Gopher repetition gate (judge A,
  // rule-based) and the learned LR gate at p >= 0.5 (judge B, same
  // features/weights/hard-sigmoid as text_quality_lr_step). This is
  // the LLM-judge / annotation-QA primitive: raw agreement po is
  // inflated when both judges mostly keep, kappa = (po - pe)/(1 - pe)
  // corrects for the chance-agreement floor pe. Judge B runs at its
  // tuned operating point (p >= 0.57, the corpus median — the
  // FineWeb-Edu "score >= 3" convention) rather than the raw 0.5
  // midpoint, which on this corpus keeps everything and collapses
  // kappa to the constant-judge 0. Reported per language
  // and for the whole corpus via ROLLUP (one Expand pass, the dataset
  // card discipline). A sub-2-word doc has no bigram frac; the Gopher
  // verdict treats that NULL as reject (coalesce false), pinning the
  // same total-verdict convention both engines compute.
  //
  // Scale shape: both verdicts are per-row projections fused into the
  // scan; the rollup is one aggregation to |langs|+1 rows. Chance
  // terms use marginal FRACTIONS (never n² products), so the
  // arithmetic cannot overflow at any corpus size. Determinism: the
  // 2x2 cells are integers; po/pe/kappa divide identical doubles and
  // round to 6 dp.
  private def judgeAgreement(spark: SparkSession, dir: String): DataFrame = {
    val t = Tables.table(spark, dir, "documents")
      .withColumn("ws", split(col("text"), " "))
      .withColumn("bg", expr(
        "CASE WHEN size(ws) >= 2 THEN transform(sequence(1, size(ws) - 1), i -> concat(element_at(ws, i), ' ', element_at(ws, i + 1))) ELSE array() END"))
      .withColumn("n_words", size(col("ws")).cast("long"))
      .withColumn("n_stop", expr(
        "size(filter(ws, w -> w IN ('the','a','and','of','to','in')))").cast("long"))
      .withColumn("dup_word_frac",
        rnd(lit(1.0) - size(array_distinct(col("ws"))).cast("double") / col("n_words"), 4))
      .withColumn("top_word_frac", rnd(expr(
        "array_max(transform(array_distinct(ws), d -> size(filter(ws, x -> x = d))))")
        .cast("long").cast("double") / col("n_words"), 4))
      .withColumn("top_bigram_frac", when(col("n_words") >= 2, rnd(expr(
        "array_max(transform(array_distinct(bg), d -> size(filter(bg, x -> x = d))))")
        .cast("long").cast("double") / (col("n_words") - 1), 4)))
    val f1 = rnd(col("n_stop").cast("double") / col("n_words"), 3)
    val f2 = rnd(least(col("n_words").cast("double") / 100.0, lit(1.0)), 3)
    val f3 = rnd((col("n_chars") - col("n_words") + 1).cast("double") / col("n_words") / 10.0, 3)
    val z = lit(lrW(0)._2) + lit(lrW(1)._2) * f1 + lit(lrW(2)._2) * f2 + lit(lrW(3)._2) * f3
    val p = least(greatest(lit(0.5) + z / 4.0, lit(0.0)), lit(1.0))
    val verdicts = t.select(col("lang"),
      coalesce(col("dup_word_frac") <= 0.8 && col("top_word_frac") <= 0.2 &&
        col("top_bigram_frac") <= 0.18, lit(false)).as("ka"),
      (p >= 0.57).as("kb"))
    val cells = verdicts.rollup(col("lang")).agg(
      grouping(col("lang")).as("g"),
      count(lit(1)).as("n"),
      sum(when(col("ka") && col("kb"), 1L).otherwise(0L)).as("n_both_keep"),
      sum(when(col("ka") && !col("kb"), 1L).otherwise(0L)).as("n_a_only"),
      sum(when(!col("ka") && col("kb"), 1L).otherwise(0L)).as("n_b_only"),
      sum(when(!col("ka") && !col("kb"), 1L).otherwise(0L)).as("n_both_drop"))
    val po = (col("n_both_keep") + col("n_both_drop")).cast("double") / col("n")
    val pa = (col("n_both_keep") + col("n_a_only")).cast("double") / col("n")
    val pb = (col("n_both_keep") + col("n_b_only")).cast("double") / col("n")
    val pe = pa * pb + (lit(1.0) - pa) * (lit(1.0) - pb)
    cells
      .withColumn("level", when(col("g") === 1, lit("corpus")).otherwise(lit("lang")))
      .withColumn("po", rnd(po, 6))
      .withColumn("pe", rnd(pe, 6))
      .withColumn("kappa", when(pe < 1.0, rnd((po - pe) / (lit(1.0) - pe), 6)))
      .select(col("level"), col("lang"), col("n"), col("n_both_keep"),
        col("n_a_only"), col("n_b_only"), col("n_both_drop"),
        col("po"), col("pe"), col("kappa"))
      .orderBy(col("level"), col("lang").asc_nulls_first)
  }

  private val judgeAgreementSql = {
    val seeds = lrSeedSources.map(s => s"'$s'").mkString(", ")
    s"""WITH t AS (
      |  SELECT lang, n_chars, string_split(text, ' ') AS ws,
      |    list_transform(range(1, len(string_split(text, ' '))),
      |      i -> string_split(text, ' ')[i] || ' ' || string_split(text, ' ')[i + 1]) AS bg
      |  FROM documents
      |), m AS (
      |  SELECT lang, n_chars, CAST(len(ws) AS BIGINT) AS n_words,
      |    CAST(len(list_filter(ws, w -> w IN ('the','a','and','of','to','in'))) AS BIGINT) AS n_stop,
      |    CAST(round(CAST(1.0 - CAST(len(list_distinct(ws)) AS DOUBLE) / len(ws) AS DECIMAL(18,8)), 4) AS DOUBLE) AS dup_word_frac,
      |    CAST(round(CAST(CAST(list_max(list_transform(list_distinct(ws), d -> len(list_filter(ws, x -> x = d)))) AS DOUBLE) / len(ws) AS DECIMAL(18,8)), 4) AS DOUBLE) AS top_word_frac,
      |    CASE WHEN len(ws) >= 2 THEN CAST(round(CAST(CAST(list_max(list_transform(list_distinct(bg), d -> len(list_filter(bg, x -> x = d)))) AS DOUBLE) / (len(ws) - 1) AS DECIMAL(18,8)), 4) AS DOUBLE) END AS top_bigram_frac
      |  FROM t
      |), f AS (
      |  SELECT lang,
      |    coalesce(dup_word_frac <= 0.8 AND top_word_frac <= 0.2 AND top_bigram_frac <= 0.18, false) AS ka,
      |    CAST(round(CAST(CAST(n_stop AS DOUBLE) / n_words AS DECIMAL(18,8)), 3) AS DOUBLE) AS f1,
      |    CAST(round(CAST(least(CAST(n_words AS DOUBLE) / 100.0, 1.0) AS DECIMAL(18,8)), 3) AS DOUBLE) AS f2,
      |    CAST(round(CAST(CAST(n_chars - n_words + 1 AS DOUBLE) / n_words / 10.0 AS DECIMAL(18,8)), 3) AS DOUBLE) AS f3
      |  FROM m
      |), v AS (
      |  SELECT lang, ka,
      |    least(greatest(0.5 + (${lrW(0)._2} + ${lrW(1)._2} * f1 + ${lrW(2)._2} * f2 + ${lrW(3)._2} * f3) / 4.0, 0.0), 1.0) >= 0.57 AS kb
      |  FROM f
      |), c AS (
      |  SELECT CASE WHEN GROUPING(lang) = 1 THEN 'corpus' ELSE 'lang' END AS level,
      |    lang, CAST(count(*) AS BIGINT) AS n,
      |    CAST(sum(CASE WHEN ka AND kb THEN 1 ELSE 0 END) AS BIGINT) AS n_both_keep,
      |    CAST(sum(CASE WHEN ka AND NOT kb THEN 1 ELSE 0 END) AS BIGINT) AS n_a_only,
      |    CAST(sum(CASE WHEN NOT ka AND kb THEN 1 ELSE 0 END) AS BIGINT) AS n_b_only,
      |    CAST(sum(CASE WHEN NOT ka AND NOT kb THEN 1 ELSE 0 END) AS BIGINT) AS n_both_drop
      |  FROM v GROUP BY ROLLUP(lang)
      |), k AS (
      |  SELECT level, lang, n, n_both_keep, n_a_only, n_b_only, n_both_drop,
      |    CAST(n_both_keep + n_both_drop AS DOUBLE) / n AS po_raw,
      |    (CAST(n_both_keep + n_a_only AS DOUBLE) / n) * (CAST(n_both_keep + n_b_only AS DOUBLE) / n)
      |      + (1.0 - CAST(n_both_keep + n_a_only AS DOUBLE) / n) * (1.0 - CAST(n_both_keep + n_b_only AS DOUBLE) / n) AS pe_raw
      |  FROM c
      |)
      |SELECT level, lang, n, n_both_keep, n_a_only, n_b_only, n_both_drop,
      |  CAST(round(CAST(po_raw AS DECIMAL(18,8)), 6) AS DOUBLE) AS po,
      |  CAST(round(CAST(pe_raw AS DECIMAL(18,8)), 6) AS DOUBLE) AS pe,
      |  CASE WHEN pe_raw < 1.0 THEN CAST(round(CAST((po_raw - pe_raw) / (1.0 - pe_raw) AS DECIMAL(18,8)), 6) AS DOUBLE) END AS kappa
      |FROM k ORDER BY level, lang ASC NULLS FIRST""".stripMargin
  }

  // ---------------------------------------------------------------
  // Distribution drift (PSI) — the monitoring primitive a production
  // curation gate runs per crawl snapshot: how far has each source's
  // quality-score distribution moved from the trusted reference pool
  // (the LR seed sources)? PSI = sum_b (p_b - q_b) * ln(p_b / q_b)
  // over the calibration-bins histogram; > 0.1 is the conventional
  // "investigate" line and > 0.2 "major drift" (retrain / re-gate).
  //
  // Scale shape: ONE corpus pass aggregates per-source DENSE bin
  // counts (10 conditional sums — no missing-bin skeleton join), the
  // reference histogram is a window over the |sources|-row table, and
  // the bins explode back to |sources| x 10 rows for the term sum.
  // Zero joins, one corpus scan (plan-pinned). Determinism: bin
  // fractions divide exact integers, the ln() input is a ratio of
  // identical doubles, and each term snaps to 6 dp through
  // DECIMAL(18,8) before an exact decimal sum — libm ulp cannot move
  // the hash (the domain-reweight exp() discipline).
  private val psiFloor = 0.0005

  private def psiDrift(spark: SparkSession, dir: String): DataFrame = {
    val f1 = rnd(col("n_stop").cast("double") / col("n_words"), 3)
    val f2 = rnd(least(col("n_words").cast("double") / 100.0, lit(1.0)), 3)
    val f3 = rnd((col("n_chars") - col("n_words") + 1).cast("double") / col("n_words") / 10.0, 3)
    val z = lit(lrW(0)._2) + lit(lrW(1)._2) * f1 + lit(lrW(2)._2) * f2 + lit(lrW(3)._2) * f3
    val p = least(greatest(lit(0.5) + z / 4.0, lit(0.0)), lit(1.0))
    val binned = Tables.table(spark, dir, "documents")
      .withColumn("ws", split(col("text"), " "))
      .withColumn("n_words", size(col("ws")).cast("long"))
      .withColumn("n_stop", expr(
        "size(filter(ws, w -> w IN ('the','a','and','of','to','in')))").cast("long"))
      .select(col("source"), least(floor(p * 10), lit(9L)).cast("int").as("bin"))
    val aggCols = count(lit(1)).as("n_docs") +:
      (0 to 9).map(b => sum(when(col("bin") === b, 1L).otherwise(0L)).as(s"c$b"))
    val wide = binned.groupBy(col("source")).agg(aggCols.head, aggCols.tail: _*)
    val wAll = Window.partitionBy()
    val seeded = (0 to 9).foldLeft(
        wide.withColumn("ref_total",
          sum(when(col("source").isin(lrSeedSources: _*), col("n_docs")).otherwise(0L)).over(wAll))) {
      (df, b) => df.withColumn(s"r$b",
        sum(when(col("source").isin(lrSeedSources: _*), col(s"c$b")).otherwise(0L)).over(wAll))
    }
    val long = seeded.select(col("source"), col("n_docs"), col("ref_total"),
      explode(array((0 to 9).map(b =>
        struct(lit(b).as("bin"), col(s"c$b").as("cnt"), col(s"r$b").as("refn"))): _*)).as("e"))
      .select(col("source"), col("n_docs"), col("ref_total"),
        col("e.bin").as("bin"), col("e.cnt").as("cnt"), col("e.refn").as("refn"))
    val fp = greatest(col("cnt").cast("double") / col("n_docs"), lit(psiFloor))
    val fq = greatest(col("refn").cast("double") / col("ref_total"), lit(psiFloor))
    val term = rnd((fp - fq) * log(fp / fq), 6)
    long.groupBy(col("source"), col("n_docs"))
      .agg(rnd(sum(term.cast("decimal(18,8)")).cast("double"), 6).as("psi"))
      .withColumn("drift",
        when(col("psi") > 0.2, "major").when(col("psi") > 0.1, "moderate")
          .otherwise(lit("stable")))
      .select(col("source"), col("n_docs"), col("psi"), col("drift"))
      .orderBy(col("source"))
  }

  private val psiDriftSql = {
    val seeds = lrSeedSources.map(s => s"'$s'").mkString(", ")
    val cCols = (0 to 9).map(b =>
      s"CAST(sum(CASE WHEN bin = $b THEN 1 ELSE 0 END) AS BIGINT) AS c$b").mkString(",\n      |    ")
    val rCols = (0 to 9).map(b =>
      s"CAST(sum(CASE WHEN source IN ($seeds) THEN c$b ELSE 0 END) OVER () AS BIGINT) AS r$b").mkString(",\n      |    ")
    val cntCase = (0 to 9).map(b => s"WHEN $b THEN c$b").mkString(" ")
    val refCase = (0 to 9).map(b => s"WHEN $b THEN r$b").mkString(" ")
    s"""WITH t AS (
      |  SELECT source, n_chars,
      |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_words,
      |    CAST(len(list_filter(string_split(text, ' '),
      |      w -> w IN ('the','a','and','of','to','in'))) AS BIGINT) AS n_stop
      |  FROM documents
      |), f AS (
      |  SELECT source,
      |    CAST(round(CAST(CAST(n_stop AS DOUBLE) / n_words AS DECIMAL(18,8)), 3) AS DOUBLE) AS f1,
      |    CAST(round(CAST(least(CAST(n_words AS DOUBLE) / 100.0, 1.0) AS DECIMAL(18,8)), 3) AS DOUBLE) AS f2,
      |    CAST(round(CAST(CAST(n_chars - n_words + 1 AS DOUBLE) / n_words / 10.0 AS DECIMAL(18,8)), 3) AS DOUBLE) AS f3
      |  FROM t
      |), b AS (
      |  SELECT source, CAST(least(floor(least(greatest(0.5 + (${lrW(0)._2} + ${lrW(1)._2} * f1 + ${lrW(2)._2} * f2 + ${lrW(3)._2} * f3) / 4.0, 0.0), 1.0) * 10), 9) AS INT) AS bin
      |  FROM f
      |), wide AS (
      |  SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
      |    $cCols
      |  FROM b GROUP BY source
      |), seeded AS (
      |  SELECT *,
      |    CAST(sum(CASE WHEN source IN ($seeds) THEN n_docs ELSE 0 END) OVER () AS BIGINT) AS ref_total,
      |    $rCols
      |  FROM wide
      |), long AS (
      |  SELECT source, n_docs, ref_total, bb.bin,
      |    CASE bb.bin $cntCase END AS cnt,
      |    CASE bb.bin $refCase END AS refn
      |  FROM seeded CROSS JOIN (SELECT unnest(range(0, 10)) AS bin) bb
      |), terms AS (
      |  SELECT source, n_docs,
      |    CAST(round(CAST(
      |      (greatest(CAST(cnt AS DOUBLE) / n_docs, $psiFloor) - greatest(CAST(refn AS DOUBLE) / ref_total, $psiFloor))
      |      * ln(greatest(CAST(cnt AS DOUBLE) / n_docs, $psiFloor) / greatest(CAST(refn AS DOUBLE) / ref_total, $psiFloor))
      |    AS DECIMAL(18,8)), 6) AS DECIMAL(18,8)) AS term
      |  FROM long
      |)
      |SELECT source, n_docs,
      |  CAST(round(CAST(CAST(sum(term) AS DOUBLE) AS DECIMAL(18,8)), 6) AS DOUBLE) AS psi,
      |  CASE WHEN CAST(round(CAST(CAST(sum(term) AS DOUBLE) AS DECIMAL(18,8)), 6) AS DOUBLE) > 0.2 THEN 'major'
      |       WHEN CAST(round(CAST(CAST(sum(term) AS DOUBLE) AS DECIMAL(18,8)), 6) AS DOUBLE) > 0.1 THEN 'moderate'
      |       ELSE 'stable' END AS drift
      |FROM terms GROUP BY source, n_docs
      |ORDER BY source""".stripMargin
  }

  // ---------------------------------------------------------------
  // Quantile normalization of the per-source length distribution onto
  // the pooled corpus distribution — the cross-source score
  // harmonization step (microarray-style quantile normalization): a
  // doc at within-source rank fraction r is remapped to the pooled
  // value at the same fraction, so every source's normalized
  // distribution becomes the SAME pooled distribution and downstream
  // thresholds (length trims, quality cuts) stop meaning different
  // things per source. The rank mapping is pure integer arithmetic:
  // pos = 1 + round((r-1)(N-1)/(n_s-1)) computed as a floor of
  // cross-multiplied BIGINTs — no float rank ever exists, so the
  // mapping cannot drift cross-engine.
  //
  // Scale shape: two rank passes (one per source — the natural
  // partition; one pooled) and an equi-join on the integer position.
  // The pooled rank is the one global sort; at 100 TB it swaps for an
  // approx-quantile grid (map each r to the KLL sketch's quantile at
  // that fraction — the agg_percentiles_approx discipline) or a
  // range-partitioned two-pass rank; the per-source passes and the
  // position join are shape-unchanged.
  private def quantileNorm(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.table(spark, dir, "documents")
      .select(col("doc_id"), col("source"), col("n_chars"))
    val nTot = d.agg(count(lit(1)).as("n_pool"))
    val pool = d.select(col("n_chars").as("v"),
      row_number().over(Window.orderBy(col("n_chars"), col("doc_id"))).as("pos"))
    val ranked = d
      .withColumn("r", row_number().over(
        Window.partitionBy(col("source")).orderBy(col("n_chars"), col("doc_id"))))
      .withColumn("n_s", count(lit(1)).over(Window.partitionBy(col("source"))))
      .crossJoin(broadcast(nTot))
      .withColumn("pos", expr(
        """CASE WHEN n_s = 1 THEN (n_pool + 1) div 2
          |     ELSE 1 + (2 * (r - 1) * (n_pool - 1) + (n_s - 1)) div (2 * (n_s - 1))
          |END""".stripMargin))
    ranked.join(pool, Seq("pos"))
      .groupBy(col("source"))
      .agg(
        count(lit(1)).as("n_docs"),
        rnd(sum(col("n_chars")).cast("double") / count(lit(1)), 2).as("mean_raw"),
        rnd(sum(col("v")).cast("double") / count(lit(1)), 2).as("mean_norm"),
        min(col("v")).as("min_norm"),
        max(col("v")).as("max_norm"))
      .select(col("source"), col("n_docs"), col("mean_raw"), col("mean_norm"),
        col("min_norm"), col("max_norm"))
      .orderBy(col("source"))
  }

  private val quantileNormSql =
    """WITH d AS (
      |  SELECT doc_id, source, n_chars FROM documents
      |), np AS (
      |  SELECT count(*) AS n_pool FROM d
      |), pool AS (
      |  SELECT n_chars AS v, row_number() OVER (ORDER BY n_chars, doc_id) AS pos FROM d
      |), ranked AS (
      |  SELECT doc_id, source, n_chars,
      |    row_number() OVER (PARTITION BY source ORDER BY n_chars, doc_id) AS r,
      |    count(*) OVER (PARTITION BY source) AS n_s
      |  FROM d
      |), mapped AS (
      |  SELECT rk.source, rk.n_chars,
      |    CASE WHEN rk.n_s = 1 THEN (np.n_pool + 1) // 2
      |         ELSE 1 + (2 * (rk.r - 1) * (np.n_pool - 1) + (rk.n_s - 1)) // (2 * (rk.n_s - 1))
      |    END AS pos
      |  FROM ranked rk, np
      |)
      |SELECT m.source, count(*) AS n_docs,
      |  CAST(round(CAST(CAST(sum(m.n_chars) AS DOUBLE) / count(*) AS DECIMAL(18,8)), 2) AS DOUBLE) AS mean_raw,
      |  CAST(round(CAST(CAST(sum(p.v) AS DOUBLE) / count(*) AS DECIMAL(18,8)), 2) AS DOUBLE) AS mean_norm,
      |  min(p.v) AS min_norm, max(p.v) AS max_norm
      |FROM mapped m JOIN pool p ON p.pos = m.pos
      |GROUP BY 1
      |ORDER BY 1""".stripMargin

  // ---------------------------------------------------------------
  // The 100 TB twin of [[quantileNorm]] — the documented swap,
  // IMPLEMENTED: instead of the pooled global sort, the pooled
  // distribution is a 101-point KLL quantile grid
  // (approx_percentile, accuracy 10⁴ ⇒ rank error ≤ 1e-4·N — the
  // agg_percentiles_approx discipline), built map-side-combinable and
  // broadcast; each doc maps its integer rank fraction to the nearest
  // grid point. Output contract (the sketch-oracle pattern): the
  // EXACT-mapping aggregates are hash-checked against DuckDB, and the
  // sketch side ships as an in-tolerance boolean the rank-error bound
  // guarantees (grid value at fraction r sits within 1e-4·N ranks of
  // the exact pooled value, so per-source normalized means agree
  // within 2% with huge margin) — a sketch regression flips the
  // boolean and fails the hash. The DuckDB twin computes ITS OWN
  // 101-point grid (exact quantile_cont — the error-free instance of
  // the same grid mapping) and the same tolerance boolean (r15
  // advice), so a too-loose tolerance or a broken grid-index formula
  // fails the oracle from the DuckDB side too, instead of the twin
  // rubber-stamping TRUE.
  //
  // Known flake mode (r16 advice, ACCEPTED): the boolean is computed
  // from DIFFERENT estimators per engine (KLL sketch grid vs exact
  // quantile_cont grid), so if either side's grid mean ever sat near
  // the 2% gate the booleans could diverge intermittently. The gate is
  // sized so that cannot happen in practice — the sketch rank error is
  // ≤ 1e-4·N and the grid discretization ≤ 1 percentile, an order of
  // magnitude under the gate — and CurationSpec's margin assert pins
  // the ACTUAL Spark-side deviation under 1% (half the gate) at the
  // fixture, so a hash mismatch on this boolean is triaged as margin
  // erosion (tighten the sketch accuracy or loosen the gate), never as
  // a silent correctness regression.
  /** The shared per-doc mapping of the approx quantile-norm pair:
    * one row per document carrying the exact pooled value `v` and the
    * sketch-grid value `v_approx` — the query aggregates it to the
    * tolerance boolean; CurationSpec's margin assert aggregates it to
    * the actual relative deviation. */
  private def quantileNormApproxMapped(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.table(spark, dir, "documents")
      .select(col("doc_id"), col("source"), col("n_chars"))
    val nTot = d.agg(count(lit(1)).as("n_pool"))
    val pool = d.select(col("n_chars").as("v"),
      row_number().over(Window.orderBy(col("n_chars"), col("doc_id"))).as("pos"))
    val fractions = (0 to 100).map(_ / 100.0)
    val grid = d.agg(expr(
      s"approx_percentile(n_chars, array(${fractions.mkString(", ")}), 10000)")
      .as("grid"))
    val ranked = d
      .withColumn("r", row_number().over(
        Window.partitionBy(col("source")).orderBy(col("n_chars"), col("doc_id"))))
      .withColumn("n_s", count(lit(1)).over(Window.partitionBy(col("source"))))
      .crossJoin(broadcast(nTot)).crossJoin(broadcast(grid))
      .withColumn("pos", expr(
        """CASE WHEN n_s = 1 THEN (n_pool + 1) div 2
          |     ELSE 1 + (2 * (r - 1) * (n_pool - 1) + (n_s - 1)) div (2 * (n_s - 1))
          |END""".stripMargin))
      .withColumn("gidx", expr(
        "CASE WHEN n_s = 1 THEN 50 ELSE cast((2 * (r - 1) * 100 + (n_s - 1)) div (2 * (n_s - 1)) AS int) END"))
      .withColumn("v_approx", expr("element_at(grid, gidx + 1)"))
    ranked.join(pool, Seq("pos"))
  }

  private def quantileNormApprox(spark: SparkSession, dir: String): DataFrame =
    quantileNormApproxMapped(spark, dir)
      .groupBy(col("source"))
      .agg(
        count(lit(1)).as("n_docs"),
        rnd(sum(col("v")).cast("double") / count(lit(1)), 2).as("mean_norm_exact"),
        (abs(sum(col("v_approx")).cast("double") / count(lit(1))
          - sum(col("v")).cast("double") / count(lit(1)))
          <= lit(0.02) * (sum(col("v")).cast("double") / count(lit(1))))
          .as("approx_within_2pct"))
      .withColumn("grid_points", lit(101))
      .select(col("source"), col("n_docs"), col("mean_norm_exact"),
        col("approx_within_2pct"), col("grid_points"))
      .orderBy(col("source"))

  /** Test hook (r16 advice): the ACTUAL per-source relative deviation
    * between the sketch-grid mean and the exact pooled mean, so the
    * spec can pin real margin under the 2% gate instead of trusting
    * the boolean's headroom silently. */
  private[graft] def quantileNormApproxMargin(spark: SparkSession, dir: String): DataFrame =
    quantileNormApproxMapped(spark, dir)
      .groupBy(col("source"))
      .agg((abs(sum(col("v_approx")).cast("double") - sum(col("v")).cast("double"))
        / sum(col("v")).cast("double")).as("rel_dev"))

  private val quantileNormApproxSql =
    s"""WITH d AS (
      |  SELECT doc_id, source, n_chars FROM documents
      |), np AS (
      |  SELECT count(*) AS n_pool FROM d
      |), pool AS (
      |  SELECT n_chars AS v, row_number() OVER (ORDER BY n_chars, doc_id) AS pos FROM d
      |), grid AS (
      |  SELECT quantile_cont(n_chars, [${(0 to 100).map(_ / 100.0).mkString(", ")}]) AS g FROM d
      |), ranked AS (
      |  SELECT doc_id, source, n_chars,
      |    row_number() OVER (PARTITION BY source ORDER BY n_chars, doc_id) AS r,
      |    count(*) OVER (PARTITION BY source) AS n_s
      |  FROM d
      |), mapped AS (
      |  SELECT rk.source,
      |    CASE WHEN rk.n_s = 1 THEN (np.n_pool + 1) // 2
      |         ELSE 1 + (2 * (rk.r - 1) * (np.n_pool - 1) + (rk.n_s - 1)) // (2 * (rk.n_s - 1))
      |    END AS pos,
      |    CASE WHEN rk.n_s = 1 THEN 50
      |         ELSE (2 * (rk.r - 1) * 100 + (rk.n_s - 1)) // (2 * (rk.n_s - 1))
      |    END AS gidx
      |  FROM ranked rk, np
      |)
      |SELECT m.source, count(*) AS n_docs,
      |  CAST(round(CAST(CAST(sum(p.v) AS DOUBLE) / count(*) AS DECIMAL(18,8)), 2) AS DOUBLE) AS mean_norm_exact,
      |  abs(sum(gr.g[m.gidx + 1]) / count(*) - CAST(sum(p.v) AS DOUBLE) / count(*))
      |    <= 0.02 * (CAST(sum(p.v) AS DOUBLE) / count(*)) AS approx_within_2pct,
      |  101 AS grid_points
      |FROM mapped m JOIN pool p ON p.pos = m.pos, grid gr
      |GROUP BY 1
      |ORDER BY 1""".stripMargin
}
