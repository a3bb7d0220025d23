package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.ops.Registry.{dec, rnd}

/** Corpus/activity monitoring operators — the "is the pipeline healthy"
  * family that sits next to the forensics queries:
  *
  *  - [[rollingWau]] — rolling 7-day distinct active users per day.
  *    A sliding COUNT(DISTINCT) is NOT algebraically decomposable, so
  *    the naive form re-scans the window per day; this one rewrites it
  *    exactly as a bounded fan-out of per-user coverage intervals
  *    (each user-day emits the window-end days it alone covers), after
  *    which plain COUNT suffices — no distinct anywhere downstream.
  *  - [[cusumDrift]] — CUSUM changepoint statistic per user over the
  *    event-value sequence. The textbook recursion
  *    S_i = max(0, S_{i-1} + d_i) is not a SQL window aggregate, but it
  *    equals P_i - min(0, min_{j<=i} P_j) for prefix sums P — two
  *    per-user window passes, all DECIMAL-exact.
  *  - [[botRegularity]] — inter-event-gap regularity per user
  *    (coefficient of variation + modal-minute share): the classic
  *    automation signature over behavioral logs.
  *  - [[spearmanDoclen]] — Spearman AND Pearson correlation between two
  *    per-doc integer metrics, per language, with exact tie-averaged
  *    ranks (doubled into integers so nothing floats until the final
  *    division).
  *  - [[thresholdSweep]] — precision/recall/F1 of a score threshold
  *    sweep from ONE corpus pass: bucket the score with integer
  *    arithmetic, then a 20-row cumulative-from-the-top window yields
  *    every operating point.
  *
  * All five are oracle-twinned; determinism follows the Registry
  * DECIMAL-snap discipline (FIXTURES.md).
  */
object MonitorQueries {

  def queries: Vector[NamedQuery] = Vector(
    NamedQuery("events_rolling_wau", rollingWau, Some(rollingWauSql)),
    NamedQuery("events_cusum_drift", cusumDrift, Some(cusumDriftSql)),
    NamedQuery("events_changepoint", changepoint, Some(changepointSql)),
    NamedQuery("events_bot_regularity", botRegularity, Some(botRegularitySql)),
    NamedQuery("eval_spearman_doclen", spearmanDoclen, Some(spearmanDoclenSql)),
    NamedQuery("eval_threshold_sweep", thresholdSweep, Some(thresholdSweepSql)),
    NamedQuery("events_pareto_users", paretoUsers, Some(paretoUsersSql)),
    NamedQuery("events_growth_accounting", growthAccounting, Some(growthAccountingSql)),
  )

  private def ev(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir).withColumn("sec", col("ts").cast("long"))

  // ---------------------------------------------------------------
  // Rolling 7-day actives (WAU) + daily actives (DAU) + stickiness on
  // a complete daily grid.
  //
  // Scale shape: the problem with a sliding COUNT(DISTINCT user) is
  // that distinct-over-a-window neither decomposes into partials nor
  // reuses the previous day's answer. The exact rewrite: reduce events
  // to distinct user-days (one partial-agg shuffle), and have each
  // user-day d emit the window-end days ONLY IT covers for that user —
  // the range [d, min(d+6, next_active_day-1)]. Every (user, window)
  // membership is emitted exactly once (proof in the scaladoc test),
  // so WAU is a plain COUNT per day: map-side combinable, no distinct,
  // no O(window) re-scan, fan-out bounded by 7x the user-day count.
  // At 100 TB this is two bounded shuffles of the user-day reduction —
  // the irreducible activity table — instead of a 7x re-scan of raw
  // events per report day (or an undecomposable window distinct).
  //
  // Exactly-once coverage: for window end e, let d* be the user's last
  // active day <= e with d* >= e-6. Its next active day n > e, so
  // e <= min(d*+6, n-1) and d* emits e. Any earlier active day
  // d' in [e-6, d*) has next active day n' <= d*, so its emission cap
  // n'-1 < e — never emitted twice.
  private def rollingWau(spark: SparkSession, dir: String): DataFrame = {
    val userDays = ev(spark, dir)
      .select(col("user_id"), expr("sec div 86400").as("day"))
      .groupBy(col("user_id"), col("day")).agg(count(lit(1)).as("n_ev"))
    val wNext = Window.partitionBy(col("user_id")).orderBy(col("day"))
    val coverage = userDays
      .withColumn("nxt", lead(col("day"), 1).over(wNext))
      .withColumn("hi", least(col("day") + 6, coalesce(col("nxt") - 1, col("day") + 6)))
      .select(col("user_id"), explode(sequence(col("day"), col("hi"))).as("day"))
    val wau = coverage.groupBy(col("day")).agg(count(lit(1)).as("wau"))
    val dau = userDays.groupBy(col("day")).agg(count(lit(1)).as("dau"))
    val grid = userDays.agg(min(col("day")).as("mn"), max(col("day")).as("mx"))
      .select(explode(sequence(col("mn"), col("mx"))).as("day"))
    grid
      .join(dau, Seq("day"), "left")
      .join(wau, Seq("day"), "left")
      .withColumn("dau", coalesce(col("dau"), lit(0L)))
      .withColumn("wau", coalesce(col("wau"), lit(0L)))
      .select(
        col("day"), col("dau"), col("wau"),
        when(col("wau") === 0, lit(0.0))
          .otherwise(rnd(col("dau").cast("double") / col("wau"), 4)).as("stickiness"))
      .orderBy(col("day"))
  }

  private val rollingWauSql =
    """WITH ud AS (
      |  SELECT user_id, (epoch_ns(ts)//1000000000)//86400 AS day
      |  FROM events GROUP BY 1, 2
      |), b AS (SELECT min(day) AS mn, max(day) AS mx FROM ud),
      |grid AS (SELECT unnest(generate_series(mn, mx)) AS day FROM b),
      |dau AS (SELECT day, count(*) AS dau FROM ud GROUP BY 1),
      |wau AS (
      |  SELECT g.day, count(DISTINCT u.user_id) AS wau
      |  FROM grid g JOIN ud u ON u.day BETWEEN g.day - 6 AND g.day
      |  GROUP BY g.day
      |)
      |SELECT g.day,
      |  coalesce(d.dau, 0) AS dau,
      |  coalesce(w.wau, 0) AS wau,
      |  CASE WHEN coalesce(w.wau, 0) = 0 THEN 0.0
      |    ELSE CAST(round(CAST(CAST(coalesce(d.dau, 0) AS DOUBLE) / w.wau AS DECIMAL(18,8)), 4) AS DOUBLE)
      |  END AS stickiness
      |FROM grid g
      |LEFT JOIN dau d ON d.day = g.day
      |LEFT JOIN wau w ON w.day = g.day
      |ORDER BY g.day""".stripMargin

  // ---------------------------------------------------------------
  // CUSUM drift detection per user over the (sec, event_id)-ordered
  // value sequence. Per user: baseline mean mu and stddev sigma from
  // the series itself (a deployment would profile them from a
  // reference window instead), slack k = sigma/2, alarm threshold
  // h = 4*sigma.
  // d_i = x_i - mu - k; the one-sided CUSUM statistic
  // S_i = max(0, S_{i-1} + d_i) flags upward drift when S_i > h.
  //
  // The recursion is not a window aggregate, but with prefix sums
  // P_i = sum_{j<=i} d_j it holds that S_i = P_i - min(0, min_{j<=i} P_j)
  // (running-minimum reflection): two ordinary per-user window passes.
  //
  // Scale shape: one agg for the baselines (map-side partials), one
  // per-user window pass for P and the running min — partitioned by
  // user, nothing global. Determinism: all sums in DECIMAL (order-
  // free); mu/sigma/k/h snap to 6 dp and re-enter as DECIMAL(18,6), so
  // the S > h comparison is exact in both engines.
  /** Per-event CUSUM statistic rows (user_id, sec, event_id, n_events,
    * mu, sigma, hd, s) — the shared front of [[cusumDrift]] (the alert
    * aggregate) and [[changepoint]] (the excursion localizer). */
  private def cusumStats(spark: SparkSession, dir: String): DataFrame = {
    val e = ev(spark, dir)
    val base = e.groupBy(col("user_id")).agg(
        count(lit(1)).as("n_events"),
        sum(dec(col("value"))).cast("double").as("sx"),
        sum(dec(col("value") * col("value"))).cast("double").as("sxx"))
      .withColumn("mu", rnd(col("sx") / col("n_events"), 6))
      .withColumn("vr", rnd(greatest(col("sxx") / col("n_events") - col("mu") * col("mu"), lit(0.0)), 6))
      .withColumn("sigma", rnd(sqrt(col("vr")), 6))
      .withColumn("k", rnd(col("sigma") * 0.5, 6))
      .withColumn("h", rnd(col("sigma") * 4.0, 6))
      .select(col("user_id"), col("n_events"), col("mu"), col("sigma"),
        col("k").cast("decimal(18,6)").as("kd"), col("h").cast("decimal(18,6)").as("hd"))
    val w = Window.partitionBy(col("user_id")).orderBy(col("sec"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    e.join(base, Seq("user_id"))
      .withColumn("d",
        col("value").cast("decimal(18,6)") - col("mu").cast("decimal(18,6)") - col("kd"))
      .withColumn("p", sum(col("d")).over(w))
      .withColumn("s", col("p") - least(min(col("p")).over(w), lit(0).cast("decimal(18,6)")))
  }

  private def cusumDrift(spark: SparkSession, dir: String): DataFrame = {
    val stats = cusumStats(spark, dir)
    stats.groupBy(col("user_id"))
      .agg(
        max(col("n_events")).as("n_events"),
        max(col("mu")).as("mu"),
        max(col("sigma")).as("sigma"),
        rnd(max(col("s")).cast("double"), 4).as("max_stat"),
        sum(when(col("s") > col("hd"), 1L).otherwise(0L)).as("n_alerts"),
        coalesce(min(when(col("s") > col("hd"), col("sec"))), lit(-1L)).as("first_alert_sec"))
      .orderBy(col("user_id"))
  }

  private val cusumDriftSql =
    """WITH e AS (
      |  SELECT user_id, event_id, epoch_ns(ts)//1000000000 AS sec, value FROM events
      |), base0 AS (
      |  SELECT user_id, count(*) AS n_events,
      |    CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sx,
      |    CAST(sum(CAST(value * value AS DECIMAL(18,4))) AS DOUBLE) AS sxx
      |  FROM e GROUP BY 1
      |), base AS (
      |  SELECT user_id, n_events, mu, sigma,
      |    CAST(round(CAST(sigma * 0.5 AS DECIMAL(18,8)), 6) AS DECIMAL(18,6)) AS kd,
      |    CAST(round(CAST(sigma * 4.0 AS DECIMAL(18,8)), 6) AS DECIMAL(18,6)) AS hd
      |  FROM (
      |    SELECT user_id, n_events, mu,
      |      CAST(round(CAST(sqrt(CAST(round(CAST(greatest(sxx / n_events - mu * mu, 0.0)
      |        AS DECIMAL(18,8)), 6) AS DOUBLE)) AS DECIMAL(18,8)), 6) AS DOUBLE) AS sigma
      |    FROM (SELECT user_id, n_events, sx, sxx,
      |      CAST(round(CAST(sx / n_events AS DECIMAL(18,8)), 6) AS DOUBLE) AS mu FROM base0)
      |  )
      |), st AS (
      |  SELECT user_id, sec, n_events, mu, sigma, hd,
      |    p - least(min(p) OVER (PARTITION BY user_id ORDER BY sec, event_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), CAST(0 AS DECIMAL(18,6))) AS s
      |  FROM (
      |    SELECT user_id, event_id, sec, n_events, mu, sigma, hd,
      |      sum(CAST(value AS DECIMAL(18,6)) - CAST(mu AS DECIMAL(18,6)) - kd) OVER (
      |        PARTITION BY user_id ORDER BY sec, event_id
      |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS p
      |    FROM e JOIN base USING (user_id)
      |  ) e
      |)
      |SELECT user_id, any_value(n_events) AS n_events, any_value(mu) AS mu,
      |  any_value(sigma) AS sigma,
      |  CAST(round(CAST(CAST(max(s) AS DOUBLE) AS DECIMAL(18,8)), 4) AS DOUBLE) AS max_stat,
      |  CAST(sum(CASE WHEN s > hd THEN 1 ELSE 0 END) AS BIGINT) AS n_alerts,
      |  coalesce(min(CASE WHEN s > hd THEN sec END), -1) AS first_alert_sec
      |FROM st GROUP BY user_id ORDER BY user_id""".stripMargin

  // ---------------------------------------------------------------
  // CUSUM changepoint LOCALIZATION — the "when did the drift start"
  // answer the alert alone doesn't give. For each alerting user, the
  // standard estimator: the excursion containing the first alarm began
  // right after the LAST instant the statistic touched zero (Page
  // 1954's restart property — S = 0 means the evidence reset). Emits
  // the first-alarm instant, the excursion start, the excursion length
  // in observations (detection delay in samples), and the statistic at
  // alarm — what an on-call page should carry.
  //
  // Scale shape: [[cusumStats]]' one baseline agg + one per-user window
  // pass, then everything is per-user bounded: the alert/zero-row
  // reductions are map-side-combinable aggs over the statistic rows and
  // the two row-fetch joins move O(alerting users) rows. Determinism:
  // s is exact DECIMAL(18,6) end to end, so "s = 0" and "s > h" are
  // exact in both engines; everything emitted is an integer or a
  // snapped copy of an already-pinned value.
  private def changepoint(spark: SparkSession, dir: String): DataFrame = {
    val wo = Window.partitionBy(col("user_id")).orderBy(col("sec"), col("event_id"))
    // FOUR consumers read the statistic rows (alarm scan, zero scan, two
    // row fetches) — pin them once instead of recomputing the baseline
    // agg + window pipeline per consumer (the oracle mirrors with
    // st AS MATERIALIZED)
    val rows = cusumStats(spark, dir)
      .withColumn("rn", row_number().over(wo))
      .select(col("user_id"), col("rn"), col("sec"), col("n_events"),
        col("s"), col("hd"))
      .localCheckpoint()
    val alert = rows.filter(col("s") > col("hd"))
      .groupBy(col("user_id")).agg(min(col("rn")).as("arn"))
    val cp = rows.join(alert, "user_id")
      .groupBy(col("user_id"))
      .agg(coalesce(max(when(col("s") === lit(0).cast("decimal(18,6)")
          && col("rn") <= col("arn"), col("rn"))), lit(0)).as("cprn"))
    val atAlert = rows.select(col("user_id").as("au"), col("rn").as("aarn"),
      col("sec").as("first_alert_sec"), col("n_events"),
      rnd(col("s").cast("double"), 4).as("stat_at_alert"))
    val atStart = rows.select(col("user_id").as("su"), col("rn").as("srn"),
      col("sec").as("changepoint_sec"))
    alert.join(cp, "user_id")
      .join(atAlert, col("user_id") === col("au") && col("arn") === col("aarn"))
      .join(atStart, col("user_id") === col("su") && col("srn") === col("cprn") + 1)
      .select(col("user_id"), col("n_events"), col("changepoint_sec"),
        col("first_alert_sec"),
        (col("arn") - col("cprn")).cast("long").as("excursion_rows"),
        col("stat_at_alert"))
      .orderBy(col("user_id"))
  }

  private val changepointSql =
    """WITH e AS (
      |  SELECT user_id, event_id, epoch_ns(ts)//1000000000 AS sec, value FROM events
      |), base0 AS (
      |  SELECT user_id, count(*) AS n_events,
      |    CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sx,
      |    CAST(sum(CAST(value * value AS DECIMAL(18,4))) AS DOUBLE) AS sxx
      |  FROM e GROUP BY 1
      |), base AS (
      |  SELECT user_id, n_events, mu, sigma,
      |    CAST(round(CAST(sigma * 0.5 AS DECIMAL(18,8)), 6) AS DECIMAL(18,6)) AS kd,
      |    CAST(round(CAST(sigma * 4.0 AS DECIMAL(18,8)), 6) AS DECIMAL(18,6)) AS hd
      |  FROM (
      |    SELECT user_id, n_events, mu,
      |      CAST(round(CAST(sqrt(CAST(round(CAST(greatest(sxx / n_events - mu * mu, 0.0)
      |        AS DECIMAL(18,8)), 6) AS DOUBLE)) AS DECIMAL(18,8)), 6) AS DOUBLE) AS sigma
      |    FROM (SELECT user_id, n_events, sx, sxx,
      |      CAST(round(CAST(sx / n_events AS DECIMAL(18,8)), 6) AS DOUBLE) AS mu FROM base0)
      |  )
      |), st AS MATERIALIZED (
      |  SELECT user_id, sec, n_events, hd,
      |    row_number() OVER (PARTITION BY user_id ORDER BY sec, event_id) AS rn,
      |    p - least(min(p) OVER (PARTITION BY user_id ORDER BY sec, event_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), CAST(0 AS DECIMAL(18,6))) AS s
      |  FROM (
      |    SELECT user_id, event_id, sec, n_events, hd,
      |      sum(CAST(value AS DECIMAL(18,6)) - CAST(mu AS DECIMAL(18,6)) - kd) OVER (
      |        PARTITION BY user_id ORDER BY sec, event_id
      |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS p
      |    FROM e JOIN base USING (user_id)
      |  ) q
      |), al AS (
      |  SELECT user_id, min(rn) AS arn FROM st WHERE s > hd GROUP BY user_id
      |), cp AS (
      |  SELECT r.user_id,
      |    coalesce(max(CASE WHEN r.s = 0 AND r.rn <= a.arn THEN r.rn END), 0) AS cprn
      |  FROM st r JOIN al a USING (user_id) GROUP BY r.user_id
      |)
      |SELECT a.user_id, fa.n_events, cs.sec AS changepoint_sec,
      |  fa.sec AS first_alert_sec,
      |  CAST(a.arn - c.cprn AS BIGINT) AS excursion_rows,
      |  CAST(round(CAST(CAST(fa.s AS DOUBLE) AS DECIMAL(18,8)), 4) AS DOUBLE) AS stat_at_alert
      |FROM al a JOIN cp c USING (user_id)
      |JOIN st fa ON fa.user_id = a.user_id AND fa.rn = a.arn
      |JOIN st cs ON cs.user_id = a.user_id AND cs.rn = c.cprn + 1
      |ORDER BY a.user_id""".stripMargin

  // ---------------------------------------------------------------
  // Bot/automation signature: humans produce bursty inter-event gaps
  // (high coefficient of variation, no dominant period); schedulers
  // and scripts produce near-constant gaps (CV -> 0) or one dominant
  // minute-granularity period (high modal share). Per user: gap
  // moments in pure integer arithmetic (gaps are whole seconds — no
  // DECIMAL needed until the final divisions), plus the share of the
  // modal minute-bucket.
  //
  // Scale shape: one per-user lag window over events, then two
  // per-user aggregations ((user) and (user, minute-bucket) with a max
  // on top) — all partitioned by user, map-side combinable, nothing
  // global. The flag thresholds are documented constants, not tuned.
  private def botRegularity(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("sec"), col("event_id"))
    val gaps = ev(spark, dir)
      .withColumn("gap", col("sec") - lag(col("sec"), 1).over(w))
      .filter(col("gap").isNotNull)
    val moments = gaps.groupBy(col("user_id")).agg(
        count(lit(1)).as("n_gaps"),
        sum(col("gap")).as("sg"),
        sum(col("gap") * col("gap")).as("sgg"))
      .withColumn("mean_gap_s", rnd(col("sg").cast("double") / col("n_gaps"), 2))
      .withColumn("mu6", rnd(col("sg").cast("double") / col("n_gaps"), 6))
      .withColumn("sd6", rnd(sqrt(greatest(
        rnd(col("sgg").cast("double") / col("n_gaps") - col("mu6") * col("mu6"), 6),
        lit(0.0))), 6))
      .withColumn("cv_gap",
        when(col("mu6") === 0.0, lit(0.0)).otherwise(rnd(col("sd6") / col("mu6"), 4)))
    val modal = gaps
      .groupBy(col("user_id"), expr("gap div 60").as("gap_min"))
      .agg(count(lit(1)).as("cnt"))
      .groupBy(col("user_id")).agg(max(col("cnt")).as("modal_cnt"))
    moments.join(modal, Seq("user_id"))
      .withColumn("top_gap_share", rnd(col("modal_cnt").cast("double") / col("n_gaps"), 4))
      .select(col("user_id"), col("n_gaps"), col("mean_gap_s"), col("cv_gap"),
        col("top_gap_share"),
        when(col("n_gaps") >= 20 && (col("cv_gap") <= 0.3 || col("top_gap_share") >= 0.5),
          1).otherwise(0).cast("int").as("regular_flag"))
      .orderBy(col("user_id"))
  }

  private val botRegularitySql =
    """WITH e AS (
      |  SELECT user_id, event_id, epoch_ns(ts)//1000000000 AS sec FROM events
      |), g AS (
      |  SELECT user_id, sec - lag(sec) OVER (PARTITION BY user_id ORDER BY sec, event_id) AS gap
      |  FROM e
      |), gg AS (SELECT user_id, gap FROM g WHERE gap IS NOT NULL),
      |m AS (
      |  SELECT user_id, count(*) AS n_gaps, sum(gap) AS sg, sum(gap * gap) AS sgg FROM gg GROUP BY 1
      |), m2 AS (
      |  SELECT user_id, n_gaps,
      |    CAST(round(CAST(CAST(sg AS DOUBLE) / n_gaps AS DECIMAL(18,8)), 2) AS DOUBLE) AS mean_gap_s,
      |    CAST(round(CAST(CAST(sg AS DOUBLE) / n_gaps AS DECIMAL(18,8)), 6) AS DOUBLE) AS mu6,
      |    CAST(sgg AS DOUBLE) / n_gaps AS exx
      |  FROM m
      |), m3 AS (
      |  SELECT user_id, n_gaps, mean_gap_s, mu6,
      |    CAST(round(CAST(sqrt(greatest(CAST(round(CAST(exx - mu6 * mu6 AS DECIMAL(18,8)), 6)
      |      AS DOUBLE), 0.0)) AS DECIMAL(18,8)), 6) AS DOUBLE) AS sd6
      |  FROM m2
      |), mod_ AS (
      |  SELECT user_id, max(cnt) AS modal_cnt FROM (
      |    SELECT user_id, gap//60 AS gap_min, count(*) AS cnt FROM gg GROUP BY 1, 2
      |  ) GROUP BY user_id
      |)
      |SELECT m3.user_id, n_gaps, mean_gap_s,
      |  CASE WHEN mu6 = 0.0 THEN 0.0
      |    ELSE CAST(round(CAST(sd6 / mu6 AS DECIMAL(18,8)), 4) AS DOUBLE) END AS cv_gap,
      |  CAST(round(CAST(CAST(modal_cnt AS DOUBLE) / n_gaps AS DECIMAL(18,8)), 4) AS DOUBLE) AS top_gap_share,
      |  CAST(CASE WHEN n_gaps >= 20 AND (
      |      (CASE WHEN mu6 = 0.0 THEN 0.0
      |        ELSE CAST(round(CAST(sd6 / mu6 AS DECIMAL(18,8)), 4) AS DOUBLE) END) <= 0.3
      |      OR CAST(round(CAST(CAST(modal_cnt AS DOUBLE) / n_gaps AS DECIMAL(18,8)), 4) AS DOUBLE) >= 0.5)
      |    THEN 1 ELSE 0 END AS INT) AS regular_flag
      |FROM m3 JOIN mod_ ON mod_.user_id = m3.user_id
      |ORDER BY m3.user_id""".stripMargin

  // ---------------------------------------------------------------
  // Rank correlation per language between two per-doc integer metrics
  // (chars vs whitespace words): Spearman rho on exact tie-averaged
  // ranks next to plain Pearson r — the pair a data-quality dashboard
  // compares to spot nonlinear length pathologies (rho >> r means a
  // monotone-but-bent relation; r >> rho means outliers carry it).
  //
  // Exactness: the tie-averaged rank (min_rank + max_rank)/2 is a
  // half-integer, so DOUBLED ranks r2 = rank_asc + n - rank_desc + 1
  // are integers (doubling both sides leaves every correlation
  // invariant). All moment sums run in DECIMAL(28,0)/(38,0) — exact
  // far past 100 TB row counts — and only the final num/den division
  // floats, identically in both engines.
  //
  // Scale shape: the rank windows partition by language — at N docs
  // that is a per-group sort, the irreducible cost of exact ranks; the
  // moments reduce map-side. (The approximate path at extreme group
  // sizes is histogram ranks — the eval_auc_binned twin demonstrates
  // the same trade.)
  private def spearmanDoclen(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.table(spark, dir, "documents")
      .select(col("doc_id"), col("lang"), col("n_chars").as("x"),
        size(split(col("text"), " ")).cast("long").as("y"))
    val wl = Window.partitionBy(col("lang"))
    def r2(c: String): org.apache.spark.sql.Column =
      rank().over(wl.orderBy(col(c).asc)) + count(lit(1)).over(wl) -
        rank().over(wl.orderBy(col(c).desc)) + 1
    val ranked = docs
      .withColumn("rx", r2("x").cast("long"))
      .withColumn("ry", r2("y").cast("long"))
    def corrCols(xc: String, yc: String, out: String) = {
      val n = count(lit(1)).cast("decimal(10,0)")
      val sx = sum(col(xc).cast("decimal(28,0)"))
      val sy = sum(col(yc).cast("decimal(28,0)"))
      val sxy = sum((col(xc) * col(yc)).cast("decimal(28,0)"))
      val sxx = sum((col(xc) * col(xc)).cast("decimal(28,0)"))
      val syy = sum((col(yc) * col(yc)).cast("decimal(28,0)"))
      val num = (n * sxy - sx * sy).cast("double")
      val den = sqrt((n * sxx - sx * sx).cast("double")) * sqrt((n * syy - sy * sy).cast("double"))
      rnd(num / den, 6).as(out)
    }
    ranked.groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        corrCols("rx", "ry", "spearman_rho"),
        corrCols("x", "y", "pearson_r"))
      .orderBy(col("lang"))
  }

  private val spearmanDoclenSql =
    """WITH d AS (
      |  SELECT doc_id, lang, n_chars AS x,
      |    CAST(len(string_split(text, ' ')) AS BIGINT) AS y
      |  FROM documents
      |), r AS (
      |  SELECT lang, x, y,
      |    CAST(rank() OVER (PARTITION BY lang ORDER BY x ASC)
      |      + count(*) OVER (PARTITION BY lang)
      |      - rank() OVER (PARTITION BY lang ORDER BY x DESC) + 1 AS BIGINT) AS rx,
      |    CAST(rank() OVER (PARTITION BY lang ORDER BY y ASC)
      |      + count(*) OVER (PARTITION BY lang)
      |      - rank() OVER (PARTITION BY lang ORDER BY y DESC) + 1 AS BIGINT) AS ry
      |  FROM d
      |)
      |SELECT lang, count(*) AS n_docs,
      |  CAST(round(CAST(CAST(CAST(count(*) AS DECIMAL(10,0)) * sum(CAST(rx * ry AS DECIMAL(28,0)))
      |      - sum(CAST(rx AS DECIMAL(28,0))) * sum(CAST(ry AS DECIMAL(28,0))) AS DOUBLE)
      |    / (sqrt(CAST(CAST(count(*) AS DECIMAL(10,0)) * sum(CAST(rx * rx AS DECIMAL(28,0)))
      |        - sum(CAST(rx AS DECIMAL(28,0))) * sum(CAST(rx AS DECIMAL(28,0))) AS DOUBLE))
      |      * sqrt(CAST(CAST(count(*) AS DECIMAL(10,0)) * sum(CAST(ry * ry AS DECIMAL(28,0)))
      |        - sum(CAST(ry AS DECIMAL(28,0))) * sum(CAST(ry AS DECIMAL(28,0))) AS DOUBLE)))
      |    AS DECIMAL(18,8)), 6) AS DOUBLE) AS spearman_rho,
      |  CAST(round(CAST(CAST(CAST(count(*) AS DECIMAL(10,0)) * sum(CAST(x * y AS DECIMAL(28,0)))
      |      - sum(CAST(x AS DECIMAL(28,0))) * sum(CAST(y AS DECIMAL(28,0))) AS DOUBLE)
      |    / (sqrt(CAST(CAST(count(*) AS DECIMAL(10,0)) * sum(CAST(x * x AS DECIMAL(28,0)))
      |        - sum(CAST(x AS DECIMAL(28,0))) * sum(CAST(x AS DECIMAL(28,0))) AS DOUBLE))
      |      * sqrt(CAST(CAST(count(*) AS DECIMAL(10,0)) * sum(CAST(y * y AS DECIMAL(28,0)))
      |        - sum(CAST(y AS DECIMAL(28,0))) * sum(CAST(y AS DECIMAL(28,0))) AS DOUBLE)))
      |    AS DECIMAL(18,8)), 6) AS DOUBLE) AS pearson_r
      |FROM r GROUP BY lang ORDER BY lang""".stripMargin

  // ---------------------------------------------------------------
  // Threshold sweep for a quality-classifier score: every operating
  // point (precision / recall / F1 at 20 score thresholds) from ONE
  // corpus pass. The score here is the English-stopword ratio — the
  // simplest is-English detector — evaluated against the fixture's
  // lang label; any (score, label) pair slots in.
  //
  // Scale shape: the corpus reduces to 20 (bucket, n_pos, n_neg) rows
  // via integer bucketing (n_stop*20 div n_words — no float boundary
  // ambiguity), and ALL twenty thresholds' confusion matrices come
  // from one cumulative-from-the-top window over those 20 rows.
  // The naive form re-scans the corpus per threshold; this is the
  // standard ROC-construction trick, O(corpus) total.
  private def thresholdSweep(spark: SparkSession, dir: String): DataFrame = {
    val spark2 = spark; import spark2.implicits._
    val scored = Tables.table(spark, dir, "documents")
      .withColumn("ws", split(col("text"), " "))
      .withColumn("n_words", size(col("ws")).cast("long"))
      .withColumn("n_stop", expr(
        "size(filter(ws, w -> w IN ('the','a','and','of','to','in')))").cast("long"))
      .withColumn("bucket", least(expr("(n_stop * 20) div n_words"), lit(19L)))
      .withColumn("pos", when(col("lang") === "en", 1L).otherwise(0L))
    val byBucket = scored.groupBy(col("bucket"))
      .agg(sum(col("pos")).as("n_pos"), sum(lit(1L) - col("pos")).as("n_neg"))
    val grid = (0L to 19L).toDF("thr_idx")
    val wTop = Window.orderBy(col("thr_idx").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wAll = Window.partitionBy()
    grid.join(byBucket, col("thr_idx") === col("bucket"), "left")
      .withColumn("bp", coalesce(col("n_pos"), lit(0L)))
      .withColumn("bn", coalesce(col("n_neg"), lit(0L)))
      .withColumn("tp", sum(col("bp")).over(wTop))
      .withColumn("fp", sum(col("bn")).over(wTop))
      .withColumn("p_total", sum(col("bp")).over(wAll))
      .withColumn("n_total", sum(col("bn")).over(wAll))
      .withColumn("fn", col("p_total") - col("tp"))
      .withColumn("tn", col("n_total") - col("fp"))
      .withColumn("precision",
        when(col("tp") + col("fp") === 0, lit(0.0))
          .otherwise(rnd(col("tp").cast("double") / (col("tp") + col("fp")), 4)))
      .withColumn("recall",
        when(col("p_total") === 0, lit(0.0))
          .otherwise(rnd(col("tp").cast("double") / col("p_total"), 4)))
      .withColumn("f1",
        when(col("precision") + col("recall") === 0.0, lit(0.0))
          .otherwise(rnd(lit(2.0) * col("precision") * col("recall")
            / (col("precision") + col("recall")), 4)))
      .select(col("thr_idx"), (col("thr_idx").cast("double") / 20.0).as("thr"),
        col("tp"), col("fp"), col("fn"), col("tn"),
        col("precision"), col("recall"), col("f1"))
      .orderBy(col("thr_idx"))
  }

  private val thresholdSweepSql =
    """WITH scored AS (
      |  SELECT lang,
      |    least((CAST(len(list_filter(string_split(text, ' '),
      |        w -> w IN ('the','a','and','of','to','in'))) AS BIGINT) * 20)
      |      // CAST(len(string_split(text, ' ')) AS BIGINT), 19) AS bucket,
      |    CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS pos
      |  FROM documents
      |), bb AS (
      |  SELECT bucket, CAST(sum(pos) AS BIGINT) AS n_pos,
      |    CAST(sum(1 - pos) AS BIGINT) AS n_neg
      |  FROM scored GROUP BY 1
      |), grid AS (SELECT unnest(generate_series(0, 19)) AS thr_idx),
      |c AS (
      |  SELECT g.thr_idx,
      |    CAST(sum(coalesce(bb.n_pos, 0)) OVER (ORDER BY g.thr_idx DESC
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS tp,
      |    CAST(sum(coalesce(bb.n_neg, 0)) OVER (ORDER BY g.thr_idx DESC
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS fp,
      |    CAST(sum(coalesce(bb.n_pos, 0)) OVER () AS BIGINT) AS p_total,
      |    CAST(sum(coalesce(bb.n_neg, 0)) OVER () AS BIGINT) AS n_total
      |  FROM grid g LEFT JOIN bb ON bb.bucket = g.thr_idx
      |), pr AS (
      |  SELECT thr_idx, tp, fp, p_total - tp AS fn, n_total - fp AS tn, p_total,
      |    CASE WHEN tp + fp = 0 THEN 0.0
      |      ELSE CAST(round(CAST(CAST(tp AS DOUBLE) / (tp + fp) AS DECIMAL(18,8)), 4) AS DOUBLE)
      |    END AS precision,
      |    CASE WHEN p_total = 0 THEN 0.0
      |      ELSE CAST(round(CAST(CAST(tp AS DOUBLE) / p_total AS DECIMAL(18,8)), 4) AS DOUBLE)
      |    END AS recall
      |  FROM c
      |)
      |SELECT thr_idx, CAST(thr_idx AS DOUBLE) / 20.0 AS thr, tp, fp, fn, tn,
      |  precision, recall,
      |  CASE WHEN precision + recall = 0.0 THEN 0.0
      |    ELSE CAST(round(CAST(2.0 * precision * recall / (precision + recall)
      |      AS DECIMAL(18,8)), 4) AS DOUBLE)
      |  END AS f1
      |FROM pr ORDER BY thr_idx""".stripMargin

  // ---------------------------------------------------------------
  // Revenue concentration across USERS (the whale report): what share
  // of purchase revenue comes from the top 1% / 5% / 10% of users?
  // The per-population Pareto check every ops review wants beside the
  // per-supplier q11 — a dataset whose revenue (or traffic) hangs on
  // a handful of whales needs different risk handling than a flat one.
  //
  // Scale shape: the corpus reduces to one row per PURCHASING user
  // (map-side combinable DECIMAL sum) before anything orders; the
  // ranking window runs over that reduction, and the three tier rows
  // come from a broadcast 1-row total joined to the ranked cumsum at
  // three rank positions — never a second pass over events. At 100 TB
  // the user reduction is the irreducible table; everything after is
  // |users|-bounded window math.
  //
  // Determinism: revenue stays DECIMAL(18,4) end to end (order-free
  // sums, exact cumulative); rank ties break on user_id; the tier
  // share is one exact-decimal ratio snapped at 4 dp.
  private def paretoUsers(spark: SparkSession, dir: String): DataFrame = {
    val perUser = ev(spark, dir)
      .filter(col("event_type") === "purchase")
      .groupBy(col("user_id"))
      .agg(sum(dec(col("value"))).as("rev"))
    val total = perUser.agg(
      count(lit(1)).as("n_users"), sum(col("rev")).as("total_rev"))
    val wRank = Window.orderBy(col("rev").desc, col("user_id"))
    val wCum = Window.orderBy(col("rk"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val ranked = perUser
      .withColumn("rk", row_number().over(wRank))
      .withColumn("cum", sum(col("rev")).over(wCum))
    val spark2 = spark; import spark2.implicits._
    val tiers = Seq(("top1", 0.01), ("top5", 0.05), ("top10", 0.10))
      .toDF("tier", "frac")
    tiers
      .crossJoin(broadcast(total))
      .withColumn("n_top", greatest(lit(1L), floor(col("n_users") * col("frac")).cast("long")))
      .join(ranked.select(col("rk"), col("cum")), col("rk") === col("n_top"))
      .select(col("tier"), col("n_top"), col("n_users"),
        rnd(col("cum").cast("double") / col("total_rev").cast("double"), 4).as("revenue_share"))
      .orderBy(col("tier"))
  }

  private val paretoUsersSql =
    """WITH u AS (
      |  SELECT user_id, sum(CAST(value AS DECIMAL(18,4))) AS rev
      |  FROM events WHERE event_type = 'purchase' GROUP BY user_id
      |), t AS (
      |  SELECT CAST(count(*) AS BIGINT) AS n_users, sum(rev) AS total_rev FROM u
      |), r AS (
      |  SELECT rev, row_number() OVER (ORDER BY rev DESC, user_id) AS rk FROM u
      |), c AS (
      |  SELECT rk, sum(rev) OVER (ORDER BY rk
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum FROM r
      |)
      |SELECT p.tier, greatest(1, CAST(floor(t.n_users * p.frac) AS BIGINT)) AS n_top,
      |  t.n_users,
      |  CAST(round(CAST(CAST(c.cum AS DOUBLE) / CAST(t.total_rev AS DOUBLE)
      |    AS DECIMAL(18,8)), 4) AS DOUBLE) AS revenue_share
      |FROM t, (VALUES ('top1', 0.01), ('top5', 0.05), ('top10', 0.10)) p(tier, frac)
      |JOIN c ON c.rk = greatest(1, CAST(floor(t.n_users * p.frac) AS BIGINT))
      |ORDER BY p.tier""".stripMargin

  // ---------------------------------------------------------------
  // Growth accounting (the new/retained/resurrected/churned weekly
  // decomposition): every weekly-active count splits exactly into
  // new + retained + resurrected, churn is charged to the first
  // inactive week after an active one, and the quick ratio
  // (new + resurrected) / churned says whether the population is
  // structurally growing. The standard growth-team report — and an
  // identity-checked one: WAU(w) ≡ new + retained + resurrected.
  //
  // Scale shape: events reduce to the distinct (user, week) activity
  // table in ONE pass; stage classification is a lag/lead window per
  // user over that reduction; the weekly report is a |weeks|-row
  // aggregation. Churn events fan out of the same window pass (a
  // lead() gap check), so nothing ever scans events twice.
  private def growthAccounting(spark: SparkSession, dir: String): DataFrame = {
    val uw = ev(spark, dir)
      .select(col("user_id"), expr("sec div 604800").as("week"))
      .groupBy(col("user_id"), col("week")).agg(count(lit(1)).as("n_ev"))
    val wU = Window.partitionBy(col("user_id")).orderBy(col("week"))
    val staged = uw
      .withColumn("first_week", min(col("week")).over(
        Window.partitionBy(col("user_id"))))
      .withColumn("prev", lag(col("week"), 1).over(wU))
      .withColumn("next", lead(col("week"), 1).over(wU))
      .withColumn("stage",
        when(col("week") === col("first_week"), "new")
          .when(col("prev") === col("week") - 1, "retained")
          .otherwise(lit("resurrected")))
    val horizon = uw.agg(max(col("week")).as("max_week"))
    // churn event at week+1 whenever the next active week isn't week+1
    // (and week+1 is still inside the horizon)
    val churn = staged
      .crossJoin(broadcast(horizon))
      .filter((col("next").isNull || col("next") > col("week") + 1)
        && col("week") + 1 <= col("max_week"))
      .select((col("week") + 1).as("week"))
      .groupBy(col("week")).agg(count(lit(1)).as("n_churned"))
    val weekly = staged.groupBy(col("week"))
      .agg(
        sum(when(col("stage") === "new", 1L).otherwise(0L)).as("n_new"),
        sum(when(col("stage") === "retained", 1L).otherwise(0L)).as("n_retained"),
        sum(when(col("stage") === "resurrected", 1L).otherwise(0L)).as("n_resurrected"),
        count(lit(1)).as("wau"))
    // FULL outer: a week where every remaining user churned (zero
    // activity, churn > 0) is a real report row (wau=0); the week list
    // is "weeks with any verdict", not "weeks with activity"
    weekly.join(churn, Seq("week"), "full_outer")
      .withColumn("wau", coalesce(col("wau"), lit(0L)))
      .withColumn("n_new", coalesce(col("n_new"), lit(0L)))
      .withColumn("n_retained", coalesce(col("n_retained"), lit(0L)))
      .withColumn("n_resurrected", coalesce(col("n_resurrected"), lit(0L)))
      .withColumn("n_churned", coalesce(col("n_churned"), lit(0L)))
      .withColumn("quick_ratio",
        when(col("n_churned") > 0, rnd(
          (col("n_new") + col("n_resurrected")).cast("double") / col("n_churned"), 4)))
      .select(col("week"), col("wau"), col("n_new"), col("n_retained"),
        col("n_resurrected"), col("n_churned"), col("quick_ratio"))
      .orderBy(col("week"))
  }

  private val growthAccountingSql =
    """WITH uw AS (
      |  SELECT user_id, (epoch_ns(ts)//1000000000)//604800 AS week
      |  FROM events GROUP BY 1, 2
      |), staged AS (
      |  SELECT user_id, week,
      |    min(week) OVER (PARTITION BY user_id) AS first_week,
      |    lag(week) OVER (PARTITION BY user_id ORDER BY week) AS prev,
      |    lead(week) OVER (PARTITION BY user_id ORDER BY week) AS next
      |  FROM uw
      |), labeled AS (
      |  SELECT week,
      |    CASE WHEN week = first_week THEN 'new'
      |         WHEN prev = week - 1 THEN 'retained'
      |         ELSE 'resurrected' END AS stage,
      |    next
      |  FROM staged
      |), horizon AS (SELECT max(week) AS max_week FROM uw),
      |churn AS (
      |  SELECT week + 1 AS week, CAST(count(*) AS BIGINT) AS n_churned
      |  FROM labeled, horizon
      |  WHERE (next IS NULL OR next > week + 1) AND week + 1 <= max_week
      |  GROUP BY week + 1
      |), weekly AS (
      |  SELECT week,
      |    CAST(sum(CASE WHEN stage = 'new' THEN 1 ELSE 0 END) AS BIGINT) AS n_new,
      |    CAST(sum(CASE WHEN stage = 'retained' THEN 1 ELSE 0 END) AS BIGINT) AS n_retained,
      |    CAST(sum(CASE WHEN stage = 'resurrected' THEN 1 ELSE 0 END) AS BIGINT) AS n_resurrected,
      |    CAST(count(*) AS BIGINT) AS wau
      |  FROM labeled GROUP BY week
      |)
      |SELECT coalesce(w.week, c.week) AS week,
      |  coalesce(w.wau, 0) AS wau, coalesce(w.n_new, 0) AS n_new,
      |  coalesce(w.n_retained, 0) AS n_retained,
      |  coalesce(w.n_resurrected, 0) AS n_resurrected,
      |  coalesce(c.n_churned, 0) AS n_churned,
      |  CASE WHEN coalesce(c.n_churned, 0) > 0 THEN
      |    CAST(round(CAST(CAST(coalesce(w.n_new, 0) + coalesce(w.n_resurrected, 0) AS DOUBLE) / c.n_churned
      |      AS DECIMAL(18,8)), 4) AS DOUBLE) END AS quick_ratio
      |FROM weekly w FULL JOIN churn c ON c.week = w.week
      |ORDER BY week""".stripMargin
}
