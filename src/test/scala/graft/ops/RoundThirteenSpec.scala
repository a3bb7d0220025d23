package graft.ops

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.TestSpark

/** Round-13 batch: each new operator checked against an independent
  * in-memory model (the DuckDB twin is the primary gate; this is the
  * third engine).
  */
class RoundThirteenSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  val dir = "/root/testdata/sf0.001"

  private def docs = graft.ops.Tables.table(spark, dir, "documents")
    .select(col("doc_id"), col("text"), col("source"))
    .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2)))

  test("text_repetition_ratio matches a set-based model") {
    val model = docs
      .map { case (_, text, src) => (src, text.split(" ", -1)) }
      .filter(_._2.length >= 3)
      .map { case (src, ws) =>
        val sh = ws.sliding(3).map(_.mkString(" ")).toVector
        (src, sh.distinct.size.toDouble / sh.size)
      }
      .groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    val got = graft.SparkEntry.queries("text_repetition_ratio")(spark, dir).collect()
    assert(got.map(_.getString(0)).toSet === model.keySet)
    got.foreach { r =>
      val vs = model(r.getString(0))
      assert(r.getLong(1) === vs.size.toLong)
      assert(math.abs(r.getDouble(2) - vs.sum / vs.size) < 1e-3, s"${r.getString(0)} mean")
      assert(math.abs(r.getDouble(3) - vs.min) < 1e-3, s"${r.getString(0)} min")
      assert(r.getLong(4) === vs.count(_ < 0.5).toLong, s"${r.getString(0)} n_repetitive")
    }
  }

  test("text_readability matches a per-doc FRE model") {
    val model = docs.map { case (_, text, src) =>
      val words = text.split(" ", -1).length
      val sents = math.max(1, text.count(c => c == '.' || c == '!' || c == '?'))
      val syll = "[aeiouy]+".r.findAllIn(text.toLowerCase).size
      (src, 206.835 - 1.015 * (words.toDouble / sents) - 84.6 * (syll.toDouble / words))
    }.groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    val got = graft.SparkEntry.queries("text_readability")(spark, dir).collect()
    assert(got.map(_.getString(0)).toSet === model.keySet)
    got.foreach { r =>
      val vs = model(r.getString(0))
      assert(r.getLong(1) === vs.size.toLong)
      assert(math.abs(r.getDouble(2) - vs.sum / vs.size) < 1e-3, s"${r.getString(0)} mean_fre")
      assert(math.abs(r.getDouble(3) - vs.min) < 1e-3)
      assert(math.abs(r.getDouble(4) - vs.max) < 1e-3)
    }
  }

  test("eval_ols_doclen matches a closed-form model and r2 is proper") {
    val model = docs.map { case (_, text, src) =>
      val ws = text.split(" ", -1)
      val n = ws.length.toLong
      val stop = ws.count(Set("the", "a", "and", "of", "to", "in")).toLong
      val y = BigDecimal(0.5 * math.min(n / 100.0, 1.0)
        + 0.5 * (1.0 - BigDecimal(stop.toDouble / n)
          .setScale(8, BigDecimal.RoundingMode.HALF_UP)
          .setScale(3, BigDecimal.RoundingMode.HALF_UP).toDouble))
        .setScale(8, BigDecimal.RoundingMode.HALF_UP)
        .setScale(3, BigDecimal.RoundingMode.HALF_UP).toDouble
      (src, (math.log(n.toDouble), y))
    }.groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    val got = graft.SparkEntry.queries("eval_ols_doclen")(spark, dir).collect()
    assert(got.map(_.getString(0)).toSet === model.keySet)
    got.foreach { r =>
      val xy = model(r.getString(0))
      val n = xy.size.toDouble
      val (sx, sy) = (xy.map(_._1).sum, xy.map(_._2).sum)
      val sxy = xy.map(p => p._1 * p._2).sum
      val sxx = xy.map(p => p._1 * p._1).sum
      val syy = xy.map(p => p._2 * p._2).sum
      val den = n * sxx - sx * sx
      val num = n * sxy - sx * sy
      assert(r.getLong(1) === xy.size.toLong)
      if (den > 1e-9) {
        assert(math.abs(r.getDouble(2) - num / den) < 1e-3, s"${r.getString(0)} slope")
        assert(math.abs(r.getDouble(3) - (sy - (num / den) * sx) / n) < 1e-3, "intercept")
        val r2 = num * num / (den * (n * syy - sy * sy))
        assert(math.abs(r.getDouble(4) - r2) < 1e-3, "r2")
        assert(r.getDouble(4) >= 0.0 && r.getDouble(4) <= 1.0 + 1e-9, "r2 proper")
      }
    }
  }

  test("events_pareto_users: shares are monotone in tier and internally consistent") {
    val got = graft.SparkEntry.queries("events_pareto_users")(spark, dir)
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    assert(got.keySet === Set("top1", "top5", "top10"))
    val (n1, nu, s1) = got("top1")
    val (n5, _, s5) = got("top5")
    val (n10, _, s10) = got("top10")
    assert(n1 <= n5 && n5 <= n10 && n10 <= nu)
    assert(s1 <= s5 + 1e-9 && s5 <= s10 + 1e-9, "share must grow with tier width")
    assert(s10 <= 1.0 + 1e-9 && s1 > 0.0)
    // brute force against collected purchases
    val rev = graft.ops.Tables.events(spark, dir)
      .filter(col("event_type") === "purchase")
      .groupBy(col("user_id")).agg(sum(col("value").cast("decimal(18,4)")).as("r"))
      .collect().map(r => (r.getLong(0), r.getDecimal(1)))
    val sorted = rev.sortBy(p => (p._2.negate, p._1)).map(_._2)
    val total = sorted.map(BigDecimal(_)).sum
    def share(frac: Double): Double = {
      val k = math.max(1, math.floor(rev.length * frac).toInt)
      (sorted.take(k).map(BigDecimal(_)).sum / total).toDouble
    }
    assert(math.abs(s1 - share(0.01)) < 1e-3)
    assert(math.abs(s10 - share(0.10)) < 1e-3)
  }

  test("events_abandonment_rate matches the funnel model and complements conversions") {
    val es = graft.ops.Tables.events(spark, dir)
      .select(col("user_id"), col("event_type"), unix_micros(col("ts")).as("us"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    val perUser = es.groupBy(_._1).values.flatMap { evs =>
      val t1 = evs.filter(_._2 == "click").map(_._3).minOption
      val t2 = t1.flatMap(v => evs.filter(e => e._2 == "view" && e._3 >= v).map(_._3).minOption)
      val t3 = t2.flatMap(v => evs.filter(e =>
        e._2 == "purchase" && e._3 >= v && e._3 <= v + 3600L * 1000000L).map(_._3).minOption)
      t2.map(v2 => (v2 / 1000000L / 3600L % 24L, t3.isEmpty))
    }.toVector
    val model = perUser.groupBy(_._1).view
      .mapValues(vs => (vs.size.toLong, vs.count(_._2).toLong)).toMap
    val got = graft.SparkEntry.queries("events_abandonment_rate")(spark, dir).collect()
    assert(got.map(_.getInt(0).toLong).toSet === model.keySet)
    got.foreach { r =>
      val (reached, abandoned) = model(r.getInt(0).toLong)
      assert(r.getLong(1) === reached, s"hour ${r.getInt(0)} n_reached")
      assert(r.getLong(2) === abandoned, s"hour ${r.getInt(0)} n_abandoned")
      assert(math.abs(r.getDouble(3) - abandoned.toDouble / reached) < 1e-3)
    }
    assert(model.values.exists(_._2 > 0), "fixture must contain abandonments")
  }

  test("events_survival_km matches a textbook Kaplan-Meier model") {
    val kmDir = dir
    val es = graft.ops.Tables.events(spark, kmDir)
      .select(col("user_id"), col("event_type"), unix_micros(col("ts")).as("us"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    val tmax = es.map(_._3).max / 1000000L
    val subj = es.groupBy(_._1).values.flatMap { evs =>
      val t0 = evs.filter(_._2 == "signup").map(_._3).minOption
      t0.map { s =>
        val t1 = evs.filter(e => e._2 == "purchase" && e._3 >= s).map(_._3).minOption
        val c = math.min(172800L, tmax - s / 1000000L) // 48 h administrative censor
        t1.map(_ / 1000000L - s / 1000000L) match {
          case Some(d) if d <= c => (d, true)
          case _                 => (c, false)
        }
      }
    }.toVector
    // textbook product-limit over the event-time grid
    val grid = subj.groupBy(_._1).toVector.sortBy(_._1)
      .map { case (t, xs) => (t, xs.count(_._2).toLong, xs.size.toLong) }
    var atRisk = subj.size.toLong
    var surv = 1.0
    val model = grid.flatMap { case (t, d, removed) =>
      val row = if (d > 0) {
        surv = if (d >= atRisk) 0.0 else surv * (1.0 - d.toDouble / atRisk)
        Some((t, (atRisk, d, d.toDouble / atRisk, surv)))
      } else None
      atRisk -= removed
      row
    }.toMap
    val got = graft.SparkEntry.queries("events_survival_km")(spark, kmDir).collect()
    assert(got.map(_.getLong(0)).toSet === model.keySet)
    got.foreach { r =>
      val (nRisk, d, hazard, s) = model(r.getLong(0))
      assert(r.getLong(1) === nRisk, s"t=${r.getLong(0)} n_risk")
      assert(r.getLong(2) === d)
      assert(math.abs(r.getDouble(3) - hazard) < 1e-4)
      assert(math.abs(r.getDouble(4) - s) < 1e-3, s"t=${r.getLong(0)} survival")
    }
    // the curve is a proper survival function: monotone non-increasing
    val curve = got.sortBy(_.getLong(0)).map(_.getDouble(4))
    assert(curve.zip(curve.tail).forall { case (a, b) => a >= b - 1e-9 })
    assert(subj.exists(!_._2), "fixture must contain censored users")
  }

  test("events_growth_accounting: WAU identity holds and stages match a model") {
    val uw = graft.ops.Tables.events(spark, dir)
      .select(col("user_id"), (col("ts").cast("long") / 604800L).cast("long").as("w"))
      .distinct().collect().map(r => (r.getLong(0), r.getLong(1)))
    val byUser = uw.groupBy(_._1).view.mapValues(_.map(_._2).sorted).toMap
    val maxWeek = uw.map(_._2).max
    val stages = byUser.values.flatMap { ws =>
      ws.zipWithIndex.map { case (w, i) =>
        val stage =
          if (i == 0) "new"
          else if (ws(i - 1) == w - 1) "retained"
          else "resurrected"
        (w, stage)
      }
    }.toVector
    val churns = byUser.values.flatMap { ws =>
      ws.zipWithIndex.collect {
        case (w, i) if (i == ws.length - 1 || ws(i + 1) > w + 1) && w + 1 <= maxWeek =>
          w + 1
      }
    }.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val got = graft.SparkEntry.queries("events_growth_accounting")(spark, dir).collect()
    got.foreach { r =>
      val (week, wau) = (r.getLong(0), r.getLong(1))
      val (nNew, nRet, nRes, nChu) = (r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))
      assert(wau === nNew + nRet + nRes, s"week $week: WAU identity")
      val m = stages.filter(_._1 == week).groupBy(_._2).view.mapValues(_.size.toLong).toMap
      assert(nNew === m.getOrElse("new", 0L), s"week $week new")
      assert(nRet === m.getOrElse("retained", 0L), s"week $week retained")
      assert(nRes === m.getOrElse("resurrected", 0L), s"week $week resurrected")
      assert(nChu === churns.getOrElse(week, 0L), s"week $week churned")
    }
  }

  test("events_growth_accounting: gap/churn stages on a synthetic activity pattern") {
    // the fixture's users are active every week, so resurrection and
    // churn never fire there — drive them with a constructed corpus:
    // u1 steady (w0..w3), u2 active w0,w1 then gone (churn at w2),
    // u3 active w0, gap, back at w2 (resurrected; churn at w1 AND at
    // w3... no: u3 active at w2,w3), u4 joins late at w2 (new)
    val spark2 = spark; import spark2.implicits._
    val W = 604800L
    def evRow(u: Long, w: Long, i: Long) =
      (i, new java.sql.Timestamp((w * W + 3600L * (i % 24)) * 1000L), u, "view", 1.0, "{}")
    val rows =
      (0L to 3L).map(w => evRow(1L, w, w * 10 + 1)) ++
      Seq(evRow(2L, 0L, 100L), evRow(2L, 1L, 101L)) ++
      Seq(evRow(3L, 0L, 200L), evRow(3L, 2L, 202L), evRow(3L, 3L, 203L)) ++
      Seq(evRow(4L, 2L, 300L), evRow(4L, 3L, 301L))
    val tmp = java.nio.file.Files.createTempDirectory("ga_syn").toString
    rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .coalesce(1).write.parquet(s"$tmp/events.parquet")
    val got = graft.SparkEntry.queries("events_growth_accounting")(spark, tmp)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)))).toMap
    // week -> (wau, new, retained, resurrected, churned)
    assert(got(0L) === ((3L, 3L, 0L, 0L, 0L)))
    assert(got(1L) === ((2L, 0L, 2L, 0L, 1L)), "u3's gap charges churn to w1")
    assert(got(2L) === ((3L, 1L, 1L, 1L, 1L)),
      "u3 resurrects at w2, u1 retains, u2 churns, u4 is new")
    assert(got(3L) === ((3L, 0L, 3L, 0L, 0L)))
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(tmp))

    // a week where nobody is active but users churn is still a row
    // (wau=0): u5 w0,w1; u6 w0; u7 w0 then back at w3
    val quiet = java.nio.file.Files.createTempDirectory("ga_quiet").toString
    (Seq(evRow(5L, 0L, 500L), evRow(5L, 1L, 501L), evRow(6L, 0L, 600L)) ++
      Seq(evRow(7L, 0L, 700L), evRow(7L, 3L, 703L)))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .coalesce(1).write.parquet(s"$quiet/events.parquet")
    val gotQuiet = graft.SparkEntry.queries("events_growth_accounting")(spark, quiet)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)))).toMap
    assert(gotQuiet.keySet === Set(0L, 1L, 2L, 3L))
    assert(gotQuiet(1L) === ((1L, 0L, 1L, 0L, 2L)), "u6 and u7 churn at w1")
    assert(gotQuiet(2L) === ((0L, 0L, 0L, 0L, 1L)), "all-churned week: wau=0, u5 churns")
    assert(gotQuiet(3L) === ((1L, 0L, 0L, 1L, 0L)), "u7 resurrects at w3")
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(quiet))
  }

  test("layout_shard_skew: masses partition the corpus, load factors center on 1") {
    val got = graft.SparkEntry.queries("layout_shard_skew")(spark, dir).collect()
    val total = graft.ops.Tables.table(spark, dir, "documents").count()
    assert(got.map(_.getLong(1)).sum === total, "shard doc counts must partition the corpus")
    val factors = got.map(_.getDouble(3))
    val mean = factors.sum / factors.length
    assert(math.abs(mean - 1.0) < 0.01, s"mean load factor $mean must be ~1")
    assert(factors.max < 3.0 && factors.min > 0.0,
      s"uniform hash: no shard should be wildly off (${factors.min}..${factors.max})")
  }

  test("sim_centroid_drift matches a per-label mean-vector model") {
    val rows = graft.ops.Tables.table(spark, dir, "embeddings")
      .select(col("vec_id"), col("label"), col("embedding"))
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getSeq[Float](2).map(_.toDouble).toArray))
    val model = rows.groupBy(_._2).map { case (label, vs) =>
      def centroid(half: Long) = {
        val sel = vs.filter(_._1 % 2 == half).map(_._3)
        val d = sel.head.length
        (sel.length.toLong, Array.tabulate(d)(i => sel.map(_(i)).sum / sel.length))
      }
      val (n0, c0) = centroid(0); val (n1, c1) = centroid(1)
      def dot(a: Array[Double], b: Array[Double]) = a.zip(b).map(p => p._1 * p._2).sum
      (label, (n0, n1, 1.0 - dot(c0, c1) / (math.sqrt(dot(c0, c0)) * math.sqrt(dot(c1, c1)))))
    }
    val got = graft.SparkEntry.queries("sim_centroid_drift")(spark, dir).collect()
    assert(got.map(_.getInt(0)).toSet === model.keySet)
    got.foreach { r =>
      val (n0, n1, drift) = model(r.getInt(0))
      assert(r.getLong(1) === n0 && r.getLong(2) === n1)
      assert(math.abs(r.getDouble(3) - drift) < 1e-4, s"label ${r.getInt(0)} drift")
    }
  }
}
