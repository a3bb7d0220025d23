package graft.ops

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.TestSpark

/** Semantic pins for the series/forensics additions: every query's
  * defining property is recomputed by an independent in-memory model
  * (the oracle pins cross-engine equality; these pin the MEANING).
  */
class SeriesForensicsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  val dir = "/root/testdata/sf0.001"
  def q(name: String) = graft.SparkEntry.queries(name)(spark, dir)

  private def snap(v: Double, s: Int): Double =
    BigDecimal(v).setScale(8, BigDecimal.RoundingMode.HALF_UP)
      .setScale(s, BigDecimal.RoundingMode.HALF_UP).toDouble

  private lazy val events: Array[(Long, Long, String, Long, Double)] =
    graft.ops.Tables.events(spark, dir)
      .select(col("user_id"), col("event_id"), col("event_type"),
        col("ts").cast("long").as("sec"), col("value"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getLong(3), r.getDouble(4)))

  private lazy val docs: Array[(Long, String, String, String)] =
    graft.ops.Tables.table(spark, dir, "documents")
      .select(col("doc_id"), col("text"), col("lang"), col("source"))
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getString(3)))

  // -------------------------------------------------------------
  test("resample: per-user grid, fill counts, max gap and staircase mean match a direct model") {
    val rows = q("events_resample_hourly").collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5), r.getDouble(6)))
      .toMap
    val byUser = events.groupBy(_._1)
    assert(rows.keySet == byUser.keySet)
    byUser.foreach { case (uid, es) =>
      val perHour = es.groupBy(_._4 / 3600).map { case (hr, hs) =>
        hr -> hs.maxBy(e => (e._4 % 3600, e._2))._5
      }
      val hrs = perHour.keys.toVector.sorted
      val (mn, mx) = (hrs.head, hrs.last)
      val grid = (mn to mx).toVector
      val filled = grid.scanLeft(Option.empty[Double]) { (prev, hr) =>
        perHour.get(hr).orElse(prev)
      }.tail.map(_.get)
      val maxGap = if (hrs.size < 2) 0L else hrs.sliding(2).map(p => p(1) - p(0) - 1).max
      val meanFilled = snap(
        filled.map(v => BigDecimal(v).setScale(4, BigDecimal.RoundingMode.HALF_UP)).sum.toDouble
          / grid.size, 6)
      val (firstHr, lastHr, nHours, nObs, gotGap, gotMean) = rows(uid)
      assert(firstHr == mn && lastHr == mx, s"user $uid bounds")
      assert(nHours == grid.size.toLong, s"user $uid n_hours")
      assert(nObs == perHour.size.toLong, s"user $uid n_observed")
      assert(gotGap == maxGap, s"user $uid max_gap")
      assert(math.abs(gotMean - meanFilled) < 1e-4, s"user $uid mean $gotMean vs $meanFilled")
    }
  }

  // -------------------------------------------------------------
  test("autocorr: Pearson-at-lag over the dense hourly grid matches a direct model") {
    val lags = Seq(1, 2, 3, 6, 12, 24)
    val got = q("events_autocorr").collect()
      .map(r => (r.getString(0), r.getLong(1)) ->
        (r.getLong(2), if (r.isNullAt(3)) None else Some(r.getDouble(3))))
      .toMap
    val byType = events.groupBy(_._3)
    assert(got.keySet == byType.keySet.flatMap(t => lags.map(k => (t, k.toLong))))
    byType.foreach { case (tpe, es) =>
      val perHour = es.groupBy(_._4 / 3600).view.mapValues(_.length.toLong).toMap
      val (mn, mx) = (perHour.keys.min, perHour.keys.max)
      val series = (mn to mx).map(h => perHour.getOrElse(h, 0L))
      lags.foreach { k =>
        val pairs = series.dropRight(k).zip(series.drop(k))
        val n = pairs.length.toLong
        val sx = pairs.map(_._1).sum.toDouble
        val sy = pairs.map(_._2).sum.toDouble
        val sxy = pairs.map(p => p._1 * p._2).sum.toDouble
        val sxx = pairs.map(p => p._1 * p._1).sum.toDouble
        val syy = pairs.map(p => p._2 * p._2).sum.toDouble
        val denx = n * sxx - sx * sx
        val deny = n * syy - sy * sy
        val expected =
          if (denx > 0 && deny > 0) Some(snap((n * sxy - sx * sy) / math.sqrt(denx * deny), 6))
          else None
        val (gn, gacf) = got((tpe, k.toLong))
        assert(gn == n, s"$tpe lag $k n_pairs")
        (gacf, expected) match {
          case (Some(a), Some(b)) => assert(math.abs(a - b) < 1e-9, s"$tpe lag $k acf $a vs $b")
          case (a, b)             => assert(a == b, s"$tpe lag $k degenerate")
        }
        gacf.foreach(a => assert(a >= -1.0 - 1e-9 && a <= 1.0 + 1e-9, s"$tpe lag $k range"))
      }
    }
  }

  // -------------------------------------------------------------
  test("forecast backtest: integer-exact WMA/naive/seasonal MAEs match a direct model") {
    val got = q("events_forecast_backtest").collect()
      .map(r => r.getString(0) -> r).toMap
    val byType = events.groupBy(_._3)
    assert(got.keySet == byType.keySet)
    byType.foreach { case (tpe, es) =>
      val perHour = es.groupBy(_._4 / 3600).view.mapValues(_.length.toLong).toMap
      val (mn, mx) = (perHour.keys.min, perHour.keys.max)
      val x = (mn to mx).map(h => perHour.getOrElse(h, 0L)).toArray
      val evals = (24 until x.length).map { t =>
        val wnum = (1 to 8).map(k => x(t - k) * (1L << (8 - k))).sum
        (math.abs(x(t) * 255 - wnum), math.abs(x(t) - x(t - 1)), math.abs(x(t) - x(t - 24)))
      }
      val n = evals.length.toLong
      val (sw, sn, ss) = (evals.map(_._1).sum, evals.map(_._2).sum, evals.map(_._3).sum)
      val r = got(tpe)
      assert(r.getLong(1) == n, s"$tpe n_evals")
      assert(math.abs(r.getDouble(2) - snap(sw.toDouble / (n * 255), 6)) < 1e-9, s"$tpe mae_wma")
      assert(math.abs(r.getDouble(3) - snap(sn.toDouble / n, 6)) < 1e-9, s"$tpe mae_naive")
      assert(math.abs(r.getDouble(4) - snap(ss.toDouble / n, 6)) < 1e-9, s"$tpe mae_seasonal")
      if (sn > 0)
        assert(math.abs(r.getDouble(5) - snap(1.0 - sw.toDouble / (sn * 255), 6)) < 1e-9, s"$tpe skill_n")
      else assert(r.isNullAt(5))
      if (ss > 0)
        assert(math.abs(r.getDouble(6) - snap(1.0 - sw.toDouble / (ss * 255), 6)) < 1e-9, s"$tpe skill_s")
      else assert(r.isNullAt(6))
    }
  }

  // -------------------------------------------------------------
  test("seasonality strength: ANOVA R-squared and peak/trough profile match a direct model") {
    val got = q("events_seasonality_strength").collect()
      .map(r => r.getString(0) -> r).toMap
    val byType = events.groupBy(_._3)
    assert(got.keySet == byType.keySet)
    byType.foreach { case (tpe, es) =>
      val perHour = es.groupBy(_._4 / 3600).view.mapValues(_.length.toLong).toMap
      val (mn, mx) = (perHour.keys.min, perHour.keys.max)
      val cells = (mn to mx).map(h => (h % 24, perHour.getOrElse(h, 0L)))
      val n = cells.length.toLong
      val s = cells.map(_._2).sum
      val qq = cells.map(c => c._2 * c._2).sum
      val groups = cells.groupBy(_._1).view.mapValues(_.map(_._2)).toMap
      val bp = groups.toSeq.map { case (_, xs) =>
        BigDecimal(xs.sum.toDouble * xs.sum / xs.length)
          .setScale(8, BigDecimal.RoundingMode.HALF_UP)
          .setScale(6, BigDecimal.RoundingMode.HALF_UP)
      }.sum.toDouble
      val ssTotal = qq.toDouble - s.toDouble * s / n
      val ssBetween = bp - s.toDouble * s / n
      val means = groups.toSeq.map { case (hod, xs) => (hod, xs.sum.toDouble / xs.length) }
      val peak = means.minBy { case (hod, m) => (-m, hod) }
      val trough = means.minBy { case (hod, m) => (m, hod) }
      val r = got(tpe)
      assert(r.getLong(1) == n, s"$tpe n_hours")
      assert(math.abs(r.getDouble(2) - snap(s.toDouble / n, 6)) < 1e-9, s"$tpe grand_mean")
      if (ssTotal > 0) {
        assert(math.abs(r.getDouble(3) - snap(ssBetween / ssTotal, 6)) < 1e-6, s"$tpe r2")
        assert(r.getDouble(3) >= -1e-9 && r.getDouble(3) <= 1.0 + 1e-9, s"$tpe r2 range")
      } else assert(r.isNullAt(3))
      assert(r.getLong(4) == peak._1, s"$tpe peak_hod")
      assert(math.abs(r.getDouble(5) - snap(peak._2, 6)) < 1e-9, s"$tpe peak_mean")
      assert(r.getLong(6) == trough._1, s"$tpe trough_hod")
      assert(math.abs(r.getDouble(7) - snap(trough._2, 6)) < 1e-9, s"$tpe trough_mean")
    }
  }

  // -------------------------------------------------------------
  test("concurrency: two-level prefix sum equals a direct global sweep over session intervals") {
    // direct model: 30-min-gap sessions per user, then one ordered sweep
    val sessions = events.groupBy(_._1).toSeq.flatMap { case (_, es) =>
      val secs = es.map(_._4).sorted
      val out = scala.collection.mutable.ArrayBuffer[(Long, Long)]()
      var start = secs.head; var prev = secs.head
      secs.tail.foreach { s =>
        if (s - prev > 1800) { out += ((start, prev)); start = s }
        prev = s
      }
      out += ((start, prev))
      out.toSeq
    }
    val deltas = sessions.flatMap { case (s, e) => Seq((s, 1L), (e + 1, -1L)) }
      .groupBy(_._1).view.mapValues(_.map(_._2).sum).toSeq.sortBy(_._1)
    val hours = deltas.map(_._1 / 3600)
    val (mnH, mxH) = (hours.min, hours.max)
    var cur = 0L
    val maxIn = scala.collection.mutable.Map[Long, Long]()
    val endAt = scala.collection.mutable.Map[Long, Long]()
    var di = 0
    (mnH to mxH).foreach { h =>
      var mx = cur
      while (di < deltas.length && deltas(di)._1 < (h + 1) * 3600) {
        cur += deltas(di)._2; mx = math.max(mx, cur); di += 1
      }
      maxIn(h) = mx; endAt(h) = cur
    }
    val got = q("events_concurrency").collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      .toMap
    assert(got.keySet == (mnH to mxH).toSet, "complete hour spine")
    val startsByHour = sessions.groupBy(_._1 / 3600).view.mapValues(_.size.toLong).toMap
    (mnH to mxH).foreach { h =>
      val (ns, _, mc, ec) = got(h)
      assert(ns == startsByHour.getOrElse(h, 0L), s"hour $h n_starts")
      assert(mc == maxIn(h), s"hour $h max_conc $mc vs ${maxIn(h)}")
      assert(ec == endAt(h), s"hour $h end_conc")
    }
    assert(got.values.map(_._3).max > 1, "fixture has overlapping sessions")
    // conservation: total starts == total expiries over the full span
    assert(got.values.map(_._1).sum == got.values.map(_._2).sum, "starts == expiries")
    assert(got(mxH)._4 == 0L || deltas.last._1 / 3600 > mxH, "drains to carry at span end")
  }

  // -------------------------------------------------------------
  test("markov entropy: per-state H matches direct transition counts; state weights sum to 1") {
    val rows = q("events_markov_entropy").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(3), r.getDouble(4), r.getDouble(5)))
    val trans = events.groupBy(_._1).values.flatMap { es =>
      es.sortBy(e => (e._4, e._2)).map(_._3).toVector.sliding(2).collect {
        case Seq(a, b) => (a, b)
      }
    }.toVector
    val bySt = trans.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val byS = trans.groupBy(_._1).view.mapValues(_.size.toLong).toMap
    val total = trans.size.toDouble
    assert(rows.map(_._1).toSet == byS.keySet)
    rows.foreach { case (s, nOut, nTargets, hBits, pState, contrib) =>
      assert(nOut == byS(s))
      assert(nTargets.toInt == bySt.keys.count(_._1 == s))
      val terms = bySt.collect { case ((`s`, _), cnt) =>
        val p = cnt.toDouble / byS(s)
        BigDecimal(p * snap(-math.log(p), 6)).setScale(8, BigDecimal.RoundingMode.HALF_UP)
      }
      val expH = snap(terms.sum.toDouble / 0.6931471805599453, 6)
      assert(math.abs(hBits - expH) < 1e-5, s"state $s H $hBits vs $expH")
      assert(hBits >= 0 && hBits <= math.log(nTargets.toDouble) / math.log(2.0) + 1e-6)
      assert(math.abs(pState - byS(s) / total) < 1e-5)
      assert(math.abs(contrib - snap(pState * hBits, 6)) < 1e-9)
    }
    assert(math.abs(rows.map(_._5).sum - 1.0) < 1e-4, "state weights sum to 1")
  }

  // -------------------------------------------------------------
  test("rfm: quintile-threshold tiles match a direct interpolated-percentile model, users partition exactly") {
    val rows = q("events_rfm_segments").collect()
      .map(r => (r.getInt(1), r.getInt(2), r.getInt(3)) -> r.getLong(4)).toMap
    val m = events.groupBy(_._1).map { case (uid, es) =>
      val monetary = BigDecimal(
        es.map(e => BigDecimal(e._5).setScale(4, BigDecimal.RoundingMode.HALF_UP)).sum.toDouble)
        .setScale(2, BigDecimal.RoundingMode.HALF_UP).toDouble
      (uid, es.map(_._4).max.toDouble, es.size.toDouble, monetary)
    }.toVector
    def thresholds(vs: Vector[Double]): Vector[Double] = {
      val s = vs.sorted
      Vector(0.2, 0.4, 0.6, 0.8).map { p =>
        val pos = p * (s.size - 1)
        val lo = pos.toInt
        val frac = pos - lo
        val v = if (lo + 1 < s.size) s(lo) + (s(lo + 1) - s(lo)) * frac else s(lo)
        snap(v, 6)
      }
    }
    val (rq, fq, mq) =
      (thresholds(m.map(_._2)), thresholds(m.map(_._3)), thresholds(m.map(_._4)))
    def tile(v: Double, t: Vector[Double]) = 1 + t.count(v > _)
    val expected = m.groupBy(u => (tile(u._2, rq), tile(u._3, fq), tile(u._4, mq)))
      .view.mapValues(_.size.toLong).toMap
    assert(rows == expected)
    assert(rows.values.sum == m.size.toLong, "every user lands in exactly one segment")
    assert(rows.keys.forall { case (r, f, mm) =>
      (1 to 5).contains(r) && (1 to 5).contains(f) && (1 to 5).contains(mm) })
  }

  // -------------------------------------------------------------
  test("basket affinity: top-100 pair counts match a direct model; lift/support formulas hold") {
    val li = graft.ops.Tables.table(spark, dir, "lineitem")
      .select(col("l_orderkey"), col("l_partkey")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val rows = q("join_basket_affinity").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
        r.getDouble(5), r.getDouble(6)))
    val pairCnt = li.groupBy(_._1).values.flatMap { basket =>
      val pks = basket.map(_._2).toVector.sorted
      for (i <- pks.indices; j <- i + 1 until pks.size) yield (pks(i), pks(j))
    }.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val nOrdersAll = li.map(_._1).size.toLong
    // the a-priori relative support floor is part of the semantics (r17)
    val floorF = math.max(2L, math.ceil(nOrdersAll * 1e-5).toLong)
    val expTop = pairCnt.toVector.map { case ((a, b), c) => (a, b, c) }
      .filter(_._3 >= floorF)
      .sortBy(t => (-t._3, t._1, t._2)).take(100)
    assert(rows.map(t => (t._1, t._2, t._3)).toVector == expTop)
    val freq = li.groupBy(_._2).view.mapValues(_.size.toLong).toMap
    val nOrders = nOrdersAll
    rows.foreach { case (p1, p2, together, c1, c2, support, lift) =>
      assert(p1 < p2)
      assert(c1 == freq(p1) && c2 == freq(p2))
      assert(math.abs(support - snap(together.toDouble / nOrders, 6)) < 1e-9)
      assert(math.abs(lift - snap(together.toDouble * nOrders / (c1 * c2), 4)) < 1e-9)
    }
  }

  // -------------------------------------------------------------
  test("basket affinity: a-priori item prune engages on a skewed corpus and never changes the answer") {
    import spark.implicits._
    // 2000 baskets: every basket holds 2 hot items (from a pool of 10)
    // plus 2 basket-unique rare items → the rare fraction is ~99%,
    // far over the 25% engagement gate, and the floor is
    // max(2, ceil(2000 * 1e-5)) = 2.
    val tmp = java.nio.file.Files.createTempDirectory("basketskew").toString
    val rows = (0 until 2000).flatMap { ok =>
      val hot = Seq(ok % 10, (ok / 10) % 10).map(_.toLong)
      val rare = Seq(10L + ok * 2, 11L + ok * 2).map(_ + 1000L)
      (hot ++ rare).zipWithIndex.map { case (pk, ln) =>
        (ok.toLong, pk, 1L, ln + 1, 1.0, 1.0, 0.0, 0.0, "N", "O",
          java.time.LocalDateTime.of(2024, 1, 1, 0, 0))
      }
    }
    rows.toDF("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber",
        "l_quantity", "l_extendedprice", "l_discount", "l_tax",
        "l_returnflag", "l_linestatus", "l_shipdate")
      .write.mode("overwrite").parquet(s"$tmp/lineitem.parquet")
    val df = graft.SparkEntry.queries("join_basket_affinity")(spark, tmp)
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("LeftSemi"),
      "prune must engage on a skewed corpus (sub-floor items semi-joined away pre-pair): " + p.take(800))
    val got = df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    // direct model WITH the floor: only hot-hot pairs can reach 2+
    val baskets = rows.groupBy(_._1).view.mapValues(_.map(_._2).distinct.sorted).toMap
    val pairCnt = baskets.values.flatMap { pks =>
      for (i <- pks.indices; j <- i + 1 until pks.size) yield (pks(i), pks(j))
    }.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val expTop = pairCnt.toVector.map { case ((a, b), c) => (a, b, c) }
      .filter(_._3 >= 2L).sortBy(t => (-t._3, t._1, t._2)).take(100)
    assert(got.toVector == expTop,
      s"pruned answer drifted: got ${got.length} pairs, expected ${expTop.length}")
    assert(got.nonEmpty && got.forall { case (a, b, _) => a < 1000 && b < 1000 },
      "only hot items can survive the support floor")
  }

  // -------------------------------------------------------------
  test("dsir: log-weights match a direct hashed-LM model; target slice scores above the rest") {
    val rows = q("text_dsir_weights").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getDouble(3), r.getBoolean(4)))
    val md = java.security.MessageDigest.getInstance("MD5")
    def bucket(w: String): Long = {
      val hex = md.digest(w.getBytes("UTF-8")).map("%02x".format(_)).mkString.take(6)
      java.lang.Long.parseLong(hex, 16) % 512
    }
    val target = Set("src0", "src1", "src2", "src3")
    val words = docs.flatMap { case (id, text, _, src) =>
      text.split(" ", -1).map(w => (id, src, bucket(w)))
    }
    val lm = words.groupBy(_._3).map { case (b, ws) =>
      b -> (ws.count(w => target(w._2)).toLong, ws.size.toLong)
    }
    val tt = lm.values.map(_._1).sum.toDouble + 512.0
    val rt = lm.values.map(_._2).sum.toDouble + 512.0
    val delta = lm.map { case (b, (t, r)) =>
      b -> (snap(math.log((t + 1.0) / tt), 6) - snap(math.log((r + 1.0) / rt), 6))
    }
    val expected = words.groupBy(_._1).map { case (id, ws) =>
      val logw = ws.groupBy(_._3).map { case (b, bs) =>
        BigDecimal(bs.size * delta(b)).setScale(8, BigDecimal.RoundingMode.HALF_UP)
      }.sum.toDouble
      id -> (ws.size.toLong, logw)
    }
    assert(rows.length == docs.length)
    rows.foreach { case (id, nWords, logw, avg, keep) =>
      val (expN, expW) = expected(id)
      assert(nWords == expN, s"doc $id n_words")
      assert(math.abs(logw - snap(expW, 4)) < 1e-3, s"doc $id logw $logw vs $expW")
      assert(math.abs(avg - snap(expW / expN, 6)) < 1e-3)
      assert(keep == (logw > 0))
    }
    // the defining DSIR property: documents FROM the target slice look
    // more target-like than the rest on average
    val bySrc = rows.groupBy(r => target(docs.find(_._1 == r._1).get._4))
    val meanT = bySrc(true).map(_._4).sum / bySrc(true).size
    val meanR = bySrc(false).map(_._4).sum / bySrc(false).size
    assert(meanT > meanR, s"target mean $meanT should exceed non-target $meanR")
  }

  // -------------------------------------------------------------
  test("heaps: growth curve matches direct first-occurrence counts; exponent is sub-linear with a tight fit") {
    val rows = q("text_heaps_fit").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3), r.getDouble(4)))
      .sortBy(_._1)
    val ids = docs.map(_._1)
    val (mn, mx) = (ids.min, ids.max)
    val grams = docs.flatMap { case (id, text, _, _) =>
      val ws = text.split(" ", -1)
      if (ws.length < 3) Nil
      else ws.sliding(3).map(g => ((id - mn) * 16 / (mx - mn + 1), g.mkString(" "))).toVector
    }
    val tok = grams.groupBy(_._1).view.mapValues(_.size.toLong).toMap
    val firstB = grams.groupBy(_._2).view.mapValues(_.map(_._1).min).toMap
    val vocabPer = firstB.values.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val buckets = tok.keys.toVector.sorted
    var (tc, vc) = (0L, 0L)
    buckets.zip(rows).foreach { case (b, (gotB, gotT, gotV, _, _)) =>
      tc += tok(b); vc += vocabPer.getOrElse(b, 0L)
      assert(gotB == b && gotT == tc && gotV == vc, s"bucket $b: ($gotT,$gotV) vs ($tc,$vc)")
    }
    val beta = rows.head._4
    val r2 = rows.head._5
    assert(beta > 0.0 && beta < 1.0, s"Heaps exponent sub-linear: $beta")
    assert(r2 > 0.9 && r2 <= 1.0, s"log-log fit should be tight: $r2")
    assert(rows.forall(r => r._4 == beta && r._5 == r2), "fit constant across rows")
  }

  // -------------------------------------------------------------
  test("matryoshka recall: complete grid, full-width anchor exact, hits bounded") {
    val rows = q("sim_recall_matryoshka").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
    // complete (q, d) grid: 8 panel queries x 3 truncation levels
    assert(rows.length == 24, s"expected 8x3 cells, got ${rows.length}")
    assert(rows.map(_._1).distinct.sorted.toSeq == (0L to 7L))
    rows.foreach { case (qid, d, nHit, recall) =>
      assert(Seq(8, 16, 64).contains(d))
      assert(nHit >= 0 && nHit <= 3, s"q $qid d $d hits $nHit")
      assert(math.abs(recall - nHit / 3.0) < 1e-3)
      // the full-width run IS the ground truth
      if (d == 64) assert(nHit == 3L, s"q $qid full-width recall must be 1")
    }
  }

  // -------------------------------------------------------------
  test("source affinity: matrix matches a direct cross-source jaccard model") {
    val rows = q("dedup_source_affinity").collect()
      .map(r => (r.getString(0), r.getString(1)) -> (r.getLong(2), r.getDouble(3), r.getDouble(4)))
      .toMap
    val wordSets = docs.map { case (id, text, lang, src) =>
      (id, lang, src, text.split(" ", -1).distinct.toSet)
    }
    // df-capped candidate universe: words with 2 <= df <= 64 within lang
    val df = wordSets.flatMap(d => d._4.map(w => (d._2, w)))
      .groupBy(identity).view.mapValues(_.size).toMap
    val kept = wordSets.map { case (id, lang, src, ws) =>
      (id, lang, src, ws, ws.filter(w => { val c = df((lang, w)); c >= 2 && c <= 64 }))
    }
    val pairs = for {
      i <- kept.indices; j <- i + 1 until kept.length
      a = kept(i); b = kept(j)
      if a._2 == b._2
      inter = (a._5 & b._5).size
      if inter > 0
      jac = snap(inter.toDouble / (a._4.size + b._4.size - inter), 4)
      if jac >= 0.2
    } yield (if (a._3 <= b._3) (a._3, b._3) else (b._3, a._3), jac)
    val expected = pairs.groupBy(_._1).map { case (k, ps) =>
      val js = ps.map(_._2)
      k -> (js.size.toLong,
        snap(js.map(BigDecimal(_).setScale(4, BigDecimal.RoundingMode.HALF_UP)).sum.toDouble / js.size, 4),
        js.max)
    }
    assert(rows.keySet == expected.keySet)
    expected.foreach { case (k, (n, mean, mx2)) =>
      val (gotN, gotMean, gotMax) = rows(k)
      assert(gotN == n, s"$k n_pairs")
      assert(math.abs(gotMean - mean) < 1e-3, s"$k mean")
      assert(math.abs(gotMax - mx2) < 1e-9, s"$k max")
    }
  }

  // -------------------------------------------------------------
  test("linear attribution: shares match a direct model and credit conserves purchase value") {
    val byUser = events.groupBy(_._1)
    // model: per purchase, the admissible touches in the preceding hour
    case class Credit(touchType: String, share: BigDecimal)
    val credits = scala.collection.mutable.ArrayBuffer[Credit]()
    var unattributedN = 0L
    var unattributedV = BigDecimal(0)
    byUser.foreach { case (_, es) =>
      val purchases = es.filter(_._3 == "purchase")
      val touches = es.filter(_._3 != "purchase")
      purchases.foreach { case (_, _, _, pSec, v) =>
        val adm = touches.filter(t => t._4 >= pSec - 3600 && t._4 < pSec)
        if (adm.isEmpty) {
          unattributedN += 1
          unattributedV += BigDecimal(v).setScale(6, BigDecimal.RoundingMode.HALF_UP)
        } else adm.foreach { t =>
          credits += Credit(t._3,
            BigDecimal(snap(v / adm.length, 6)).setScale(6, BigDecimal.RoundingMode.HALF_UP))
        }
      }
    }
    val expected = credits.groupBy(_.touchType).map { case (tt, cs) =>
      tt -> (cs.size.toLong, snap(cs.map(_.share).sum.toDouble, 2))
    }
    val got = q("events_attribution_linear").collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getDouble(3)))
      .toMap
    expected.foreach { case (tt, (n, credit)) =>
      val (gn, _, gcredit) = got(tt)
      assert(gn == n, s"$tt n_touches")
      assert(math.abs(gcredit - credit) < 1e-9, s"$tt credit")
    }
    if (unattributedN > 0) {
      val (gn0, gtouch0, gcred0) = got("(none)")
      assert(gtouch0 == unattributedN && gn0 == 0L)
      assert(math.abs(gcred0 - snap(unattributedV.toDouble, 2)) < 1e-9)
    }
    // conservation: total credited value (incl. the (none) bucket) equals
    // total purchase value, up to the documented 6-dp per-share snap
    val totalCredit = got.values.map(_._3).sum
    val totalPurchase = events.filter(_._3 == "purchase").map(_._5).sum
    assert(math.abs(totalCredit - totalPurchase) < 0.01 * got.size + 1e-6,
      s"credit $totalCredit must conserve purchase value $totalPurchase")
  }

  test("funnel latency: step/total distributions match a direct funnel model") {
    // the funnel chain compares raw MICROSECOND timestamps (only the
    // reported diffs truncate to seconds), so the model works in micros;
    // sf0.01 is the smallest fixture with step-3 conversions
    val latDir = "/root/testdata/sf0.01"
    val micro = graft.ops.Tables.events(spark, latDir)
      .select(col("user_id"), col("event_type"), unix_micros(col("ts")).as("us"))
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    val byUser = micro.groupBy(_._1)
    val chains = byUser.values.map { es =>
      val t1 = es.filter(_._2 == "click").map(_._3).minOption
      val t2 = t1.flatMap(v1 => es.filter(e => e._2 == "view" && e._3 >= v1).map(_._3).minOption)
      val t3 = t2.flatMap(v2 => es.filter(e =>
        e._2 == "purchase" && e._3 >= v2 && e._3 <= v2 + 3600L * 1000000L).map(_._3).minOption)
      (t1, t2, t3)
    }.toVector
    val lat = chains.collect { case (Some(a), Some(b), Some(c)) =>
      (b / 1000000L - a / 1000000L, c / 1000000L - b / 1000000L,
        c / 1000000L - a / 1000000L)
    }
    assert(lat.nonEmpty, "fixture must have conversions")
    // the same chain is events_funnel_steps' per-step user count
    val steps = graft.SparkEntry.queries("events_funnel_steps")(spark, latDir).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSeq
    assert(steps === Seq(
      (1L, "click", chains.count(_._1.nonEmpty).toLong),
      (2L, "click>view", chains.count(_._2.nonEmpty).toLong),
      (3L, "click>view>purchase", lat.size.toLong)))
    def pct(vs: Vector[Long], p: Double): Double = {
      val s = vs.sorted.map(_.toDouble)
      val h = (s.length - 1) * p
      val lo = h.toInt
      if (lo + 1 >= s.length) s.last else s(lo) + (h - lo) * (s(lo + 1) - s(lo))
    }
    val model = Map(
      "step12" -> lat.map(_._1), "step23" -> lat.map(_._2), "total" -> lat.map(_._3))
    val got = graft.SparkEntry.queries("events_funnel_latency")(spark, latDir).collect()
    assert(got.map(_.getString(0)).toSet == model.keySet)
    got.foreach { r =>
      val vs = model(r.getString(0))
      assert(r.getLong(1) == vs.length.toLong, s"${r.getString(0)} n")
      assert(math.abs(r.getDouble(2) - snap(vs.sum.toDouble / vs.length, 2)) < 1e-9)
      assert(math.abs(r.getDouble(3) - snap(pct(vs, 0.5), 2)) < 1e-9)
      assert(math.abs(r.getDouble(4) - snap(pct(vs, 0.9), 2)) < 1e-9)
      assert(r.getLong(5) == vs.max)
    }
  }

  // the 3-row metric grid is the report CONTRACT: it must survive the
  // two degenerate corpora a fresh deployment actually serves first
  private def assertEmptyGrid(dir: String): Unit = {
    val got = graft.SparkEntry.queries("events_funnel_latency")(spark, dir)
      .collect().sortBy(_.getString(0))
    assert(got.map(_.getString(0)).toSeq === Seq("step12", "step23", "total"))
    got.foreach { r =>
      assert(r.getLong(1) === 0L, s"${r.getString(0)} n_users")
      assert(r.isNullAt(2) && r.isNullAt(3) && r.isNullAt(4) && r.isNullAt(5),
        s"${r.getString(0)} stats must be NULL with no conversions")
    }
  }

  test("funnel latency: an empty corpus still emits the full 3-row grid") {
    val tmp = java.nio.file.Files.createTempDirectory("flat_empty").toString
    graft.ops.Tables.events(spark, "/root/testdata/sf0.001")
      .filter(col("user_id") < 0)
      .drop("ts_ns")
      .coalesce(1).write.parquet(s"$tmp/events.parquet")
    assertEmptyGrid(tmp)
  }

  test("funnel latency: users but zero conversions -> 3-row grid, NULL stats") {
    val tmp = java.nio.file.Files.createTempDirectory("flat_noconv").toString
    // plenty of clicks and views, but no purchase ever completes a chain
    graft.ops.Tables.events(spark, "/root/testdata/sf0.001")
      .filter(col("event_type") =!= "purchase")
      .drop("ts_ns")
      .coalesce(1).write.parquet(s"$tmp/events.parquet")
    assertEmptyGrid(tmp)
  }

  test("rolling median: 7-day window medians match a direct model; spikes pass through") {
    val rows = q("events_rolling_median").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(rows.nonEmpty)
    rows.groupBy(_._1).foreach { case (et, series) =>
      val s = series.sortBy(_._2)
      s.indices.foreach { i =>
        val window = s.slice(math.max(0, i - 6), i + 1).map(_._3.toDouble).sorted
        val m = window.length
        val med = if (m % 2 == 1) window(m / 2) else (window(m / 2 - 1) + window(m / 2)) / 2.0
        assert(s(i)._4 === med, s"$et day ${s(i)._2}: med7")
      }
      // robustness: the median of any window is bounded by the window's
      // own values — a single outlier day cannot drag it outside
      s.indices.foreach { i =>
        val w = s.slice(math.max(0, i - 6), i + 1).map(_._3)
        assert(s(i)._4 >= w.min && s(i)._4 <= w.max)
      }
    }
  }

  test("kNN classify: per-class counts sum to the eval slice; accuracy = correct/n") {
    val rows = graft.SparkEntry.queries("sim_knn_classify")(spark, dir).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    val slice = graft.ops.Tables.table(spark, dir, "embeddings")
      .filter(org.apache.spark.sql.functions.expr("vec_id % 25 = 0")).count()
    assert(rows.map(_._2).sum === slice, "every eval vector classified exactly once")
    rows.foreach { case (lbl, n, correct, acc) =>
      assert(correct <= n, s"label $lbl")
      val expect = BigDecimal(correct.toDouble / n)
        .setScale(8, BigDecimal.RoundingMode.HALF_UP)
        .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
      assert(acc === expect, s"label $lbl accuracy")
    }
  }

  // -------------------------------------------------------------
  test("Nelson-Aalen: same grid as KM, additive hazard matches a direct model, exp(-H) dominates the product-limit") {
    val na = q("events_nelson_aalen").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3),
        r.getDouble(4), r.getDouble(5), r.getDouble(6)))
    val km = q("events_survival_km").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3), r.getDouble(4)))
    assert(na.nonEmpty)
    // the two estimators walk the SAME event-time grid with the same
    // risk sets and event counts
    assert(na.map(t => (t._1, t._2, t._3)).toSeq === km.map(t => (t._1, t._2, t._3)).toSeq)
    // direct additive model from the (n_risk, d) columns themselves
    var h = BigDecimal(0); var v = BigDecimal(0)
    na.foreach { case (t, n, d, hz, ch, cv, sna) =>
      assert(math.abs(hz - snap(d.toDouble / n, 6)) < 1e-12)
      h += BigDecimal(snap(d.toDouble / n, 6))
      v += BigDecimal(snap(d.toDouble / (n.toDouble * n), 8))
      assert(math.abs(ch - h.toDouble) < 1e-9, s"cum_hazard at $t")
      assert(math.abs(cv - v.toDouble) < 1e-9, s"cum_hazard_var at $t")
      assert(math.abs(sna - snap(math.exp(-h.toDouble), 4)) < 1e-12, s"s_na at $t")
    }
    // H non-decreasing, variance non-decreasing
    assert(na.map(_._5).sliding(2).forall(p => p.length < 2 || p(0) <= p(1) + 1e-12))
    // 1 - x <= e^-x pointwise => S_KM <= S_NA (4-dp snaps allow a grain)
    na.zip(km).foreach { case ((t, _, _, _, _, _, sna), (_, _, _, _, skm)) =>
      assert(sna >= skm - 2e-4, s"exp(-H) must dominate the product-limit at $t: $sna vs $skm")
    }
  }

  // -------------------------------------------------------------
  test("burst hysteresis: spans equal a direct Schmitt-trigger model; maximality holds") {
    val hourly = events.groupBy(e => (e._3, e._4 / 3600))
      .view.mapValues(_.length.toLong).toMap
    val types = events.map(_._3).distinct.sorted
    val direct = scala.collection.mutable.ArrayBuffer[(String, Long, Long, Long, Long, Long)]()
    types.foreach { t =>
      val hrs = hourly.keys.filter(_._1 == t).map(_._2)
      val (mn, mx) = (hrs.min, hrs.max)
      val series = (mn to mx).map(h => h -> hourly.getOrElse((t, h), 0L))
      val n = series.length.toLong
      val s1 = series.map(_._2).sum
      val s2 = series.map(x => x._2 * x._2).sum
      val sigma = math.sqrt((s2.toDouble - s1.toDouble * s1 / n) / (n - 1))
      val lo = snap(s1.toDouble / n + sigma, 4)
      val hi = snap(s1.toDouble / n + 2.0 * sigma, 4)
      // maximal runs above lo that touch hi
      var i = 0
      val arr = series.toArray
      while (i < arr.length) {
        if (arr(i)._2 > lo) {
          var j = i
          while (j + 1 < arr.length && arr(j + 1)._2 > lo) j += 1
          val run = arr.slice(i, j + 1)
          if (run.exists(_._2 > hi))
            direct += ((t, run.head._1, run.last._1, run.length.toLong,
              run.map(_._2).max, run.map(_._2).sum))
          i = j + 1
        } else i += 1
      }
    }
    val got = q("events_burst_hysteresis").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5)))
    assert(got.toVector === direct.toVector.sortBy(b => (b._1, b._2)),
      s"bursts: got ${got.length}, direct ${direct.length}")
    assert(got.nonEmpty, "fixture produces at least one burst")
    // hysteresis does its job somewhere: some burst is longer than one
    // hour (a low-threshold shoulder extends a high-threshold spike)
    assert(got.exists(_._4 > 1), "no multi-hour burst — hysteresis untested")
  }

  // -------------------------------------------------------------
  test("burst hysteresis: a single-hour type emits no bursts, never NaN thresholds (r16 advice)") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("burst1h").toString
    val base = 1700000000000000L // µs
    val rows =
      // degenerate: every "solo" event inside ONE hour bucket → the
      // sample-variance divisor (n_hours - 1) is zero
      (1 to 5).map(i => (i.toLong, base + i * 1000000L, 1L, "solo", 1.0, "{}")) ++
        // healthy control: quiet baseline with one spike hour
        (0 until 30).flatMap { h =>
          val n = if (h == 15) 40 else 1
          (0 until n).map(j => ((100 + h * 100 + j).toLong,
            base + h * 3600000000L + j * 1000L, 2L, "multi", 1.0, "{}"))
        }
    rows.toDF("event_id", "ts_us", "user_id", "event_type", "value", "props")
      .withColumn("ts", timestamp_micros(col("ts_us")))
      .select(col("event_id"), col("ts"), col("user_id"),
        col("event_type"), col("value"), col("props"))
      .write.mode("overwrite").parquet(s"$tmp/events.parquet")
    val got = graft.SparkEntry.queries("events_burst_hysteresis")(spark, tmp).collect()
    assert(!got.exists(_.getString(0) == "solo"),
      "single-hour type must be dropped by the n_hours > 1 guard")
    assert(got.exists(_.getString(0) == "multi"), "control burst must survive")
    got.foreach { r =>
      assert(!r.getDouble(6).isNaN && !r.getDouble(7).isNaN,
        s"NaN threshold leaked: $r")
    }
  }

  // -------------------------------------------------------------
  test("kleinberg burst: emitted sequence is locally Viterbi-optimal and beats both trivial baselines") {
    val hourly = events.groupBy(e => (e._3, e._4 / 3600))
      .view.mapValues(_.length.toLong).toMap
    val got = q("events_kleinberg_burst").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(got.nonEmpty, "fixture produces bursts")
    val types = events.map(_._3).distinct.sorted
    types.foreach { t =>
      val hrs = hourly.keys.filter(_._1 == t).map(_._2)
      val (mn, mx) = (hrs.min, hrs.max)
      val series = (mn to mx).map(h => hourly.getOrElse((t, h), 0L)).toArray
      val nH = series.length
      def snap6(x: Double) = BigDecimal(x)
        .setScale(8, BigDecimal.RoundingMode.HALF_UP)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP)
      val lam0 = snap6(series.sum.toDouble / nH)
      val lam1 = snap6((BigDecimal(3) * lam0).toDouble)
      val l0 = snap6(math.log(lam0.toDouble))
      val l1 = snap6(math.log(lam1.toDouble))
      val gamma = BigDecimal(2)
      def emit(st: Int, n: Long): BigDecimal =
        if (st == 0) lam0 - BigDecimal(n) * l0 else lam1 - BigDecimal(n) * l1
      val s = new Array[Int](nH)
      got.filter(_._1 == t).foreach { case (_, a, b) =>
        ((a - mn).toInt to (b - mn).toInt).foreach(i => s(i) = 1) }
      def cost(seq: Array[Int]): BigDecimal = {
        var c = emit(seq(0), series(0)) + (if (seq(0) == 1) gamma else BigDecimal(0))
        var i = 1
        while (i < nH) {
          c += emit(seq(i), series(i))
          if (seq(i) == 1 && seq(i - 1) == 0) c += gamma
          i += 1
        }
        c
      }
      val base = cost(s)
      assert(base <= cost(Array.fill(nH)(0)), s"$t: all-base beats the answer")
      assert(base <= cost(Array.fill(nH)(1)), s"$t: all-burst beats the answer")
      // Viterbi optimality implies NO sequence is cheaper, so in
      // particular no single-hour flip strictly improves the cost
      var i = 0
      while (i < nH) {
        val flip = s.clone(); flip(i) = 1 - s(i)
        assert(cost(flip) >= base,
          s"$t: flipping hour $i improves the sequence — not Viterbi-optimal")
        i += 1
      }
    }
  }
}
