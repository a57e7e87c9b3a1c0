package graft

import org.apache.spark.sql.functions._

import graft.queries.WarehouseQueries
import graft.tables.Tables

class WarehouseQueriesSpec extends SparkSpec {

  test("every warehouse query runs and is non-empty on sf0.001") {
    WarehouseQueries.entries.foreach { case (name, fn) =>
      assert(fn(spark, sf).count() > 0, s"$name returned no rows")
    }
  }

  test("q1_agg groups cover all flag/status combinations") {
    assert(WarehouseQueries.q1Agg(spark, sf).count() == 6)
  }

  test("q_sessionize covers every event exactly once") {
    val sessions = WarehouseQueries.sessionize(spark, sf)
    val total = sessions.agg(sum("n_events")).head().getLong(0)
    assert(total == Tables.events(spark, sf).count())
    val bad = sessions.filter(col("sess_start") > col("sess_end")).count()
    assert(bad == 0)
  }

  test("q_asof_join never matches a signup after the error") {
    val bad = WarehouseQueries.asofJoin(spark, sf)
      .filter(col("signup_ts_s") > col("ts_s")).count()
    assert(bad == 0)
  }

  test("q_asof_join keeps every error event (left semantics)") {
    val errors = Tables.events(spark, sf).filter(col("event_type") === "error").count()
    assert(WarehouseQueries.asofJoin(spark, sf).count() == errors)
  }

  test("q_skew_agg equals the unsalted aggregate") {
    val salted = WarehouseQueries.skewAgg(spark, sf)
      .select("event_type", "n_events").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val plain = Tables.events(spark, sf).groupBy("event_type").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(salted == plain)
  }

  test("q_hll_rollup: slice combine equals the single-pass sketch exactly, error <= 5% of exact") {
    import graft.operators.Sketches
    val ev = Tables.events(spark, sf)
    val slices = Sketches.hllSlices(ev,
      expr("unix_micros(ts) div 86400000000"), Seq("event_type"), "user_id")
    assert(slices.select(countDistinct(col("slice"))).head().getLong(0) > 1,
      "fixture produced a single slice — combine would be trivial")
    val combined = Sketches.hllCombine(slices, Seq("event_type")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    // merging the per-day sketches must give the IDENTICAL estimate as
    // sketching the whole table in one pass — sketch unions are exact
    // over sketch state, that is the incremental contract
    val onePass = ev.groupBy("event_type")
      .agg(hll_sketch_estimate(hll_sketch_agg(col("user_id"), lit(12))).as("e"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(combined == onePass, s"combine diverged: $combined vs $onePass")
    val exact = ev.groupBy("event_type").agg(countDistinct("user_id").as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    combined.foreach { case (k, est) =>
      assert(math.abs(est - exact(k)).toDouble / exact(k) <= 0.05,
        s"$k: estimate $est vs exact ${exact(k)}")
    }
  }

  test("q_decay_score replicates the hand-computed decimal-rounded decay sum for one user") {
    val ev = Tables.events(spark, sf)
      .select(col("user_id"), expr("unix_micros(ts)").as("tsu"), col("value"))
      .collect()
    val tmax = ev.map(_.getLong(1)).max
    val u = ev.head.getLong(0)
    val expected = ev.filter(_.getLong(0) == u)
      .map(r => BigDecimal(r.getDouble(2) *
        math.exp((r.getLong(1) - tmax) / 86400000000.0 * math.log(2.0)))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP))
      .sum.toDouble
    val got = WarehouseQueries.decayScore(spark, sf)
      .filter(col("user_id") === u).head().getDouble(2)
    assert(math.abs(got - expected) < 1e-9, s"user $u: $got vs $expected")
  }

  test("q_resample: dense spine covers every hour, gaps zero-fill, forward fill carries") {
    val r = WarehouseQueries.resample(spark, sf).collect()
    val byType = r.groupBy(_.getString(0))
    byType.foreach { case (t, rows) =>
      val hrs = rows.map(_.getLong(1))
      assert(hrs.max - hrs.min + 1 == hrs.length, s"$t: spine has holes")
      assert(rows.exists(_.getLong(2) == 0L), s"$t: fixture has no gap hours")
    }
    // on a gap hour the LOCF column equals the previous hour's carry
    r.sortBy(x => (x.getString(0), x.getLong(1)))
      .sliding(2).foreach {
        case Array(a, b) if a.getString(0) == b.getString(0) && b.getLong(2) == 0L =>
          assert(b.getDouble(4) == a.getDouble(4),
            s"${b.getString(0)} hr ${b.getLong(1)}: forward fill broke")
        case _ =>
      }
  }

  test("q_zscore standardizes: group mean ~0, stddev ~1, matches builtin stddev form") {
    val stats = WarehouseQueries.zscoreQuery(spark, sf)
      .groupBy("l_returnflag")
      .agg(avg("zscore").as("m"), stddev_samp(col("zscore")).as("s"))
      .collect()
    assert(stats.nonEmpty)
    stats.foreach { r =>
      assert(math.abs(r.getDouble(1)) < 1e-6, s"${r.getString(0)}: mean ${r.getDouble(1)}")
      assert(math.abs(r.getDouble(2) - 1.0) < 1e-6, s"${r.getString(0)}: sd ${r.getDouble(2)}")
    }
  }

  test("q_corr_stats matches the builtin corr/covar/stddev aggregates") {
    val ours = WarehouseQueries.corrStats(spark, sf).collect()
      .map(r => r.getString(0) ->
        (r.getDouble(2), r.getDouble(3), r.getDouble(4), r.getDouble(5))).toMap
    val builtin = Tables.lineitem(spark, sf).groupBy("l_returnflag")
      .agg(
        corr(col("l_quantity"), col("l_extendedprice")).as("c"),
        covar_samp(col("l_quantity"), col("l_extendedprice")).as("cv"),
        stddev_samp(col("l_quantity")).as("sx"),
        stddev_samp(col("l_extendedprice")).as("sy"))
      .collect()
      .map(r => r.getString(0) ->
        (r.getDouble(1), r.getDouble(2), r.getDouble(3), r.getDouble(4))).toMap
    assert(ours.keySet == builtin.keySet)
    for ((k, (c, cv, sx, sy)) <- ours) {
      val (bc, bcv, bsx, bsy) = builtin(k)
      def close(a: Double, b: Double) = math.abs(a - b) <= 1e-4 * (1.0 + math.abs(b))
      assert(close(c, bc) && close(cv, bcv) && close(sx, bsx) && close(sy, bsy),
        s"$k: ($c,$cv,$sx,$sy) vs builtin ($bc,$bcv,$bsx,$bsy)")
    }
  }

  test("q_moving_avg equals the brute-force trailing-hour self-join") {
    val ev = Tables.events(spark, sf)
      .select(col("event_id"), col("event_type"),
        expr("unix_micros(ts)").as("tsu"), col("value"))
    val brute = ev.as("a").join(ev.as("b"),
        col("a.event_type") === col("b.event_type") &&
          col("b.tsu") >= col("a.tsu") - 3600000000L &&
          col("b.tsu") <= col("a.tsu"))
      .groupBy(col("a.event_id").as("event_id"))
      .agg(count(lit(1)).as("bn"), avg(col("b.value")).as("bavg"))
    val joined = WarehouseQueries.movingAvg(spark, sf)
      .join(brute, "event_id").collect()
    assert(joined.nonEmpty)
    joined.foreach { r =>
      assert(r.getAs[Long]("n_win") == r.getAs[Long]("bn"),
        s"event ${r.getAs[Long]("event_id")}: frame row count mismatch")
      assert(math.abs(r.getAs[Double]("win_avg") - r.getAs[Double]("bavg")) <= 1e-5,
        s"event ${r.getAs[Long]("event_id")}: avg mismatch")
    }
  }

  test("upsert: updates win on collision, row count preserved, partitions prune") {
    import spark.implicits._
    val existing = Seq((1L, "a", 1), (2L, "b", 1), (3L, "c", 2)).toDF("k", "v", "p")
    val updates = Seq((2L, "B", 1)).toDF("k", "v", "p")
    val merged = graft.operators.Upsert.mergeByKey(existing, updates, Seq("k"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(merged == Map(1L -> "a", 2L -> "B", 3L -> "c"))
  }

  test("scdType2: closes changed versions, no-ops identical changes, opens new keys, keeps history") {
    import spark.implicits._
    val dim = Seq(
      (1L, "a", "2020-01-01", "2021-01-01"), // closed history row
      (1L, "b", "2021-01-01", null),         // current, attrs will change
      (2L, "x", "2020-01-01", null),         // current, identical change: no-op
      (3L, "z", "2020-01-01", null)          // current, no change row at all
    ).toDF("k", "v", "valid_from", "valid_to")
    val changes = Seq((1L, "c"), (2L, "x"), (9L, "new")).toDF("k", "v")
    val out = graft.operators.Upsert
      .scdType2(dim, changes, Seq("k"), Seq("v"), "2022-06-01")
    val rows = out.collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2), Option(r.getString(3)))).toSet
    assert(rows == Set(
      (1L, "a", "2020-01-01", Some("2021-01-01")), // history untouched
      (1L, "b", "2021-01-01", Some("2022-06-01")), // closed at effective date
      (1L, "c", "2022-06-01", None),               // new open version
      (2L, "x", "2020-01-01", None),               // no-op change: still open
      (3L, "z", "2020-01-01", None),               // untouched key
      (9L, "new", "2022-06-01", None)),            // brand-new key opens
      s"got $rows")
    // invariant: exactly one open version per key
    val open = out.filter(col("valid_to").isNull).groupBy("k").count()
      .filter(col("count") > 1).count()
    assert(open == 0, "key with more than one open version")
  }

  test("pkViolations finds planted duplicates and is empty on a clean table") {
    import spark.implicits._
    val clean = Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("k", "v")
    assert(graft.operators.Upsert.pkViolations(clean, Seq("k")).count() == 0)
    val dirty = clean.unionAll(Seq((2L, "B"), (2L, "BB")).toDF("k", "v"))
    val got = graft.operators.Upsert.pkViolations(dirty, Seq("k"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(2L -> 3L), s"violations were $got")
    // composite keys: only the full tuple counts as a violation
    val comp = Seq((1L, 1, "x"), (1L, 2, "y"), (1L, 2, "z")).toDF("k", "sub", "v")
    val gotComp = graft.operators.Upsert.pkViolations(comp, Seq("k", "sub"))
      .collect().map(r => (r.getLong(0), r.getInt(1)) -> r.getLong(2)).toMap
    assert(gotComp == Map((1L, 2) -> 2L), s"composite violations were $gotComp")
  }

  test("mergeByKey rejects a duplicate-key update feed; preValidated opts out") {
    import spark.implicits._
    val existing = Seq((1L, "a")).toDF("k", "v")
    val dupUpdates = Seq((1L, "b"), (1L, "c")).toDF("k", "v")
    def messages(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ messages(t.getCause)
    val e = intercept[Throwable] {
      graft.operators.Upsert.mergeByKey(existing, dupUpdates, Seq("k")).collect()
    }
    assert(messages(e).exists(m =>
      m.contains("duplicate update rows") && m.contains("(k)=(1)")),
      s"wrong failure: ${messages(e)}")
    // opt-out keeps the old (caller-owns-it) behavior
    assert(graft.operators.Upsert
      .mergeByKey(existing, dupUpdates, Seq("k"), preValidated = true).count() == 2)
    // scdType2's opt-out skips its probe the same way
    val dim = Seq((1L, "a", "2020-01-01", null.asInstanceOf[String]))
      .toDF("k", "v", "valid_from", "valid_to")
    val cleanChanges = Seq((1L, "c")).toDF("k", "v")
    assert(graft.operators.Upsert.scdType2(
      dim, cleanChanges, Seq("k"), Seq("v"), "2022-06-01", preValidated = true)
      .count() == 2)
  }

  test("q_approx_percentile: exact columns match the data, every bound flag TRUE") {
    // the bracketing now lives IN the query (r17 bound-checked gate):
    // med_ok/q1_ok/q3_ok assert the sketch value sits between the
    // exact percentiles at p ± 50/accuracy. Here: all flags true, and
    // the exact columns re-derive from a driver-side sort
    val rows = WarehouseQueries.approxPercentiles(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getBoolean(4) && r.getBoolean(5) && r.getBoolean(6),
        s"bound flag false for ${r.get(0)}: $r")
    }
    val li = Tables.lineitem(spark, sf).select("l_returnflag", "l_quantity", "l_extendedprice")
      .collect().map(r => (r.getString(0), r.getDouble(1), r.getDouble(2)))
    def cont(vals: Seq[Double], p: Double): Double = {
      val s = vals.sorted
      val pos = p * (s.size - 1)
      val lo = s(math.floor(pos).toInt); val hi = s(math.ceil(pos).toInt)
      lo + (pos - math.floor(pos)) * (hi - lo)
    }
    rows.foreach { r =>
      val group = li.filter(_._1 == r.getString(0))
      // output is round(exact, 4): agree within the rounding step
      assert(math.abs(r.getDouble(1) - cont(group.map(_._2).toSeq, 0.5)) < 1.1e-4, r.toString)
      assert(math.abs(r.getDouble(2) - cont(group.map(_._3).toSeq, 0.25)) < 1.1e-4, r.toString)
      assert(math.abs(r.getDouble(3) - cont(group.map(_._3).toSeq, 0.75)) < 1.1e-4, r.toString)
    }
  }

  test("scdType2 fails loudly on duplicate keys in one change batch") {
    import spark.implicits._
    val dim = Seq((1L, "a", "2020-01-01", null.asInstanceOf[String]))
      .toDF("k", "v", "valid_from", "valid_to")
    val changes = Seq((1L, "c"), (1L, "d")).toDF("k", "v")
    val e = intercept[Throwable] {
      graft.operators.Upsert.scdType2(dim, changes, Seq("k"), Seq("v"), "2022-06-01").collect()
    }
    def messages(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ messages(t.getCause)
    assert(messages(e).exists(_.contains("duplicate change rows")),
      s"wrong failure: ${messages(e)}")
    // duplicate BRAND-NEW keys must trip the guard too (the anti-join
    // branch must not prune it away)
    val dimOther = Seq((5L, "z", "2020-01-01", null.asInstanceOf[String]))
      .toDF("k", "v", "valid_from", "valid_to")
    val eNew = intercept[Throwable] {
      graft.operators.Upsert.scdType2(dimOther, changes, Seq("k"), Seq("v"), "2022-06-01").collect()
    }
    assert(messages(eNew).exists(_.contains("duplicate change rows")),
      s"brand-new dup slipped through: ${messages(eNew)}")
  }

  test("rangeJoin: binned equi-join equals the nested-loop join; no BNLJ in the query plan") {
    import spark.implicits._
    // points cover bin boundaries, negatives, and a null position
    val pts = ((-5L +: (0L to 60L)).map(p => (Option(p), s"p$p")) :+
      (Option.empty[Long], "pnull")).toDF("pos", "pid")
    val ivs = Seq(
      (1L, Option(5L), Option(5L)),   // zero-width, mid-bin
      (2L, Option(9L), Option(10L)),  // straddles a bin boundary
      (3L, Option(0L), Option(39L)),  // spans four bins
      (4L, Option(20L), Option(10L)), // inverted: matches nothing
      (5L, Option(58L), Option(70L)), // runs past the point domain
      (6L, Option(61L), Option(99L)), // entirely outside
      (7L, Option(30L), Option(30L)), // boundary == boundary
      (8L, Option.empty[Long], Option(9L)), // null bound: matches nothing
      (9L, Option(-7L), Option(-3L))  // negative coordinates
    ).toDF("iid", "istart", "iend")
    val binned = graft.operators.Joins.rangeJoin(pts, "pos", ivs, "istart", "iend", binSize = 10)
    val naive = pts.crossJoin(ivs)
      .filter(col("pos") >= col("istart") && col("pos") <= col("iend"))
    def pairs(df: org.apache.spark.sql.DataFrame): Seq[(String, Long)] =
      df.select("pid", "iid").as[(String, Long)].collect().sorted.toSeq
    val got = pairs(binned)
    assert(got == pairs(naive))
    assert(got.contains(("p-5", 9L)) && got.contains(("p30", 7L)))
    assert(!got.exists(_._2 == 4L) && !got.exists(_._2 == 8L) && !got.exists(_._1 == "pnull"))
    val plan = WarehouseQueries.rangeJoinQuery(spark, sf).queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoop") && !plan.contains("CartesianProduct"),
      "range join fell back to a nested-loop plan")
  }

  test("profile: exact null/distinct/min/max; approx mode avoids the multi-distinct Expand") {
    import spark.implicits._
    val df = Seq((Some(1.0), Some("a")), (Some(1.0), Some("b")),
      (Some(2.0), None), (None, Some("a"))).toDF("x", "y")
    val p = graft.operators.Profile.profile(df, Seq("x")).head()
    assert(p.getString(0) == "x" && p.getLong(1) == 4L && p.getLong(2) == 1L &&
      p.getLong(3) == 2L && p.getDouble(4) == 1.0 && p.getDouble(5) == 2.0)
    val exactPlan = graft.operators.Profile.profile(df, Seq("x", "y"))
      .queryExecution.executedPlan.toString
    val approxPlan = graft.operators.Profile.profile(df, Seq("x", "y"), exact = false)
      .queryExecution.executedPlan.toString
    assert(exactPlan.contains("Expand"), "exact multi-distinct should plan Expand")
    assert(!approxPlan.contains("Expand"), "approx mode must not replicate input via Expand")
  }

  test("retention buckets users by first-seen week; chatty users count once") {
    import spark.implicits._
    val wk = 604800000L // ms per 7-day bucket
    val ts = (week: Int, h: Int) => new java.sql.Timestamp(week * wk + h * 3600000L)
    val ev = Seq(
      (1L, ts(0, 1)), (1L, ts(0, 5)), (1L, ts(1, 2)), // cohort 0, active wk 0+1 (twice in wk0)
      (2L, ts(0, 2)),                                  // cohort 0, wk 0 only
      (3L, ts(1, 1)), (3L, ts(3, 1))                   // cohort 1, active offsets 0 and 2
    ).toDF("user_id", "ts")
    val first = ev.select(col("user_id"),
        expr("unix_micros(ts) div 604800000000").as("wk"))
      .groupBy("user_id").agg(min("wk").as("cohort_week"))
    val active = ev.select(col("user_id"),
        expr("unix_micros(ts) div 604800000000").as("wk"))
      .join(first, "user_id")
      .select(col("user_id"), col("cohort_week"),
        (col("wk") - col("cohort_week")).as("week_offset"))
      .distinct()
    val rows = active.groupBy("cohort_week", "week_offset")
      .agg(count(lit(1)).as("n_active"))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(rows == Map((0L, 0L) -> 2L, (0L, 1L) -> 1L, (1L, 0L) -> 1L, (1L, 2L) -> 1L))
  }

  test("funnel counts only ORDERED view->click->purchase progressions") {
    import spark.implicits._
    val ts = (s: Int) => new java.sql.Timestamp(1700000000000L + s * 1000L)
    val ev = Seq(
      // user 1: full ordered funnel
      (1L, ts(1), 10L, "view"), (1L, ts(2), 11L, "click"), (1L, ts(3), 12L, "purchase"),
      // user 2: click BEFORE the first view — click must not count
      (2L, ts(1), 20L, "click"), (2L, ts(2), 21L, "view"),
      // user 3: purchase before any qualified click — only view counts
      (3L, ts(1), 30L, "view"), (3L, ts(2), 31L, "purchase"), (3L, ts(3), 32L, "click"),
      // user 4: no view at all
      (4L, ts(1), 40L, "purchase"), (4L, ts(2), 41L, "click"),
      // user 5: late but complete (click after 2nd view, purchase last)
      (5L, ts(1), 50L, "click"), (5L, ts(2), 51L, "view"),
      (5L, ts(3), 52L, "click"), (5L, ts(4), 53L, "purchase")
    ).toDF("user_id", "ts", "event_id", "event_type")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id").orderBy("ts", "event_id")
    val staged = ev
      .withColumn("t_view", min(when(col("event_type") === "view", col("ts"))).over(w))
      .withColumn("t_click", min(when(col("event_type") === "click" &&
        col("ts") >= col("t_view"), col("ts"))).over(w))
    val r = staged.groupBy("user_id")
      .agg(
        max(when(col("t_view").isNotNull, 1).otherwise(0)).as("s1"),
        max(when(col("t_click").isNotNull, 1).otherwise(0)).as("s2"),
        max(when(col("event_type") === "purchase" && col("ts") >= col("t_click"), 1)
          .otherwise(0)).as("s3"))
      .agg(sum("s1"), sum("s2"), sum("s3"))
      .head()
    // views: users 1,2,3,5 = 4; ordered clicks: 1,3,5 = 3 (user 2's
    // click precedes its view); full funnel: 1,5 = 2 (user 3 bought
    // before any qualified click)
    assert((r.getLong(0), r.getLong(1), r.getLong(2)) == ((4L, 3L, 2L)))
  }

  test("N-step funnel: 4-step fixture hand-computed; 3-step form equals the inline construction") {
    import spark.implicits._
    val ts = (s: Int) => new java.sql.Timestamp(1700000000000L + s * 1000L)
    val ev = Seq(
      // u1: the full ordered 4-step funnel
      (1L, ts(1), 10L, "view"), (1L, ts(2), 11L, "click"),
      (1L, ts(3), 12L, "signup"), (1L, ts(4), 13L, "purchase"),
      // u2: purchase BEFORE signup — reaches step 3 (late signup), not 4
      (2L, ts(1), 20L, "view"), (2L, ts(2), 21L, "click"),
      (2L, ts(3), 22L, "purchase"), (2L, ts(4), 23L, "signup"),
      // u3: signup precedes its qualified click — stops at step 2
      (3L, ts(1), 30L, "signup"), (3L, ts(2), 31L, "view"),
      (3L, ts(3), 32L, "click"), (3L, ts(4), 33L, "purchase"),
      // u4: click with no view at all — reaches nothing
      (4L, ts(1), 40L, "click")
    ).toDF("user_id", "ts", "event_id", "event_type")
    val r = graft.operators.Funnel
      .funnel(ev, Seq("view", "click", "signup", "purchase")).head()
    assert((r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)) ==
      ((3L, 3L, 2L, 1L)),
      s"4-step cumulative reach wrong: $r")
    // dropping the signup events turns u3 into a full 3-step conversion
    // (view@2 → click@3 → purchase@4): the step list drives semantics
    val ev3 = ev.filter(col("event_type") =!= "signup")
    val r3 = graft.operators.Funnel.funnel(ev3, Seq("view", "click", "purchase")).head()
    assert((r3.getLong(0), r3.getLong(1), r3.getLong(2)) == ((3L, 3L, 3L)),
      s"3-step reach wrong: $r3")
    // conversion window, events 1s apart: a 500ms gap cuts every later
    // step; 1500ms admits the 1s hops but still cuts u1, whose purchase
    // sits 2s after its click (the removed signup used to sit between) —
    // the upper bound binds PER STEP against the qualified predecessor
    val rTight = graft.operators.Funnel
      .funnel(ev3, Seq("view", "click", "purchase"), maxGap = Some("500 milliseconds")).head()
    assert((rTight.getLong(0), rTight.getLong(1), rTight.getLong(2)) == ((3L, 0L, 0L)),
      s"tight-gap funnel wrong: $rTight")
    val rLoose = graft.operators.Funnel
      .funnel(ev3, Seq("view", "click", "purchase"), maxGap = Some("1500 milliseconds")).head()
    assert((rLoose.getLong(0), rLoose.getLong(1), rLoose.getLong(2)) == ((3L, 3L, 2L)),
      s"loose-gap funnel wrong: $rLoose")
  }

  test("bloomJoin equals the plain join: string keys, null keys, no dropped matches") {
    import spark.implicits._
    val fact = Seq(("a", 1), ("b", 2), ("c", 3), (null, 4), ("d", 5), ("a", 6))
      .toDF("fk", "fv")
    val dim = Seq(("a", "x"), ("c", "y"), (null, "z")).toDF("dk", "dv")
    val got = graft.operators.Joins.bloomJoin(fact, dim, "fk", "dk")
      .select("fk", "fv", "dv").as[(String, Int, String)].collect().toSet
    val want = fact.join(dim, col("fk") === col("dk"))
      .select("fk", "fv", "dv").as[(String, Int, String)].collect().toSet
    assert(got == want && want == Set(("a", 1, "x"), ("a", 6, "x"), ("c", 3, "y")))
  }

  test("bloomJoin with an EMPTY dim returns empty without crashing") {
    import spark.implicits._
    val fact = Seq((1L, "a"), (2L, "b")).toDF("k", "v")
    val dim = Seq((9L, "x")).toDF("dk", "dv").filter(col("dk") < 0)
    assert(graft.operators.Joins.bloomJoin(fact, dim, "k", "dk").count() == 0)
  }

  test("bloom semi filter prunes non-matching fact rows within the fpp bound, drops no match") {
    val fact = spark.range(10000).select(col("id").as("k"))
    val dim = spark.range(100).select((col("id") * 100).as("k"))
    val bytes = graft.operators.Joins.keyBloom(dim, "k")
    val kept = graft.operators.Joins.bloomSemiFilter(fact, "k", bytes)
    // every true match survives (no false negatives by construction)...
    assert(kept.filter(col("k") % 100 === 0).count() == 100)
    // ...and the false-positive residue stays near fpp=1% of the 9,900
    // non-matching rows (loose 4x headroom against hash luck)
    val n = kept.count()
    assert(n >= 100 && n <= 100 + 400, s"bloom kept $n of 10000 rows")
  }

  test("broadcast-variable bloom probe: identical keep-set to the embedded-bytes probe") {
    val fact = spark.range(10000).select(col("id").as("k"))
    val dim = spark.range(100).select((col("id") * 100).as("k"))
    val bf = graft.operators.Joins.keyBloomFilter(dim, "k")
    val bytes = graft.operators.Joins.keyBloom(dim, "k")
    val bcast = spark.sparkContext.broadcast(bf)
    try {
      val viaBcast = graft.operators.Joins.bloomSemiFilterBroadcast(fact, "k", bcast)
        .collect().map(_.getLong(0)).toSet
      val viaBytes = graft.operators.Joins.bloomSemiFilter(fact, "k", bytes)
        .collect().map(_.getLong(0)).toSet
      assert(viaBcast == viaBytes,
        "broadcast probe diverged from the embedded-bytes probe")
      assert((0L until 100L).map(_ * 100).forall(viaBcast.contains),
        "broadcast probe dropped a true match")
    } finally bcast.destroy()
  }

  test("profile survives hostile column names (dots, spaces, hyphens, quotes, backticks)") {
    import spark.implicits._
    val df = Seq((1.0, 2.0, 3.0, 4.0), (5.0, 6.0, 7.0, 8.0))
      .toDF("a.b", "c d", "e-f'g", "h`i")
    val p = graft.operators.Profile.profile(df, Seq("a.b", "c d", "e-f'g", "h`i"))
      .collect().map(r => r.getString(0) -> (r.getLong(2), r.getLong(3),
        r.getDouble(4), r.getDouble(5))).toMap
    assert(p.keySet == Set("a.b", "c d", "e-f'g", "h`i"))
    assert(p("a.b") == ((0L, 2L, 1.0, 5.0)), s"wrong stats for dotted column: $p")
    assert(p("h`i") == ((0L, 2L, 4.0, 8.0)), s"wrong stats for backtick column: $p")
  }

  test("q_bloom_join applies the bloom probe AT the fact scan, below the join") {
    // the reduction only pays off if the probe runs before any
    // shuffle/join moves fact rows — the strongest form is the filter
    // landing in the scan node's DataFilters, which also guarantees it
    // sits under whatever exchange EnsureRequirements adds later
    val sp = WarehouseQueries.bloomJoinQuery(spark, sf).queryExecution.sparkPlan
    val factScans = sp.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec
        if f.toString.contains("lineitem") => f.toString
    }
    assert(factScans.nonEmpty, s"no lineitem scan found:\n$sp")
    assert(factScans.exists(_.contains("bloom_might_contain")),
      s"bloom probe not applied at the fact scan:\n$sp")
  }

  test("rangeJoin: a pathologically wide interval fails fast, naming its bounds") {
    import spark.implicits._
    val pts = Seq((5L, "p5")).toDF("pos", "pid")
    // 1e12-wide corrupt interval at binSize=1: unguarded, sequence()
    // would try to materialize a trillion-element array per row
    val ivs = Seq((1L, 3L, 7L), (2L, 0L, 1000000000000L)).toDF("iid", "istart", "iend")
    val e = intercept[Exception] {
      graft.operators.Joins.rangeJoin(pts, "pos", ivs, "istart", "iend", binSize = 1).collect()
    }
    val msgs = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .map(_.getMessage).mkString("\n")
    assert(msgs.contains("1000000000000") && msgs.contains("maxBinsPerInterval"),
      s"error does not name the offending interval:\n$msgs")
    // healthy intervals under a raised cap still join fine
    val ok = graft.operators.Joins.rangeJoin(
      pts, "pos", ivs.filter(col("iid") === 1L), "istart", "iend", binSize = 1)
    assert(ok.count() == 1)
    // the heuristic derives a sane bin from the interval widths
    val sug = graft.operators.Joins.suggestedBinSize(
      Seq((0L, 9L), (10L, 19L), (0L, 99L)).toDF("istart", "iend"), "istart", "iend")
    assert(sug == 10L, s"median-width binSize heuristic off: $sug")
  }

  test("rangeJoin equi-keys keep chromosomes apart") {
    import spark.implicits._
    val pts = Seq((1L, 5L), (2L, 5L)).toDF("chr", "pos")
    val ivs = Seq((1L, 0L, 9L, "w1"), (2L, 0L, 9L, "w2")).toDF("ichr", "istart", "iend", "win")
    val out = graft.operators.Joins.rangeJoin(pts, "pos", ivs, "istart", "iend", 4,
      keys = Seq(("chr", "ichr")))
      .select("chr", "win").as[(Long, String)].collect().toSet
    assert(out == Set((1L, "w1"), (2L, "w2")))
  }

  test("Percentiles.exact matches the built-in aggregate on ties, all-null groups, p=0/p=1") {
    import spark.implicits._
    val df = Seq(
      ("a", Option(1.0)), ("a", Option(2.0)), ("a", Option(2.0)), ("a", Option(10.0)),
      ("b", Option(5.0)),
      ("c", Option.empty[Double]), ("c", Option.empty[Double]),
      ("d", Option(3.0)), ("d", Option.empty[Double]), ("d", Option(7.0))
    ).toDF("g", "v")
    val ps = Seq(("p0", 0.0), ("p25", 0.25), ("p50", 0.5), ("p75", 0.75), ("p100", 1.0))
    val ours = graft.operators.Percentiles.exact(df, "g", "v", ps).orderBy("g").collect()
    val builtin = df.groupBy("g")
      .agg(ps.map { case (n, p) => expr(s"percentile(v, $p)").as(n) }.head,
        ps.map { case (n, p) => expr(s"percentile(v, $p)").as(n) }.tail: _*)
      .orderBy("g").collect()
    assert(ours.length == builtin.length, "group sets differ (all-null group dropped?)")
    ours.zip(builtin).foreach { case (o, b) =>
      assert(o.getString(0) == b.getString(0))
      (1 to ps.length).foreach { i =>
        if (b.isNullAt(i)) assert(o.isNullAt(i), s"group ${o.getString(0)} col $i: expected null")
        else assert(math.abs(o.getDouble(i) - b.getDouble(i)) < 1e-9,
          s"group ${o.getString(0)} col $i: ${o.getDouble(i)} vs ${b.getDouble(i)}")
      }
    }
  }

  test("Percentiles.exactMulti spans value columns and keeps spec order") {
    import spark.implicits._
    val df = Seq((1, 10.0, 100.0), (1, 20.0, 200.0), (2, 5.0, 50.0))
      .toDF("g", "x", "y")
    val out = graft.operators.Percentiles.exactMulti(df, "g",
      Seq(("x_med", "x", 0.5), ("y_max", "y", 1.0), ("x_min", "x", 0.0)))
    assert(out.columns.toSeq == Seq("g", "x_med", "y_max", "x_min"))
    val rows = out.orderBy("g").collect()
      .map(r => (r.getInt(0), r.getDouble(1), r.getDouble(2), r.getDouble(3)))
    assert(rows.toSeq == Seq((1, 15.0, 200.0, 10.0), (2, 5.0, 50.0, 5.0)))
  }

  test("q_percentile plans the histogram shape, not the map-buffer percentile aggregate") {
    val plan = WarehouseQueries.percentiles(spark, sf)
      .queryExecution.executedPlan.toString
    assert(!plan.toLowerCase.contains("percentile"),
      s"built-in percentile aggregate back in the plan:\n$plan")
    assert(!plan.contains("ObjectHashAggregate"),
      s"object-hash (map-buffer) aggregate in the plan:\n$plan")
  }

  test("q3_join_agg broadcasts the filtered customer dim") {
    val plan = WarehouseQueries.q3JoinAgg(spark, sf)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), s"no broadcast join:\n$plan")
  }

  test("q_top-k queries plan as TakeOrderedAndProject (no global sort)") {
    val plan = WarehouseQueries.q3JoinAgg(spark, sf)
      .queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"), s"limit not fused with sort:\n$plan")
  }

  test("expectations: NULL predicates count as violations, tags keep declaration order") {
    import spark.implicits._
    import graft.operators.Check
    val df = Seq[(Long, java.lang.Double, String)](
      (1L, 5.0, "ok"), (2L, null, "ok"), (3L, -1.0, null), (4L, 2.0, "ok"))
      .toDF("id", "v", "s")
    val rules = Seq(
      "v_pos" -> (col("v") > 0), // null v -> NULL -> violation
      "s_ok" -> (col("s") === "ok"))
    val audit = Check.audit(df, rules).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(audit == Map("v_pos" -> ((4L, 2L)), "s_ok" -> ((4L, 1L))), audit.toString)
    val q = Check.quarantine(df, rules).select("id", "failed_rules")
      .as[(Long, String)].collect().toMap
    // row 3 fails BOTH: tags joined in declaration order; row 1/4 absent
    assert(q == Map(2L -> "v_pos", 3L -> "v_pos,s_ok"), q.toString)
    // audit is one global aggregate — no shuffle-by-key stage
    val plan = Check.audit(df, rules).queryExecution.executedPlan.toString
    assert(!plan.contains("hashpartitioning"), s"audit should not shuffle by key:\n$plan")
  }

  test("q_attribution credits first and last preceding touch, hand fixture") {
    import spark.implicits._
    val ts = (s: Int) => new java.sql.Timestamp(1700000000000L + s * 1000L)
    // user 1: view -> click -> purchase(10) -> purchase(20)
    //   first touch both purchases: view; last touch: click for both
    // user 2: purchase with no preceding event -> unattributed, dropped
    // user 3: signup -> purchase(5): signup is both first and last
    val ev = Seq(
      (1L, ts(1), 1L, "view", 0.0), (2L, ts(2), 1L, "click", 0.0),
      (3L, ts(3), 1L, "purchase", 10.0), (4L, ts(4), 1L, "purchase", 20.0),
      (5L, ts(1), 2L, "purchase", 99.0),
      (6L, ts(1), 3L, "signup", 0.0), (7L, ts(2), 3L, "purchase", 5.0))
      .toDF("event_id", "ts", "user_id", "event_type", "value")
    val out = graft.queries.WarehouseQueries.attributionOf(ev).collect()
      .map(r => r.getString(0) ->
        ((r.getLong(1), r.getDouble(2), r.getLong(3), r.getDouble(4)))).toMap
    assert(out == Map(
      "view" -> ((2L, 30.0, 0L, 0.0)),
      "click" -> ((0L, 0.0, 2L, 30.0)),
      "signup" -> ((1L, 5.0, 1L, 5.0))), out.toString)
  }

  test("q_attribution models agree on totals (sf0.001)") {
    val out = WarehouseQueries.attribution(spark, sf)
    val t = out.agg(sum("n_first"), sum("n_last"),
      sum("rev_first"), sum("rev_last")).head()
    // every attributed purchase is credited once under EACH model
    assert(t.getLong(0) == t.getLong(1))
    assert(math.abs(t.getDouble(2) - t.getDouble(3)) < 1e-6)
    assert(!out.select("channel").as[String](org.apache.spark.sql.Encoders.STRING)
      .collect().contains("purchase"))
  }

  test("q_debounce keeps the first of a burst and re-admits after the gap") {
    import spark.implicits._
    val ts = (s: Long) => new java.sql.Timestamp(1700000000000L + s * 1000L)
    val gapUs = 60L * 1000000L // 1 min for the fixture
    // user 1 clicks at 0s, 30s (dropped), 59s (dropped: 59s after the
    // PREVIOUS event at 30s is 29s — lag semantics, not anchor), 120s
    // (kept); a view at 10s is its own key and survives
    val ev = Seq(
      (1L, ts(0), 1L, "click", 0.0), (2L, ts(30), 1L, "click", 0.0),
      (3L, ts(59), 1L, "click", 0.0), (4L, ts(120), 1L, "click", 0.0),
      (5L, ts(10), 1L, "view", 0.0))
      .toDF("event_id", "ts", "user_id", "event_type", "value")
    val kept = graft.queries.WarehouseQueries.debounceOf(ev, gapUs)
      .select("event_id").as[Long].collect().toSet
    assert(kept == Set(1L, 4L, 5L), kept.toString)
  }

  test("q_transitions: hand fixture counts and integer-ppm rows") {
    import spark.implicits._
    val ts = (s: Int) => new java.sql.Timestamp(1700000000000L + s * 1000L)
    // user 1: view -> click -> view; user 2: view -> click
    // transitions: view->click ×2, click->view ×1
    val ev = Seq(
      (1L, ts(1), 1L, "view", 0.0), (2L, ts(2), 1L, "click", 0.0),
      (3L, ts(3), 1L, "view", 0.0),
      (4L, ts(1), 2L, "view", 0.0), (5L, ts(2), 2L, "click", 0.0))
      .toDF("event_id", "ts", "user_id", "event_type", "value")
    val out = graft.queries.WarehouseQueries.transitionsOf(ev).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3)))
    assert(out.toSeq == Seq(
      ("click", "view", 1L, 1000000L),
      ("view", "click", 2L, 1000000L)), out.mkString(", "))
  }

  test("q_transitions rows are per-cur ppm partitions of ~1e6 (sf0.001)") {
    val out = WarehouseQueries.transitions(spark, sf)
    // per-cur ppm sums land within |types| of 1e6 (floor-division slack)
    val sums = out.groupBy("cur")
      .agg(sum("p_ppm").as("s"), count(org.apache.spark.sql.functions.lit(1)).as("k"))
      .collect()
    sums.foreach { r =>
      val s = r.getLong(1); val k = r.getLong(2)
      assert(s <= 1000000L && s > 1000000L - k, s"cur=${r.getString(0)} s=$s k=$k")
    }
  }

  test("q_regression matches the builtin regr_slope/regr_intercept/regr_r2") {
    val ours = WarehouseQueries.regression(spark, sf).collect()
      .map(r => r.getString(0) -> (r.getDouble(2), r.getDouble(3), r.getDouble(4)))
      .toMap
    val builtin = Tables.lineitem(spark, sf).groupBy("l_returnflag")
      .agg(
        regr_slope(col("l_extendedprice"), col("l_quantity")).as("s"),
        regr_intercept(col("l_extendedprice"), col("l_quantity")).as("i"),
        regr_r2(col("l_extendedprice"), col("l_quantity")).as("r"))
      .collect()
      .map(r => r.getString(0) -> (r.getDouble(1), r.getDouble(2), r.getDouble(3)))
      .toMap
    assert(ours.keySet == builtin.keySet)
    for ((k, (s, i, r2)) <- ours) {
      val (bs, bi, br) = builtin(k)
      def close(a: Double, b: Double) = math.abs(a - b) <= 1e-4 * (1.0 + math.abs(b))
      assert(close(s, bs) && close(i, bi) && close(r2, br),
        s"$k: ($s,$i,$r2) vs builtin ($bs,$bi,$br)")
    }
  }

  test("assoc rules on a hand-computed basket fixture") {
    import spark.implicits._
    // baskets: {A,B,C} {A,B} {A,C} {B,C} {A} — pairs: AB=2 AC=2 BC=2;
    // item counts: A=4 B=3 C=3; N=5
    val baskets = Seq(
      (1, "A"), (1, "B"), (1, "C"),
      (2, "A"), (2, "B"),
      (3, "A"), (3, "C"),
      (4, "B"), (4, "C"),
      (5, "A")).toDF("b", "i")
    val out = graft.operators.Assoc.rules(baskets, "b", "i", minPairSupport = 2)
      .collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        (r.getLong(2), r.getDouble(3), r.getDouble(4), r.getDouble(5))).toMap
    assert(out.size == 6) // both directions of AB, AC, BC
    // conf(A→B) = 2/4 = 0.5; lift = 5*2/(4*3) = 0.833333
    assert(out(("A", "B")) == ((2L, 0.4, 0.5, 0.833333)))
    // conf(B→A) = 2/3; same lift (symmetric)
    assert(out(("B", "A")) == ((2L, 0.4, 0.666667, 0.833333)))
    // conf(B→C) = 2/3; lift = 5*2/(3*3) = 1.111111
    assert(out(("B", "C")) == ((2L, 0.4, 0.666667, 1.111111)))
  }

  test("skyline2 equals the brute-force NOT EXISTS frontier") {
    val in = Tables.part(spark, sf)
      .select(col("p_partkey"), col("p_retailprice"), col("p_size"))
    val ours = WarehouseQueries.skylineQuery(spark, sf)
      .select("p_partkey").collect().map(_.getLong(0)).toSet
    val p = in.as("p"); val q = in.as("q")
    val brute = p.join(q,
        col("q.p_retailprice") <= col("p.p_retailprice") &&
          col("q.p_size") >= col("p.p_size") &&
          (col("q.p_retailprice") < col("p.p_retailprice") ||
            col("q.p_size") > col("p.p_size")),
        "left_anti")
      .select("p_partkey").collect().map(_.getLong(0)).toSet
    assert(ours == brute, s"skyline mismatch: ours ${ours.size} brute ${brute.size}")
    assert(ours.nonEmpty)
    // frontier sanity: paying more must buy more — sorted by price,
    // size strictly increases (price ties can only co-exist at equal
    // size, else the smaller is dominated at the same price)
    val front = WarehouseQueries.skylineQuery(spark, sf)
      .select("p_retailprice", "p_size").collect()
      .map(r => (r.getDouble(0), r.getInt(1)))
    front.sliding(2).foreach {
      case Array((pr1, s1), (pr2, s2)) =>
        assert(pr1 <= pr2 && (if (pr1 == pr2) s1 == s2 else s1 < s2),
          s"staircase violated: ($pr1,$s1) then ($pr2,$s2)")
      case _ =>
    }
  }

  test("auc on a hand-computed fixture: ties average, perfect separation is 1, one-class is null") {
    import spark.implicits._
    // group g1: scores pos {3, 2}, neg {2, 1}. Ascending ranks with
    // average ties: 1 -> 1; the two 2s -> 2.5 each; 3 -> 4.
    // sum(pos ranks) = 2.5 + 4 = 6.5; U = 6.5 - 2*3/2 = 3.5;
    // auc = 3.5 / (2*2) = 0.875
    // group g2: perfect separation -> 1.0
    // group g3: positives only -> null (no ranking to score)
    val df = Seq(
      ("g1", 3.0, 1), ("g1", 2.0, 1), ("g1", 2.0, 0), ("g1", 1.0, 0),
      ("g2", 9.0, 1), ("g2", 8.0, 1), ("g2", 1.0, 0),
      ("g3", 5.0, 1), ("g3", 6.0, 1)
    ).toDF("g", "score", "label")
    val out = graft.operators.Stats.auc(df, "g", "score", "label")
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), Option(r.get(3)))).toMap
    assert(out("g1") == ((2L, 2L, Some(0.875))), out.toString)
    assert(out("g2") == ((2L, 1L, Some(1.0))), out.toString)
    assert(out("g3") == ((2L, 0L, None)), out.toString)
  }

  test("calibration on a hand-computed fixture: bins, clamps, the 1.0 edge") {
    import spark.implicits._
    // bin 0: scores .02 (pos), .04 (neg) -> mean .03, rate .5, gap .47
    // bin 9: score 1.0 clamps INTO bin 9 alongside .95 -> mean .975
    // out-of-range -0.5 clamps to bin 0 AND sums CLAMPED (0.0): the
    // bin mean stays inside the binning domain [0,1] —
    // bin 0 mean = (.02 + .04 + 0)/3 = .02
    val df = Seq((0.02, 1), (0.04, 0), (-0.5, 0), (0.95, 1), (1.0, 1))
      .toDF("score", "label")
    val out = graft.operators.Stats.calibration(df, "score", "label")
      .collect().map(r => r.getInt(0) ->
        (r.getLong(1), r.getDouble(2), r.getDouble(3), r.getDouble(4))).toMap
    assert(out.keySet == Set(0, 9), out.toString)
    assert(out(0) == ((3L, 0.02, 0.333333, 0.313333)), out.toString)
    assert(out(9) == ((2L, 0.975, 1.0, 0.025)), out.toString)
  }

  test("prCurve on a hand-computed fixture: cumulative counts, empty thresholds kept, null precision") {
    import spark.implicits._
    // bins 0/1/9 occupied; total positives = 2. Every threshold row
    // exists; prec is null where nothing is predicted positive.
    val df = Seq((0.05, 1), (0.15, 0), (0.95, 1)).toDF("score", "label")
    val out = graft.operators.Stats.prCurve(df, "score", "label")
      .collect().map(r => r.getDouble(0) ->
        ((r.getLong(1), r.getLong(2),
          Option(r.get(3)).map(_.asInstanceOf[Double]),
          Option(r.get(4)).map(_.asInstanceOf[Double]))))
      .toMap
    assert(out.size == 10, s"every threshold row must exist: ${out.keySet}")
    assert(out(0.0) == ((3L, 2L, Some(0.666667), Some(1.0))), out.toString)
    assert(out(0.1) == ((2L, 1L, Some(0.5), Some(0.5))), out.toString)
    assert(out(0.5) == ((1L, 1L, Some(1.0), Some(0.5))),
      "mid thresholds see only the top bin: " + out.toString)
    assert(out(0.9) == ((1L, 1L, Some(1.0), Some(0.5))), out.toString)
  }

  test("prCurve null scores: never predicted positive, but counted in the recall denominator") {
    import spark.implicits._
    // 2 scored rows (one positive) + 1 NULL-score positive. P = 2:
    // the unscored positive deflates recall at every threshold (the
    // corpus-honest denominator, r15 advice) yet never enters
    // predicted_pos/tp.
    val df = Seq((Some(0.95), 1), (Some(0.15), 0), (None, 1))
      .toDF("score", "label")
    val out = graft.operators.Stats.prCurve(df, "score", "label")
      .collect().map(r => r.getDouble(0) ->
        ((r.getLong(1), r.getLong(2),
          Option(r.get(4)).map(_.asInstanceOf[Double])))).toMap
    assert(out.size == 10, s"thresholds: ${out.keySet}")
    assert(out(0.0) == ((2L, 1L, Some(0.5))),
      "predicted_pos counts only SCORED rows; recall = 1/2: " + out.toString)
    assert(out(0.9) == ((1L, 1L, Some(0.5))), out.toString)
  }

  test("rankEval on a hand-computed fixture") {
    import spark.implicits._
    // query 1: items ranked a,b,c,d; rels a=2 (rank1), c=1 (rank3).
    // dcg = (2^2-1)/log2(2) + (2^1-1)/log2(4) = 3/1 + 1/2 = 3.5
    // ideal order: a(2), c(1): idcg = 3/1 + 1/log2(3) = 3 + 0.630930
    // ndcg = 3.5/3.630930 = 0.963940 ; mrr = 1 ; p@3 = 2/3
    val pred = Seq((1, "a", 1), (1, "b", 2), (1, "c", 3), (1, "d", 4))
      .toDF("query_id", "item_id", "rank")
    val truth = Seq((1, "a", 2), (1, "c", 1))
      .toDF("query_id", "item_id", "rel")
    val r = graft.operators.Stats.rankEval(pred, truth, k = 3).collect()(0)
    assert(math.abs(r.getDouble(1) - 0.963940) < 1e-5, s"ndcg ${r.getDouble(1)}")
    assert(r.getDouble(2) == 1.0)
    assert(math.abs(r.getDouble(3) - 0.666667) < 1e-6)
    // query with no relevant items at all: ndcg 0, mrr 0, p 0 — and
    // the truth-only query 1 (no predictions) must SURFACE with zeros
    // rather than vanish (dropping it would inflate averaged metrics)
    val pred2 = Seq((2, "x", 1)).toDF("query_id", "item_id", "rank")
    val truth2 = Seq((1, "x", 1)).toDF("query_id", "item_id", "rel")
    val rows2 = graft.operators.Stats.rankEval(pred2, truth2, k = 3).collect()
      .map(r => r.getInt(0) -> ((r.getDouble(1), r.getDouble(2), r.getDouble(3))))
      .toMap
    assert(rows2.keySet == Set(1, 2), s"queries missing: $rows2")
    assert(rows2(2) == ((0.0, 0.0, 0.0)))
    assert(rows2(1) == ((0.0, 0.0, 0.0)), "truth-only query must score zeros")
  }

  test("q_mad matches the builtin percentile median/MAD") {
    val li = Tables.lineitem(spark, sf)
    val medB = li.groupBy("l_returnflag")
      .agg(expr("percentile(l_extendedprice, 0.5)").as("m"))
    val ours = WarehouseQueries.madOutliers(spark, sf).collect()
      .map(r => r.getString(0) -> (r.getDouble(2), r.getDouble(3), r.getLong(4)))
      .toMap
    val builtinMed = medB.collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(ours.keySet == builtinMed.keySet)
    for ((k, (m, mad, nOut)) <- ours) {
      assert(math.abs(m - builtinMed(k)) < 1e-6, s"$k: median $m vs ${builtinMed(k)}")
      // MAD cross-check against the builtin percentile of |x - med|
      val madB = li.filter(col("l_returnflag") === k)
        .select(abs(col("l_extendedprice") - lit(builtinMed(k))).as("ad"))
        .agg(expr("percentile(ad, 0.5)")).head().getDouble(0)
      assert(math.abs(mad - madB) < 1e-6, s"$k: mad $mad vs $madB")
      // brute-force the beyond-k-MADs count with the cross-checked
      // median/MAD (uniform-ish prices may legitimately have zero)
      val nOutB = li.filter(col("l_returnflag") === k)
        .filter(abs(col("l_extendedprice") - lit(builtinMed(k))) > lit(3.0 * madB))
        .count()
      assert(nOut == nOutB, s"$k: n_outliers $nOut vs brute $nOutB")
    }
  }

  test("q_winsorize clips into the exact percentile band and leaves the interior alone") {
    val out = WarehouseQueries.winsorize(spark, sf)
    val bounds = graft.operators.Percentiles.exactMulti(
      Tables.lineitem(spark, sf), "l_returnflag",
      Seq(("lo", "l_extendedprice", 0.05), ("hi", "l_extendedprice", 0.95)))
      .collect().map(r => r.getString(0) -> ((r.getDouble(1), r.getDouble(2)))).toMap
    val rows = out.collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (lo, hi) = bounds(r.getString(2))
      val x = r.getDouble(3); val w = r.getDouble(4)
      assert(w >= math.min(lo, x) - 1e-6 && w <= math.max(hi, x) + 1e-6)
      if (x >= lo && x <= hi)
        assert(w == math.round(x * 1e6) / 1e6, s"interior value moved: $x -> $w")
      else assert(w == math.round(math.max(lo, math.min(hi, x)) * 1e6) / 1e6)
    }
  }

  test("q_share sums to exactly 1 across groups") {
    val shares = WarehouseQueries.revenueShare(spark, sf).collect()
    assert(shares.length == 3)
    val total = shares.map(_.getDouble(2)).sum
    assert(math.abs(total - 1.0) < 1e-5, s"shares sum to $total")
  }

  test("hllOverlap: planted 50% and 0% overlaps resolve, estimates within 5% of exact") {
    import spark.implicits._
    // A = 0..9999, B = 5000..14999: |A∩B| = 5000 exactly
    val a = (0L until 10000L).toDF("id")
    val b = (5000L until 15000L).toDF("id")
    val r = graft.operators.Sketches.hllOverlap(a, b, "id").collect()(0)
    val (ea, eb, eu, ei) = (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
    assert(math.abs(ea - 10000) <= 500 && math.abs(eb - 10000) <= 500)
    assert(math.abs(eu - 15000) <= 750, s"union $eu")
    // intersection error compounds (difference of estimates): 15%
    assert(math.abs(ei - 5000) <= 750, s"intersection $ei")
    // disjoint cohorts: intersection estimate collapses toward 0
    val c = (100000L until 110000L).toDF("id")
    val r0 = graft.operators.Sketches.hllOverlap(a, c, "id").collect()(0)
    assert(r0.getLong(3) <= 1000, s"disjoint overlap ${r0.getLong(3)}")
  }

  test("q_forecast: per-type MAE present, bounded by the day's peak hourly count") {
    val out = WarehouseQueries.forecastBacktest(spark, sf).collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    val types = Tables.events(spark, sf).select("event_type").distinct().count()
    assert(out.size == types)
    out.values.foreach(m => assert(m >= 0.0))
    // the seasonal-naive baseline cannot be worse than predicting the
    // whole day's events into one hour
    val maxHourly = Tables.events(spark, sf)
      .groupBy(col("event_type"),
        expr("unix_micros(ts) div 3600000000").as("h"))
      .count().agg(max("count")).head().getLong(0)
    out.values.foreach(m => assert(m <= maxHourly.toDouble))
  }

  test("madOutliers approx mode tracks exact within sketch tolerance, different plan") {
    val exact = graft.operators.Stats.madOutliers(
      Tables.lineitem(spark, sf), "l_returnflag", "l_extendedprice")
    val approx = graft.operators.Stats.madOutliers(
      Tables.lineitem(spark, sf), "l_returnflag", "l_extendedprice",
      exact = false)
    val e = exact.collect().map(r => r.getString(0) -> ((r.getDouble(2), r.getDouble(3)))).toMap
    val a = approx.collect().map(r => r.getString(0) -> ((r.getDouble(2), r.getDouble(3)))).toMap
    assert(e.keySet == a.keySet)
    for ((k, (em, emad)) <- e) {
      val (am, amad) = a(k)
      assert(math.abs(am - em) <= 0.01 * em, s"$k median: $am vs $em")
      assert(math.abs(amad - emad) <= 0.05 * emad, s"$k mad: $amad vs $emad")
    }
    // the scale path must actually be the sketch, not the histogram
    val ap = approx.queryExecution.executedPlan.toString
    assert(ap.contains("approx_percentile"), s"approx mode lost the sketch:\n$ap")
    val ep = exact.queryExecution.executedPlan.toString
    assert(!ep.contains("approx_percentile"))
  }

  test("scd2Lookup resolves each probe to exactly one validity window") {
    val out = WarehouseQueries.scd2Lookup(spark, sf).collect()
      .map(r => (r.getLong(0), r.getString(1)) -> ((r.getString(2), r.getDouble(3))))
    // two probes per changed key, each matched exactly once (no dup
    // rows from overlapping windows, no dropped probes)
    val keys = out.map(_._1)
    assert(keys.distinct.length == keys.length, "a probe matched 2+ versions")
    val byKey = out.toMap
    val changed = keys.map(_._1).distinct
    assert(changed.nonEmpty)
    changed.foreach { k =>
      val (preS, _) = byKey((k, "1994-01-01"))
      val (postS, _) = byKey((k, "1996-01-01"))
      assert(postS == "R", s"$k post-change status $postS")
      // pre-change rows keep the ORIGINAL status (may legitimately be
      // R already for some orders; the price check is the sharp one)
      val (_, prePrice) = byKey((k, "1994-01-01"))
      val (_, postPrice) = byKey((k, "1996-01-01"))
      assert(math.abs(postPrice - prePrice * 1.1) < 0.02 ||
        postPrice == prePrice, s"$k: $prePrice -> $postPrice")
      assert(preS != null)
    }
  }

  test("chiSquare on a hand-computed 2x2 fixture") {
    import spark.implicits._
    // 2x2: (a,x)=30 (a,y)=10 (b,x)=10 (b,y)=50; N=100
    // row a=40, b=60; col x=40, y=60
    // e(a,x)=16 -> contrib (30-16)^2/16 = 12.25
    // e(a,y)=24 -> (10-24)^2/24 = 8.166667
    // e(b,x)=24 -> (10-24)^2/24 = 8.166667
    // e(b,y)=36 -> (50-36)^2/36 = 5.444444
    val rows =
      Seq.fill(30)(("a", "x")) ++ Seq.fill(10)(("a", "y")) ++
      Seq.fill(10)(("b", "x")) ++ Seq.fill(50)(("b", "y"))
    val out = graft.operators.Stats.chiSquare(rows.toDF("f", "s"), "f", "s")
      .collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        (r.getLong(2), r.getDouble(3), r.getDouble(4))).toMap
    assert(out(("a", "x")) == ((30L, 16.0, 12.25)))
    assert(out(("a", "y")) == ((10L, 24.0, 8.166667)))
    assert(out(("b", "x")) == ((10L, 24.0, 8.166667)))
    assert(out(("b", "y")) == ((50L, 36.0, 5.444444)))
  }

  test("q_top_paths: paths cap at 5 steps, counts descend, step labels are event types") {
    val out = WarehouseQueries.topPaths(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1)))
    assert(out.nonEmpty && out.length <= 20)
    val types = Tables.events(spark, sf).select("event_type").distinct()
      .collect().map(_.getString(0)).toSet
    out.foreach { case (path, _) =>
      val steps = path.split(">")
      assert(steps.length <= 5, s"path too long: $path")
      assert(steps.forall(types), s"unknown step in: $path")
    }
    assert(out.map(_._2).sliding(2).forall(w => w.length < 2 || w(0) >= w(1)),
      "counts must be non-increasing")
  }

  test("q_funnel_latency: percentiles ordered, converters bounded by purchase users") {
    val r = WarehouseQueries.funnelLatency(spark, sf).collect()(0)
    val n = r.getLong(0); val p50 = r.getDouble(1); val p90 = r.getDouble(2)
    val purchasers = Tables.events(spark, sf)
      .filter(col("event_type") === "purchase")
      .select("user_id").distinct().count()
    assert(n > 0 && n <= purchasers)
    assert(p50 >= 0.0 && p90 >= p50, s"p50 $p50 p90 $p90")
  }

  test("q_debounce output is a subset and keeps one row per (user,type)") {
    val ev = Tables.events(spark, sf)
    val out = WarehouseQueries.debounce(spark, sf)
    assert(out.count() <= ev.count())
    // at least the first event of every (user, event_type) key survives
    val keys = ev.select("user_id", "event_type").distinct().count()
    assert(out.select("user_id", "event_type").distinct().count() == keys)
  }
}
