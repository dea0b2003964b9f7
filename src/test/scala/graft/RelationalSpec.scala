package graft

import org.apache.spark.sql.functions._

import graft.operators.Relational

class RelationalSpec extends SparkSuite {

  test("every declared query runs and returns a stable schema") {
    val (ran, threw) = PlanSig.everyQuery(spark, sf) { (_, df) =>
      df.count() // force execution
      df.columns.nonEmpty
    }
    val noColumns = ran.collect { case (name, false) => name }
    if (threw.nonEmpty || noColumns.nonEmpty) fail(
      s"threw (${threw.size}):\n${threw.mkString("\n")}\n" +
        s"no columns: ${noColumns.mkString(", ")}")
  }

  test("entry flagship returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("every oracleSql key has a matching query") {
    val missing = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(missing.isEmpty, s"oracle without query: $missing")
  }

  test("f1 range filter matches an independent count") {
    val rows = Relational.f1RangeFilter(spark, sf)
    val expected = Tables.lineitem(spark, sf)
      .filter(
        col("l_shipdate") >= "1996-01-01" && col("l_shipdate") < "1996-04-01"
          && col("l_discount") > 0.05)
      .count()
    assert(rows.count() == expected && expected > 0)
  }

  test("j2 left join keeps all customers") {
    val n = Relational.j2LeftJoinNullFill(spark, sf).count()
    assert(n == Tables.customer(spark, sf).count())
  }

  test("j3 semi + j4 anti partition orders/customers consistently") {
    val semi = Relational.j3SemiJoin(spark, sf).count()
    val totalOrders = Tables.orders(spark, sf).count()
    assert(semi <= totalOrders)
    val anti = Relational.j4AntiJoin(spark, sf).count()
    assert(anti <= Tables.customer(spark, sf).count())
  }

  test("a1 grouped agg: sums positive, group count small") {
    val df = Relational.a1GroupedAgg(spark, sf).collect()
    assert(df.length <= 9) // |returnflag| x |linestatus|
    df.foreach(r => assert(r.getAs[Double]("sum_qty") > 0))
  }

  test("a4 sliding window: every event is in exactly 2 windows") {
    val windows = Relational.a4SlidingWindow(spark, sf)
      .agg(sum("n")).first().getLong(0)
    val evts = Tables.events(spark, sf).count()
    assert(windows == 2 * evts)
  }

  test("w1 row_number picks one row per customer") {
    val df = Relational.w1RowNumber(spark, sf)
    assert(df.groupBy("o_custkey").count().filter(col("count") > 1)
      .count() == 0)
  }

  test("r2 latest per key matches max event_id") {
    val got = Relational.r2LatestPerKey(spark, sf)
      .select(col("user_id"), col("event_id"))
    val want = Tables.events(spark, sf).groupBy("user_id")
      .agg(max("event_id").as("event_id"))
    assert(got.except(want).count() == 0 && want.except(got).count() == 0)
  }

  test("r3 group completeness discriminates (both classes present)") {
    // synthetic linenumbers have gaps/dupes, so the completeness detector
    // must find both complete and incomplete groups — a constant answer
    // would mean the check is broken
    val df = Relational.r3GroupComplete(spark, sf).cache()
    try {
      assert(df.filter(col("complete")).count() > 0)
      assert(df.filter(!col("complete")).count() > 0)
    } finally df.unpersist()
  }

  test("s1 topk is ordered and bounded") {
    val rows = Relational.s1TopK(spark, sf)
      .select("o_totalprice").collect().map(_.getDouble(0))
    assert(rows.length <= 100)
    assert(rows.sameElements(rows.sorted(Ordering[Double].reverse)))
  }

  test("s4 union all preserves counts") {
    val n = Relational.s4UnionAll(spark, sf).count()
    assert(n == Tables.customer(spark, sf).count() +
      Tables.supplier(spark, sf).count())
  }

  test("a12 cube: all four grains present, totals consistent") {
    val df = Relational.a12Cube(spark, sf).cache()
    try {
      val nEvents = Tables.events(spark, sf).count()
      // grand total row (gid=3): one row counting everything
      val grand = df.filter(col("gid") === 3).collect()
      assert(grand.length == 1 && grand(0).getAs[Long]("n") == nEvents)
      // finest grain (gid=0) re-sums to the grand total
      val fine = df.filter(col("gid") === 0)
        .agg(sum("n")).first().getLong(0)
      assert(fine == nEvents)
      // per-type subtotal grain matches an independent groupBy
      val byType = df.filter(col("gid") === 1)
        .select(col("event_type"), col("n"))
      val indep = Tables.events(spark, sf).groupBy("event_type")
        .agg(count(lit(1)).as("n"))
      assert(byType.except(indep).count() == 0)
    } finally df.unpersist()
  }

  test("s5 pivot: one row per user, cells re-sum to the column total") {
    val df = Relational.s5Pivot(spark, sf).cache()
    try {
      assert(df.count() ==
        Tables.events(spark, sf).select("user_id").distinct().count())
      val cells = df.select(
        (coalesce(col("click"), lit(0.0)) + coalesce(col("error"), lit(0.0))
          + coalesce(col("purchase"), lit(0.0))
          + coalesce(col("signup"), lit(0.0))
          + coalesce(col("view"), lit(0.0))).as("rowsum"))
        .agg(sum(col("rowsum").cast("decimal(18,2)"))).first().getDecimal(0)
      val direct = Tables.events(spark, sf)
        .agg(sum(col("value").cast("decimal(18,2)"))).first().getDecimal(0)
      assert(cells.compareTo(direct) == 0)
    } finally df.unpersist()
  }

  test("s6 unpivot round-trips the pivot (same totals as a direct groupBy)") {
    val long = Relational.s6Unpivot(spark, sf)
    val direct = Tables.events(spark, sf)
      .groupBy("user_id", "event_type")
      .agg(sum(col("value").cast("decimal(18,2)")).cast("double").as("total"))
    assert(long.except(direct).count() == 0)
    assert(direct.except(long).count() == 0)
  }

  test("a13 count-min: one-sided error, exact on this corpus' vocab scale") {
    val df = Relational.a13HeavyHitters(spark, sf).cache()
    try {
      // CM guarantee: never under-counts — deterministic, so universal
      assert(df.filter(!col("lower_ok")).count() == 0)
      // the 3N/width over-count bound is only PROBABILISTIC (~(1/3)^4
      // per term by Markov over the 4 depth rows) — assert a failure
      // RATE, not universality, or a regenerated corpus flakes this
      val epsBad = df.filter(!col("eps_ok")).count()
      assert(epsBad <= math.max(1L, df.count() / 100),
        s"$epsBad of ${df.count()} terms exceed the 3N/width bound")
      // sketch mass conservation: each depth row counts every instance
      val n = Tables.documents(spark, sf)
        .select(explode(split(trim(col("text")), "\\s+")).as("t")).count()
      val est = Relational.a13Estimates(spark, sf)
      assert(est.count() ==
        Tables.documents(spark, sf)
          .select(explode(split(trim(col("text")), "\\s+")).as("term"))
          .distinct().count())
      // a vocabulary much smaller than the width should mostly estimate
      // exactly (4-row simultaneous collisions are ~1e-5 per pair)
      val inexact = df.filter(col("est") =!= col("exact")).count()
      assert(inexact <= df.count() / 10, s"$inexact inexact of ${df.count()}")
      assert(n > 0)
    } finally df.unpersist()
  }

  test("a15 exact median agrees with percentile(0.5) where no " +
    "interpolation is involved") {
    val df = Relational.a15ExactMedian(spark, sf).cache()
    try {
      val builtin = Tables.lineitem(spark, sf)
        .groupBy("l_returnflag")
        .agg(expr("percentile(l_extendedprice, 0.5)").as("m"))
      val joined = df.join(builtin, Seq("l_returnflag"))
        .select(abs(col("median_price") - col("m")).as("delta"))
      // order statistics are identical; the only difference is our
      // DECIMAL mean of the two middles vs percentile's double lerp
      assert(joined.filter(col("delta") > 1e-6).count() == 0)
      val ns = df.select("n").collect().map(_.getLong(0))
      val expected = Tables.lineitem(spark, sf)
        .groupBy("l_returnflag").count().collect().map(_.getLong(1))
      assert(ns.sorted.sameElements(expected.sorted))
    } finally df.unpersist()
  }

  test("w9 ties share dense rank and cume_dist; cdist tops at 1") {
    val df = Relational.w9DenseCume(spark, sf).cache()
    try {
      assert(df.filter(col("cdist") <= 0 || col("cdist") > 1).count() == 0)
      // every (segment, acctbal) pair has exactly one (drank, cdist)
      val multi = df.groupBy("c_mktsegment", "c_acctbal")
        .agg(countDistinct(col("drank")).as("dr"),
          countDistinct(col("cdist")).as("cd"))
        .filter(col("dr") =!= 1 || col("cd") =!= 1)
      assert(multi.count() == 0)
      // the max-acctbal row of each segment has cdist exactly 1.0
      val tops = df.groupBy("c_mktsegment").agg(max("cdist").as("m"))
      assert(tops.filter(col("m") =!= 1.0).count() == 0)
    } finally df.unpersist()
  }

  test("w10 range frame: current row always in frame, frame is trailing") {
    val df = Relational.w10RangeFrame(spark, sf).cache()
    try {
      assert(df.count() == Tables.events(spark, sf).count())
      assert(df.filter(col("hour_n") < 1).count() == 0)
      // a frame never exceeds the user's total event count
      val tot = Tables.events(spark, sf).groupBy("user_id").count()
      assert(df.join(tot, Seq("user_id"))
        .filter(col("hour_n") > col("count")).count() == 0)
    } finally df.unpersist()
  }

  test("j6 bucketed range join: every event lands in exactly one session," +
    " and per-session counts match w8") {
    val df = Relational.j6RangeJoin(spark, sf).cache()
    try {
      val n = Tables.events(spark, sf).count()
      assert(df.count() == n)
      assert(df.select("event_id").distinct().count() == n)
      val perSess = df.groupBy("user_id", "session_id")
        .agg(count(lit(1)).as("joined_n"))
      val w8 = Relational.w8SessionAgg(spark, sf)
        .select(col("user_id"), col("session_id"), col("n_events"))
      assert(perSess.join(w8, Seq("user_id", "session_id"))
        .filter(col("joined_n") =!= col("n_events")).count() == 0)
    } finally df.unpersist()
  }

  test("j7 full outer keeps unmatched rows from BOTH sides") {
    val df = Relational.j7FullOuter(spark, sf).cache()
    try {
      // order-side rows whose customer is outside the MACHINERY segment
      assert(df.filter(col("c_name") === "").count() > 0)
      // customer-side unmatched count matches an independent derivation
      // (may legitimately be 0 at tiny scale — equality, not vacuity)
      val mach = Tables.customer(spark, sf)
        .filter(col("c_mktsegment") === "MACHINERY").select("c_custkey")
      val bigCust = Tables.orders(spark, sf)
        .filter(col("o_totalprice") > 150000.0)
        .select(col("o_custkey").as("c_custkey")).distinct()
      val expectedNoBig = mach.join(bigCust, Seq("c_custkey"), "left_anti")
        .count()
      assert(df.filter(col("n_big_orders") === 0).count() == expectedNoBig)
      // and a full outer can never lose the filtered customer set
      assert(df.filter(col("c_name") =!= "").count() == mach.count())
    } finally df.unpersist()
  }

  test("a14 corr: integer corr_ppb agrees with the built-in " +
    "estimator, bounded by 1e9, sign consistent") {
    val df = Relational.a14Corr(spark, sf).cache()
    try {
      assert(df.filter(abs(col("corr_ppb")) > 1000000000L).count() == 0)
      val builtin = Tables.lineitem(spark, sf)
        .groupBy("l_returnflag")
        .agg(corr(col("l_quantity"), col("l_extendedprice")).as("c"))
      val joined = df.join(builtin, Seq("l_returnflag"))
        .select(col("corr_ppb"), col("cov_sign"), col("c"))
      // floor-div quantization + the builtin's float estimator: a ppm
      // of slack is generous for both
      assert(joined
        .filter(abs(col("corr_ppb") / lit(1e9) - col("c")) > 1e-6)
        .count() == 0)
      assert(joined
        .filter(col("cov_sign") =!= signum(col("c")).cast("int"))
        .count() == 0)
    } finally df.unpersist()
  }

  test("w8 session agg: events conserved, sessions ordered and gapped") {
    val df = Relational.w8SessionAgg(spark, sf).cache()
    try {
      assert(df.agg(sum("n_events")).first().getLong(0) ==
        Tables.events(spark, sf).count())
      assert(df.filter(col("session_start") > col("session_end"))
        .count() == 0)
      // consecutive sessions of one user are separated by > 30 min
      // (else they would have merged)
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("user_id").orderBy("session_id")
      val merged = df
        .withColumn("prev_end", lag(col("session_end"), 1).over(w))
        .filter(col("prev_end").isNotNull &&
          unix_timestamp(col("session_start")) -
            unix_timestamp(col("prev_end")) <= 1800)
      assert(merged.count() == 0)
    } finally df.unpersist()
  }

  test("w14 time-weighted average: twa within the user's value range, " +
    "hold time conserves the user's observed span") {
    val df = Relational.w14TimeWeighted(spark, sf).cache()
    try {
      val ranges = Tables.events(spark, sf).groupBy("user_id")
        .agg(min("value").as("lo"), max("value").as("hi"),
          (unix_micros(max(col("ts"))) - unix_micros(min(col("ts"))))
            .as("span_us"))
      val joined = df.join(ranges, "user_id")
      // a convex (duration-weighted) mean cannot leave [min, max] —
      // cents quantization can nudge it below lo by <0.005 at most
      assert(joined.filter(col("twa") < col("lo") - 0.005 ||
        col("twa") > col("hi") + 0.005).count() == 0)
      // the held time is exactly first-to-last-event span per user
      assert(joined.filter(col("held_us") =!= col("span_us"))
        .count() == 0)
    } finally df.unpersist()
  }

  test("w15 retention: offset-0 diagonal equals cohort size, offsets " +
    "non-negative, cells conserve the user-day mass") {
    val df = Relational.w15Retention(spark, sf).cache()
    try {
      assert(df.filter(col("day_offset") < 0).count() == 0)
      // every user is by definition active on their cohort day, so the
      // offset-0 cell must count the whole cohort
      val ud = Tables.events(spark, sf)
        .select(col("user_id"),
          expr("unix_micros(ts) div 86400000000").as("day"))
        .distinct()
      val cohorts = ud.groupBy("user_id").agg(min("day").as("cohort_day"))
        .groupBy("cohort_day").agg(count(lit(1)).as("expect"))
      val zero = df.filter(col("day_offset") === 0)
        .join(cohorts, Seq("cohort_day"), "full_outer")
      assert(zero.filter(col("n_users").isNull ||
        col("expect").isNull ||
        col("n_users") =!= col("expect")).count() == 0)
      // each (user, active-day) lands in exactly one cell
      val mass = df.agg(sum("n_users")).collect()(0).getLong(0)
      assert(mass == ud.count())
    } finally df.unpersist()
  }

  test("a22 OLS: the fitted line passes through the group centroid, " +
    "group sizes conserve the event count") {
    val df = Relational.a22Ols(spark, sf).cache()
    try {
      val ev = Tables.events(spark, sf)
      assert(df.agg(sum("n")).collect()(0).getLong(0) == ev.count())
      // OLS identity: y-bar = intercept + slope * x-bar per group
      val cent = ev.select(col("event_type"),
          expr("unix_micros(ts) div 3600000000").as("xh"),
          (col("value").cast("decimal(18,2)") * lit(100)).cast("long")
            .as("cents"))
        .crossJoin(broadcast(ev.select(
          expr("min(unix_micros(ts) div 3600000000)").as("x0"))))
        .groupBy("event_type")
        .agg(avg(col("xh") - col("x0")).as("xbar"),
          avg(col("cents")).as("ybar"))
      val viol = df.join(cent, Seq("event_type"))
        .filter(abs(col("ybar") -
          (col("intercept") + col("slope") * col("xbar"))) >
          abs(col("ybar")) * 1e-9 + 1e-6)
      assert(viol.count() == 0, "regression line misses the centroid")
    } finally df.unpersist()
  }

  test("w17 rolling DAU: bounded below by the daily actives and above " +
    "by the user universe, one row per observed day") {
    val df = Relational.w17RollingDau(spark, sf).cache()
    try {
      val ud = Tables.events(spark, sf)
        .select(col("user_id"),
          expr("unix_micros(ts) div 86400000000").as("day"))
        .distinct()
      val daily = ud.groupBy(col("day").as("rday"))
        .agg(count(lit(1)).as("dau1"))
      assert(df.count() == daily.count())
      val users = Tables.events(spark, sf).select("user_id")
        .distinct().count()
      val joined = df.join(daily, Seq("rday"))
      assert(joined.filter(col("dau7") < col("dau1") ||
        col("dau7") > users).count() == 0)
      // the first observed day has no trailing history: dau7 == dau1
      val first = joined.orderBy("rday").limit(1)
        .filter(col("dau7") =!= col("dau1"))
      assert(first.count() == 0)
    } finally df.unpersist()
  }

  test("s8 keyset page: strictly after the anchor, correctly ordered, " +
    "and plan has no global sort (TakeOrderedAndProject)") {
    val df = Relational.s8KeysetPage(spark, sf)
    // plan asserted before any caching (cache substitution would wrap
    // the very same logical plan in an InMemoryTableScan)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"),
      "keyset page must be a per-partition top-k, not a global sort")
    assert(!plan.contains("Exchange"), "keyset page must not shuffle")
    // every row is past the (150000.0, 4000) anchor in cursor order
    assert(df.filter(!(col("o_totalprice") < 150000.0 ||
      (col("o_totalprice") === 150000.0 && col("o_orderkey") > 4000)))
      .count() == 0)
    val rows = df.collect()
    assert(rows.length == 50)
    val ord = rows.map(r => (-r.getDouble(2), r.getLong(0)))
    assert(ord.sameElements(ord.sorted), "page must be cursor-ordered")
  }

  test("a23 hll merge: union of day sketches equals the single-shot " +
    "weekly sketch, and every estimate sits within the bound") {
    val df = Relational.a23HllMerge(spark, sf).cache()
    try {
      assert(df.count() > 0)
      assert(df.filter(!col("est_within_bound")).count() == 0)
      // mergeability, the design point: register-wise max over day
      // sketches IS the weekly stream's sketch — estimates must agree
      // exactly at the same lgConfigK
      val merged = Relational.a23Estimates(spark, sf)
      val oneShot = Tables.events(spark, sf)
        .select(col("user_id"),
          expr("unix_micros(ts) div 86400000000").as("day"))
        .groupBy((col("day") / 7).cast("long").as("week"))
        .agg(expr(
          "cast(hll_sketch_estimate(hll_sketch_agg(user_id)) as bigint)")
          .as("direct_users"))
      val diff = merged.join(oneShot, Seq("week"))
        .filter(col("est_users") =!= col("direct_users"))
      assert(diff.count() == 0,
        "merged day sketches must estimate identically to one-shot")
    } finally df.unpersist()
  }

  test("w18 trending: exactly top-3 per day, ranks gapless and " +
    "count-ordered") {
    val df = Relational.w18Trending(spark, sf).cache()
    try {
      val perDay = df.groupBy("day").agg(count(lit(1)).as("k"),
        min("rnk").as("mn"), max("rnk").as("mx"))
      assert(perDay.filter(col("mn") =!= 1 ||
        col("mx") =!= col("k") || col("k") > 3).count() == 0)
      // count order respected within the day
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("day").orderBy("rnk")
      val bad = df.withColumn("prev", lag(col("n"), 1).over(w))
        .filter(col("prev").isNotNull && col("n") > col("prev"))
      assert(bad.count() == 0)
    } finally df.unpersist()
  }

  test("a24 anomaly: flags re-derive from a driver-side replay of one " +
    "event type, and every flag sits on a full 7-day window") {
    val df = Relational.a24Anomaly(spark, sf).cache()
    try {
      assert(df.filter(col("win_n") < 0 || col("win_n") > 7)
        .count() == 0)
      assert(df.filter(col("anomaly") && col("win_n") =!= 7)
        .count() == 0)
      val rows = df.filter(col("event_type") === "click")
        .orderBy("day").collect()
        .map(r => (r.getAs[Long]("n_events"), r.getAs[Long]("win_n"),
          r.getAs[Boolean]("anomaly")))
      val xs = rows.map(_._1)
      rows.zipWithIndex.foreach { case ((x, wn, fl), i) =>
        val win = xs.slice(math.max(0, i - 7), i)
        assert(wn == win.length)
        val s = win.sum; val q = win.map(v => v * v).sum
        val expect = win.length == 7 &&
          (7 * x - s) * (7 * x - s) > 9 * (7 * q - s * s)
        assert(fl == expect, s"row $i flag $fl != $expect")
      }
    } finally df.unpersist()
  }

  test("a26 sketch intersection: estimate within bound of the exact join") {
    val r = Relational.a26SketchIntersection(spark, sf).collect()
    assert(r.length == 1)
    val row = r.head
    assert(row.getAs[Boolean]("within_bound"),
      s"estimate ${row.getAs[Long]("est_inter")} outside 10% of " +
        s"exact ${row.getAs[Long]("exact_inter")}")
    // union can never exceed the sum nor undercut either side
    assert(row.getAs[Long]("est_union") <=
      row.getAs[Long]("est_click") + row.getAs[Long]("est_purchase"))
    assert(row.getAs[Long]("exact_inter") > 0)
  }
}
