package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.plans.RangeJoinRewrite
import graft.sources.Tables

/** The banded range-join rewrite as a PLANNER rule: a user writing the
  * naive `p JOIN i ON p.key = i.key AND p.ts BETWEEN i.lo AND i.hi` (or
  * the keyless pure-range form Spark plans as BroadcastNestedLoopJoin)
  * must get the banded equi-join IntervalJoin exposes as a library call
  * — bit-identical results, scale-safe plan, no library knowledge
  * required. Registered via spark.sql.extensions (GraftExtensions), the
  * same entry point a cluster deployment would use.
  */
class RangeJoinRewriteSpec extends SparkSpec {

  private def views: DataFrame = {
    import spark.implicits._
    Tables.events(spark, sfDir).where($"event_type" === "view")
      .select($"user_id", $"event_id".as("view_id"), $"ts".as("w_start"),
        ($"ts" + expr("INTERVAL 3 DAY")).as("w_end"))
  }
  private def purchases: DataFrame = {
    import spark.implicits._
    Tables.events(spark, sfDir).where($"event_type" === "purchase")
      .select($"event_id", $"user_id", $"ts", $"value")
  }

  private def physical(df: DataFrame): String =
    df.queryExecution.executedPlan.toString

  private def optimized(df: DataFrame): String =
    df.queryExecution.optimizedPlan.toString

  /** Run `build` with the rewrite disabled: the naive plan Spark picks
    * unaided, as the semantic baseline. */
  private def withoutRule[T](build: => T): T = {
    spark.conf.set(RangeJoinRewrite.EnabledKey, "false")
    try build finally spark.conf.unset(RangeJoinRewrite.EnabledKey)
  }

  private def sortedRows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  test("keyed BETWEEN join is banded: results identical, band key in the join") {
    val p = purchases
    val v = views
    def naive = p.join(v, p("user_id") === v("user_id") &&
      p("ts") >= v("w_start") && p("ts") <= v("w_end"))
    val rewritten = naive
    assert(optimized(rewritten).contains("__graft_band"),
      s"rule did not fire:\n${optimized(rewritten)}")
    // exactly-once semantics: a pair meets only in the point's own band
    val expected = withoutRule(sortedRows(naive))
    val got = sortedRows(rewritten)
    assert(got.size == expected.size && got == expected)
    assert(expected.nonEmpty, "vacuous: no matching pairs at this SF")
  }

  test("pure range join (no equi key) flips BroadcastNestedLoopJoin to an equi join") {
    import spark.implicits._
    // keyless intervals: every view window joined to every purchase in
    // it regardless of user — the BNLJ-at-scale shape
    val w = views.limit(200).select($"w_start", $"w_end", $"view_id")
    val p = purchases.select($"ts", $"value")
    def naive = p.join(w, p("ts") >= w("w_start") && p("ts") <= w("w_end"))
    val (naivePlan, expected) = withoutRule((physical(naive), sortedRows(naive)))
    assert(naivePlan.contains("BroadcastNestedLoopJoin"),
      s"baseline assumption broke — naive keyless range join planned as:\n$naivePlan")
    val rewrittenPlan = physical(naive)
    assert(!rewrittenPlan.contains("BroadcastNestedLoopJoin") &&
      !rewrittenPlan.contains("CartesianProduct"),
      s"rewritten plan still nested-loop:\n$rewrittenPlan")
    assert(rewrittenPlan.contains("Generate"), rewrittenPlan)
    assert(sortedRows(naive) == expected)
    assert(expected.nonEmpty)
  }

  test("strict bounds and NULLs keep exact semantics (opt-in unbounded widths)") {
    import spark.implicits._
    val p = Seq((1L, "2024-01-01 00:00:00"), (1L, "2024-01-03 00:00:00"),
      (2L, "2024-01-02 00:00:00"), (3L, null))
      .toDF("k", "ts_s").select($"k", $"ts_s".cast("timestamp").as("ts"))
    val i = Seq((1L, "2024-01-01 00:00:00", "2024-01-03 00:00:00"),
      (2L, "2024-01-02 00:00:00", "2024-01-01 00:00:00"), // degenerate lo>hi
      (3L, null, "2024-01-05 00:00:00"),                  // NULL lo
      (1L, "2023-12-31 00:00:00", "2024-01-02 00:00:00"))
      .toDF("k", "lo_s", "hi_s")
      .select($"k", $"lo_s".cast("timestamp").as("lo"), $"hi_s".cast("timestamp").as("hi"))
    // lo/hi are arbitrary columns (no provable width) — the data-driven
    // interval case a user opts into knowing their widths are short
    def q = p.join(i, p("k") === i("k") && p("ts") >= i("lo") && p("ts") < i("hi"))
    spark.conf.set(RangeJoinRewrite.AllowUnboundedWidthKey, "true")
    try {
      // strict on the upper bound: boundary row 2024-01-03 must NOT
      // match the [2024-01-01, 2024-01-03) interval
      assert(optimized(q).contains("__graft_band"))
      val expected = withoutRule(sortedRows(q))
      assert(sortedRows(q) == expected)
      // independent truth: (1,Jan1)∈[Jan1,Jan3) + (1,Jan1)∈[Dec31,Jan2) = 2 rows
      assert(expected.size == 2, expected.mkString("; "))
    } finally spark.conf.unset(RangeJoinRewrite.AllowUnboundedWidthKey)
  }

  test("data-dependent interval widths are NOT auto-banded (width safety)") {
    import spark.implicits._
    // the SCD sentinel: an open-ended validity interval would explode
    // onto ~2.9M bands per row at the default one-day band — the rule
    // must leave unproven widths to Spark's plan unless opted in
    val f = Seq((1L, "2024-01-02 00:00:00")).toDF("k", "ts_s")
      .select($"k", $"ts_s".cast("timestamp").as("ts"))
    val d = Seq((1L, "2024-01-01 00:00:00", "9999-12-31 00:00:00"))
      .toDF("k", "from_s", "to_s")
      .select($"k", $"from_s".cast("timestamp").as("valid_from"),
        $"to_s".cast("timestamp").as("valid_to"))
    def q = f.join(d, f("k") === d("k") &&
      f("ts") >= d("valid_from") && f("ts") <= d("valid_to"))
    assert(!optimized(q).contains("__graft_band"),
      s"unbounded-width join was auto-banded:\n${optimized(q)}")
    assert(q.count() == 1) // semantics untouched either way
  }

  test("already-banded library joins are left alone (no double banding)") {
    val df = graft.operators.IntervalJoin.q63IntervalAttribution(spark, sfDir)
    val gens = "(?m)^.*Generate.*$".r.findAllIn(optimized(df)).size
    assert(gens == 1, s"expected the library's single explode, got $gens:\n${optimized(df)}")
    assert(!optimized(df).contains("__graft_band"))
  }

  test("q151: the registered naive-join query compiles to the banded plan") {
    val df = graft.operators.IntervalJoin.q151RangeJoinAuto(spark, sfDir)
    assert(optimized(df).contains("__graft_band"), optimized(df))
    // band auto-derived from the PROVEN width (3-day window → 3-day
    // bands, 259200000000 µs): max 2 exploded rows per interval, no
    // needlessly coarse point hashing
    assert(optimized(df).contains("259200000000"), optimized(df))
    val phys = physical(df)
    assert(!phys.contains("BroadcastNestedLoopJoin") && !phys.contains("CartesianProduct"))
    assert(df.count() > 0)
  }

  test("overlap self-join of constant-width windows is banded with owner-band exactly-once") {
    import spark.implicits._
    val v = Tables.events(spark, sfDir).where($"event_type" === "view")
      .select($"user_id", $"event_id", $"ts".as("w_start"),
        ($"ts" + expr("INTERVAL 6 HOUR")).as("w_end"))
    val a = v.select($"user_id", $"event_id".as("id_a"), $"w_start", $"w_end")
    val b = v.select($"user_id".as("u_b"), $"event_id".as("id_b"),
      $"w_start".as("b_w_start"), $"w_end".as("b_w_end"))
    def naive = a.join(b, a("user_id") === b("u_b") &&
      a("w_start") <= b("b_w_end") && b("b_w_start") <= a("w_end") &&
      a("id_a") < b("id_b"))
    assert(optimized(naive).contains("__graft_band"),
      s"overlap rewrite did not fire:\n${optimized(naive)}")
    // band auto-derived from the proven 6-hour width (21600000000 µs)
    assert(optimized(naive).contains("21600000000"), optimized(naive))
    val expected = withoutRule(sortedRows(naive))
    assert(sortedRows(naive) == expected) // owner band: exactly once, no dups
    assert(expected.nonEmpty)
  }

  test("overlap rewrite does NOT fire without a properness proof (soundness)") {
    import spark.implicits._
    // ends are arbitrary columns, not start + constant: a REVERSED left
    // interval can still match a wide right one, so banding (which
    // drops reversed rows) would be wrong — the rule must stay out.
    val l = Seq((1L, 10L, "2024-01-05 00:00:00", "2024-01-01 00:00:00"), // reversed!
      (1L, 11L, "2024-01-02 00:00:00", "2024-01-03 00:00:00"))
      .toDF("k", "id_l", "s_s", "e_s")
      .select($"k", $"id_l", $"s_s".cast("timestamp").as("l_start"),
        $"e_s".cast("timestamp").as("l_end"))
    val r = Seq((1L, 20L, "2023-12-01 00:00:00", "2024-02-01 00:00:00"))
      .toDF("k", "id_r", "s_s", "e_s")
      .select($"k", $"id_r", $"s_s".cast("timestamp").as("r_start"),
        $"e_s".cast("timestamp").as("r_end"))
    def q = l.join(r, l("k") === r("k") &&
      l("l_start") <= r("r_end") && r("r_start") <= l("l_end"))
    assert(!optimized(q).contains("__graft_band"),
      s"unsound overlap rewrite fired on unproven intervals:\n${optimized(q)}")
    // the reversed interval matches the wide one — 2 rows total
    assert(q.count() == 2)
  }

  test("LEFT OUTER with the point side preserved is banded; null extension exact") {
    import spark.implicits._
    // q153's shape: every view kept, matched to purchases whose lookback
    // window [p_ts - 3d, p_ts] contains the view — point side (views) is
    // the preserved side, so banding adds one column and no replication
    val v = Tables.events(spark, sfDir).where($"event_type" === "view")
      .select($"user_id", $"event_id".as("view_id"), $"ts".as("v_ts"))
    val p = Tables.events(spark, sfDir).where($"event_type" === "purchase")
      .select($"event_id".as("purchase_id"), $"user_id".as("p_user_id"),
        $"ts".as("p_ts"))
    def naive = v.join(p, v("user_id") === p("p_user_id") &&
      v("v_ts") >= p("p_ts") - expr("INTERVAL 3 DAY") &&
      v("v_ts") <= p("p_ts"), "left_outer")
    // fires WITHOUT the unbounded-width opt-in: the lookback spelling
    // (`start = anchor - const`) is a proven constant width
    assert(optimized(naive).contains("__graft_band"),
      s"left-outer point-preserved join was not banded:\n${optimized(naive)}")
    val expected = withoutRule(sortedRows(naive))
    val got = sortedRows(naive)
    assert(got == expected)
    // non-vacuous outer semantics: some views must be UNMATCHED (null-
    // extended exactly once) and some matched
    val unmatched = naive.where($"purchase_id".isNull).count()
    assert(unmatched > 0, "no unmatched views — outer case vacuous")
    assert(expected.size > unmatched)
  }

  test("outer joins preserving the INTERVAL side keep Spark's plan (soundness)") {
    import spark.implicits._
    val v = views // carries the provable-width window [w_start, w_end]
    val p = purchases
    // left outer, views preserved, views = interval side: an unmatched
    // view would null-extend once per exploded band — must NOT band
    def intervalPreserved = v.join(p, p("user_id") === v("user_id") &&
      p("ts") >= v("w_start") && p("ts") <= v("w_end"), "left_outer")
    assert(!optimized(intervalPreserved).contains("__graft_band"),
      s"interval-preserved outer join was banded:\n${optimized(intervalPreserved)}")
    // full outer: both orientations replicate one side — never banded
    def full = p.join(v, p("user_id") === v("user_id") &&
      p("ts") >= v("w_start") && p("ts") <= v("w_end"), "full_outer")
    assert(!optimized(full).contains("__graft_band"))
  }

  test("RIGHT OUTER with the point side on the right is banded; results exact") {
    import spark.implicits._
    val v = Tables.events(spark, sfDir).where($"event_type" === "view")
      .select($"user_id", $"event_id".as("view_id"), $"ts".as("v_ts"))
    val p = Tables.events(spark, sfDir).where($"event_type" === "purchase")
      .select($"event_id".as("purchase_id"), $"user_id".as("p_user_id"),
        $"ts".as("p_ts"))
    def naive = p.join(v, v("user_id") === p("p_user_id") &&
      v("v_ts") >= p("p_ts") - expr("INTERVAL 3 DAY") &&
      v("v_ts") <= p("p_ts"), "right_outer")
    assert(optimized(naive).contains("__graft_band"),
      s"right-outer point-preserved join was not banded:\n${optimized(naive)}")
    assert(sortedRows(naive) == withoutRule(sortedRows(naive)))
  }

  test("q154: DATE-typed bounds band through days→micros; proven 7-day band") {
    val df = graft.operators.IntervalJoin.q154DateRangeAuto(spark, sfDir)
    assert(optimized(df).contains("__graft_band"), optimized(df))
    // band auto-derived from the proven date_add width: 7 days in µs
    assert(optimized(df).contains("604800000000"), optimized(df))
    val phys = physical(df)
    assert(!phys.contains("BroadcastNestedLoopJoin") && !phys.contains("CartesianProduct"))
    assert(df.count() > 0)
  }

  test("DATE-typed constant-width overlap self-join bands with exact results") {
    import spark.implicits._
    // validity-style date windows [d, d+6]: the properness proof rides
    // the same DateAdd width branch the point shape uses
    val v = Tables.events(spark, sfDir).where($"event_type" === "view")
      .select($"user_id", $"event_id", to_date($"ts").as("d_start"),
        date_add(to_date($"ts"), 6).as("d_end"))
    val a = v.select($"user_id", $"event_id".as("id_a"),
      $"d_start", $"d_end")
    val b = v.select($"user_id".as("u_b"), $"event_id".as("id_b"),
      $"d_start".as("b_start"), $"d_end".as("b_end"))
    def naive = a.join(b, a("user_id") === b("u_b") &&
      a("d_start") <= b("b_end") && b("b_start") <= a("d_end") &&
      a("id_a") < b("id_b"))
    assert(optimized(naive).contains("__graft_band"),
      s"DATE overlap did not band:\n${optimized(naive)}")
    val expected = withoutRule(sortedRows(naive))
    assert(sortedRows(naive) == expected && expected.nonEmpty)
  }

  test("DATE bounds with unproven widths are NOT auto-banded") {
    import spark.implicits._
    // hi is last_day(lo) — data-dependent (28..31 days minus day-of-
    // month), so no constant-width proof exists; stays on Spark's plan
    val v = Tables.events(spark, sfDir).where($"event_type" === "view")
      .select($"user_id", to_date($"ts").as("lo"),
        last_day($"ts").as("hi"))
    val p = Tables.events(spark, sfDir).where($"event_type" === "purchase")
      .select($"user_id".as("pu"), to_date($"ts").as("p_date"))
    def q = p.join(v, p("pu") === v("user_id") &&
      p("p_date") >= v("lo") && p("p_date") <= v("hi"))
    assert(!optimized(q).contains("__graft_band"),
      s"unproven DATE width was auto-banded:\n${optimized(q)}")
  }

  test("q153: the registered left-outer query compiles to the banded plan") {
    val df = graft.operators.IntervalJoin.q153LeftOuterAuto(spark, sfDir)
    assert(optimized(df).contains("__graft_band"), optimized(df))
    val phys = physical(df)
    assert(!phys.contains("BroadcastNestedLoopJoin") && !phys.contains("CartesianProduct"))
    assert(df.count() > 0)
  }

  test("LEFT SEMI / LEFT ANTI with the point on the left are banded; sets exact") {
    import spark.implicits._
    val v = Tables.events(spark, sfDir).where($"event_type" === "view")
      .select($"user_id", $"event_id".as("view_id"), $"ts".as("v_ts"))
    val p = Tables.events(spark, sfDir).where($"event_type" === "purchase")
      .select($"user_id".as("p_user_id"), $"ts".as("p_ts"))
    def shaped(kind: String) = v.join(p, v("user_id") === p("p_user_id") &&
      v("v_ts") >= p("p_ts") - expr("INTERVAL 3 DAY") &&
      v("v_ts") <= p("p_ts"), kind)
    for (kind <- Seq("left_semi", "left_anti")) {
      val q = shaped(kind)
      assert(optimized(q).contains("__graft_band"),
        s"$kind point-on-left was not banded:\n${optimized(q)}")
      assert(sortedRows(q) == withoutRule(sortedRows(shaped(kind))), kind)
    }
    // the two banded sets partition the views exactly
    assert(shaped("left_semi").count() + shaped("left_anti").count() == v.count())
    assert(shaped("left_anti").count() > 0, "anti set vacuous")
  }

  test("semi/anti with the point on the RIGHT keep Spark's plan (output side would explode)") {
    import spark.implicits._
    // left = purchases carrying the window, right = views as the point:
    // only the left (interval) side is output — banding would have to
    // explode the output side, so the rule must stay out
    val v = Tables.events(spark, sfDir).where($"event_type" === "view")
      .select($"user_id".as("v_user_id"), $"ts".as("v_ts"))
    val p = Tables.events(spark, sfDir).where($"event_type" === "purchase")
      .select($"user_id", $"event_id".as("purchase_id"), $"ts".as("p_ts"))
    def q = p.join(v, p("user_id") === v("v_user_id") &&
      v("v_ts") >= p("p_ts") - expr("INTERVAL 3 DAY") &&
      v("v_ts") <= p("p_ts"), "left_semi")
    assert(!optimized(q).contains("__graft_band"),
      s"point-on-right semi join was banded:\n${optimized(q)}")
  }

  test("q155: the registered anti-join query compiles to the banded plan") {
    val df = graft.operators.IntervalJoin.q155AntiJoinAuto(spark, sfDir)
    assert(optimized(df).contains("__graft_band"), optimized(df))
    assert(df.count() > 0)
  }

  test("band width config is honored and a disabled rule is a clean no-op") {
    val p = purchases
    val v = views
    def naive = p.join(v, p("user_id") === v("user_id") &&
      p("ts") >= v("w_start") && p("ts") <= v("w_end"))
    spark.conf.set(RangeJoinRewrite.BandSecondsKey, (7L * 86400L).toString)
    try assert(optimized(naive).contains("__graft_band"))
    finally spark.conf.unset(RangeJoinRewrite.BandSecondsKey)
    withoutRule(assert(!optimized(naive).contains("__graft_band")))
  }

  test("absurd bandSeconds degrades to rule-off, never an optimizer exception") {
    val p = purchases
    val v = views
    def naive = p.join(v, p("user_id") === v("user_id") &&
      p("ts") >= v("w_start") && p("ts") <= v("w_end"))
    // parses as a Long but overflows when scaled to microseconds: the
    // conf contract is warn + degrade, not ArithmeticException from
    // inside the optimizer on every join-bearing query
    spark.conf.set(RangeJoinRewrite.BandSecondsKey, "10000000000000")
    try {
      val plan = optimized(naive) // must not throw
      assert(!plan.contains("__graft_band"), plan)
      assert(naive.count() > 0)
    } finally spark.conf.unset(RangeJoinRewrite.BandSecondsKey)
  }

  /** The raw source tables as temp views, for SQL-text callers. */
  private def registerViews(names: String*): Unit =
    names.foreach(n => Tables.load(spark, sfDir, n).createOrReplaceTempView(n))

  test("a naive BETWEEN range join written as SQL TEXT gets the banded plan") {
    // the planner extension must serve spark.sql(...) callers exactly
    // like DataFrame callers — same optimizer, same rewrite
    registerViews("events")
    val df = spark.sql(
      """SELECT v.event_id AS view_id, count(*) AS n_purchases
        |FROM (SELECT event_id, user_id, ts, value FROM events
        |      WHERE event_type = 'purchase') p
        |JOIN (SELECT user_id, event_id, ts AS w_start,
        |             ts + INTERVAL 3 DAY AS w_end FROM events
        |      WHERE event_type = 'view') v
        |  ON p.user_id = v.user_id AND p.ts BETWEEN v.w_start AND v.w_end
        |GROUP BY v.event_id""".stripMargin)
    val plan = df.queryExecution.optimizedPlan.toString
    assert(plan.contains("__graft_band"), s"SQL-text join not banded:\n$plan")
    val phys = df.queryExecution.executedPlan.toString
    assert(!phys.contains("BroadcastNestedLoopJoin") && !phys.contains("CartesianProduct"))
    assert(df.count() > 0)
  }

  test("a SQL-text NOT EXISTS window predicate gets the banded anti-join plan") {
    // Spark lowers NOT EXISTS to a LeftAnti join only in the
    // RewriteSubquery optimizer batch — AFTER the operator batch the
    // injected rule runs in — so this shape is served by the PLANNER
    // strategy (RangeJoinStrategy): the optimized LOGICAL plan stays
    // the naive anti join, and the banding shows in the PHYSICAL plan
    registerViews("events")
    val df = spark.sql(
      """SELECT v.event_id AS view_id, v.user_id
        |FROM (SELECT event_id, user_id, ts FROM events
        |      WHERE event_type = 'view') v
        |WHERE NOT EXISTS (
        |  SELECT 1 FROM events p
        |  WHERE p.event_type = 'purchase' AND p.user_id = v.user_id
        |    AND v.ts >= p.ts - INTERVAL 3 DAY AND v.ts <= p.ts)""".stripMargin)
    val phys = df.queryExecution.executedPlan.toString
    assert(phys.contains("__graft_band"), s"SQL NOT EXISTS not banded:\n$phys")
    assert(!phys.contains("BroadcastNestedLoopJoin"), phys)
    // same rows as the DataFrame-route anti join (modulo projection)
    val viaDf = graft.operators.IntervalJoin.q155AntiJoinAuto(spark, sfDir)
    assert(df.count() == viaDf.count() && df.count() > 0)
  }

  test("SQL NOT EXISTS with unproven interval widths keeps Spark's plan (strategy width safety)") {
    registerViews("orders", "lineitem")
    // date_add(l_shipdate, l_linenumber) is a DATA-DEPENDENT width: the
    // planner strategy must apply the same width-safety default as the rule
    val df = spark.sql(
      """SELECT o.o_orderkey FROM orders o
        |WHERE NOT EXISTS (
        |  SELECT 1 FROM lineitem l WHERE l.l_orderkey = o.o_orderkey
        |    AND o.o_orderdate >= l.l_shipdate
        |    AND o.o_orderdate <= date_add(l.l_shipdate, l.l_linenumber))""".stripMargin)
    val phys = df.queryExecution.executedPlan.toString
    assert(!phys.contains("__graft_band"), s"unproven width banded via strategy:\n$phys")
    assert(df.count() > 0)
  }
}
