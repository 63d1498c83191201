package graft

import graft.SparkSpec

/** The SQL surface must agree with the DataFrame surface. */
class SqlEntrySpec extends SparkSpec {

  test("a naive BETWEEN range join written as SQL TEXT gets the banded plan") {
    // the planner extension must serve spark.sql(...) callers exactly
    // like DataFrame callers — same optimizer, same rewrite
    SqlEntry.registerViews(spark, sfDir)
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
    SqlEntry.registerViews(spark, sfDir)
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
    SqlEntry.registerViews(spark, sfDir)
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

  test("SQL table summary equals the DataFrame q12 result") {
    val sql = SqlEntry.tableSummarySql(spark, sfDirMid).collect()
    val df = graft.queries.Metadata.q12TableSummary(spark, sfDirMid).collect()
    assert(sql.map(_.toSeq).toSeq == df.map(_.toSeq).toSeq)
  }

  test("needs_optimize UDAF in SQL matches the column-expression scoring (share+count only)") {
    import org.apache.spark.sql.functions._
    val viaSql = SqlEntry.needsOptimizeSql(spark, sfDirMid)
      .collect().map(r => (r.getString(0), r.getString(1), r.getString(2)) -> r.getBoolean(3)).toMap
    // Column path without the freshness guard (the UDAF sees sizes only).
    val cfg = graft.meta.MetaDerive.cfg
    val viaCols = graft.meta.MetaDerive.files(spark, sfDirMid)
      .where(col("content") === 0)
      .groupBy(col("year"), col("month"), col("day"))
      .agg(graft.meta.SmallFiles.smallCountAgg(col("file_size"), cfg).as("small"),
        count(lit(1)).as("total"))
      .withColumn("flagged",
        col("small") >= cfg.minCount && col("small") * 100 >= col("total") * cfg.minSharePercent)
      .collect().map(r => (r.getString(0), r.getString(1), r.getString(2)) -> r.getAs[Boolean]("flagged")).toMap
    assert(viaSql == viaCols)
    assert(viaSql.values.exists(identity) && viaSql.values.exists(v => !v))
  }

  test("partition_to_date and partition_string registered functions") {
    SqlEntry.registerFunctions(spark)
    val r = spark.sql(
      """SELECT partition_to_date('2025', '6', '05') AS d,
        |       partition_string(map('b', '2', 'a', '1')) AS s""".stripMargin).head()
    assert(r.getDate(0).toString == "2025-06-05")
    assert(r.getString(1) == "{a=1, b=2}")
  }
}
