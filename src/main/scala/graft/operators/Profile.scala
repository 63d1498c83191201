package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.Tables

/** Column profiling — the table-statistics surface a lakehouse admin
  * runs before planning maintenance (row counts, null ratios, exact
  * cardinalities, value bounds). One aggregate job per profiled column,
  * unioned; each agg is a single shuffle with map-side partials.
  *
  * The approximate variant (approx_count_distinct, through
  * [[Analyze]]) exists for the 100 TB path — exact distinct on a
  * high-cardinality column is itself a full shuffle — but the
  * oracle-checked query uses exact counts (sketch internals differ
  * across engines).
  */
object Profile {

  /** All columns' stats from the driver's view: n_rows plus per-column
    * present/distinct/min/max. Shared by [[profile]] and [[Analyze]]
    * (whose `approximate` flag takes the HLL++ path). */
  final case class TableStats(nRows: Long, present: Map[String, Long],
      distinct: Map[String, Long], minS: Map[String, String],
      maxS: Map[String, String])

  /** Compute [[TableStats]] in TWO jobs regardless of column count:
    *
    *  1. one scan for every non-distinct aggregate (counts, min/max) —
    *     these fold in a single agg with no shuffle amplification;
    *  2. exact distincts, strategy picked by input size (see
    *     [[meltCutoverPairs]]): small inputs use N `countDistinct`s in
    *     one agg (Expand plan — N× row blowup, but blowup of a small
    *     thing); large inputs use a MELT — each row explodes to
    *     (column, value-as-string) pairs, pair-distinct, count per
    *     column: one scan + one shuffle of the pairs, no Expand through
    *     the aggregate. N separate aggs would re-scan the table N times
    *     and are never used. String-casting is safe for COUNTING
    *     (injective on the atomic types profiled); min/max use the
    *     native type in job 1.
    *
    * With `approximate`, HLL++ sketches merge without Expand, so the
    * distincts ride job 1 and the melt never runs: ONE job total. */
  /** Exact-distinct strategy crossover, in melted (row × column) pairs.
    * Below this the one-agg countDistinct (Expand) plan wins; above it
    * the melt avoids Expand's N× blowup through the first aggregate.
    * At 100 TB any real table is far above the cutover, so the scale
    * path is always the melt. Threaded as a parameter (not a settable
    * field) so a test forcing one strategy can't race a concurrent
    * profile on the shared session. */
  val DefaultMeltCutoverPairs: Long = 32L * 1000 * 1000

  def computeStats(df: DataFrame, cols: Seq[String],
      approximate: Boolean,
      meltCutoverPairs: Long = DefaultMeltCutoverPairs): TableStats = {
    require(cols.nonEmpty, "profile needs at least one column")
    val spark = df.sparkSession
    import spark.implicits._
    val basic = cols.flatMap { c =>
      Seq(count(col(c)).as(s"__p_$c"),
        min(col(c)).cast("string").as(s"__min_$c"),
        max(col(c)).cast("string").as(s"__max_$c"))
    } ++ (if (approximate) cols.map(c => approx_count_distinct(col(c)).as(s"__d_$c"))
          else Nil)
    val row = df.agg(count(lit(1)).as("__n_rows"), basic: _*).collect().head
    val distinct: Map[String, Long] =
      if (approximate) cols.map(c => c -> row.getAs[Long](s"__d_$c")).toMap
      else if (row.getAs[Long]("__n_rows") * cols.length <= meltCutoverPairs) {
        // Small-input cutover: under ~32M melted pairs the Expand plan's
        // N× blowup is cheaper than the melt's explode + string-cast +
        // two-level distinct shuffle (bench: 0.23 s vs 1.68 s on 150k×4
        // at sf0.1). Both shapes count null-excluded exact distincts, so
        // the oracle can't tell them apart. Job 1 already told us n_rows,
        // so the decision costs nothing.
        val r = df.agg(countDistinct(col(cols.head)).as(s"__d_${cols.head}"),
          cols.tail.map(c => countDistinct(col(c)).as(s"__d_$c")): _*).collect().head
        cols.map(c => c -> r.getAs[Long](s"__d_$c")).toMap
      } else {
        val counted = df.select(explode(array(cols.map(c =>
            struct(lit(c).as("c"), col(c).cast("string").as("v"))): _*)).as("p"))
          .select($"p.c".as("c"), $"p.v".as("v"))
          .where($"v".isNotNull)
          .distinct()
          .groupBy($"c").count()
          .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
        cols.map(c => c -> counted.getOrElse(c, 0L)).toMap // all-null column → 0
      }
    TableStats(
      nRows = row.getAs[Long]("__n_rows"),
      present = cols.map(c => c -> row.getAs[Long](s"__p_$c")).toMap,
      distinct = distinct,
      minS = cols.flatMap(c => Option(row.getAs[String](s"__min_$c")).map(c -> _)).toMap,
      maxS = cols.flatMap(c => Option(row.getAs[String](s"__max_$c")).map(c -> _)).toMap)
  }

  /** Profile the named columns: one output row per column with count,
    * nulls, exact distinct count, and min/max rendered as strings
    * (string-typed and integral columns only — float formatting is not
    * portable across engines). */
  def profile(df: DataFrame, cols: Seq[String],
      meltCutoverPairs: Long = DefaultMeltCutoverPairs): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val s = computeStats(df, cols, approximate = false, meltCutoverPairs)
    cols.map(c => (c, s.nRows, s.nRows - s.present(c), s.distinct(c),
        s.minS.get(c).orNull, s.maxS.get(c).orNull))
      .toDF("column", "n_rows", "n_null", "n_distinct", "min_s", "max_s")
      .orderBy($"column")
  }

  /** Fixed-width histogram of a numeric column — the distribution view
    * a profiling pass adds to min/max/distinct: one map-side-combining
    * aggregate, bins keyed by `floor(value / width)` (a single IEEE
    * division + floor, identical in any engine — never a float SUM).
    * Nulls are excluded like every aggregate. */
  def histogram(df: DataFrame, column: String, width: Double): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    df.where(col(column).isNotNull)
      .select(floor(col(column) / width).cast("long").as("bin"))
      .groupBy($"bin")
      .agg(count(lit(1)).as("n"))
      .withColumn("bin_lo", $"bin" * width)
      .select($"bin", $"bin_lo", $"n")
      .orderBy($"bin")
  }

  /** q95: event-value distribution at width 50. */
  def q95ValueHistogram(spark: SparkSession, d: String): DataFrame =
    histogram(Tables.events(spark, d), "value", 50.0)

  val q95Sql: String =
    """SELECT CAST(floor(value / 50.0) AS BIGINT) AS bin,
      |       CAST(floor(value / 50.0) AS BIGINT) * 50.0 AS bin_lo,
      |       count(*) AS n
      |FROM events WHERE value IS NOT NULL
      |GROUP BY 1 ORDER BY bin""".stripMargin

  def q42Profile(spark: SparkSession, d: String): DataFrame =
    profile(Tables.orders(spark, d),
      Seq("o_orderkey", "o_custkey", "o_orderstatus", "o_orderpriority"))

  val q42Sql: String = {
    def one(c: String) =
      s"""SELECT '$c' AS "column", count(*) AS n_rows,
         |       count(*) - count($c) AS n_null,
         |       count(DISTINCT $c) AS n_distinct,
         |       CAST(min($c) AS VARCHAR) AS min_s,
         |       CAST(max($c) AS VARCHAR) AS max_s
         |FROM orders""".stripMargin
    Seq("o_orderkey", "o_custkey", "o_orderstatus", "o_orderpriority")
      .map(one).mkString("", "\nUNION ALL\n", "\nORDER BY \"column\"")
  }
}
