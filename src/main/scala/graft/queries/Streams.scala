package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.Tables

/** Event-time queries over the events table: windowed counts,
  * gap-based sessions and as-of attribution, each a batch aggregation
  * that DuckDB oracles. The engine has no streaming query; the only
  * stream is `Main ingest` (`StreamingIngest`).
  */
object Streams {

  private def money(c: org.apache.spark.sql.Column) = graft.functions.ExactNumeric.money(c)

  /** Tumbling-window counts per event type (sums decimal-cast for
    * cross-engine exactness). */
  def q32WindowedCounts(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    Tables.events(spark, d)
      .groupBy(window($"ts", "1 hour"), $"event_type")
      .agg(count(lit(1)).as("n"), sum(money($"value")).cast("double").as("total_value"))
      .select(
        date_format($"window.start", "yyyy-MM-dd HH:mm:ss").as("window_start"),
        $"event_type", $"n", $"total_value")
      .orderBy($"window_start", $"event_type")
  }

  val q32Sql: String =
    """SELECT strftime(time_bucket(INTERVAL 1 HOUR, ts), '%Y-%m-%d %H:%M:%S') AS window_start,
      |       event_type, count(*) AS n,
      |       CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
      |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  /** Gap-based sessionization: session start/end per user, 30-minute
    * gap. The DuckDB
    * oracle reconstructs Spark's session_window semantics — a new
    * session when the gap to the previous event is >= the gap, end =
    * last event + gap. */
  def q33Sessions(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    Tables.events(spark, d)
      .groupBy(session_window($"ts", "30 minutes"), $"user_id")
      .agg(count(lit(1)).as("n_events"), sum(money($"value")).cast("double").as("session_value"))
      .select(
        date_format($"session_window.start", "yyyy-MM-dd HH:mm:ss").as("session_start"),
        date_format($"session_window.end", "yyyy-MM-dd HH:mm:ss").as("session_end"),
        $"user_id", $"n_events", $"session_value")
      .orderBy($"user_id", $"session_start")
  }

  val q33Sql: String =
    """WITH raw AS (
      |  -- µs-truncate like Tables.events: a ns-precision gap within
      |  -- 1µs of exactly 30min could otherwise split sessions
      |  -- differently between the engines
      |  SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts, value FROM events
      |), e AS (
      |  SELECT user_id, event_id, ts, value,
      |         CASE WHEN lag(ts) OVER w IS NULL
      |                OR ts - lag(ts) OVER w >= INTERVAL 30 MINUTE
      |              THEN 1 ELSE 0 END AS new_sess
      |  FROM raw
      |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
      |), s AS (
      |  SELECT *, sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |                                ROWS UNBOUNDED PRECEDING) AS sess_id
      |  FROM e
      |)
      |SELECT strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
      |       strftime(max(ts) + INTERVAL 30 MINUTE, '%Y-%m-%d %H:%M:%S') AS session_end,
      |       user_id, count(*) AS n_events,
      |       CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS session_value
      |FROM s GROUP BY user_id, sess_id
      |ORDER BY user_id, session_start""".stripMargin

  /** Multimodal pipeline summary — deterministic fake decode, rows-only
    * (decode stub is JVM-side; invariants in MultimodalSpec). */
  def q34MultimodalSummary(spark: SparkSession, d: String): DataFrame =
    graft.multimodal.Multimodal.pipelineSummary(spark, d)

  /** q52: as-of attribution — for every purchase, the user's most
    * recent view at or before the purchase time
    * ([[graft.operators.AsOfJoin]]: one shuffle on user_id, no range
    * join). The DuckDB oracle is the LATERAL top-1 form — identical
    * semantics including the max-event_id tiebreak, expressible there
    * without ASOF's unspecified tie handling. */
  def q52AsOfAttribution(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    val e = Tables.events(spark, d)
    val purchases = e.where($"event_type" === "purchase")
      .select($"event_id", $"user_id", $"ts")
    val views = e.where($"event_type" === "view")
      .select($"user_id", $"event_id", $"ts")
    graft.operators.AsOfJoin
      .asOf(purchases, views, key = "user_id", time = "ts",
        tieBreak = "event_id", buildPrefix = "view_")
      .orderBy($"event_id")
  }

  /** q61: per-event rolling activity — how many events (and how much
    * value) the same user produced in the preceding 10 minutes,
    * inclusive of the current instant. A RANGE window frame over
    * microsecond epochs: per-key time-bounded state, the batch twin of
    * the streaming sliding window. */
  def q61RollingActivity(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy($"user_id").orderBy(unix_micros($"ts"))
      .rangeBetween(-600L * 1000000L, 0L)
    Tables.events(spark, d)
      .withColumn("n_10m", count(lit(1)).over(w))
      .withColumn("value_10m", sum(money($"value")).over(w).cast("double"))
      .select($"event_id", $"user_id", $"n_10m", $"value_10m")
      .orderBy($"event_id")
  }

  val q61Sql: String =
    """SELECT event_id, user_id,
      |       count(*) OVER w AS n_10m,
      |       CAST(sum(CAST(value AS DECIMAL(18,2))) OVER w AS DOUBLE) AS value_10m
      |FROM (SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts, value FROM events)
      |WINDOW w AS (PARTITION BY user_id ORDER BY ts
      |             RANGE BETWEEN INTERVAL 10 MINUTE PRECEDING AND CURRENT ROW)
      |ORDER BY event_id""".stripMargin

  val q52Sql: String =
    """WITH e AS (
      |  SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts, event_type
      |  FROM events
      |), p AS (
      |  SELECT event_id, user_id, ts FROM e WHERE event_type = 'purchase'
      |), v AS (
      |  SELECT event_id, user_id, ts FROM e WHERE event_type = 'view'
      |)
      |SELECT p.event_id, p.user_id, p.ts,
      |       l.event_id AS view_event_id, l.ts AS view_ts
      |FROM p LEFT JOIN LATERAL (
      |  SELECT event_id, ts FROM v
      |  WHERE v.user_id = p.user_id AND v.ts <= p.ts
      |  ORDER BY ts DESC, event_id DESC LIMIT 1) l ON true
      |ORDER BY p.event_id""".stripMargin

  /** q85: forward as-of — for every purchase, the user's NEXT view at
    * or after the purchase time (post-purchase re-engagement; the
    * mirror of q52). Same one-shuffle [[graft.operators.AsOfJoin]]
    * machinery with `forward = true`; the oracle is the LATERAL top-1
    * with the comparison and sort flipped, max-event_id tiebreak
    * preserved. */
  def q85ForwardAsOf(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    val e = Tables.events(spark, d)
    val purchases = e.where($"event_type" === "purchase")
      .select($"event_id", $"user_id", $"ts")
    val views = e.where($"event_type" === "view")
      .select($"user_id", $"event_id", $"ts")
    graft.operators.AsOfJoin
      .asOf(purchases, views, key = "user_id", time = "ts",
        tieBreak = "event_id", buildPrefix = "next_", forward = true)
      .orderBy($"event_id")
  }

  val q85Sql: String =
    """WITH e AS (
      |  SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts, event_type
      |  FROM events
      |), p AS (
      |  SELECT event_id, user_id, ts FROM e WHERE event_type = 'purchase'
      |), v AS (
      |  SELECT event_id, user_id, ts FROM e WHERE event_type = 'view'
      |)
      |SELECT p.event_id, p.user_id, p.ts,
      |       l.event_id AS next_event_id, l.ts AS next_ts
      |FROM p LEFT JOIN LATERAL (
      |  SELECT event_id, ts FROM v
      |  WHERE v.user_id = p.user_id AND v.ts >= p.ts
      |  ORDER BY ts ASC, event_id DESC LIMIT 1) l ON true
      |ORDER BY p.event_id""".stripMargin

  /** q112: per-event session *assignment* — the window-function
    * sessionization that complements q33's `session_window` aggregate.
    * Where q33 only emits per-session summaries, this labels every
    * event with its session ordinal, position within the session, and
    * offset from the session start — the shape a feature pipeline
    * joins back to raw events (q33 can't: the aggregate has lost the
    * event ids).
    *
    * One HASH exchange total: the lag/cumsum window hash-partitions on
    * user_id; the per-session windows cluster on (user_id, sess_id),
    * which HashPartitioning(user_id) already satisfies (same user ⇒
    * same partition), so EnsureRequirements inserts only a sort, not
    * a second hash exchange (PlanHygieneSpec pins exactly one
    * hashpartitioning). The trailing `orderBy(event_id)` adds a RANGE
    * exchange for the presentation order — that one is the oracle-
    * comparison contract, not session math, and a pipeline consumer
    * joining labels back to events would drop it. All outputs are
    * exact integers (epoch-µs arithmetic) — no float parity risk vs
    * the oracle.
    */
  def q112Sessionize(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    val gapUs = 30L * 60L * 1000000L
    val w = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
    val ws = Window.partitionBy($"user_id", $"sess_id")
    val gap = unix_micros($"ts") - unix_micros(lag($"ts", 1).over(w))
    Tables.events(spark, d)
      .select($"event_id", $"user_id", $"ts")
      .withColumn("new_sess",
        when(gap.isNull || gap >= gapUs, 1L).otherwise(0L))
      .withColumn("sess_id",
        sum($"new_sess").over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("pos_in_sess",
        row_number().over(ws.orderBy($"ts", $"event_id")))
      .withColumn("since_start_us",
        unix_micros($"ts") - min(unix_micros($"ts")).over(ws))
      .withColumn("sess_n", count(lit(1)).over(ws))
      .select($"event_id", $"user_id", $"sess_id", $"pos_in_sess",
        $"since_start_us", $"sess_n")
      .orderBy($"event_id")
  }

  val q112Sql: String =
    """WITH raw AS (
      |  -- µs-truncate like Tables.events (see q33Sql)
      |  SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts FROM events
      |), e AS (
      |  SELECT user_id, event_id, ts,
      |         CASE WHEN lag(ts) OVER w IS NULL
      |                OR ts - lag(ts) OVER w >= INTERVAL 30 MINUTE
      |              THEN 1 ELSE 0 END AS new_sess
      |  FROM raw
      |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
      |), s AS (
      |  SELECT *, sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |                                ROWS UNBOUNDED PRECEDING) AS sess_id
      |  FROM e
      |)
      |SELECT event_id, user_id, CAST(sess_id AS BIGINT) AS sess_id,
      |       CAST(row_number() OVER ws AS INTEGER) AS pos_in_sess,
      |       epoch_us(ts) - min(epoch_us(ts)) OVER wp AS since_start_us,
      |       count(*) OVER wp AS sess_n
      |FROM s
      |WINDOW ws AS (PARTITION BY user_id, sess_id ORDER BY ts, event_id),
      |       wp AS (PARTITION BY user_id, sess_id)
      |ORDER BY event_id""".stripMargin
}
