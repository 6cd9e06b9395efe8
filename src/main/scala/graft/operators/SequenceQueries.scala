package graft.operators

import graft.{Q, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Event-sequence analytics: ordered funnels, cohort retention, and
  * trailing-window features — the behavioral-analytics query family a
  * production events pipeline runs daily.
  *
  * Scale shapes:
  *  - Funnel: three chained user-keyed aggregates (min matching time per
  *    stage, each conditioned on the previous stage's time). Every
  *    shuffle keys on user_id; no collect_list of a user's history ever
  *    materializes, so a power user with 10^7 events costs aggregation,
  *    not memory. Stage times are integer micros — cross-engine exact.
  *  - Retention: first-activity day per user (user-keyed aggregate) ⋈
  *    distinct activity days (user-keyed aggregate), then a count on
  *    (cohort_day, offset) — a key space bounded by days², not users.
  *  - Trailing features: ONE range-frame window per user over integer
  *    microseconds. A range frame includes every row tied on the order
  *    key, so ties cannot reorder results; the windowed sum runs on
  *    decimal and is final-cast to double (partition-order independent,
  *    driver-hash safe).
  */
object SequenceQueries {

  private val HourUs = 3600000000L

  private def evts(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d).withColumn("us", unix_micros(col("ts")))

  /** Ordered signup → click → purchase funnel: the stage each user
    * reached, with the time each stage completed. Strictly-later
    * ordering between stages.
    */
  def funnelOf(e: DataFrame): DataFrame = {
    val s1 = e
      .filter(col("event_type") === "signup")
      .groupBy("user_id")
      .agg(min("us").as("t1"))
    val s2 = e
      .filter(col("event_type") === "click")
      .join(s1, Seq("user_id"))
      .filter(col("us") > col("t1"))
      .groupBy("user_id")
      .agg(min("us").as("t2"))
    val s3 = e
      .filter(col("event_type") === "purchase")
      .join(s2, Seq("user_id"))
      .filter(col("us") > col("t2"))
      .groupBy("user_id")
      .agg(min("us").as("t3"))
    e.select("user_id")
      .distinct()
      .join(s1, Seq("user_id"), "left")
      .join(s2.select(col("user_id"), col("t2")), Seq("user_id"), "left")
      .join(s3, Seq("user_id"), "left")
      .select(
        col("user_id"),
        (when(col("t3").isNotNull, 3)
          .when(col("t2").isNotNull, 2)
          .when(col("t1").isNotNull, 1)
          .otherwise(0)).as("stage"),
        coalesce(col("t1"), lit(-1L)).as("t1_us"),
        coalesce(col("t2"), lit(-1L)).as("t2_us"),
        coalesce(col("t3"), lit(-1L)).as("t3_us")
      )
  }

  private val funnel = Q(
    "events_funnel",
    (s, d) => funnelOf(evts(s, d)),
    Some(
      """WITH e AS (SELECT user_id, event_type, epoch_us(ts) AS us FROM events),
        |s1 AS (SELECT user_id, min(us) AS t1 FROM e WHERE event_type = 'signup' GROUP BY 1),
        |s2 AS (SELECT e.user_id, min(us) AS t2 FROM e JOIN s1 USING (user_id)
        |       WHERE event_type = 'click' AND us > t1 GROUP BY 1),
        |s3 AS (SELECT e.user_id, min(us) AS t3 FROM e JOIN s2 USING (user_id)
        |       WHERE event_type = 'purchase' AND us > t2 GROUP BY 1)
        |SELECT u.user_id,
        |  CASE WHEN t3 IS NOT NULL THEN 3 WHEN t2 IS NOT NULL THEN 2
        |       WHEN t1 IS NOT NULL THEN 1 ELSE 0 END AS stage,
        |  coalesce(t1, -1) AS t1_us, coalesce(t2, -1) AS t2_us,
        |  coalesce(t3, -1) AS t3_us
        |FROM (SELECT DISTINCT user_id FROM e) u
        |LEFT JOIN s1 USING (user_id) LEFT JOIN s2 USING (user_id)
        |LEFT JOIN s3 USING (user_id)""".stripMargin
    )
  )

  /** Cohort retention: users grouped by first-activity day; for each
    * (cohort_day, day_offset), how many of that cohort were active.
    */
  def retentionOf(e: DataFrame): DataFrame = {
    val days = e
      .select(col("user_id"), expr("us div 86400000000").as("day"))
      .distinct()
    val cohort = days.groupBy("user_id").agg(min("day").as("cohort_day"))
    days
      .join(cohort, Seq("user_id"))
      .groupBy(
        col("cohort_day"),
        (col("day") - col("cohort_day")).as("day_offset")
      )
      .agg(count(lit(1)).as("n_users"))
  }

  private val retention = Q(
    "events_retention",
    (s, d) => retentionOf(evts(s, d)),
    Some(
      """WITH days AS (
        |  SELECT DISTINCT user_id, epoch_us(ts) // 86400000000 AS day FROM events),
        |cohort AS (SELECT user_id, min(day) AS cohort_day FROM days GROUP BY 1)
        |SELECT cohort_day, day - cohort_day AS day_offset,
        |  count(*) AS n_users
        |FROM days JOIN cohort USING (user_id)
        |GROUP BY 1, 2""".stripMargin
    )
  )

  /** Per-event trailing-1-hour activity features for the same user:
    * event count and value sum over (t − 1h, t] including ties.
    */
  def trailingOf(e: DataFrame): DataFrame = {
    val w = Window
      .partitionBy("user_id")
      .orderBy("us")
      .rangeBetween(-(HourUs - 1), Window.currentRow)
    e.select(
      col("event_id"),
      col("user_id"),
      count(lit(1)).over(w).as("n_1h"),
      sum(col("value").cast("decimal(18,2)")).over(w).cast("double").as("sum_value_1h")
    )
  }

  private val trailing = Q(
    "events_trailing_features",
    (s, d) => trailingOf(evts(s, d)),
    Some(
      s"""SELECT event_id, user_id,
         |  count(*) OVER w AS n_1h,
         |  cast(sum(cast(value AS decimal(18,2))) OVER w AS double) AS sum_value_1h
         |FROM (SELECT event_id, user_id, value, epoch_us(ts) AS us FROM events) e
         |WINDOW w AS (PARTITION BY user_id ORDER BY us
         |             RANGE BETWEEN ${HourUs - 1} PRECEDING AND CURRENT ROW)""".stripMargin
    )
  )

  /** RFM customer segmentation (Hughes 1994 — the classic
    * recency/frequency/monetary quintile grid) over purchase events:
    * R = days since the user's last purchase (corpus max day as "now"),
    * F = purchase count, M = integer cents. Scores 1..5 are QUINTILES
    * of the corpus's own distributions, computed the certified
    * bounded-histogram way (the ppl-buckets / gini discipline): each
    * metric's value→count histogram is bounded (R by the day span, F
    * by the count-of-counts, M banded to whole dollars), the four cuts
    * come from a cumulative window over that bounded frame — never a
    * per-user rank — and score = 1 + #cuts strictly below the value
    * (ties share the lower bucket, identical in both engines).
    * R is inverted (recent = 5) per the classic convention.
    *
    * Scale shape: one per-user aggregate; three bounded histograms +
    * windows; cuts re-enter via tiny broadcasts. No corpus-sized sort.
    */
  def rfmOf(e: DataFrame): DataFrame = {
    val p = e
      .filter(col("event_type") === "purchase")
      .select(
        col("user_id"),
        expr("unix_micros(ts) div 86400000000").as("day"),
        round(col("value") * 100).cast("long").as("v_c")
      )
    val perUser = p
      .groupBy("user_id")
      .agg(max("day").as("lastday"), count(lit(1)).as("f"), sum("v_c").as("m_c"))
    val maxDay = perUser.agg(max("lastday").as("maxday"))
    val users = graft.Lineage.checkpoint(
      perUser
        .withColumn("j", (col("f") - col("f") + 1).cast("int"))
        .join(
          broadcast(maxDay.select((col("maxday") - col("maxday") + 1).cast("int").as("j"), col("maxday"))),
          Seq("j")
        )
        .select(
          col("user_id"),
          (col("maxday") - col("lastday")).as("r_days"),
          col("f"),
          col("m_c"),
          expr("m_c div 100").as("m_band")
        )
    ).df
    // quintile cuts of one bounded (value, n) histogram: the smallest
    // value whose cumulative count reaches k/5 of the users, k=1..4.
    def cutsOf(metric: String): DataFrame = {
      val hist = users.groupBy(col(metric).as("value")).agg(count(lit(1)).as("n"))
      val w = org.apache.spark.sql.expressions.Window
        .orderBy("value")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val tot = hist.agg(sum("n").as("nt"))
      hist
        .withColumn("cum", sum("n").over(w))
        .withColumn("j", (col("n") - col("n") + 1).cast("int"))
        .join(broadcast(tot.select((col("nt") - col("nt") + 1).cast("int").as("j"), col("nt"))), Seq("j"))
        .groupBy("j")
        .agg(
          min(when(expr("cum * 5 >= nt"), col("value"))).as("c1"),
          min(when(expr("cum * 5 >= 2 * nt"), col("value"))).as("c2"),
          min(when(expr("cum * 5 >= 3 * nt"), col("value"))).as("c3"),
          min(when(expr("cum * 5 >= 4 * nt"), col("value"))).as("c4")
        )
    }
    def score(metric: String, cuts: String): Column =
      lit(1L) + when(col(metric) > col(s"$cuts.c1"), 1L).otherwise(0L) +
        when(col(metric) > col(s"$cuts.c2"), 1L).otherwise(0L) +
        when(col(metric) > col(s"$cuts.c3"), 1L).otherwise(0L) +
        when(col(metric) > col(s"$cuts.c4"), 1L).otherwise(0L)
    val withCuts = users
      .withColumn("j", (col("f") - col("f") + 1).cast("int"))
      .join(broadcast(cutsOf("r_days").select(col("j"), struct(col("c1"), col("c2"), col("c3"), col("c4")).as("rc"))), Seq("j"))
      .join(broadcast(cutsOf("f").select(col("j"), struct(col("c1"), col("c2"), col("c3"), col("c4")).as("fc"))), Seq("j"))
      .join(broadcast(cutsOf("m_band").select(col("j"), struct(col("c1"), col("c2"), col("c3"), col("c4")).as("mc"))), Seq("j"))
    withCuts
      .select(
        col("user_id"),
        col("r_days"),
        col("f"),
        col("m_c"),
        (lit(6L) - score("r_days", "rc")).as("r_score"),
        score("f", "fc").as("f_score"),
        score("m_band", "mc").as("m_score")
      )
      .withColumn("rfm", expr("r_score * 100 + f_score * 10 + m_score"))
  }

  private val rfmQ = Q(
    "events_rfm",
    (s, d) => rfmOf(Tables.events(s, d)),
    Some {
      def cuts(metric: String, name: String) =
        s"""$name AS (
           |  SELECT
           |    min(CASE WHEN cum * 5 >= nt THEN value END) AS c1,
           |    min(CASE WHEN cum * 5 >= 2 * nt THEN value END) AS c2,
           |    min(CASE WHEN cum * 5 >= 3 * nt THEN value END) AS c3,
           |    min(CASE WHEN cum * 5 >= 4 * nt THEN value END) AS c4
           |  FROM (
           |    SELECT value, sum(n) OVER (ORDER BY value ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
           |      sum(n) OVER () AS nt
           |    FROM (SELECT $metric AS value, count(*) AS n FROM users GROUP BY 1) _h) _c)""".stripMargin
      def score(metric: String, cu: String) =
        s"(1 + (CASE WHEN $metric > $cu.c1 THEN 1 ELSE 0 END) + (CASE WHEN $metric > $cu.c2 THEN 1 ELSE 0 END) + (CASE WHEN $metric > $cu.c3 THEN 1 ELSE 0 END) + (CASE WHEN $metric > $cu.c4 THEN 1 ELSE 0 END))"
      s"""WITH p AS (
         |  SELECT user_id, epoch_us(ts) // 86400000000 AS day,
         |    CAST(round(value * 100) AS BIGINT) AS v_c
         |  FROM events WHERE event_type = 'purchase'),
         |pu AS (
         |  SELECT user_id, max(day) AS lastday, count(*) AS f, sum(v_c) AS m_c
         |  FROM p GROUP BY 1),
         |md AS (SELECT max(lastday) AS maxday FROM pu),
         |users AS (
         |  SELECT user_id, maxday - lastday AS r_days, f, m_c, m_c // 100 AS m_band
         |  FROM pu, md),
         |${cuts("r_days", "rc")},
         |${cuts("f", "fc")},
         |${cuts("m_band", "mc")}
         |SELECT user_id, CAST(r_days AS BIGINT) AS r_days, CAST(f AS BIGINT) AS f,
         |  CAST(m_c AS BIGINT) AS m_c,
         |  CAST(6 - ${score("r_days", "rc")} AS BIGINT) AS r_score,
         |  CAST(${score("f", "fc")} AS BIGINT) AS f_score,
         |  CAST(${score("m_band", "mc")} AS BIGINT) AS m_score,
         |  CAST((6 - ${score("r_days", "rc")}) * 100 + ${score("f", "fc")} * 10 + ${score("m_band", "mc")} AS BIGINT) AS rfm
         |FROM users, rc, fc, mc""".stripMargin
    }
  )

  /** Corpus-level session statistics — the one-row health read over the
    * certified sessionization (the number a dashboard shows before
    * anyone drills into per-session rows): session and user counts,
    * mean/max session size, sessions per user, and the single-event
    * (bounce) share. Implementation and ORACLE both wrap the
    * `events_sessionize` row's own certified definitions, so the two
    * cannot drift from the thing they summarize.
    */
  private val sessionStatsQ = Q(
    "events_session_stats",
    (s, d) =>
      graft.SparkEntry
        .queries("events_sessionize")(s, d)
        .agg(
          count(lit(1)).as("n_sessions"),
          count_distinct(col("user_id")).as("n_users"),
          sum("n_events").as("n_events"),
          max("n_events").as("max_events"),
          sum(when(col("n_events") === 1, 1L).otherwise(0L)).as("n_bounce")
        )
        .select(
          col("n_sessions"),
          col("n_users"),
          col("n_events"),
          col("max_events"),
          expr("(n_events * 100) div n_sessions").as("mean_events_c"),
          expr("(n_sessions * 100) div n_users").as("sessions_per_user_c"),
          expr("(n_bounce * 10000) div n_sessions").as("bounce_share_pm")
        ),
    AnalyticsQueries.all
      .find(_.name == "events_sessionize")
      .flatMap(_.oracle)
      .map { inner =>
        s"""WITH sess_rows AS ($inner)
           |SELECT CAST(count(*) AS BIGINT) AS n_sessions,
           |  CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
           |  CAST(sum(n_events) AS BIGINT) AS n_events,
           |  CAST(max(n_events) AS BIGINT) AS max_events,
           |  CAST((sum(n_events) * 100) // count(*) AS BIGINT) AS mean_events_c,
           |  CAST((count(*) * 100) // count(DISTINCT user_id) AS BIGINT) AS sessions_per_user_c,
           |  CAST((sum(CASE WHEN n_events = 1 THEN 1 ELSE 0 END) * 10000) // count(*) AS BIGINT) AS bounce_share_pm
           |FROM sess_rows""".stripMargin
      }
  )

  val all: Seq[Q] = Seq(funnel, retention, trailing, rfmQ, sessionStatsQ)
}
