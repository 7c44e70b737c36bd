package graft.ext

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables

/** Event-stream analytics on the `events` table (batch renditions; the
  * streaming twins live in graft.streaming). */
object Events {

  /** Tumbling-hour aggregation per event type. `value` has 2 decimals in
    * the data; summed exactly in integer cents (see Relational's note on
    * cross-engine double determinism). */
  /** The cross-engine money rule in ONE place: sum exact integer cents,
    * divide once at the end. Three queries (tumbling, sliding, and the
    * streaming twin) share this — a precision change must not be able
    * to drift between engines or copies. */
  def centsSum(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    sum(round(c * 100).cast("long")).cast("double") / 100.0

  def centsSumSql(e: String): String =
    s"CAST(SUM(CAST(round($e*100) AS BIGINT)) AS DOUBLE)/100.0"

  /** Planted-lateness slice: idHash(event_id) % this == 0 (~3% of
    * events) is delayed by [[OooDelayUs]]. 29 is coprime with the
    * idHash multiplier 40503 = 3·23·587 — a factor of the multiplier
    * (23, say) would make the slice structurally EMPTY on small ids. */
  val OooSliceMod = 29L

  /** 2 h planted delay — past the streaming twins' 30 min watermark. */
  val OooDelayUs: Long = 2L * 3600 * 1000000L

  /** Out-of-order arrival audit — the measurement a streaming watermark
    * is DESIGNED from: within each user's stream (event_id = arrival
    * order), an event is out-of-order if its event time precedes the
    * max event time already seen for that user, and its lateness is
    * that regression in seconds. Reported per event-time hour: event
    * count, out-of-order count/permille, and worst lateness — exactly
    * the table you read before choosing `withWatermark("ts", X)`
    * (the streaming twins here use 30 min; this gate shows what that
    * choice drops). Per-user running max keeps the computation KEYED —
    * a global arrival watermark would serialize on one partition at
    * scale, and per-key watermark design is what production pipelines
    * do anyway (device clocks skew per device).
    *
    * The fixture's event_id order is perfectly time-sorted (zero
    * out-of-order rows at every SF), which would make the gate
    * vacuous — so, the integrity/pii pattern: both engines
    * deterministically delay the SAME idHash slice of events by
    * [[OooDelayUs]] (a late device flush), and must EARN matching
    * non-zero counts through their windowed detectors. Unperturbed
    * hours prove the detector also stays silent on ordered data.
    *
    * Scale shape: one user_id-keyed window (running max over arrival
    * order) riding the same shuffle a sessionize pass uses, then a
    * map-side-combinable hourly rollup. Integer micros throughout. */
  def outOfOrder(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("user_id")).orderBy(col("event_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    Tables.events(spark, sfDir)
      .filter(col("ts").isNotNull)
      .select(col("event_id"), col("user_id"),
        (unix_micros(col("ts").cast("timestamp")) -
          when(Hashing.idHash(col("event_id")) % OooSliceMod === 0,
            lit(OooDelayUs)).otherwise(lit(0L))).as("tsu"))
      .withColumn("ts", timestamp_micros(col("tsu")).cast("timestamp_ntz"))
      .withColumn("prev_max", max(col("tsu")).over(w))
      .withColumn("late_us",
        when(col("prev_max") > col("tsu"), col("prev_max") - col("tsu"))
          .otherwise(lit(0L)))
      .groupBy(date_trunc("hour", col("ts")).as("hour"))
      .agg(
        count(lit(1)).as("n_events"),
        sum(when(col("late_us") > 0L, 1L).otherwise(0L)).as("n_ooo"),
        max(col("late_us")).as("max_late_us"))
      .withColumn("ooo_permille", expr("n_ooo * 1000 div n_events"))
  }

  val outOfOrderSql: String =
    s"""WITH e AS (SELECT event_id, user_id,
       |    CAST(epoch_us(ts) AS BIGINT)
       |      - CASE WHEN (${Hashing.idHashSql("event_id")}) % $OooSliceMod = 0
       |             THEN $OooDelayUs ELSE 0 END AS tsu
       |  FROM events WHERE ts IS NOT NULL),
       |m AS (SELECT event_id, user_id, make_timestamp(tsu) AS ts, tsu,
       |    MAX(tsu) OVER (PARTITION BY user_id ORDER BY event_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_max
       |  FROM e),
       |l AS (SELECT ts,
       |    CASE WHEN prev_max > tsu THEN prev_max - tsu ELSE 0 END AS late_us
       |  FROM m)
      |SELECT date_trunc('hour', ts) AS hour,
      |  CAST(COUNT(*) AS BIGINT) AS n_events,
      |  CAST(COALESCE(SUM(CASE WHEN late_us > 0 THEN 1 END), 0) AS BIGINT)
      |    AS n_ooo,
      |  CAST(MAX(late_us) AS BIGINT) AS max_late_us,
      |  CAST(COALESCE(SUM(CASE WHEN late_us > 0 THEN 1 END), 0) * 1000
      |    // COUNT(*) AS BIGINT) AS ooo_permille
      |FROM l GROUP BY 1""".stripMargin

  def windowedAgg(spark: SparkSession, sfDir: String): DataFrame =
    Tables.events(spark, sfDir)
      .groupBy(date_trunc("hour", col("ts")).as("hour"), col("event_type"))
      .agg(
        count(lit(1)).as("cnt"),
        centsSum(col("value")).as("sum_value"))

  val windowedAggSql: String =
    s"""SELECT date_trunc('hour', ts) AS hour, event_type, COUNT(*) AS cnt,
       |  ${centsSumSql("value")} AS sum_value
       |FROM events GROUP BY 1, 2""".stripMargin

  /** SLIDING windows (2 h span, 1 h slide) — each event lands in two
    * overlapping windows, the overlap-aware complement of the tumbling
    * [[windowedAgg]]. Spark's `window()` expands the per-event window
    * list map-side (span/slide = 2 rows per event), then it is one
    * ordinary grouped agg — the same single exchange as tumbling, just
    * with the fan-out factor in the map stage. The oracle unnests the
    * two hour-aligned starts explicitly. */
  def slidingAgg(spark: SparkSession, sfDir: String): DataFrame =
    Tables.events(spark, sfDir)
      // Spark's window() silently drops NULL-timestamp rows; filter
      // explicitly and mirror it in the oracle so both engines share
      // the stated contract (windows are over valid-time events) even
      // on data with NULL ts.
      .filter(col("ts").isNotNull)
      .groupBy(window(col("ts"), "2 hours", "1 hour").as("w"), col("event_type"))
      .agg(
        count(lit(1)).as("cnt"),
        centsSum(col("value")).as("sum_value"))
      .select(col("w.start").as("window_start"), col("event_type"),
        col("cnt"), col("sum_value"))

  val slidingAggSql: String =
    s"""SELECT ws AS window_start, event_type, COUNT(*) AS cnt,
       |  ${centsSumSql("value")} AS sum_value
       |FROM (SELECT event_type, value,
       |        unnest([date_trunc('hour', ts), date_trunc('hour', ts) - INTERVAL 1 HOUR]) AS ws
       |      FROM events WHERE ts IS NOT NULL)
       |GROUP BY 1, 2""".stripMargin

  /** Sessionization: per user, a new session starts after a >30 min gap.
    * One shuffle on user_id serves both window functions and the final
    * per-user rollup (Catalyst reuses the partitioning). */
  def sessionize(spark: SparkSession, sfDir: String): DataFrame = {
    val byUser = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    Tables.events(spark, sfDir)
      .withColumn("prev_ts", lag(col("ts"), 1).over(byUser))
      .withColumn("new_session",
        when(col("prev_ts").isNull ||
          unix_micros(col("ts").cast("timestamp")) -
            unix_micros(col("prev_ts").cast("timestamp")) > 1800000000L, 1L)
          .otherwise(0L))
      .groupBy(col("user_id"))
      .agg(sum(col("new_session")).as("n_sessions"), count(lit(1)).as("n_events"))
  }

  /** Changepoint summary — the "WHEN did it change" answer
    * [[cusumHourly]]'s per-hour frame leaves to the reader: per event
    * type, the hour where each CUSUM arm peaks, the peak magnitude
    * (exact n-scaled units), and whether the peak crosses the 3σ
    * alarm. Peak hour is a (value DESC, hour) total-order top-1 — the
    * earliest hour wins ties, so the report is engine- and
    * partition-invariant.
    *
    * Scale shape: one rank window per arm over the per-type spine
    * frame (rides the same event_type clustering the CUSUM build
    * used); output is 2·#types rows. */
  def cusumChangepoints(spark: SparkSession, sfDir: String): DataFrame = {
    val c = cusumHourly(spark, sfDir).localCheckpoint() // two arm windows
    def arm(vCol: String, name: String): DataFrame = {
      val w = Window.partitionBy(col("event_type"))
        .orderBy(col(vCol).desc, col("hour"))
      c.withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("event_type"), lit(name).as("arm"),
          col("hour").as("peak_hour"), col(vCol).as("peak_s"),
          col(if (name == "up") "alarm_up" else "alarm_down")
            .as("alarmed"))
    }
    arm("s_pos", "up").unionAll(arm("s_neg", "down"))
  }

  // lazy: composes cusumHourlySql, which is declared later in the file —
  // an eager val here would interpolate null at object-init order.
  lazy val cusumChangepointsSql: String =
    s"""WITH c AS ($cusumHourlySql),
       |up AS (SELECT event_type, 'up' AS arm, hour AS peak_hour,
       |    s_pos AS peak_s, alarm_up AS alarmed,
       |    row_number() OVER (PARTITION BY event_type
       |      ORDER BY s_pos DESC, hour) AS rn
       |  FROM c),
       |dn AS (SELECT event_type, 'down' AS arm, hour AS peak_hour,
       |    s_neg AS peak_s, alarm_down AS alarmed,
       |    row_number() OVER (PARTITION BY event_type
       |      ORDER BY s_neg DESC, hour) AS rn
       |  FROM c)
       |SELECT event_type, arm, peak_hour, peak_s, alarmed
       |FROM up WHERE rn = 1
       |UNION ALL
       |SELECT event_type, arm, peak_hour, peak_s, alarmed
       |FROM dn WHERE rn = 1""".stripMargin

  /** Seasonality profile — the (day-of-week × hour-of-day) heatmap a
    * traffic dashboard opens with: counts and permille share of the
    * week cell-by-cell per event type. Calendar extraction
    * (dayofweek/hour) is identical integer math in both engines under
    * the UTC session.
    *
    * Scale shape: one map-side-combinable agg onto the #types×7×24
    * grid + a #types-row totals broadcast. */
  def dowHourHeatmap(spark: SparkSession, sfDir: String): DataFrame = {
    val g = Tables.events(spark, sfDir)
      .select(col("event_type"),
        dayofweek(col("ts")).cast("long").as("dow"),
        hour(col("ts")).cast("long").as("hod"))
      .groupBy(col("event_type"), col("dow"), col("hod"))
      .agg(count(lit(1)).as("n"))
    val tot = g.groupBy(col("event_type")).agg(sum(col("n")).as("n_type"))
    g.join(broadcast(tot), "event_type")
      .select(col("event_type"), col("dow"), col("hod"), col("n"),
        expr("(n * 1000) div n_type").as("share_pm"))
  }

  val dowHourHeatmapSql: String =
    """WITH g AS (SELECT event_type,
      |    CAST(dayofweek(ts) + 1 AS BIGINT) AS dow,
      |    CAST(hour(ts) AS BIGINT) AS hod,
      |    CAST(COUNT(*) AS BIGINT) AS n
      |  FROM events GROUP BY 1, 2, 3),
      |t AS (SELECT event_type, CAST(SUM(n) AS BIGINT) AS n_type
      |  FROM g GROUP BY 1)
      |SELECT g.event_type, g.dow, g.hod, g.n,
      |  (g.n * 1000) // t.n_type AS share_pm
      |FROM g JOIN t USING (event_type)""".stripMargin

  /** Power-iteration rounds for the stationary distribution. */
  val StationaryIters = 5
  private val StatScale = 1000000L

  /** Stationary distribution of the event-type Markov chain — "where
    * does a user's attention settle": π = πP solved by
    * [[StationaryIters]] integer power-iteration rounds over the
    * [[markovTransitions]] count matrix (π'_j = Σ_i π_i·n_ij, exact
    * Longs; each round L1-renormalized by `(π·S) div Σπ` — the
    * [[Pca]]/[[Hits]] scaled-Long discipline, truncation identical
    * across engines). Emitted beside the EMPIRICAL state share, which
    * for a well-mixed chain the stationary vector should approximate —
    * the comparison is the model-diagnostic this report exists for
    * (divergence ⇒ the first-order chain misses structure, e.g.
    * absorbing funnels).
    *
    * Scale shape: the transition matrix is #types² rows at any SF;
    * rounds are joins over that constant-size frame with 1-row sum
    * attachments, unrolled in one plan. Headroom: π ≤ S and
    * n_ij ≤ #events ⇒ π·n ≤ S·N ≈ 3.6e11 at sf0.1, ×S for the rescale
    * product ≈ 3.6e17 < 2^63; a 10¹²-event corpus recasts to
    * decimal(38,0). */
  def markovStationary(spark: SparkSession, sfDir: String): DataFrame = {
    val trans = markovTransitions(spark, sfDir)
      .select(col("prev_type"), col("next_type"), col("n"))
      .localCheckpoint() // K join consumers
    var pi = trans.select(col("prev_type").as("t")).distinct()
      .withColumn("pi", lit(StatScale))
    for (_ <- 1 to StationaryIters) {
      val raw = trans.join(pi, trans("prev_type") === pi("t"))
        .groupBy(col("next_type"))
        .agg(sum(col("pi") * col("n")).as("raw"))
      pi = raw.crossJoin(broadcast(raw.agg(sum(col("raw")).as("tot"))))
        .select(col("next_type").as("t"),
          expr(s"(raw * ${StatScale}L) div tot").as("pi"))
    }
    val emp = Tables.events(spark, sfDir)
      .groupBy(col("event_type")).agg(count(lit(1)).as("n_events"))
    val empTot = emp.agg(sum(col("n_events")).as("n_total"))
    pi.join(emp, pi("t") === emp("event_type"))
      .crossJoin(broadcast(empTot))
      .select(col("t").as("event_type"),
        expr("(pi * 1000) div " + StatScale + "L").as("stationary_pm"),
        expr("(n_events * 1000) div n_total").as("empirical_pm"),
        col("pi").as("pi_scaled"), col("n_events"))
  }

  val markovStationarySql: String = {
    val steps = (1 to StationaryIters).map { k =>
      s"""r$k AS (SELECT t.next_type, CAST(SUM(p.pi * t.n) AS BIGINT) AS raw
         |  FROM tr t JOIN p${k - 1} p ON t.prev_type = p.t GROUP BY 1),
         |p$k AS (SELECT next_type AS t, CAST((raw * $StatScale)
         |    // (SELECT SUM(raw) FROM r$k) AS BIGINT) AS pi FROM r$k)"""
        .stripMargin
    }
    s"""WITH tr AS (SELECT prev_type, next_type, CAST(COUNT(*) AS BIGINT) AS n
       |  FROM (SELECT user_id, event_type AS next_type,
       |          lag(event_type, 1) OVER (PARTITION BY user_id
       |            ORDER BY ts, event_id) AS prev_type
       |        FROM events)
       |  WHERE prev_type IS NOT NULL GROUP BY 1, 2),
       |p0 AS (SELECT DISTINCT prev_type AS t, CAST($StatScale AS BIGINT)
       |    AS pi FROM tr),
       |${steps.mkString(",\n")},
       |emp AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_events
       |  FROM events GROUP BY 1),
       |et AS (SELECT CAST(SUM(n_events) AS BIGINT) AS n_total FROM emp)
       |SELECT p.t AS event_type,
       |  (p.pi * 1000) // $StatScale AS stationary_pm,
       |  (e.n_events * 1000) // t.n_total AS empirical_pm,
       |  p.pi AS pi_scaled, e.n_events
       |FROM p$StationaryIters p JOIN emp e ON p.t = e.event_type, et t"""
      .stripMargin
  }

  /** Session-duration distribution — the histogram behind "how long do
    * people stay": [[sessionize]]'s 30-minute-gap islands, materialized
    * per session (island id = running new-session sum — the same ONE
    * user_id window exchange) and bucketed by duration in 10-minute
    * bins. Emits per bucket the session count, total events, and the
    * exact Long duration sum (micros), so mean-duration is derivable
    * without a float anywhere in the gate.
    *
    * Scale shape: the window exchange is the sessionize one; the
    * per-session agg rides the SAME user_id clustering (no second
    * exchange — (user_id, sess) is a refinement of the window
    * partitioning); the histogram agg is map-side combinable onto a
    * dashboard-sized bucket set. */
  def sessionDurations(spark: SparkSession, sfDir: String): DataFrame = {
    val byUser = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    val run = byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.events(spark, sfDir)
      .withColumn("tsu", unix_micros(col("ts").cast("timestamp")))
      .withColumn("prev_ts", lag(col("tsu"), 1).over(byUser))
      .withColumn("new_session",
        when(col("prev_ts").isNull ||
          col("tsu") - col("prev_ts") > 1800000000L, 1L).otherwise(0L))
      .withColumn("sess", sum(col("new_session")).over(run))
      .groupBy(col("user_id"), col("sess"))
      .agg(min(col("tsu")).as("t0"), max(col("tsu")).as("t1"),
        count(lit(1)).as("n_ev"))
      .withColumn("bucket_10min", expr("(t1 - t0) div 600000000"))
      .groupBy(col("bucket_10min"))
      .agg(count(lit(1)).as("n_sessions"),
        sum(col("n_ev")).as("n_events"),
        sum(col("t1") - col("t0")).as("sum_duration_us"))
  }

  val sessionDurationsSql: String =
    """WITH e AS (SELECT user_id, epoch_us(ts) AS tsu, event_id
      |  FROM events),
      |m AS (SELECT user_id, tsu, event_id,
      |    CASE WHEN lag(tsu, 1) OVER w IS NULL
      |         OR tsu - lag(tsu, 1) OVER w > 1800000000 THEN 1 ELSE 0
      |    END AS new_session
      |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY tsu, event_id)),
      |s AS (SELECT user_id, tsu,
      |    SUM(new_session) OVER (PARTITION BY user_id ORDER BY tsu, event_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sess
      |  FROM m),
      |per AS (SELECT user_id, sess, MIN(tsu) AS t0, MAX(tsu) AS t1,
      |    CAST(COUNT(*) AS BIGINT) AS n_ev
      |  FROM s GROUP BY 1, 2)
      |SELECT (t1 - t0) // 600000000 AS bucket_10min,
      |  CAST(COUNT(*) AS BIGINT) AS n_sessions,
      |  CAST(SUM(n_ev) AS BIGINT) AS n_events,
      |  CAST(SUM(t1 - t0) AS BIGINT) AS sum_duration_us
      |FROM per GROUP BY 1""".stripMargin

  /** First-order Markov transition matrix over each user's event
    * stream — the user-journey model behind "what happens after a
    * view": count (prev_type → next_type) transitions in (ts, event_id)
    * order and report floored-permille conditional probabilities.
    * Transitions cross session gaps on purpose (the SESSION journey is
    * [[Funnel]]'s job; this is the global chain).
    *
    * Scale shape: one user_id exchange for the lag window (the same
    * clustering sessionize/funnel ride), then a (prev, next)-keyed
    * map-side-combinable count; the row-count term is #type² ≈ tiny, so
    * the totals frame broadcasts at any SF. Integer permille from exact
    * Long counts — no float division. */
  def markovTransitions(spark: SparkSession, sfDir: String): DataFrame = {
    val byUser = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    val trans = Tables.events(spark, sfDir)
      .withColumn("prev_type", lag(col("event_type"), 1).over(byUser))
      .filter(col("prev_type").isNotNull)
      .groupBy(col("prev_type"), col("event_type").as("next_type"))
      .agg(count(lit(1)).as("n"))
    val totals = trans.groupBy(col("prev_type"))
      .agg(sum(col("n")).as("prev_total"))
    trans.join(broadcast(totals), Seq("prev_type"))
      .select(col("prev_type"), col("next_type"), col("n"), col("prev_total"),
        expr("(n * 1000) div prev_total").as("p_permille"))
  }

  val markovTransitionsSql: String =
    """WITH ordered AS (SELECT user_id, event_type,
      |    lag(event_type) OVER (PARTITION BY user_id
      |      ORDER BY ts, event_id) AS prev_type
      |  FROM events),
      |tr AS (SELECT prev_type, event_type AS next_type,
      |    CAST(COUNT(*) AS BIGINT) AS n
      |  FROM ordered WHERE prev_type IS NOT NULL GROUP BY 1, 2),
      |tot AS (SELECT prev_type, CAST(SUM(n) AS BIGINT) AS prev_total
      |  FROM tr GROUP BY 1)
      |SELECT tr.prev_type, next_type, n, prev_total,
      |  (n * 1000) // prev_total AS p_permille
      |FROM tr JOIN tot USING (prev_type)""".stripMargin

  /** Gap-filled hourly series: build the complete hour spine between the
    * corpus bounds (sequence + explode — no driver loop), cross it with
    * the type dimension, and left-join the actual counts; missing cells
    * read 0. The canonical time-series densification shape: the spine is
    * tiny (hours × types), the facts stream into one left join. */
  def gapfillHourly(spark: SparkSession, sfDir: String): DataFrame = {
    val hourly = Tables.events(spark, sfDir)
      .groupBy(date_trunc("hour", col("ts")).as("hour"), col("event_type"))
      .agg(count(lit(1)).as("cnt"))
    val spine = hourly.agg(min(col("hour")).as("lo"), max(col("hour")).as("hi"))
      .select(explode(expr("sequence(lo, hi, interval 1 hour)")).as("hour"))
    val types = hourly.select(col("event_type")).distinct()
    spine.crossJoin(broadcast(types))
      .join(hourly, Seq("hour", "event_type"), "left")
      .select(col("hour"), col("event_type"),
        coalesce(col("cnt"), lit(0L)).as("cnt"))
  }

  val gapfillHourlySql: String =
    """WITH hourly AS (
      |  SELECT date_trunc('hour', ts) AS hour, event_type, COUNT(*) AS cnt
      |  FROM events GROUP BY 1, 2),
      |spine AS (
      |  SELECT unnest(generate_series((SELECT MIN(hour) FROM hourly),
      |                                (SELECT MAX(hour) FROM hourly),
      |                                INTERVAL 1 HOUR)) AS hour),
      |types AS (SELECT DISTINCT event_type FROM events)
      |SELECT s.hour, t.event_type, COALESCE(h.cnt, 0) AS cnt
      |FROM spine s CROSS JOIN types t
      |LEFT JOIN hourly h ON h.hour = s.hour AND h.event_type = t.event_type""".stripMargin

  /** Trailing z-score anomaly scan over the gap-filled hourly series —
    * the ops-dashboard query ("is this hour's volume abnormal vs the
    * last day?"). The moments are kept INTEGER for as long as possible:
    * s1 = Σcnt and s2 = Σcnt² accumulate exactly over the 24-row
    * trailing frame, variance = (24·s2 − s1²)/24² is derived from them
    * in one double division, and z needs one more subtract/divide/sqrt
    * — IEEE ops on identical inputs, so both engines produce identical
    * bits (Welford-style running stddev would be order-dependent float
    * folding; stddev_samp is NOT cross-engine safe). Zero-variance
    * frames yield NULL z / false flag. Only full 24-hour frames are
    * scored, skipping ragged leading edges. s1² stays in Long up to
    * ~4·10⁸ events/hour; beyond that the moments widen to DECIMAL.
    *
    * Scale: rides the dense gapfilled spine (hours × types — tiny at
    * any SF); the window is a bounded 24-row frame per type. */
  def hourlyAnomaly(spark: SparkSession, sfDir: String): DataFrame = {
    val fr = Window.partitionBy(col("event_type")).orderBy(col("hour"))
      .rowsBetween(-24, -1)
    gapfillHourly(spark, sfDir)
      .withColumn("n_prev", count(lit(1)).over(fr))
      .withColumn("s1", sum(col("cnt")).over(fr))
      .withColumn("s2", sum(col("cnt") * col("cnt")).over(fr))
      .filter(col("n_prev") === 24)
      .withColumn("num", lit(24L) * col("s2") - col("s1") * col("s1"))
      .withColumn("z",
        when(col("num") === 0L, lit(null).cast("double"))
          .otherwise(
            (col("cnt").cast("double") - col("s1").cast("double") / 24.0) /
              sqrt(col("num").cast("double") / 576.0)))
      .withColumn("is_anomaly", coalesce(abs(col("z")) > 3.0, lit(false)))
      .select(col("hour"), col("event_type"), col("cnt"), col("z"),
        col("is_anomaly"))
  }

  /** Per-user hourly admission quota. */
  val ThrottleMax = 3L

  /** Planted runaway producer (the pii/phash/audit non-vacuity
    * pattern): the corpus's organic traffic never exceeds the quota at
    * gate SF, and a throttle whose drop branch never fires is only
    * proven to COMPILE — so both engines deterministically clone each
    * idHash-selected event three times at +1..3 µs (a burst from the
    * same producer), and must EARN matching drop counts through their
    * admission machinery. Events outside the selected slice prove the
    * quota also stays silent on sane traffic. */
  private[graft] def eventsWithBursts(ev: DataFrame): DataFrame = {
    val base = ev.select(col("user_id"), col("ts"), col("event_id"))
    val clones = base
      .filter(Hashing.idHash(col("event_id")) % 7 === 0)
      .select(col("user_id"), col("ts"), col("event_id"),
        explode(expr("sequence(1, 3)")).as("k"))
      .select(col("user_id"),
        expr("cast(timestamp_micros(unix_micros(cast(ts as timestamp)) + k)" +
          " as timestamp_ntz)").as("ts"),
        (col("event_id") + col("k") * 1000000000L).as("event_id"))
    base.unionByName(clones)
  }

  /** Ingestion rate-limit accounting: per (user, hour), how many events
    * the first-[[ThrottleMax]]-per-hour admission rule admits and
    * drops — the abuse/runaway-producer guard an ingest edge applies
    * before anything downstream pays for the traffic (input includes
    * the planted bursts of [[eventsWithBursts]]). Batch counts need no
    * ordering (admitted = min(n, max) regardless of WHICH events are
    * first), so the plan is one map-side-combinable keyed count — the
    * interesting ordered, per-event admission state machine lives in
    * the streaming twin ([[graft.streaming.Streaming]]
    * `events_stream_throttle`), which must reproduce these exact
    * counts through per-key quota state. */
  def throttleHourly(spark: SparkSession, sfDir: String): DataFrame =
    eventsWithBursts(Tables.events(spark, sfDir))
      .groupBy(col("user_id"), date_trunc("hour", col("ts")).as("hour"))
      .agg(count(lit(1)).as("n"))
      .select(col("user_id"), col("hour"),
        least(col("n"), lit(ThrottleMax)).as("n_admitted"),
        (col("n") - least(col("n"), lit(ThrottleMax))).as("n_dropped"))

  val throttleHourlySql: String =
    s"""WITH base AS (SELECT user_id, ts, event_id FROM events),
       |clones AS (SELECT user_id, ts + k * INTERVAL 1 MICROSECOND AS ts,
       |    event_id + k * 1000000000 AS event_id
       |  FROM base, UNNEST([1, 2, 3]) t(k)
       |  WHERE (${Hashing.idHashSql("event_id")}) % 7 = 0),
       |allv AS (SELECT * FROM base UNION ALL SELECT * FROM clones)
       |SELECT user_id, date_trunc('hour', ts) AS hour,
       |  CAST(LEAST(COUNT(*), $ThrottleMax) AS BIGINT) AS n_admitted,
       |  CAST(COUNT(*) - LEAST(COUNT(*), $ThrottleMax) AS BIGINT) AS n_dropped
       |FROM allv GROUP BY 1, 2""".stripMargin

  /** Robust (median/MAD) anomaly flags over the gap-filled hourly
    * series — the resistant twin of [[hourlyAnomaly]]'s rolling
    * z-score: mean/σ are themselves dragged by the outliers they are
    * supposed to find (one 100× spike inflates σ and masks the next
    * spike), while the median and the Median Absolute Deviation have a
    * 50% breakdown point — the monitoring-industry default for dirty
    * series (Leys 2013's |x − med| > 3·MAD rule).
    *
    * Everything stays EXACT integers via the doubled-median trick:
    * med2 = x_((n+1) div 2) + x_((n+2) div 2) over the sorted counts
    * (= 2·median — the two center elements, or the middle one twice at
    * odd n), D = |2·cnt − med2| (= 2·|x − med|), mad4 = the same
    * doubled median over D (= 4·MAD), and the flag |x − med| > 3·MAD
    * clears denominators to 2·D > 3·mad4 — no float sqrt/mean anywhere,
    * so both engines agree bit-for-bit including AT the threshold.
    *
    * Scale shape: two per-type rank windows (each rides one
    * event_type-keyed exchange over the dashboard-sized gap-filled
    * series) + two #types-row median joins (broadcast). The series is
    * hours × types at any SF. */
  def madHourly(spark: SparkSession, sfDir: String): DataFrame = {
    val g = gapfillHourly(spark, sfDir).localCheckpoint() // 3 consumers
    def med2Of(df: DataFrame, valCol: String, tie: String): DataFrame = {
      val w = Window.partitionBy(col("event_type"))
        .orderBy(col(valCol), col(tie))
      df.withColumn("rn", row_number().over(w))
        .join(df.groupBy(col("event_type")).agg(count(lit(1)).as("n")),
          "event_type")
        .withColumn("hits",
          (col("rn") === expr("(n + 1) div 2")).cast("long") +
            (col("rn") === expr("(n + 2) div 2")).cast("long"))
        .groupBy(col("event_type"))
        .agg(sum(col(valCol) * col("hits")).as("med2"))
    }
    val med = med2Of(g, "cnt", "hour")
    val dev = g.join(med, "event_type")
      .withColumn("dev2", abs(lit(2L) * col("cnt") - col("med2")))
    val mad = med2Of(dev.select(col("event_type"), col("dev2"), col("hour")),
      "dev2", "hour")
      .withColumnRenamed("med2", "mad4")
    dev.join(mad, "event_type")
      .select(col("hour"), col("event_type"), col("cnt"), col("med2"),
        col("dev2"), col("mad4"),
        (lit(2L) * col("dev2") > lit(3L) * col("mad4")).as("is_outlier"))
  }

  val madHourlySql: String =
    s"""WITH g AS ($gapfillHourlySql),
       |r1 AS (SELECT hour, event_type, cnt,
       |    row_number() OVER (PARTITION BY event_type
       |      ORDER BY cnt, hour) AS rn,
       |    COUNT(*) OVER (PARTITION BY event_type) AS n
       |  FROM g),
       |med AS (SELECT event_type,
       |    CAST(SUM(cnt * (CASE WHEN rn = (n + 1) // 2 THEN 1 ELSE 0 END
       |      + CASE WHEN rn = (n + 2) // 2 THEN 1 ELSE 0 END)) AS BIGINT)
       |      AS med2
       |  FROM r1 GROUP BY 1),
       |dev AS (SELECT g.hour, g.event_type, g.cnt, med.med2,
       |    abs(2 * g.cnt - med.med2) AS dev2
       |  FROM g JOIN med USING (event_type)),
       |r2 AS (SELECT event_type, dev2,
       |    row_number() OVER (PARTITION BY event_type
       |      ORDER BY dev2, hour) AS rn,
       |    COUNT(*) OVER (PARTITION BY event_type) AS n
       |  FROM dev),
       |mad AS (SELECT event_type,
       |    CAST(SUM(dev2 * (CASE WHEN rn = (n + 1) // 2 THEN 1 ELSE 0 END
       |      + CASE WHEN rn = (n + 2) // 2 THEN 1 ELSE 0 END)) AS BIGINT)
       |      AS mad4
       |  FROM r2 GROUP BY 1)
       |SELECT d.hour, d.event_type, CAST(d.cnt AS BIGINT) AS cnt, d.med2,
       |  CAST(d.dev2 AS BIGINT) AS dev2, mad.mad4,
       |  2 * d.dev2 > 3 * mad.mad4 AS is_outlier
       |FROM dev d JOIN mad USING (event_type)""".stripMargin

  /** Integer least-squares trend per event_type over the gap-filled
    * hourly series — "is this event family growing or dying?", the
    * capacity-planning twin of the anomaly scans. All five OLS moments
    * (n, Σx, Σy, Σxy, Σx²) accumulate as EXACT Longs over the dense
    * spine (x = per-type hour rank, deterministic because the spine is
    * dense and hours unique), and the closed forms keep cleared
    * denominators:
    *
    *   slope     = (n·Σxy − Σx·Σy) / (n·Σx² − (Σx)²)
    *   intercept = (Σy·Σx² − Σx·Σxy) / (n·Σx² − (Σx)²)
    *
    * — numerator and denominator emitted as exact Longs (the
    * cross-engine-comparable part), the ratio and r² as IEEE doubles on
    * those exact inputs (the [[Similarity]] cosine convention; a
    * truncating `div` would diverge from the oracle's flooring `//` on
    * negative slopes, so the division is NEVER done in integers).
    * Long-safety at sf0.1 magnitudes: Σxy ≤ T²·ŷ ≈ 2·10¹⁰, n·Σxy ≈
    * 4·10¹³, Σx·Σxy ≈ 8·10¹⁶ — all inside Long; r²'s num² would
    * overflow, so it is composed in doubles from the exact Longs.
    *
    * Scale: rides the same dashboard-sized spine as the MAD/EWMA family
    * (hours × types at any SF) — one rank window + one #types-row agg. */
  def trendOls(spark: SparkSession, sfDir: String): DataFrame = {
    val xw = Window.partitionBy(col("event_type")).orderBy(col("hour"))
    val s = gapfillHourly(spark, sfDir)
      .withColumn("x", row_number().over(xw).cast("long") - 1L)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("x")).as("sx"),
        sum(col("cnt")).as("sy"), sum(col("x") * col("cnt")).as("sxy"),
        sum(col("x") * col("x")).as("sxx"),
        sum(col("cnt") * col("cnt")).as("syy"))
      .withColumn("slope_num", col("n") * col("sxy") - col("sx") * col("sy"))
      .withColumn("slope_den", col("n") * col("sxx") - col("sx") * col("sx"))
      .withColumn("icpt_num", col("sy") * col("sxx") - col("sx") * col("sxy"))
      .withColumn("vy_num", col("n") * col("syy") - col("sy") * col("sy"))
    s.select(col("event_type"), col("n").as("n_hours"), col("sy").as("sum_y"),
      col("slope_num"), col("slope_den"),
      when(col("slope_den") === 0, lit(null))
        .otherwise(col("slope_num").cast("double") /
          col("slope_den").cast("double")).as("slope"),
      when(col("slope_den") === 0, lit(null))
        .otherwise(col("icpt_num").cast("double") /
          col("slope_den").cast("double")).as("intercept"),
      when(col("slope_den") === 0 || col("vy_num") === 0, lit(null))
        .otherwise(col("slope_num").cast("double") *
          col("slope_num").cast("double") /
          (col("slope_den").cast("double") * col("vy_num").cast("double")))
        .as("r2"))
  }

  /** SCD-2 interval build — run-length encode each user's event-type
    * stream into validity intervals (valid_from / valid_to / is_current),
    * the slowly-changing-dimension shape every warehouse keeps for
    * "what was this entity's state at time T?" queries. Classic
    * gaps-and-islands: island id = rn_overall − rn_within_type (both
    * over the SAME total order (ts, event_id) — ties broken by id, so
    * the islands are engine- and partition-invariant), then valid_to =
    * next island's valid_from via lead() (NULL ⇒ current). Segment
    * order for the lead is (valid_from, first event_id) — two islands
    * of one user CAN share valid_from when a timestamp tie spans a type
    * flip, and the id tiebreak keeps the chain total.
    *
    * Scale shape: every window and the final agg ride ONE user_id
    * clustering (the sessionize/funnel discipline); per-row state is
    * two ranks. Output is #islands rows — bounded by #events, typically
    * far fewer. */
  def scd2UserType(spark: SparkSession, sfDir: String): DataFrame =
    scd2Of(Tables.events(spark, sfDir))

  /** The interval build over any (user_id, event_type, ts, event_id)
    * frame — the testable seam. */
  private[graft] def scd2Of(events: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    val wt = Window.partitionBy(col("user_id"), col("event_type"))
      .orderBy(col("ts"), col("event_id"))
    val seg = events
      .select(col("user_id"), col("event_type"), col("ts"), col("event_id"))
      .withColumn("grp", row_number().over(w) - row_number().over(wt))
      .groupBy(col("user_id"), col("event_type"), col("grp"))
      .agg(min(col("ts")).as("valid_from"),
        min(col("event_id")).as("first_eid"),
        count(lit(1)).as("n_events"))
    val ws = Window.partitionBy(col("user_id"))
      .orderBy(col("valid_from"), col("first_eid"))
    seg
      .withColumn("valid_to", lead(col("valid_from"), 1).over(ws))
      .withColumn("is_current", col("valid_to").isNull)
      .select(col("user_id"), col("event_type"), col("valid_from"),
        col("valid_to"), col("n_events"), col("is_current"))
  }

  val scd2UserTypeSql: String =
    """WITH o AS (SELECT user_id, event_type, ts, event_id,
      |    row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id)
      |      - row_number() OVER (PARTITION BY user_id, event_type
      |          ORDER BY ts, event_id) AS grp
      |  FROM events),
      |seg AS (SELECT user_id, event_type, grp,
      |    MIN(ts) AS valid_from, MIN(event_id) AS first_eid,
      |    CAST(COUNT(*) AS BIGINT) AS n_events
      |  FROM o GROUP BY user_id, event_type, grp)
      |SELECT user_id, event_type, valid_from,
      |  lead(valid_from, 1) OVER (PARTITION BY user_id
      |    ORDER BY valid_from, first_eid) AS valid_to,
      |  n_events,
      |  lead(valid_from, 1) OVER (PARTITION BY user_id
      |    ORDER BY valid_from, first_eid) IS NULL AS is_current
      |FROM seg""".stripMargin

  val trendOlsSql: String =
    s"""WITH g AS ($gapfillHourlySql),
       |xg AS (SELECT event_type, cnt,
       |    CAST(row_number() OVER (PARTITION BY event_type ORDER BY hour)
       |      AS BIGINT) - 1 AS x
       |  FROM g),
       |m AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
       |    CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(cnt) AS BIGINT) AS sy,
       |    CAST(SUM(x * cnt) AS BIGINT) AS sxy,
       |    CAST(SUM(x * x) AS BIGINT) AS sxx,
       |    CAST(SUM(cnt * cnt) AS BIGINT) AS syy
       |  FROM xg GROUP BY 1),
       |d AS (SELECT event_type, n, sy,
       |    n * sxy - sx * sy AS slope_num,
       |    n * sxx - sx * sx AS slope_den,
       |    sy * sxx - sx * sxy AS icpt_num,
       |    n * syy - sy * sy AS vy_num
       |  FROM m)
       |SELECT event_type, n AS n_hours, sy AS sum_y,
       |  CAST(slope_num AS BIGINT) AS slope_num,
       |  CAST(slope_den AS BIGINT) AS slope_den,
       |  CASE WHEN slope_den = 0 THEN NULL
       |       ELSE CAST(slope_num AS DOUBLE) / CAST(slope_den AS DOUBLE)
       |  END AS slope,
       |  CASE WHEN slope_den = 0 THEN NULL
       |       ELSE CAST(icpt_num AS DOUBLE) / CAST(slope_den AS DOUBLE)
       |  END AS intercept,
       |  CASE WHEN slope_den = 0 OR vy_num = 0 THEN NULL
       |       ELSE CAST(slope_num AS DOUBLE) * CAST(slope_num AS DOUBLE)
       |            / (CAST(slope_den AS DOUBLE) * CAST(vy_num AS DOUBLE))
       |  END AS r2
       |FROM d""".stripMargin

  /** CUSUM mean-shift detection per event_type over the gap-filled
    * hourly series — the changepoint question ("did this event family
    * step to a new level, and when?") that the point-anomaly scans
    * ([[madHourly]], [[hourlyAnomaly]]) structurally cannot answer: a
    * level shift is many small deviations in the same direction, none
    * individually outlying.
    *
    * The classic recursion S_t = max(0, S_{t−1} + d_t) is not a window
    * aggregate, but its closed form is: S_t = P_t − min_{j≤t} P_j with
    * P the running prefix sum of deviations — a cumulative sum plus a
    * running min, both plain window frames. Deviations are cleared of
    * the mean's denominator by scaling the series by n (d_t = n·x_t −
    * Σx, exact Longs), so P, the running extrema, and both CUSUM arms
    * (s_pos upward, s_neg downward) are EXACT integers in n·x units.
    * The alarm compares against 3σ in the same units: n²σ² = n·Σx² −
    * (Σx)² =: vy exactly, so `alarm ⇔ S² > 9·vy`, evaluated in
    * decimal(38,0) (S ≈ 5e9 at sf0.1 ⇒ S² ≈ 2.5e19 overflows a Long;
    * HUGEINT on the oracle side — identical two's-complement-free
    * exact compare on both engines).
    *
    * Scale shape: one (event_type)-keyed exchange carries the prefix
    * sum, both running extrema, and (via a #types-row broadcast join)
    * the per-type moments; the spine is hours × types at any SF. */
  def cusumHourly(spark: SparkSession, sfDir: String): DataFrame = {
    val g = gapfillHourly(spark, sfDir).localCheckpoint() // spine + moments
    val m = g.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("cnt")).as("sx"),
        sum(col("cnt") * col("cnt")).as("sxx"))
      .withColumn("vy", col("n") * col("sxx") - col("sx") * col("sx"))
      .select(col("event_type"), col("n"), col("sx"), col("vy"))
    val w = Window.partitionBy(col("event_type")).orderBy(col("hour"))
    val run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    g.join(broadcast(m), "event_type")
      .withColumn("d", col("n") * col("cnt") - col("sx"))
      .withColumn("p", sum(col("d")).over(run))
      // the running extrema must include the virtual empty prefix P_0 = 0
      // (S_1 = max(0, d_1), not 0), hence the least/greatest clamp
      .withColumn("s_pos", col("p") - least(lit(0L), min(col("p")).over(run)))
      .withColumn("s_neg", greatest(lit(0L), max(col("p")).over(run)) - col("p"))
      .select(col("hour"), col("event_type"), col("cnt"),
        col("s_pos"), col("s_neg"),
        (col("s_pos").cast("decimal(38,0)") * col("s_pos").cast("decimal(38,0)") >
          lit(9L).cast("decimal(38,0)") * col("vy").cast("decimal(38,0)"))
          .as("alarm_up"),
        (col("s_neg").cast("decimal(38,0)") * col("s_neg").cast("decimal(38,0)") >
          lit(9L).cast("decimal(38,0)") * col("vy").cast("decimal(38,0)"))
          .as("alarm_down"))
  }

  val cusumHourlySql: String =
    s"""WITH g AS ($gapfillHourlySql),
       |m AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
       |    CAST(SUM(cnt) AS BIGINT) AS sx,
       |    CAST(COUNT(*) AS BIGINT) * CAST(SUM(cnt*cnt) AS BIGINT)
       |      - CAST(SUM(cnt) AS BIGINT) * CAST(SUM(cnt) AS BIGINT) AS vy
       |  FROM g GROUP BY 1),
       |pp AS (SELECT g.hour, g.event_type, g.cnt, m.vy,
       |    CAST(SUM(m.n * g.cnt - m.sx) OVER (PARTITION BY g.event_type
       |      ORDER BY g.hour
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
       |      AS p
       |  FROM g JOIN m USING (event_type)),
       |d AS (SELECT hour, event_type, cnt, vy, p,
       |    CAST(least(0, MIN(p) OVER rw) AS BIGINT) AS pmin,
       |    CAST(greatest(0, MAX(p) OVER rw) AS BIGINT) AS pmax
       |  FROM pp
       |  WINDOW rw AS (PARTITION BY event_type ORDER BY hour
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
       |SELECT hour, event_type, CAST(cnt AS BIGINT) AS cnt,
       |  p - pmin AS s_pos, pmax - p AS s_neg,
       |  CAST(p - pmin AS HUGEINT) * CAST(p - pmin AS HUGEINT)
       |    > 9 * CAST(vy AS HUGEINT) AS alarm_up,
       |  CAST(pmax - p AS HUGEINT) * CAST(pmax - p AS HUGEINT)
       |    > 9 * CAST(vy AS HUGEINT) AS alarm_down
       |FROM d""".stripMargin

  val hourlyAnomalySql: String =
    s"""WITH g AS ($gapfillHourlySql),
       |w AS (SELECT hour, event_type, cnt,
       |    COUNT(*) OVER fr AS n_prev,
       |    SUM(cnt) OVER fr AS s1,
       |    SUM(cnt*cnt) OVER fr AS s2
       |  FROM g
       |  WINDOW fr AS (PARTITION BY event_type ORDER BY hour
       |    ROWS BETWEEN 24 PRECEDING AND 1 PRECEDING))
       |SELECT hour, event_type, CAST(cnt AS BIGINT) AS cnt,
       |  CASE WHEN (24*s2 - s1*s1) = 0 THEN NULL
       |       ELSE (CAST(cnt AS DOUBLE) - CAST(s1 AS DOUBLE)/24.0)
       |            / sqrt(CAST(24*s2 - s1*s1 AS DOUBLE)/576.0) END AS z,
       |  COALESCE(abs(CASE WHEN (24*s2 - s1*s1) = 0 THEN NULL
       |       ELSE (CAST(cnt AS DOUBLE) - CAST(s1 AS DOUBLE)/24.0)
       |            / sqrt(CAST(24*s2 - s1*s1 AS DOUBLE)/576.0) END) > 3.0,
       |    FALSE) AS is_anomaly
       |FROM w WHERE n_prev = 24""".stripMargin

  /** Deterministic discrete percentiles of the cents-quantized price per
    * return flag: the value at row ceil(p*n) of the sorted group —
    * explicit rank math, so both engines pick the identical element (no
    * interpolation, no engine-specific quantile convention). */
  def priceQuantiles(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("l_returnflag"))
      .orderBy(col("cents"), col("l_orderkey"), col("l_linenumber"))
    val ranked = Tables.lineitem(spark, sfDir)
      .select(col("l_returnflag"),
        round(col("l_extendedprice") * 100).cast("long").as("cents"),
        col("l_orderkey"), col("l_linenumber"))
      .withColumn("rn", row_number().over(w))
      .withColumn("n", count(lit(1)).over(
        Window.partitionBy(col("l_returnflag"))))
    val qs = Seq(0.25, 0.5, 0.75)
    val aggs = qs.map { p =>
      max(when(col("rn") === ceil(lit(p) * col("n")), col("cents")))
        .as(s"p${(p * 100).toInt}_cents")
    }
    ranked.groupBy(col("l_returnflag")).agg(aggs.head, aggs.tail: _*)
  }

  val priceQuantilesSql: String =
    """SELECT l_returnflag,
      |  MAX(CASE WHEN rn = CAST(ceil(0.25*n) AS BIGINT) THEN cents END) AS p25_cents,
      |  MAX(CASE WHEN rn = CAST(ceil(0.5*n) AS BIGINT) THEN cents END) AS p50_cents,
      |  MAX(CASE WHEN rn = CAST(ceil(0.75*n) AS BIGINT) THEN cents END) AS p75_cents
      |FROM (
      |  SELECT l_returnflag, CAST(round(l_extendedprice*100) AS BIGINT) AS cents,
      |    row_number() OVER (PARTITION BY l_returnflag
      |      ORDER BY CAST(round(l_extendedprice*100) AS BIGINT), l_orderkey, l_linenumber) AS rn,
      |    COUNT(*) OVER (PARTITION BY l_returnflag) AS n
      |  FROM lineitem)
      |GROUP BY l_returnflag""".stripMargin

  /** Semi-structured extraction: the `props` column is a JSON blob;
    * pull `$.k` with schema-on-read and aggregate per event type. At
    * scale this is the classic log-analytics shape — extraction is
    * map-side (codegen'd JSON path), the shuffle carries only the
    * grouped aggregates. */
  def jsonStats(spark: SparkSession, sfDir: String): DataFrame =
    Tables.events(spark, sfDir)
      .select(col("event_type"),
        get_json_object(col("props"), "$.k").cast("long").as("k"))
      .groupBy(col("event_type"))
      .agg(
        count(col("k")).as("cnt"),
        sum(col("k")).as("sum_k"),
        min(col("k")).as("min_k"),
        max(col("k")).as("max_k"),
        (sum(col("k")).cast("double") / count(col("k")).cast("double"))
          .as("avg_k"))

  val jsonStatsSql: String =
    """SELECT event_type, COUNT(k) AS cnt, CAST(SUM(k) AS BIGINT) AS sum_k,
      |  MIN(k) AS min_k, MAX(k) AS max_k,
      |  CAST(SUM(k) AS DOUBLE)/CAST(COUNT(k) AS DOUBLE) AS avg_k
      |FROM (SELECT event_type,
      |        CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
      |      FROM events)
      |GROUP BY event_type""".stripMargin

  /** Per-minute click vs purchase counts, FULL OUTER joined — the one
    * join type the surface didn't yet exercise: minutes where only one
    * side has traffic keep the other side's count at 0 instead of
    * dropping the row. Scale shape: two partial-agg branches over one
    * scan family, then a full-outer equi-join on the minute key — both
    * sides already reduced to per-minute cardinality before the join,
    * so the outer join never carries raw events. */
  def minuteFullOuter(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = graft.Tables.events(spark, sfDir)
    def perMinute(kind: String, out: String): DataFrame =
      ev.filter(col("event_type") === kind)
        .groupBy(date_trunc("minute", col("ts")).as("minute"))
        .agg(count(lit(1)).as(out))
    perMinute("click", "n_clicks")
      .join(perMinute("purchase", "n_purchases"), Seq("minute"), "full_outer")
      .select(col("minute"),
        coalesce(col("n_clicks"), lit(0L)).as("n_clicks"),
        coalesce(col("n_purchases"), lit(0L)).as("n_purchases"))
  }

  val minuteFullOuterSql: String =
    """WITH c AS (SELECT date_trunc('minute', ts) AS m, CAST(COUNT(*) AS BIGINT) AS n
      |  FROM events WHERE event_type = 'click' GROUP BY 1),
      |p AS (SELECT date_trunc('minute', ts) AS m, CAST(COUNT(*) AS BIGINT) AS n
      |  FROM events WHERE event_type = 'purchase' GROUP BY 1)
      |SELECT COALESCE(c.m, p.m) AS minute,
      |  CAST(COALESCE(c.n, 0) AS BIGINT) AS n_clicks,
      |  CAST(COALESCE(p.n, 0) AS BIGINT) AS n_purchases
      |FROM c FULL OUTER JOIN p ON c.m = p.m""".stripMargin

  /** Click→purchase attribution: every (purchase, click) pair for the
    * same user with the click in the 2 h before the purchase — the
    * batch twin of the stream-stream join gate
    * (graft.streaming.Streaming.clickAttributionStream shares this
    * oracle). Scale shape: an equi-join on user_id (ONE shuffle) with
    * the time predicate evaluated inside the join — the per-user event
    * list is small relative to the corpus, so the range condition never
    * becomes an all-pairs blow-up. */
  def clickAttribution(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = graft.Tables.events(spark, sfDir)
    val p = ev.filter(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"), col("user_id"),
        col("ts").as("pts"))
    val c = ev.filter(col("event_type") === "click")
      .select(col("event_id").as("click_id"), col("user_id").as("cuid"),
        col("ts").as("cts"))
    p.join(c, col("user_id") === col("cuid") &&
        col("cts") >= col("pts") - expr("INTERVAL 2 HOURS") &&
        col("cts") <= col("pts"))
      .select(col("purchase_id"), col("click_id"), col("user_id"))
  }

  val clickAttributionSql: String =
    """SELECT p.event_id AS purchase_id, c.event_id AS click_id, p.user_id
      |FROM events p JOIN events c ON p.user_id = c.user_id
      |WHERE p.event_type = 'purchase' AND c.event_type = 'click'
      |  AND c.ts >= p.ts - INTERVAL 2 HOUR AND c.ts <= p.ts""".stripMargin

  val sessionizeSql: String =
    """SELECT user_id, CAST(SUM(new_session) AS BIGINT) AS n_sessions, COUNT(*) AS n_events
      |FROM (
      |  SELECT user_id,
      |    CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
      |           OR epoch_us(ts) - epoch_us(lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)) > 1800000000
      |         THEN 1 ELSE 0 END AS new_session
      |  FROM events)
      |GROUP BY user_id""".stripMargin

  /** EWMA window width: 16 hourly lags of α = 1/2 geometric decay. The
    * weight beyond lag 15 is < 2⁻¹⁶ of the total — truncation is the
    * standard trick that turns an infinite-memory recurrence into a
    * bounded window frame (a true recursive EWMA cannot be expressed as
    * a window function, and a float recurrence would be fold-order-
    * dependent anyway). */
  val EwmaLags = 16

  /** Integer-exact truncated EWMA smoother over the gap-filled hourly
    * series — the trend line an ops dashboard draws next to
    * [[hourlyAnomaly]]'s z-flags. smoothed(t) = Σ_{i<16} cnt(t−i)·2^(15−i)
    * accumulates EXACTLY in a Long (`ewma_num`; lag i's weight is the
    * bit shift 15−i), and the one terminal double division by the
    * normalizer Σ weights = 2¹⁶−1 is deterministic IEEE on identical
    * inputs. Only full 16-lag frames are scored ([[hourlyAnomaly]]'s
    * ragged-leading-edge discipline). The 16 lag() calls all ride ONE
    * (event_type, hour) window — one exchange over the dense spine,
    * which is hours × types rows: tiny at any SF. */
  def ewmaHourly(spark: SparkSession, sfDir: String): DataFrame = {
    val w = Window.partitionBy(col("event_type")).orderBy(col("hour"))
    val num = (0 until EwmaLags)
      .map(i => coalesce(lag(col("cnt"), i).over(w), lit(0L)) *
        lit(1L << (EwmaLags - 1 - i)))
      .reduce(_ + _)
    gapfillHourly(spark, sfDir)
      .withColumn("n_prev", count(col("cnt"))
        .over(w.rowsBetween(-(EwmaLags - 1), 0)))
      .withColumn("ewma_num", num)
      .filter(col("n_prev") === EwmaLags)
      .select(col("hour"), col("event_type"), col("cnt"),
        col("ewma_num"),
        (col("ewma_num").cast("double") /
          lit(((1L << EwmaLags) - 1).toDouble)).as("ewma"))
  }

  val ewmaHourlySql: String = {
    val num = (0 until EwmaLags)
      .map(i => s"COALESCE(lag(cnt, $i) OVER ew, 0) * ${1L << (EwmaLags - 1 - i)}")
      .mkString(" + ")
    s"""WITH g AS ($gapfillHourlySql),
       |w AS (SELECT hour, event_type, cnt,
       |    COUNT(cnt) OVER (PARTITION BY event_type ORDER BY hour
       |      ROWS BETWEEN ${EwmaLags - 1} PRECEDING AND CURRENT ROW) AS n_prev,
       |    $num AS ewma_num
       |  FROM g
       |  WINDOW ew AS (PARTITION BY event_type ORDER BY hour))
       |SELECT hour, event_type, CAST(cnt AS BIGINT) AS cnt,
       |  CAST(ewma_num AS BIGINT) AS ewma_num,
       |  CAST(ewma_num AS DOUBLE) / ${(1L << EwmaLags) - 1}.0 AS ewma
       |FROM w WHERE n_prev = $EwmaLags""".stripMargin
  }

  /** Autocorrelation lags: 1 (trend persistence) and 24 (daily
    * seasonality — THE question an hourly series is asked). */
  val AcfLags: Seq[Int] = Seq(1, 24)

  /** Lag-k autocorrelation of the gap-filled hourly series per event
    * type — the seasonality detector (r(24) high ⇒ a daily cycle worth
    * a seasonal baseline in [[hourlyAnomaly]]; r(1) high ⇒ trending,
    * not noise). The [[hourlyAnomaly]] moment discipline, pairwise:
    * all five sums (Σx, Σy, Σxy, Σx², Σy²) accumulate EXACTLY as Longs
    * over the (x_t, x_{t−k}) pairs, and Pearson r is derived from them
    * in a handful of terminal IEEE ops on identical integer inputs —
    * bit-identical across engines, fold-order-free (a running-
    * covariance formulation would not be). Both lag columns ride ONE
    * (event_type, hour) window exchange over the dense spine; output is
    * #types × #lags rows. n·Σx² stays in Long to ~3.6e6 events/hour
    * over a 30-day spine; the moments widen to DECIMAL(38) beyond. */
  def autocorrHourly(spark: SparkSession, sfDir: String): DataFrame = {
    val w = Window.partitionBy(col("event_type")).orderBy(col("hour"))
    val lagged = gapfillHourly(spark, sfDir)
      .select(col("event_type") +: col("cnt").as("x") +:
        AcfLags.map(k => lag(col("cnt"), k).over(w).as(s"y$k")): _*)
      .localCheckpoint() // one window pass feeds every per-lag aggregate
    AcfLags.map { k =>
      val y = col(s"y$k")
      lagged.filter(y.isNotNull)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_pairs"),
          sum(col("x")).as("sx"), sum(y).as("sy"),
          sum(col("x") * y).as("sxy"),
          sum(col("x") * col("x")).as("sxx"),
          sum(y * y).as("syy"))
        .select(col("event_type"), lit(k.toLong).as("lag"),
          col("n_pairs"), col("sx"), col("sy"), col("sxy"),
          col("sxx"), col("syy"))
    }.reduce(_ unionAll _)
      .withColumn("covn",
        col("n_pairs") * col("sxy") - col("sx") * col("sy"))
      .withColumn("varxn",
        col("n_pairs") * col("sxx") - col("sx") * col("sx"))
      .withColumn("varyn",
        col("n_pairs") * col("syy") - col("sy") * col("sy"))
      .withColumn("r",
        when(col("varxn") === 0L || col("varyn") === 0L,
          lit(null).cast("double"))
          .otherwise(col("covn").cast("double") /
            sqrt(col("varxn").cast("double") * col("varyn").cast("double"))))
  }

  val autocorrHourlySql: String = {
    val lagCols = AcfLags.map(k => s"lag(cnt, $k) OVER hw AS y$k").mkString(", ")
    val perLag = AcfLags.map { k =>
      s"""SELECT event_type, CAST($k AS BIGINT) AS lag,
         |  CAST(COUNT(*) AS BIGINT) AS n_pairs,
         |  CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y$k) AS BIGINT) AS sy,
         |  CAST(SUM(x * y$k) AS BIGINT) AS sxy,
         |  CAST(SUM(x * x) AS BIGINT) AS sxx,
         |  CAST(SUM(y$k * y$k) AS BIGINT) AS syy
         |FROM lagged WHERE y$k IS NOT NULL GROUP BY event_type""".stripMargin
    }.mkString("\n UNION ALL\n")
    s"""WITH g AS ($gapfillHourlySql),
       |lagged AS (SELECT event_type, cnt AS x, $lagCols
       |  FROM g WINDOW hw AS (PARTITION BY event_type ORDER BY hour)),
       |m AS ($perLag)
       |SELECT *, n_pairs * sxy - sx * sy AS covn,
       |  n_pairs * sxx - sx * sx AS varxn,
       |  n_pairs * syy - sy * sy AS varyn,
       |  CASE WHEN n_pairs * sxx - sx * sx = 0
       |         OR n_pairs * syy - sy * sy = 0 THEN NULL
       |    ELSE CAST(n_pairs * sxy - sx * sy AS DOUBLE)
       |      / sqrt(CAST(n_pairs * sxx - sx * sx AS DOUBLE)
       |           * CAST(n_pairs * syy - sy * sy AS DOUBLE)) END AS r
       |FROM m""".stripMargin
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "events_windowed_agg" -> (windowedAgg _),
    "events_sliding_agg" -> (slidingAgg _),
    "events_json_stats" -> (jsonStats _),
    "events_gapfill_hourly" -> (gapfillHourly _),
    "events_hourly_anomaly" -> (hourlyAnomaly _),
    "events_mad_hourly" -> (madHourly _),
    "events_throttle_hourly" -> (throttleHourly _),
    "events_ewma_hourly" -> (ewmaHourly _),
    "events_cusum_hourly" -> (cusumHourly _),
    "events_cusum_changepoints" -> (cusumChangepoints _),
    "events_dow_hour_heatmap" -> (dowHourHeatmap _),
    "events_trend_ols" -> (trendOls _),
    "events_scd2_user_type" -> (scd2UserType _),
    "events_autocorr_hourly" -> (autocorrHourly _),
    "events_click_attribution" -> (clickAttribution _),
    "events_minute_full_outer" -> (minuteFullOuter _),
    "events_out_of_order" -> (outOfOrder _),
    "lineitem_price_quantiles" -> (priceQuantiles _),
    "events_sessionize" -> (sessionize _),
    "events_session_durations" -> (sessionDurations _),
    "events_markov_transitions" -> (markovTransitions _),
    "events_markov_stationary" -> (markovStationary _))

  val oracles: Map[String, String] = Map(
    "events_windowed_agg" -> windowedAggSql,
    "events_sliding_agg" -> slidingAggSql,
    "events_json_stats" -> jsonStatsSql,
    "events_gapfill_hourly" -> gapfillHourlySql,
    "events_hourly_anomaly" -> hourlyAnomalySql,
    "events_mad_hourly" -> madHourlySql,
    "events_throttle_hourly" -> throttleHourlySql,
    "events_ewma_hourly" -> ewmaHourlySql,
    "events_cusum_hourly" -> cusumHourlySql,
    "events_cusum_changepoints" -> cusumChangepointsSql,
    "events_dow_hour_heatmap" -> dowHourHeatmapSql,
    "events_trend_ols" -> trendOlsSql,
    "events_scd2_user_type" -> scd2UserTypeSql,
    "events_autocorr_hourly" -> autocorrHourlySql,
    "events_click_attribution" -> clickAttributionSql,
    "events_minute_full_outer" -> minuteFullOuterSql,
    "events_out_of_order" -> outOfOrderSql,
    "lineitem_price_quantiles" -> priceQuantilesSql,
    "events_sessionize" -> sessionizeSql,
    "events_session_durations" -> sessionDurationsSql,
    "events_markov_transitions" -> markovTransitionsSql,
    // Unrolled power-iteration chain (see Pca's top-component oracle):
    // materialized so each rk/pk step computes once in the oracle engine.
    "events_markov_stationary" -> Hashing.materializeCtes(markovStationarySql))
}
