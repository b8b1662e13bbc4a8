package graft.queries

import org.apache.spark.sql.Column
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables

/** Time-series operator family over `events` — the query surface the
  * reference's own domain implies (it compacts InfluxDB 3 time-series
  * data; these are the standard operations that engine runs on it):
  * windowed downsampling, gap-filling with carry-forward, and
  * rate-of-change. All int64-µs time math (ns kept at rest, µs exported
  * for the oracle — SURVEY §1.1).
  */
object TimeSeriesQueries {
  private val BucketUs = 300L * 1000000L // 5-minute buckets
  private[graft] val HourUs = 3600L * 1000000L // ts14/ts15 rollup bucket

  /** CUSUM change-point core on a generic (key, id, ts, cents) frame —
    * see the ts8 entry below for the closed-form derivation. Returns one
    * row per key: the peak statistic and its (earliest) location. */
  private[graft] def changePointsOn(df: org.apache.spark.sql.DataFrame,
      keyCol: String, idCol: String, tsCol: String,
      centsCol: String): org.apache.spark.sql.DataFrame = {
    val wAll = Window.partitionBy(col(keyCol))
    val wRun = Window.partitionBy(col(keyCol))
      .orderBy(col(tsCol), col(idCol))
      .rowsBetween(Window.unboundedPreceding, 0)
    val wRank = Window.partitionBy(col(keyCol))
      .orderBy(col("s").desc, col(tsCol).asc, col(idCol).asc)
    df.select(col(keyCol), col(idCol), col(tsCol), col(centsCol).as("c"))
      .withColumn("n", count(lit(1)).over(wAll))
      .withColumn("sum_c", sum(col("c")).over(wAll))
      .withColumn("p", sum(col("c") * col("n") - col("sum_c")).over(wRun))
      .withColumn("s", col("p") - least(lit(0L), min(col("p")).over(wRun)))
      .withColumn("rk", row_number().over(wRank))
      .filter(col("rk") === 1)
      .select(col(keyCol), col("n"), col("s").as("peak_s"),
        col(tsCol).as("change_ts_us"), col(idCol).as("change_event_id"))
  }

  private def moneySum(c: Column, scale: Int = 2): Column =
    sum(c.cast(s"decimal(25,$scale)")).cast("double")

  /** ts9's seasonal-baseline core on a generic (type, bucket, id, cents)
    * frame: per-(type, bucket) profile (broadcast — bucket cardinality
    * is small by construction), each row scored against its bucket's
    * exact-integer mean. */
  private[graft] def seasonalBaselineOn(df: org.apache.spark.sql.DataFrame,
      typeCol: String, bucketCol: String, idCol: String,
      centsCol: String): org.apache.spark.sql.DataFrame = {
    val e = df.select(col(idCol), col(typeCol), col(bucketCol),
      col(centsCol).as("c"))
    val profile = e.groupBy(col(typeCol), col(bucketCol))
      .agg(count(lit(1)).as("n_b"), sum(col("c")).as("sum_b"))
    e.join(broadcast(profile), Seq(typeCol, bucketCol))
      .select(col(idCol), col(typeCol), col(bucketCol),
        col("c"), col("n_b"), col("sum_b"),
        (col("c") * col("n_b") - col("sum_b")).as("resid_n"),
        (col("c") * col("n_b") * 10 > col("sum_b") * 11).as("is_high"))
  }

  /** ts10's rolling-median core on a generic (key, id, ts, cents) frame:
    * the exact discrete median (lower middle element) of the trailing
    * `window`-row frame — collect the bounded frame, sort, index
    * (n+1) div 2. O(w log w) per row with constant w, one shuffle on the
    * key, one sorted pass per key. */
  private[graft] def rollingMedianOn(df: org.apache.spark.sql.DataFrame,
      keyCol: String, idCol: String, tsCol: String, centsCol: String,
      window: Int = 7): org.apache.spark.sql.DataFrame = {
    val w = Window.partitionBy(col(keyCol))
      .orderBy(col(tsCol), col(idCol)).rowsBetween(-(window - 1), 0)
    df.select(col(keyCol), col(idCol), col(tsCol), col(centsCol).as("c"))
      .withColumn("frame", sort_array(collect_list(col("c")).over(w)))
      .select(col(keyCol), col(idCol), col("c"),
        expr("element_at(frame, CAST((size(frame) + 1) div 2 AS INT))")
          .as("med_c"))
  }

  /** ts11's autocorrelation core on a generic (key, id, ts, cents)
    * frame: lag-1/lag-2 sample ACF from count-scaled exact-integer
    * residuals (r_n = c·n − S; the n² factors cancel so
    * Σ r(i)·r(i−k) / Σ r² IS the textbook estimator). Products widen to
    * DECIMAL before multiplying — int64 overflows at ~10⁶-row keys. */
  private[graft] def autocorrOn(df: org.apache.spark.sql.DataFrame,
      keyCol: String, idCol: String, tsCol: String,
      centsCol: String): org.apache.spark.sql.DataFrame = {
    val wAll = Window.partitionBy(col(keyCol))
    val wLag = Window.partitionBy(col(keyCol))
      .orderBy(col(tsCol), col(idCol))
    // resid cast widened to decimal(28,0): |c·n − S| ≲ 10^10 at
    // million-row keys, but a (19,0) cast NULLed silently past 10^19
    // (large cents × huge keys — r7 advice). At (28,0) Spark types the
    // product decimal(38,0) — still exact for |r| ≤ 10^19 products —
    // and the cast itself cannot overflow before ~10^28 residuals,
    // which the n·|c| domain cannot reach (int64 inputs)
    val dec = "decimal(28,0)"
    df.select(col(keyCol), col(idCol), col(tsCol), col(centsCol).as("c"))
      .withColumn("n", count(lit(1)).over(wAll))
      .withColumn("s_c", sum(col("c")).over(wAll))
      .withColumn("r0", (col("c") * col("n") - col("s_c")).cast(dec))
      .withColumn("r1", lag(col("r0"), 1).over(wLag))
      .withColumn("r2", lag(col("r0"), 2).over(wLag))
      .groupBy(col(keyCol))
      .agg(max(col("n")).as("n"),
        sum(col("r0") * col("r0")).as("den"),
        sum(when(col("r1").isNotNull, col("r0") * col("r1"))
          .otherwise(lit(0))).as("num1"),
        sum(when(col("r2").isNotNull, col("r0") * col("r2"))
          .otherwise(lit(0))).as("num2"))
      .select(col(keyCol), col("n"),
        when(col("den") > 0,
          col("num1").cast("double") / col("den").cast("double"))
          .otherwise(lit(0.0)).as("acf1"),
        when(col("den") > 0,
          col("num2").cast("double") / col("den").cast("double"))
          .otherwise(lit(0.0)).as("acf2"))
  }

  // ts6 fixed slice bounds: Jan 8 00:00 – Jan 10 00:00 UTC 2024 (~2/30 of
  // every SF's Jan-2024 span), ns since epoch
  private val SliceLoNs = 1704672000L * 1000000000L
  private val SliceHiNs = 1704844800L * 1000000000L

  val all: Seq[Q] = Seq(
    // ---- Time-range slice via the pushdown-preserving loader: the bounds
    // reach the parquet scan in the at-rest type (Tables.eventsBetween —
    // row-group pruning; PlanQualitySpec gates PushedFilters), then a
    // per-type rollup over the slice. This is the query shape the
    // reference's own domain runs constantly (dashboard panel over a time
    // window), and the one where pushdown is the difference between
    // scanning two days and scanning the year. Sum in exact int64 cents.
    Q(
      "ts6_time_slice",
      (s, d) =>
        Tables.eventsBetween(s, d, SliceLoNs, SliceHiNs)
          .groupBy(col("event_type"))
          .agg(count(lit(1)).as("n"),
            min(expr("ts_ns div 1000")).as("min_ts_us"),
            max(expr("ts_ns div 1000")).as("max_ts_us"),
            sum(round(col("value") * 100).cast("bigint")).as("sum_cents")),
      Some(s"""SELECT event_type, COUNT(1) AS n,
              |  MIN(epoch_us(ts)) AS min_ts_us, MAX(epoch_us(ts)) AS max_ts_us,
              |  CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS sum_cents
              |FROM events
              |WHERE epoch_us(ts) >= ${SliceLoNs / 1000L}
              |  AND epoch_us(ts) < ${SliceHiNs / 1000L}
              |GROUP BY event_type""".stripMargin)),

    // ---- Downsample: per (type, 5-min bucket) first/last/sum/count.
    // first/last are argmin/argmax over the composite (ts, event_id) key —
    // deterministic under timestamp ties, partial-aggregatable (no window,
    // no per-group sort; shuffle volume = one row per group).
    Q(
      "ts1_downsample",
      (s, d) =>
        Tables.events(s, d)
          .select(col("event_type"), col("value"), col("event_id"),
            expr("ts_ns div 1000").as("ts_us"),
            expr(s"(ts_ns div 1000) div $BucketUs").as("bucket"))
          .groupBy(col("event_type"), col("bucket"))
          .agg(
            min_by(col("value"), struct(col("ts_us"), col("event_id"))).as("first_value"),
            max_by(col("value"), struct(col("ts_us"), col("event_id"))).as("last_value"),
            moneySum(col("value")).as("sum_value"),
            count(lit(1)).as("n")),
      Some(s"""SELECT event_type, epoch_us(ts) // $BucketUs AS bucket,
              |  first(value ORDER BY epoch_us(ts) ASC, event_id ASC) AS first_value,
              |  first(value ORDER BY epoch_us(ts) DESC, event_id DESC) AS last_value,
              |  ${Q.moneySum("value")} AS sum_value, COUNT(1) AS n
              |FROM events GROUP BY 1, 2""".stripMargin)),

    // ---- Gap fill + LOCF: a dense per-type bucket axis (sequence over
    // the global time range), left join of the sparse aggregates, then
    // last-observation-carried-forward via last_value IGNORE NULLS — one
    // window pass, no self-join. The dense axis is generated, never
    // materialized wider than (types × buckets).
    Q(
      "ts2_gap_fill",
      (s, d) => {
        val e = Tables.events(s, d)
          .select(col("event_type"), col("value"),
            expr(s"(ts_ns div 1000) div $BucketUs").as("bucket"))
        val bounds = e.agg(min(col("bucket")).as("lo"), max(col("bucket")).as("hi"))
        val axis = e.select(col("event_type")).distinct()
          .crossJoin(bounds)
          .select(col("event_type"),
            explode(sequence(col("lo"), col("hi"))).as("bucket"))
        val agg = e.groupBy(col("event_type"), col("bucket"))
          .agg(moneySum(col("value")).as("v"), count(lit(1)).as("n_raw"))
        val w = Window.partitionBy(col("event_type")).orderBy(col("bucket"))
          .rowsBetween(Window.unboundedPreceding, 0)
        axis.join(agg, Seq("event_type", "bucket"), "left")
          .select(col("event_type"), col("bucket"),
            coalesce(col("n_raw"), lit(0L)).as("n"),
            last(col("v"), ignoreNulls = true).over(w).as("v_locf"))
      },
      Some(s"""WITH e AS (
              |  SELECT event_type, value, epoch_us(ts) // $BucketUs AS bucket
              |  FROM events),
              |axis AS (
              |  SELECT t.event_type, unnest(generate_series(
              |    (SELECT MIN(bucket) FROM e), (SELECT MAX(bucket) FROM e))) AS bucket
              |  FROM (SELECT DISTINCT event_type FROM e) t),
              |agg AS (
              |  SELECT event_type, bucket, ${Q.moneySum("value")} AS v,
              |    COUNT(1) AS n_raw
              |  FROM e GROUP BY 1, 2)
              |SELECT axis.event_type, axis.bucket,
              |  COALESCE(n_raw, 0) AS n,
              |  last_value(v IGNORE NULLS) OVER (
              |    PARTITION BY axis.event_type ORDER BY axis.bucket
              |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS v_locf
              |FROM axis LEFT JOIN agg
              |  ON agg.event_type = axis.event_type AND agg.bucket = axis.bucket""".stripMargin)),

    // ---- Rate of change (derivative): per-user consecutive deltas,
    // value-per-second. One shuffle on user_id; lag over the (ts, id)
    // composite order is deterministic under timestamp ties.
    //
    // Cross-engine determinism (round-1 failure was `round(double, 6)`
    // on the raw quotient — tie-rounding differs between engines): the
    // value is first quantized to exact int64 micro-units via
    // floor(value·1e6) (double multiply + floor are IEEE-identical in
    // both engines; the result is integral and < 2^53 so the bigint cast
    // is exact everywhere). The rate is then ONE division of two
    // exactly-agreed int64s — IEEE doubles are bit-identical across
    // engines with no rounding function involved at all.
    Q(
      "ts3_derivative",
      (s, d) => {
        val w = Window.partitionBy(col("user_id"))
          .orderBy(col("ts_us"), col("event_id"))
        Tables.events(s, d)
          .select(col("user_id"), col("event_id"),
            floor(col("value") * lit(1e6)).as("v_e6"), // exact int64 µ-units
            expr("ts_ns div 1000").as("ts_us"))
          .withColumn("prev_v", lag(col("v_e6"), 1).over(w))
          .withColumn("prev_ts", lag(col("ts_us"), 1).over(w))
          .filter(col("prev_ts").isNotNull && col("ts_us") =!= col("prev_ts"))
          .select(col("user_id"), col("event_id"),
            (((col("v_e6") - col("prev_v")) * lit(1000000L)).cast("double") /
              (col("ts_us") - col("prev_ts")).cast("double"))
              .as("rate_per_sec"))
      },
      Some("""SELECT user_id, event_id,
             |  CAST((v_e6 - prev_v) * 1000000 AS DOUBLE) /
             |    CAST(ts_us - prev_ts AS DOUBLE) AS rate_per_sec
             |FROM (
             |  SELECT user_id, event_id,
             |    CAST(FLOOR(value * 1e6) AS BIGINT) AS v_e6,
             |    epoch_us(ts) AS ts_us,
             |    lag(CAST(FLOOR(value * 1e6) AS BIGINT)) OVER (
             |      PARTITION BY user_id
             |      ORDER BY epoch_us(ts), event_id) AS prev_v,
             |    lag(epoch_us(ts)) OVER (PARTITION BY user_id
             |      ORDER BY epoch_us(ts), event_id) AS prev_ts
             |  FROM events)
             |WHERE prev_ts IS NOT NULL AND ts_us <> prev_ts""".stripMargin)),

    // ---- Windowed anomaly detection (z-score): per user, each value
    // against the trailing-20-event mean/stddev. One shuffle by user,
    // one bounded ROWS frame — the alerting query every metrics engine
    // runs on this data.
    //
    // Cross-engine determinism: values become exact int64 CENTS first
    // (round(value*100) — the corpus ships 2-decimal doubles), so the
    // frame's sum and sum-of-squares are exact integers in both engines
    // regardless of accumulation order or sliding-window algorithm.
    // Variance numerator n·Σc² − (Σc)² is exact int64; z is then a fixed
    // tree of IEEE ops over exactly-agreed integers — bit-identical with
    // no rounding function involved.
    // ---- Exponential moving average (ts7): per user, EWMA with
    // alpha = 1/2 truncated to the trailing 8 samples — the recursion
    // r_i = α·x_i + (1−α)·r_{i−1} unrolled to explicit geometric
    // weights 2^7..2^0 over the last 8 lags. The truncation is the
    // point: the recursive form is inherently sequential per key and
    // not expressible as a window aggregate in either engine, while the
    // unrolled form is ONE bounded-frame window pass (parallel per
    // user, linear) and drops < 2^-8 of the mass. Weighted numerator /
    // denominator are exact int64 over cents (short-history rows use
    // only the weights that exist); the EWMA itself is one IEEE
    // division of agreed integers — bit-identical cross-engine.
    Q(
      "ts7_ewma",
      (s, d) => {
        val w = Window.partitionBy(col("user_id"))
          .orderBy(col("ts_us"), col("event_id"))
        val base = Tables.events(s, d)
          .select(col("user_id"), col("event_id"),
            expr("ts_ns div 1000").as("ts_us"),
            round(col("value") * 100).cast("bigint").as("c"))
        val terms = (0 until 8).map { j =>
          val weight = 1L << (7 - j)
          val lv = if (j == 0) col("c") else lag(col("c"), j).over(w)
          (when(lv.isNotNull, lv * weight).otherwise(lit(0L)),
            when(lv.isNotNull, lit(weight)).otherwise(lit(0L)))
        }
        base
          .withColumn("num", terms.map(_._1).reduce(_ + _))
          .withColumn("den", terms.map(_._2).reduce(_ + _))
          .select(col("user_id"), col("event_id"), col("c"),
            (col("num").cast("double") / col("den").cast("double"))
              .as("ewma_c"))
      },
      Some {
        val cexp = "CAST(round(value * 100) AS BIGINT)"
        val lags = (1 until 8)
          .map(j => s"lag($cexp, $j) OVER w AS l$j").mkString(",\n|    ")
        val num = "128 * c + " + (1 until 8)
          .map(j => s"CASE WHEN l$j IS NULL THEN 0 ELSE ${1L << (7 - j)} * l$j END")
          .mkString(" + ")
        val den = "128 + " + (1 until 8)
          .map(j => s"CASE WHEN l$j IS NULL THEN 0 ELSE ${1L << (7 - j)} END")
          .mkString(" + ")
        s"""SELECT user_id, event_id, c,
           |  CAST($num AS DOUBLE) / CAST($den AS DOUBLE) AS ewma_c
           |FROM (
           |  SELECT user_id, event_id, $cexp AS c,
           |    $lags
           |  FROM events
           |  WINDOW w AS (PARTITION BY user_id
           |    ORDER BY epoch_us(ts), event_id))""".stripMargin
      }),

    // ---- CUSUM change-point detection (ts8): per user, the cumulative-sum
    // statistic against the key's own mean, and the argmax of that
    // statistic as the estimated change location (Page 1954 — the argmax
    // of the CUSUM curve is the classic change-point estimator). The
    // recursion S_i = max(0, S_{i-1} + d_i) looks sequential, but has the
    // closed form S_i = P_i − min(0, min_{j≤i} P_j) over the deviation
    // prefix sums P — so the whole statistic is TWO running-frame window
    // passes sharing one (user) sort, parallel per key, O(n). The same
    // prefix-extremum trick that made ts5's forward pass linear.
    //
    // Cross-engine determinism: deviations are scaled by the key's row
    // count (d_i = c_i·n − Σc, exact int64 — no mean division), so P, S,
    // and the argmax are integer-exact in both engines; magnitudes are
    // bounded by n²·max_cents ≈ 2^56 at 600k rows/key — inside int64 at
    // any realistic per-key cardinality. Argmax tie-break: earliest
    // (ts, event_id) via the rank window's composite order.
    Q(
      "ts8_changepoint",
      (s, d) => changePointsOn(
        Tables.events(s, d)
          .select(col("user_id"), col("event_id"),
            expr("ts_ns div 1000").as("ts_us"),
            round(col("value") * 100).cast("bigint").as("c")),
        "user_id", "event_id", "ts_us", "c"),
      Some("""WITH f AS (
             |  SELECT user_id, event_id, epoch_us(ts) AS ts_us,
             |    CAST(round(value * 100) AS BIGINT) AS c,
             |    COUNT(1) OVER (PARTITION BY user_id) AS n,
             |    CAST(SUM(CAST(round(value * 100) AS BIGINT))
             |      OVER (PARTITION BY user_id) AS BIGINT) AS sum_c
             |  FROM events),
             |p AS (
             |  SELECT user_id, event_id, ts_us, n,
             |    CAST(SUM(c * n - sum_c) OVER (
             |      PARTITION BY user_id ORDER BY ts_us, event_id
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             |      AS BIGINT) AS p
             |  FROM f),
             |s AS (
             |  SELECT user_id, event_id, ts_us, n,
             |    p - least(0, CAST(MIN(p) OVER (
             |      PARTITION BY user_id ORDER BY ts_us, event_id
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             |      AS BIGINT)) AS s
             |  FROM p),
             |r AS (
             |  SELECT user_id, n, s, ts_us, event_id,
             |    row_number() OVER (PARTITION BY user_id
             |      ORDER BY s DESC, ts_us, event_id) AS rk
             |  FROM s)
             |SELECT user_id, n, s AS peak_s, ts_us AS change_ts_us,
             |  event_id AS change_event_id
             |FROM r WHERE rk = 1""".stripMargin)),

    // ---- Seasonal baseline + residuals (ts9): the two-pass decomposition
    // every metrics engine runs for "is this normal for 3am?" — a
    // per-(type, hour-of-day) profile (one hash-agg; 24×types rows →
    // broadcast), then each event scored against its bucket's mean.
    // Unlike ts4's trailing window (local context), the baseline is the
    // GLOBAL seasonal profile — the pair covers both anomaly lenses.
    //
    // Cross-engine determinism: the mean is never divided — residuals
    // are scaled by the bucket count (resid_n = c·n_b − sum_b, ts8's
    // trick, exact int64), and the high flag is the cross-multiplied
    // comparison c·n_b·10 > sum_b·11 (strictly above 1.1× the bucket
    // mean) — all integers, no doubles anywhere.
    Q(
      "ts9_seasonal_baseline",
      (s, d) => seasonalBaselineOn(
        Tables.events(s, d)
          .select(col("event_id"), col("event_type"),
            expr("(ts_ns div 3600000000000L) % 24").as("hod"),
            round(col("value") * 100).cast("bigint").as("c")),
        "event_type", "hod", "event_id", "c"),
      Some("""WITH e AS (
             |  SELECT event_id, event_type,
             |    (epoch_us(ts) // 3600000000) % 24 AS hod,
             |    CAST(round(value * 100) AS BIGINT) AS c
             |  FROM events),
             |p AS (
             |  SELECT event_type, hod, COUNT(1) AS n_b,
             |    CAST(SUM(c) AS BIGINT) AS sum_b
             |  FROM e GROUP BY 1, 2)
             |SELECT event_id, e.event_type, e.hod, c, n_b, sum_b,
             |  c * n_b - sum_b AS resid_n,
             |  c * n_b * 10 > sum_b * 11 AS is_high
             |FROM e JOIN p ON p.event_type = e.event_type AND p.hod = e.hod""".stripMargin)),

    Q(
      "ts4_zscore",
      (s, d) => {
        val w = Window.partitionBy(col("user_id"))
          .orderBy(col("ts_us"), col("event_id")).rowsBetween(-19, 0)
        Tables.events(s, d)
          .select(col("user_id"), col("event_id"),
            expr("ts_ns div 1000").as("ts_us"),
            round(col("value") * 100).cast("bigint").as("c"))
          .withColumn("n", count(lit(1)).over(w))
          .withColumn("sum_c", sum(col("c")).over(w))
          .withColumn("sum_c2", sum(col("c") * col("c")).over(w))
          .withColumn("var_num",
            col("n") * col("sum_c2") - col("sum_c") * col("sum_c"))
          .select(col("user_id"), col("event_id"), col("c"), col("n"),
            when(col("var_num") > 0,
              (col("n") * col("c") - col("sum_c")).cast("double") /
                sqrt(col("var_num").cast("double")))
              .otherwise(lit(0.0)).as("z"),
            when(col("var_num") > 0,
              abs((col("n") * col("c") - col("sum_c")).cast("double") /
                sqrt(col("var_num").cast("double"))) > 3.0)
              .otherwise(lit(false)).as("is_anomaly"))
      },
      Some("""WITH f AS (
             |  SELECT user_id, event_id,
             |    CAST(round(value * 100) AS BIGINT) AS c,
             |    COUNT(1) OVER w AS n,
             |    CAST(SUM(CAST(round(value * 100) AS BIGINT)) OVER w AS BIGINT) AS sum_c,
             |    CAST(SUM(CAST(round(value * 100) AS BIGINT)
             |      * CAST(round(value * 100) AS BIGINT)) OVER w AS BIGINT) AS sum_c2
             |  FROM events
             |  WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id
             |    ROWS BETWEEN 19 PRECEDING AND CURRENT ROW)),
             |v AS (SELECT *, n * sum_c2 - sum_c * sum_c AS var_num FROM f)
             |SELECT user_id, event_id, c, n,
             |  CASE WHEN var_num > 0
             |    THEN CAST(n * c - sum_c AS DOUBLE) / sqrt(CAST(var_num AS DOUBLE))
             |    ELSE 0.0 END AS z,
             |  CASE WHEN var_num > 0
             |    THEN abs(CAST(n * c - sum_c AS DOUBLE) / sqrt(CAST(var_num AS DOUBLE))) > 3.0
             |    ELSE FALSE END AS is_anomaly
             |FROM v""".stripMargin)),

    // ---- Linear-interpolation resampling: the sibling of ts2's LOCF —
    // the same dense per-type bucket axis, but gap buckets take the
    // straight line between the surrounding observations instead of
    // carrying the last one forward. Two IGNORE-NULLS window passes over
    // the axis (previous observation from the backward frame, next from
    // a RUNNING frame over the descending sort) — no self-join, nothing
    // wider than types × buckets, each window a single sorted pass per
    // type. The descending trick matters: a (CURRENT ROW, UNBOUNDED
    // FOLLOWING) frame executes as UnboundedFollowingWindowFunctionFrame,
    // which rescans the partition tail for EVERY row — O(buckets²) per
    // type, measured 10.7 s vs ts2's 0.48 s at sf0.1 — where a running
    // (UNBOUNDED PRECEDING, CURRENT ROW) frame is a single O(n) pass;
    // reversing the ORDER BY makes "first non-null at-or-after" a
    // running last over the reversed axis at the cost of one extra
    // per-type sort.
    //
    // Cross-engine determinism: per-bucket values are exact int64 cents
    // (ts4's trick), so prev/next values and bucket deltas are
    // exactly-agreed integers; the interpolated value is then
    // pv + (Δv·Δt)/Δb — one int64 product, ONE IEEE division, one
    // addition: bit-identical with no rounding function involved.
    // Leading/trailing buckets (no observation on one side) are NULL by
    // definition in both engines.
    Q(
      "ts5_interp",
      (s, d) => {
        val e = Tables.events(s, d)
          .select(col("event_type"),
            round(col("value") * 100).cast("bigint").as("c"),
            expr(s"(ts_ns div 1000) div $BucketUs").as("bucket"))
        val bounds = e.agg(min(col("bucket")).as("lo"), max(col("bucket")).as("hi"))
        val axis = e.select(col("event_type")).distinct()
          .crossJoin(bounds)
          .select(col("event_type"),
            explode(sequence(col("lo"), col("hi"))).as("bucket"))
        val agg = e.groupBy(col("event_type"), col("bucket"))
          .agg(sum(col("c")).as("v"), count(lit(1)).as("n_raw"))
        val wPrev = Window.partitionBy(col("event_type")).orderBy(col("bucket"))
          .rowsBetween(Window.unboundedPreceding, 0)
        val wNext = Window.partitionBy(col("event_type"))
          .orderBy(col("bucket").desc)
          .rowsBetween(Window.unboundedPreceding, 0)
        axis.join(agg, Seq("event_type", "bucket"), "left")
          .withColumn("pb",
            last(when(col("v").isNotNull, col("bucket")), ignoreNulls = true).over(wPrev))
          .withColumn("pv", last(col("v"), ignoreNulls = true).over(wPrev))
          .withColumn("nb",
            last(when(col("v").isNotNull, col("bucket")), ignoreNulls = true).over(wNext))
          .withColumn("nv", last(col("v"), ignoreNulls = true).over(wNext))
          .select(col("event_type"), col("bucket"),
            coalesce(col("n_raw"), lit(0L)).as("n"),
            when(col("pb").isNull || col("nb").isNull, lit(null).cast("double"))
              .when(col("nb") === col("pb"), col("pv").cast("double"))
              .otherwise(col("pv").cast("double") +
                ((col("nv") - col("pv")) * (col("bucket") - col("pb"))).cast("double") /
                  (col("nb") - col("pb")).cast("double"))
              .as("v_interp"))
      },
      Some(s"""WITH e AS (
              |  SELECT event_type, CAST(round(value * 100) AS BIGINT) AS c,
              |    epoch_us(ts) // $BucketUs AS bucket
              |  FROM events),
              |axis AS (
              |  SELECT t.event_type, unnest(generate_series(
              |    (SELECT MIN(bucket) FROM e), (SELECT MAX(bucket) FROM e))) AS bucket
              |  FROM (SELECT DISTINCT event_type FROM e) t),
              |agg AS (
              |  SELECT event_type, bucket, CAST(SUM(c) AS BIGINT) AS v,
              |    COUNT(1) AS n_raw
              |  FROM e GROUP BY 1, 2),
              |j AS (
              |  SELECT axis.event_type, axis.bucket, n_raw, v,
              |    last_value(CASE WHEN v IS NOT NULL THEN axis.bucket END IGNORE NULLS)
              |      OVER wp AS pb,
              |    last_value(v IGNORE NULLS) OVER wp AS pv,
              |    first_value(CASE WHEN v IS NOT NULL THEN axis.bucket END IGNORE NULLS)
              |      OVER wn AS nb,
              |    first_value(v IGNORE NULLS) OVER wn AS nv
              |  FROM axis LEFT JOIN agg
              |    ON agg.event_type = axis.event_type AND agg.bucket = axis.bucket
              |  WINDOW wp AS (PARTITION BY axis.event_type ORDER BY axis.bucket
              |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
              |    wn AS (PARTITION BY axis.event_type ORDER BY axis.bucket
              |      ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING))
              |SELECT event_type, bucket, COALESCE(n_raw, 0) AS n,
              |  CASE WHEN pb IS NULL OR nb IS NULL THEN NULL
              |       WHEN nb = pb THEN CAST(pv AS DOUBLE)
              |       ELSE CAST(pv AS DOUBLE)
              |         + CAST((nv - pv) * (bucket - pb) AS DOUBLE)
              |           / CAST(nb - pb AS DOUBLE) END AS v_interp
              |FROM j""".stripMargin)),

    // ---- Rolling median (ts10): per user, the EXACT discrete median of
    // the trailing-7-event frame — the robust-statistics anomaly lens
    // next to ts4's mean/σ (a single spike saturates a 7-row mean but
    // moves this median not at all). Median is not decomposable, so no
    // engine has a native windowed median over arbitrary frames that is
    // also cross-engine exact on doubles; on exact int64 cents the
    // DISCRETE median (lower middle element) is well-defined and
    // bit-identical everywhere. Spark side: collect the bounded frame as
    // an array, sort, index the lower middle — O(w log w) per row with
    // w = 7 constant, so linear end-to-end, one shuffle on user_id, one
    // sorted pass per key (same cost class as ts4). DuckDB oracle:
    // quantile_disc(c, 0.5) over the same frame — its discrete quantile
    // picks sorted position floor((n−1)/2) (0-indexed), which equals
    // element_at(sorted, (n+1) div 2) (1-indexed) for every frame
    // length, verified for n = 1..7.
    Q(
      "ts10_rolling_median",
      (s, d) => rollingMedianOn(
        Tables.events(s, d)
          .select(col("user_id"), col("event_id"),
            expr("ts_ns div 1000").as("ts_us"),
            round(col("value") * 100).cast("bigint").as("c")),
        "user_id", "event_id", "ts_us", "c"),
      Some("""SELECT user_id, event_id,
             |  CAST(round(value * 100) AS BIGINT) AS c,
             |  quantile_disc(CAST(round(value * 100) AS BIGINT), 0.5) OVER (
             |    PARTITION BY user_id ORDER BY epoch_us(ts), event_id
             |    ROWS BETWEEN 6 PRECEDING AND CURRENT ROW) AS med_c
             |FROM events""".stripMargin)),

    // ---- Autocorrelation (ts11): per key, the lag-1 and lag-2 sample
    // autocorrelation of the cents series — the seasonality/memory
    // detector that tells a monitoring engine whether ts7's EWMA (high
    // positive ACF) or ts9's seasonal profile (oscillating ACF) is the
    // right model for a series. ACF needs the per-key mean; dividing by
    // it would leave engine-dependent doubles everywhere, so — ts9's
    // trick, taken one step further — residuals are scaled by the key's
    // row count: resid_n = c·n − S is an exact integer, and
    // r_k = Σ resid_n(i)·resid_n(i−k) / Σ resid_n² equals the standard
    // estimator exactly (the n² factors cancel). Products are widened to
    // DECIMAL(38,0) BEFORE multiplying (int64 would overflow at
    // ~10^6-row keys: (c·n)² ≈ 10²⁰); DuckDB's HUGEINT twin is likewise
    // exact, and both engines produce the identical correctly-rounded
    // double from the same exact integers — ONE IEEE division, no
    // rounding functions. Shape: one shuffle by key; the partition-wide
    // aggregates and both lag passes share the single sorted pass
    // (ts8's plan class), then a per-key hash-agg.
    Q(
      "ts11_autocorr",
      (s, d) => autocorrOn(
        Tables.events(s, d)
          .select(col("user_id"), col("event_id"),
            expr("ts_ns div 1000").as("ts_us"),
            round(col("value") * 100).cast("bigint").as("c")),
        "user_id", "event_id", "ts_us", "c"),
      Some("""WITH e AS (
             |  SELECT user_id, event_id, epoch_us(ts) AS ts_us,
             |    CAST(round(value * 100) AS BIGINT) AS c
             |  FROM events),
             |f AS (
             |  SELECT user_id, event_id, ts_us, c,
             |    COUNT(1) OVER (PARTITION BY user_id) AS n,
             |    CAST(SUM(c) OVER (PARTITION BY user_id) AS BIGINT) AS s_c
             |  FROM e),
             |r AS (
             |  SELECT user_id, n,
             |    CAST(c * n - s_c AS HUGEINT) AS r0,
             |    lag(CAST(c * n - s_c AS HUGEINT), 1) OVER w AS r1,
             |    lag(CAST(c * n - s_c AS HUGEINT), 2) OVER w AS r2
             |  FROM f
             |  WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id)),
             |a AS (
             |  SELECT user_id, MAX(n) AS n,
             |    SUM(r0 * r0) AS den,
             |    SUM(CASE WHEN r1 IS NULL THEN 0 ELSE r0 * r1 END) AS num1,
             |    SUM(CASE WHEN r2 IS NULL THEN 0 ELSE r0 * r2 END) AS num2
             |  FROM r GROUP BY 1)
             |SELECT user_id, n,
             |  CASE WHEN den > 0
             |    THEN CAST(num1 AS DOUBLE) / CAST(den AS DOUBLE)
             |    ELSE 0.0 END AS acf1,
             |  CASE WHEN den > 0
             |    THEN CAST(num2 AS DOUBLE) / CAST(den AS DOUBLE)
             |    ELSE 0.0 END AS acf2
             |FROM a""".stripMargin)),

    // ---- Holt double-exponential smoothing (ts12): per key, the
    // level+trend forecast f = l + b with α = β = 1/2 — what a
    // monitoring engine runs on TRENDING series where ts7's flat EWMA
    // lags systematically. The (l, b) recursion is sequential per key;
    // like ts7 it is unrolled to an explicit 8-lag linear filter, but
    // the weights now come from powers of the 2×2 state matrix: the
    // (l, b) update is s_i = A·s_{i−1} + v·x_i with A = [[1/2, 1/2],
    // [−1/4, 3/4]], v = [1/2, 1/4]; writing A' = 4A = [[2,2],[−1,3]]
    // and v' = 4v = [2,1] keeps everything integer:
    // w_j = 1ᵀA'ʲv′ / 4^{j+1} — computed below in exact integers over
    // the common denominator 4⁸ = 65536 (truncated tail mass 181/65536
    // ≈ 0.3%). Each forecast is Σ wInt_j·c_{i−j} in int64 followed by
    // ONE IEEE division by 65536 — bit-identical cross-engine. Rows
    // with fewer than 8 predecessors are the documented warm-up: NULL
    // in both engines (Holt weights alternate sign, so — unlike ts7 —
    // a partial-window renormalization is not well-defined). One
    // bounded-frame window pass, one shuffle by key.
    Q(
      "ts12_holt",
      (s, d) => {
        val w = Window.partitionBy(col("user_id"))
          .orderBy(col("ts_us"), col("event_id"))
        val base = Tables.events(s, d)
          .select(col("user_id"), col("event_id"),
            expr("ts_ns div 1000").as("ts_us"),
            round(col("value") * 100).cast("bigint").as("c"))
        val lv = (0 until 8).map(j =>
          if (j == 0) col("c") else lag(col("c"), j).over(w))
        val num = HoltWeights.zip(lv).map { case (wi, l) => l * wi }
          .reduce(_ + _)
        base.select(col("user_id"), col("event_id"), col("c"),
          when(lv(7).isNotNull, num.cast("double") / lit(65536.0))
            .otherwise(lit(null).cast("double")).as("holt_fc"))
      },
      Some {
        val cexp = "CAST(round(value * 100) AS BIGINT)"
        val lags = (1 until 8)
          .map(j => s"lag($cexp, $j) OVER w AS l$j").mkString(",\n|    ")
        val num = s"${HoltWeights.head} * c + " + (1 until 8)
          .map(j => s"(${HoltWeights(j)}) * l$j").mkString(" + ")
        s"""SELECT user_id, event_id, c,
           |  CASE WHEN l7 IS NULL THEN NULL
           |    ELSE CAST($num AS DOUBLE) / 65536.0 END AS holt_fc
           |FROM (
           |  SELECT user_id, event_id, $cexp AS c,
           |    $lags
           |  FROM events
           |  WINDOW w AS (PARTITION BY user_id
           |    ORDER BY epoch_us(ts), event_id))""".stripMargin
      }),

    // ---- Robust slope (ts13): per user, the exact discrete median of
    // the trailing-7 adjacent-pair derivatives — ts3's rate-of-change
    // with ts10's outlier armor (a single glitch sample corrupts two
    // adjacent slopes yet moves the 7-slope median not at all; the
    // bounded-window Theil–Sen idea without its O(n²) pair set). Every
    // slope is ts3's one-IEEE-division of exact int64s, and the lower
    // median SELECTS one of those doubles (never averages), so the
    // outputs are bit-exact cross-engine. DuckDB's windowed
    // quantile_disc ignores NULLs, which matches collect_list skipping
    // the per-key leading null slope.
    Q(
      "ts13_robust_slope",
      (s, d) => robustSlopeOn(
        Tables.events(s, d)
          .select(col("user_id"), col("event_id"),
            expr("ts_ns div 1000").as("ts_us"),
            floor(col("value") * lit(1e6)).cast("bigint").as("v_e6")),
        "user_id", "event_id", "ts_us", "v_e6"),
      Some("""WITH e AS (
             |  SELECT user_id, event_id, epoch_us(ts) AS ts_us,
             |    CAST(FLOOR(value * 1e6) AS BIGINT) AS v_e6
             |  FROM events),
             |s AS (
             |  SELECT user_id, event_id, ts_us,
             |    CASE WHEN lag(ts_us) OVER w IS NOT NULL
             |           AND ts_us <> lag(ts_us) OVER w
             |      THEN CAST((v_e6 - lag(v_e6) OVER w) * 1000000 AS DOUBLE)
             |           / CAST(ts_us - lag(ts_us) OVER w AS DOUBLE)
             |    END AS slope
             |  FROM e
             |  WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id))
             |SELECT user_id, event_id,
             |  quantile_disc(slope, 0.5) OVER (
             |    PARTITION BY user_id ORDER BY ts_us, event_id
             |    ROWS BETWEEN 6 PRECEDING AND CURRENT ROW) AS med_slope
             |FROM s""".stripMargin)),

    // ---- Counter-reset-aware rate (ts14): Prometheus increase()/rate()
    // semantics over cumulative counter readings — per series (user_id),
    // adjacent deltas with reset detection (a reading BELOW its
    // predecessor means the counter restarted near zero, so the
    // post-reset reading itself is that step's increase, floored at 0
    // for robustness against negative readings), rolled up per hour.
    // The one metrics-domain operator the derivative family (ts3/ts13)
    // can't express: a plain delta goes NEGATIVE at a restart and
    // corrupts the whole hour's total.
    //
    // Determinism: readings quantized to exact int64 cents
    // (round(value·100), ts6's proven contract); the hourly increase is
    // an int64 SUM of int64 contributions — order-independent across
    // partitions; the rate is ONE IEEE division of two exactly-agreed
    // int64s (ts3's contract). A single-delta hour has zero span →
    // NULL rate in both engines.
    //
    // Scale: one shuffle on user_id for the lag window (millions of
    // series at 100 TB — no straggler partitions), then a
    // partial-aggregatable hash-agg on (user_id, hour); nothing global.
    Q(
      "ts14_counter_rate",
      (s, d) => counterRateOn(
        Tables.events(s, d)
          .select(col("user_id"), col("event_id"),
            expr("ts_ns div 1000").as("ts_us"),
            round(col("value") * 100).cast("bigint").as("c")),
        "user_id", "event_id", "ts_us", "c"),
      Some(s"""WITH e AS (
              |  SELECT user_id, event_id, epoch_us(ts) AS ts_us,
              |    CAST(round(value * 100) AS BIGINT) AS c
              |  FROM events),
              |d AS (
              |  SELECT user_id, ts_us, ts_us // $HourUs AS hour,
              |    CASE WHEN c >= pc THEN c - pc
              |      ELSE greatest(c, 0) END AS inc,
              |    CASE WHEN c < pc THEN 1 ELSE 0 END AS reset
              |  FROM (
              |    SELECT user_id, ts_us, c,
              |      lag(c) OVER (PARTITION BY user_id
              |        ORDER BY ts_us, event_id) AS pc
              |    FROM e)
              |  WHERE pc IS NOT NULL)
              |SELECT user_id, hour,
              |  CAST(SUM(inc) AS BIGINT) AS increase_cents,
              |  CAST(SUM(reset) AS BIGINT) AS n_resets,
              |  COUNT(1) AS n_deltas,
              |  CASE WHEN MAX(ts_us) > MIN(ts_us)
              |    THEN CAST(SUM(inc) * 1000000 AS DOUBLE)
              |         / CAST(MAX(ts_us) - MIN(ts_us) AS DOUBLE)
              |  END AS rate_cents_per_sec
              |FROM d GROUP BY 1, 2""".stripMargin)),

    // ---- Bucketed-histogram quantiles (ts15): Prometheus
    // histogram_quantile — readings counted into log₂ buckets per
    // (type, hour), each quantile linearly interpolated inside the
    // first bucket whose cumulative count reaches ⌈q·n⌉. The 100-TB
    // shape: exact percentiles (q20) globally SORT each key's readings;
    // this never sorts or re-shuffles them — one counting pass, then
    // all later steps touch ≤ ~40 rows per key. See histogramQuantileOn
    // for the determinism contract.
    Q(
      "ts15_histogram_quantile",
      (s, d) => histogramQuantileOn(
        Tables.events(s, d)
          .select(col("event_type"),
            expr(s"(ts_ns div 1000) div $HourUs").as("hour"),
            round(col("value") * 100).cast("bigint").as("c")),
        Seq("event_type", "hour"), "c"),
      Some {
        def est(r: String) =
          s"""MAX(CASE WHEN cum >= $r AND cum - cnt < $r
             |    THEN CAST(lo AS DOUBLE) +
             |      CAST((hi - lo) * ($r - (cum - cnt)) AS DOUBLE)
             |        / CAST(cnt AS DOUBLE) END)""".stripMargin
        s"""WITH e AS (
           |  SELECT event_type, epoch_us(ts) // $HourUs AS hour,
           |    GREATEST(CAST(round(value * 100) AS BIGINT), 0) AS c
           |  FROM events),
           |bk AS (
           |  SELECT event_type, hour,
           |    CASE WHEN c <= 1 THEN 0 ELSE length(bin(c - 1)) END AS b,
           |    COUNT(1) AS cnt
           |  FROM e GROUP BY 1, 2, 3),
           |cm AS (
           |  SELECT event_type, hour, b, cnt,
           |    SUM(cnt) OVER (PARTITION BY event_type, hour ORDER BY b
           |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
           |    SUM(cnt) OVER (PARTITION BY event_type, hour) AS n,
           |    CASE WHEN b = 0 THEN 0
           |      ELSE (1::BIGINT << (b - 1)) END AS lo,
           |    (1::BIGINT << b) AS hi
           |  FROM bk)
           |SELECT event_type, hour, CAST(MAX(n) AS BIGINT) AS n,
           |  ${est("((50 * n + 99) // 100)")} AS p50,
           |  ${est("((90 * n + 99) // 100)")} AS p90,
           |  ${est("((99 * n + 99) // 100)")} AS p99
           |FROM cm GROUP BY 1, 2""".stripMargin
      }),

    // ---- Multi-window SLO burn-rate alerts (ts16): the Google SRE
    // workbook's fast-burn pair (ch. 5, "Alerting on SLOs") over the
    // metrics family ts14/ts15 built — per service (user_id), the error
    // budget consumption rate in a SHORT window (hour) gated by the
    // same rate in a LONG window (6 h): the short window catches the
    // burn fast, the long window suppresses flapping on a brief spike.
    // SLO 99% (budget 1%); both windows must burn > 14.4× budget to
    // alert (the workbook's 1h/6h pairing). Errors are the
    // deterministic `event_id % 20 = 0` 5% marker (t7's injection
    // precedent — the corpus ships no error flags).
    //
    // Determinism: both burn rates are ONE int64→double division
    // ((errs·100)/total — budget folded into the numerator); the alert
    // is a cross-multiplied INTEGER comparison (errs·1000 > total·144
    // ⟺ burn > 14.4), so the boolean is exact cross-engine.
    //
    // Scale: two partial-aggregatable hash-aggs (hour and 6-hour keys)
    // and one equi-join of the 6-hour rollup onto the hour rows — the
    // long-window side is 6× smaller and joins on its own agg key;
    // nothing global, no windows over raw events.
    Q(
      "ts16_burn_rate",
      (s, d) => burnRateOn(
        Tables.events(s, d)
          .select(col("user_id"), col("event_id"),
            expr(s"(ts_ns div 1000) div $HourUs").as("hour"))),
      Some(s"""WITH e AS (
              |  SELECT user_id, epoch_us(ts) // $HourUs AS hour,
              |    CASE WHEN event_id % 20 = 0 THEN 1 ELSE 0 END AS err
              |  FROM events),
              |s AS (SELECT user_id, hour, CAST(SUM(err) AS BIGINT) AS err_s,
              |    COUNT(1) AS tot_s
              |  FROM e GROUP BY 1, 2),
              |l AS (SELECT user_id, hour // 6 AS hour6,
              |    CAST(SUM(err) AS BIGINT) AS err_l, COUNT(1) AS tot_l
              |  FROM e GROUP BY 1, 2)
              |SELECT s.user_id, s.hour, err_s, tot_s, err_l, tot_l,
              |  CAST(err_s * 100 AS DOUBLE) / CAST(tot_s AS DOUBLE) AS burn_short,
              |  CAST(err_l * 100 AS DOUBLE) / CAST(tot_l AS DOUBLE) AS burn_long,
              |  (err_s * 1000 > tot_s * 144 AND err_l * 1000 > tot_l * 144) AS alert
              |FROM s JOIN l ON l.user_id = s.user_id
              |  AND l.hour6 = s.hour // 6""".stripMargin)),

    // ---- Shape-preserving downsampling (ts17): LTTB — largest triangle
    // three buckets (Steinarsson 2013, the Grafana/InfluxDB standard
    // visualization downsampler) — per series, ONE REAL POINT per bucket,
    // the one subtending the largest triangle with its neighbor buckets,
    // so peaks/troughs survive where ts1's per-bucket averages flatten
    // them. Distributed variant: the triangle anchors are the NEIGHBOR
    // BUCKETS' CENTROIDS (Steinarsson's sequential form anchors on the
    // previously SELECTED point — a chain dependency no parallel engine
    // can shard; the centroid anchor is his own §4.2 simplification and
    // keeps every bucket independent). First/last bucket keep their
    // first/last point (the LTTB endpoint-anchor convention).
    //
    // Determinism: centroids are one int64→double division per axis;
    // the area is |Δx·Δy − Δx'·Δy'| over those doubles with an explicit
    // parenthesization both engines evaluate identically, and the
    // argmax tie-breaks through (area desc, ts asc, event_id asc) — a
    // total order (event_id unique), so the SELECTED POINTS (the
    // output: exact int64s only) hash-match cross-engine.
    //
    // Scale: one hash-agg to bucket centroids, one lag/lead window over
    // the (tiny) per-key bucket table, one equi-join of events onto
    // their bucket's anchor row, then a map-side-combinable max(struct)
    // argmax per bucket — the raw points are scanned once and never
    // globally sorted (the sequential LTTB is a per-key full-series
    // scan; this is the 100-TB shape of the same estimator).
    Q(
      "ts17_lttb",
      (s, d) => lttbOn(
        Tables.events(s, d)
          .select(col("user_id"), col("event_id"),
            expr("ts_ns div 1000").as("ts_us"),
            round(col("value") * 100).cast("bigint").as("c")),
        "user_id", "event_id"),
      Some(s"""WITH e AS (
              |  SELECT user_id, event_id, epoch_us(ts) AS ts_us,
              |    CAST(round(value * 100) AS BIGINT) AS c,
              |    epoch_us(ts) // $HourUs AS b
              |  FROM events),
              |cent AS (SELECT user_id, b, COUNT(1) AS cnt,
              |    CAST(SUM(ts_us - b * $HourUs) AS BIGINT) AS sx,
              |    CAST(SUM(c) AS BIGINT) AS sy
              |  FROM e GROUP BY 1, 2),
              |nb AS (SELECT user_id, b,
              |    CAST((lag(b) OVER w) * $HourUs AS DOUBLE)
              |      + CAST(lag(sx) OVER w AS DOUBLE) / CAST(lag(cnt) OVER w AS DOUBLE) AS xp,
              |    CAST(lag(sy) OVER w AS DOUBLE) / CAST(lag(cnt) OVER w AS DOUBLE) AS yp,
              |    CAST((lead(b) OVER w) * $HourUs AS DOUBLE)
              |      + CAST(lead(sx) OVER w AS DOUBLE) / CAST(lead(cnt) OVER w AS DOUBLE) AS xn,
              |    CAST(lead(sy) OVER w AS DOUBLE) / CAST(lead(cnt) OVER w AS DOUBLE) AS yn,
              |    MIN(b) OVER (PARTITION BY user_id) AS bmin,
              |    MAX(b) OVER (PARTITION BY user_id) AS bmax
              |  FROM cent WINDOW w AS (PARTITION BY user_id ORDER BY b)),
              |sc AS (SELECT e.user_id, e.b, e.ts_us, e.c, e.event_id,
              |    CASE WHEN e.b = nb.bmin OR e.b = nb.bmax THEN 0.0
              |      ELSE abs((xp - xn) * (CAST(e.c AS DOUBLE) - yp)
              |             - (xp - CAST(e.ts_us AS DOUBLE)) * (yn - yp)) END AS s1,
              |    CASE WHEN e.b = nb.bmax AND e.b <> nb.bmin
              |      THEN e.ts_us ELSE -e.ts_us END AS s2,
              |    CASE WHEN e.b = nb.bmax AND e.b <> nb.bmin
              |      THEN e.event_id ELSE -e.event_id END AS s3
              |  FROM e JOIN nb ON nb.user_id = e.user_id AND nb.b = e.b),
              |r AS (SELECT user_id, b, ts_us, c,
              |    row_number() OVER (PARTITION BY user_id, b
              |      ORDER BY s1 DESC, s2 DESC, s3 DESC) AS rn
              |  FROM sc)
              |SELECT user_id, b, ts_us, c FROM r WHERE rn = 1""".stripMargin)))

  /** ts17's LTTB core on a generic (key, id, ts_µs, int64 value) frame —
    * see the registry entry for the estimator and the determinism/scale
    * contract. One representative REAL point per (key, bucket); "prev/
    * next bucket" are the neighboring NON-EMPTY buckets in b order. */
  private[graft] def lttbOn(df: org.apache.spark.sql.DataFrame,
      keyCol: String, idCol: String,
      bucketUs: Long = HourUs): org.apache.spark.sql.DataFrame = {
    val e = df.select(col(keyCol), col(idCol), col("ts_us"), col("c"))
      .withColumn("b", expr(s"ts_us div $bucketUs"))
    // centroid x sums BUCKET-RELATIVE offsets (ts_us − b·bucketUs ∈
    // [0, bucketUs)), not raw epoch-µs: at ~1.8e15 µs per row a raw
    // int64 sum wraps past ~5,200 rows in one bucket under non-ANSI
    // sum (r9 ADVICE) — offsets push the wrap point to ~2.5e9 rows per
    // (key, bucket). The bucket base is added back when forming the
    // centroid: base·bucketUs ≤ ~1.8e15 < 2^53 is exactly representable,
    // so base + sx/cnt is one exact cast + one IEEE divide + one IEEE
    // add, bit-identical cross-engine.
    val cent = e.groupBy(col(keyCol), col("b"))
      .agg(count(lit(1)).as("cnt"),
        sum(col("ts_us") - col("b") * lit(bucketUs)).as("sx"),
        sum(col("c")).as("sy"))
    val wB = Window.partitionBy(col(keyCol)).orderBy(col("b"))
    val wK = Window.partitionBy(col(keyCol))
    def ratio(num: Column, den: Column) = num.cast("double") / den.cast("double")
    def centX(off: Column => Column) =
      (off(col("b")) * lit(bucketUs)).cast("double") +
        ratio(off(col("sx")), off(col("cnt")))
    val nb = cent
      .withColumn("xp", centX(c => lag(c, 1).over(wB)))
      .withColumn("yp", ratio(lag(col("sy"), 1).over(wB), lag(col("cnt"), 1).over(wB)))
      .withColumn("xn", centX(c => lead(c, 1).over(wB)))
      .withColumn("yn", ratio(lead(col("sy"), 1).over(wB), lead(col("cnt"), 1).over(wB)))
      .withColumn("bmin", min(col("b")).over(wK))
      .withColumn("bmax", max(col("b")).over(wK))
      .select(col(keyCol), col("b"), col("xp"), col("yp"), col("xn"),
        col("yn"), col("bmin"), col("bmax"))
    val isEdge = col("b") === col("bmin") || col("b") === col("bmax")
    val isLast = col("b") === col("bmax") && col("b") =!= col("bmin")
    e.join(nb, Seq(keyCol, "b"))
      .withColumn("s1", when(isEdge, lit(0.0)).otherwise(
        abs((col("xp") - col("xn")) * (col("c").cast("double") - col("yp"))
          - (col("xp") - col("ts_us").cast("double")) * (col("yn") - col("yp")))))
      .withColumn("s2", when(isLast, col("ts_us")).otherwise(-col("ts_us")))
      .withColumn("s3", when(isLast, col(idCol)).otherwise(-col(idCol)))
      .groupBy(col(keyCol), col("b"))
      .agg(max(struct(col("s1"), col("s2"), col("s3"),
        col("ts_us"), col("c"))).as("m"))
      .select(col(keyCol), col("b"), col("m.ts_us").as("ts_us"),
        col("m.c").as("c"))
  }

  /** ts16's burn-rate core on a generic (key, event_id, hour) frame —
    * see the registry entry for semantics and the determinism/scale
    * contract. Exposed for the facade; thresholds are the SRE
    * workbook's 99% SLO / 14.4× fast-burn pairing. */
  private[graft] def burnRateOn(
      df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val e = df.select(col("user_id"), col("hour"),
      when(col("event_id") % 20 === 0, lit(1L)).otherwise(lit(0L)).as("err"))
    val short = e.groupBy(col("user_id"), col("hour"))
      .agg(sum(col("err")).as("err_s"), count(lit(1)).as("tot_s"))
    val long = e.groupBy(col("user_id"), expr("hour div 6").as("hour6"))
      .agg(sum(col("err")).as("err_l"), count(lit(1)).as("tot_l"))
    short.withColumn("hour6", expr("hour div 6"))
      .join(long, Seq("user_id", "hour6"))
      .select(col("user_id"), col("hour"), col("err_s"), col("tot_s"),
        col("err_l"), col("tot_l"),
        ((col("err_s") * 100).cast("double") / col("tot_s").cast("double"))
          .as("burn_short"),
        ((col("err_l") * 100).cast("double") / col("tot_l").cast("double"))
          .as("burn_long"),
        (col("err_s") * 1000 > col("tot_s") * 144 &&
          col("err_l") * 1000 > col("tot_l") * 144).as("alert"))
  }

  /** ts15's histogram-quantile core on a generic (key, int64 cents)
    * frame — Prometheus `histogram_quantile` semantics: readings land in
    * log₂ buckets (bucket k holds (2^{k−1}, 2^k]; k = length(bin(c−1))
    * for c > 1 — the same pure-integer ceil-log₂ both engines agree on,
    * annBucketBits' trick), and each requested quantile is linearly
    * interpolated inside the first bucket whose cumulative count reaches
    * rank ⌈q·n⌉ — exactly how Prometheus estimates from `le` buckets.
    *
    * Determinism: ranks and cumulative counts are exact int64s; the
    * estimate is lo + (hi−lo)·(rank−cum_prev)/cnt — ONE int64→double
    * division plus one IEEE add, bit-identical cross-engine.
    *
    * Scale: one partial-aggregated shuffle to (key, bucket) counts —
    * the frame every later step touches is ≤ ~40 rows per key
    * (log-bounded), so the cum-window and the final per-key fold are
    * noise at any corpus size. This is the whole point of bucketed
    * histograms at 100 TB: the raw readings are never sorted, never
    * re-shuffled — exact percentile ranks (q20's sort path) cost a
    * global sort per key; this costs a counting pass. */
  private[graft] def histogramQuantileOn(df: org.apache.spark.sql.DataFrame,
      keyCols: Seq[String], cCol: String,
      qs: Seq[Int] = Seq(50, 90, 99)): org.apache.spark.sql.DataFrame =
    quantilesFromBuckets(histogramBucketsOn(df, keyCols, cCol), keyCols, qs)

  /** ts15's counting half: readings → (key…, b, cnt) log₂-bucket counts
    * — the ONE pass that touches the raw readings. Factored so
    * [[graft.streaming.StreamHistogram]] can maintain the SAME bucket
    * counts as mergeable per-key state and share
    * [[quantilesFromBuckets]], making streaming ≡ batch a checkable
    * identity (the ts14/counterRollup pattern). */
  private[graft] def histogramBucketsOn(df: org.apache.spark.sql.DataFrame,
      keyCols: Seq[String], cCol: String): org.apache.spark.sql.DataFrame = {
    val ks = keyCols.map(col)
    df.select(ks :+ greatest(col(cCol), lit(0L)).as("c"): _*)
      .withColumn("b",
        when(col("c") <= 1L, lit(0)).otherwise(length(bin(col("c") - 1))))
      .groupBy(ks :+ col("b"): _*)
      .agg(count(lit(1)).as("cnt"))
  }

  /** ts15's interpolation half over (key…, b, cnt) bucket counts — every
    * step here touches ≤ ~40 log-bounded rows per key. */
  private[graft] def quantilesFromBuckets(buckets: org.apache.spark.sql.DataFrame,
      keyCols: Seq[String],
      qs: Seq[Int] = Seq(50, 90, 99)): org.apache.spark.sql.DataFrame = {
    val ks = keyCols.map(col)
    val wCum = Window.partitionBy(ks: _*).orderBy(col("b"))
      .rowsBetween(Window.unboundedPreceding, 0)
    val wAll = Window.partitionBy(ks: _*)
    val cum = buckets
      .withColumn("cum", sum(col("cnt")).over(wCum))
      .withColumn("n", sum(col("cnt")).over(wAll))
      .withColumn("lo",
        when(col("b") === 0, lit(0L))
          .otherwise(expr("shiftleft(CAST(1 AS BIGINT), b - 1)")))
      .withColumn("hi", expr("shiftleft(CAST(1 AS BIGINT), b)"))
    val qCols = qs.map { q =>
      val rank = expr(s"($q * n + 99) div 100") // ⌈q·n/100⌉ in int64
      val inBucket = col("cum") >= rank && (col("cum") - col("cnt")) < rank
      max(when(inBucket,
        col("lo").cast("double") +
          ((col("hi") - col("lo")) * (rank - (col("cum") - col("cnt"))))
            .cast("double") / col("cnt").cast("double")))
        .as(s"p$q")
    }
    cum.groupBy(ks: _*)
      .agg(max(col("n")).as("n"), qCols: _*)
  }

  /** ts14's counter-rate core on a generic (key, id, ts_µs, int64
    * reading) frame — Prometheus increase() semantics: per key in
    * (ts, id) order, each adjacent delta contributes `cur − prev` when
    * the counter moved forward and `max(cur, 0)` after a reset (the
    * counter restarted near zero, so the post-reset reading IS the
    * step's increase), rolled up per hour bucket with the reset count
    * and the increase-over-observed-span rate. One shuffle on the key
    * for the lag window, then a partial-aggregatable hash-agg — nothing
    * global, no stragglers at any series cardinality. */
  private[graft] def counterRateOn(df: org.apache.spark.sql.DataFrame,
      keyCol: String, idCol: String, tsCol: String,
      cCol: String): org.apache.spark.sql.DataFrame =
    counterRollup(counterDeltasOn(df, keyCol, idCol, tsCol, cCol), keyCol)

  /** ts14's delta half: one row per adjacent reading pair —
    * (key, ts_µs, hour, increase contribution, reset flag). Factored so
    * [[graft.streaming.StreamCounterRate]] can emit the SAME delta rows
    * incrementally (per-series last-reading state) and share
    * [[counterRollup]], making streaming ≡ batch a checkable identity. */
  private[graft] def counterDeltasOn(df: org.apache.spark.sql.DataFrame,
      keyCol: String, idCol: String, tsCol: String,
      cCol: String): org.apache.spark.sql.DataFrame = {
    val w = Window.partitionBy(col(keyCol))
      .orderBy(col("ts_us"), col(idCol))
    df.select(col(keyCol), col(idCol), col(tsCol).as("ts_us"),
        col(cCol).as("c"))
      .withColumn("pc", lag(col("c"), 1).over(w))
      .filter(col("pc").isNotNull)
      .select(col(keyCol), col("ts_us"),
        expr(s"ts_us div $HourUs").as("hour"),
        when(col("c") >= col("pc"), col("c") - col("pc"))
          .otherwise(greatest(col("c"), lit(0L))).as("inc"),
        when(col("c") < col("pc"), lit(1L)).otherwise(lit(0L)).as("reset"))
  }

  /** ts14's rollup half over delta rows (see [[counterDeltasOn]]). */
  private[graft] def counterRollup(deltas: org.apache.spark.sql.DataFrame,
      keyCol: String): org.apache.spark.sql.DataFrame =
    deltas
      .groupBy(col(keyCol), col("hour"))
      .agg(sum(col("inc")).as("increase_cents"),
        sum(col("reset")).as("n_resets"),
        count(lit(1)).as("n_deltas"),
        min(col("ts_us")).as("lo_us"), max(col("ts_us")).as("hi_us"))
      .select(col(keyCol), col("hour"),
        col("increase_cents"), col("n_resets"), col("n_deltas"),
        when(col("hi_us") > col("lo_us"),
          (col("increase_cents") * lit(1000000L)).cast("double") /
            (col("hi_us") - col("lo_us")).cast("double"))
          .otherwise(lit(null).cast("double")).as("rate_cents_per_sec"))

  /** ts13's robust-slope core: per key, the DISCRETE median of the
    * trailing `window` adjacent-pair slopes — ts3's derivative made
    * outlier-proof the way ts10 hardens ts4 (one glitch sample corrupts
    * two adjacent slopes but moves a 7-slope median not at all; the
    * bounded-window form of the Theil–Sen idea without its O(n²)
    * pairs). Each slope is ONE IEEE division of exactly-agreed int64s
    * (ts3's contract) — bit-identical cross-engine — and the lower
    * median picks an ELEMENT of that set (never an average), so the
    * output doubles are exact matches too. One shuffle by key; lag +
    * one bounded frame share the sorted pass. */
  private[graft] def robustSlopeOn(df: org.apache.spark.sql.DataFrame,
      keyCol: String, idCol: String, tsCol: String, vCol: String,
      window: Int = 7): org.apache.spark.sql.DataFrame = {
    val wLag = Window.partitionBy(col(keyCol))
      .orderBy(col(tsCol), col(idCol))
    val wFrame = Window.partitionBy(col(keyCol))
      .orderBy(col(tsCol), col(idCol)).rowsBetween(-(window - 1), 0)
    df.select(col(keyCol), col(idCol), col(tsCol), col(vCol).as("v"))
      .withColumn("pv", lag(col("v"), 1).over(wLag))
      .withColumn("pt", lag(col(tsCol), 1).over(wLag))
      .withColumn("slope",
        when(col("pt").isNotNull && col(tsCol) =!= col("pt"),
          ((col("v") - col("pv")) * lit(1000000L)).cast("double") /
            (col(tsCol) - col("pt")).cast("double")))
      // collect_list skips the leading null slope, matching
      // quantile_disc's null-ignoring frame on the oracle side; a row
      // with NO non-null slope yet (each key's first) yields NULL in
      // both engines
      .withColumn("frame", sort_array(collect_list(col("slope")).over(wFrame)))
      .select(col(keyCol), col(idCol),
        when(size(col("frame")) > 0,
          expr("element_at(frame, CAST((size(frame) + 1) div 2 AS INT))"))
          .otherwise(lit(null).cast("double")).as("med_slope"))
  }

  /** ts12's unrolled filter weights, scaled by 4⁸: wInt_j =
    * 1ᵀ·A'ʲ·v′·4^(7−j) with A' = [[2,2],[−1,3]], v' = [2,1] — the
    * exact-integer form of Holt's α=β=1/2 forecast weights. */
  private[graft] lazy val HoltWeights: Seq[Long] = {
    var n = (2L, 1L)
    (0 until 8).map { j =>
      val out = (n._1 + n._2) * (1L << (2 * (7 - j)))
      n = (2 * n._1 + 2 * n._2, -n._1 + 3 * n._2)
      out
    }
  }
}
