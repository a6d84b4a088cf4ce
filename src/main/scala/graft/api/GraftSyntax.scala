package graft.api

import graft.core.{Policy => P}
import org.apache.spark.sql.expressions.{Window, WindowSpec}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame}

/** The reusable operator API (round-11 verdict item 2): the §2.E/§2.H
  * recipe families as PARAMETERIZED calls on any DataFrame, instead of
  * fixed demo queries. `import graft.api.syntax._` gives
  *
  * {{{
  * df.resample("hour", "ts", "h")(count(lit(1)).as("n"))
  * df.interpolate("v", "event_id", by = Seq("user_id"),
  *                limit = Some(2), direction = "both", as = "v_interp")
  * df.sessionize(30 * 60 * 1000000L, "ts", "event_id", Seq("user_id"))
  * df.rollingMean(5, "value", "event_id", Seq("user_id"), as = "r5")
  * df.dedupMinhash("doc_id", "text", tau = 0.5)
  * }}}
  *
  * Every method is the exact expression shape its gated registry query
  * uses — the CORRECTNESS gate proves the API, not just the demos
  * (≥20 §2 queries are thin calls into this layer; ApiSpec adds
  * partitioned-input coverage the single-series demos don't reach).
  *
  * Determinism policy (SURVEY §2.0) is inherited from [[graft.core.Policy]]:
  * money-like sums go through exact decimal, continuous stats are r4'd,
  * divisions are null-guarded. Scale notes per method are on the
  * registry queries they serve; the common rule: one shuffle on the
  * `by` keys + one per-partition sort serves every windowed method, and
  * `by = Nil` means a SINGLE-PARTITION window (correct but serial —
  * pass series keys at scale).
  */
object syntax {

  /** How many times this JVM planned a GLOBAL (single-partition)
    * window because a caller passed `by = Nil` — the serial-window
    * hazard counter (round-11 verdict item 5). Exposed so tests (and
    * operators debugging a slow job) can assert/see the guard fired;
    * the WARN itself logs once per JVM to stay out of tight loops. */
  val serialWindowCount = new java.util.concurrent.atomic.AtomicLong(0L)
  @volatile private var serialWindowWarned = false

  /** Ordered window over `by` keys; `by = Nil` → global (serial) window.
    *
    * The empty-`by` form is CORRECT but plans a SINGLE-PARTITION
    * WindowExec: every row of the frame flows through one task, so it
    * is only appropriate for frames already reduced to one series /
    * O(groups) rows (the declared single-series demos, value_counts'
    * post-agg normalize). At scale pass the series keys. The hazard is
    * made loud rather than fatal — a warn-once log plus
    * [[serialWindowCount]] — because the legitimate small-frame uses
    * are common and an opt-in flag on every method would ripple
    * through the whole API for no safety gain. */
  private def ordered(by: Seq[String], order: Seq[Column]): WindowSpec =
    if (by.isEmpty) {
      serialWindowCount.incrementAndGet()
      if (!serialWindowWarned) {
        serialWindowWarned = true
        org.slf4j.LoggerFactory.getLogger(getClass).warn(
          "graft.api: by = Nil plans a GLOBAL single-partition window " +
            "(correct but serial). Pass series keys at scale. " +
            "This warning logs once per JVM; syntax.serialWindowCount counts every use.")
      }
      Window.orderBy(order: _*)
    } else Window.partitionBy(by.map(col): _*).orderBy(order: _*)

  /** Validated plain identifier — the guard before any splice into
    * generated expression text. */
  private def ident(s: String): String = {
    require("[A-Za-z_][A-Za-z0-9_]*".r.matches(s), s"not a plain identifier: '$s'")
    s
  }

  private val offsetRe =
    "(?i)^([0-9]+)\\s*(s|sec|secs|second|seconds|min|t|minute|minutes|h|hr|hrs|hour|hours|d|day|days)$".r

  /** The `date_trunc` units [[GraftDataFrameOps.resample]] accepts.
    * `date_trunc` returns NULL for any other unit, which would put
    * every row in one NULL bucket. */
  private val calendarUnits = Set(
    "year", "quarter", "month", "week", "day", "hour", "minute", "second")

  /** pandas-style OFFSET frequency ('15min', '5s', '2h', '1d') → µs
    * step, or None when `every` is a calendar unit for `date_trunc`
    * ('hour', 'week', 'month', …). Only day-dividing units are offsets
    * — weeks/months/quarters are irregular lattices and stay calendar
    * units. Used by [[GraftDataFrameOps.resample]], which the
    * `resample` SQL TVF calls, so both tiers accept the same spellings.
    *
    * The step must DIVIDE A DAY (86 400 s — admits '15min', '2h',
    * '1d'; rejects '7h', '2d', '90min'): the epoch-floor lattice
    * ([[floorBucket]]: x − pmod(x, step)) coincides with DuckDB
    * `time_bucket` and pandas `resample` (origin 'start_day') exactly
    * when the step divides a day — for a non-dividing step the three
    * lattices anchor differently (DuckDB's origin is 2000-01-03,
    * pandas' is each series' first midnight) and the documented
    * equivalences would silently produce different buckets (ADVICE
    * round 12). A non-dividing period belongs to a calendar unit or an
    * explicit-origin bucketing, not this parser. */
  /** Offset parse WITHOUT the day-dividing guard — for callers that
    * supply an EXPLICIT origin ([[GraftDataFrameOps.resampleOrigin]]),
    * where any positive step is a well-defined lattice. */
  private[graft] def offsetMicrosRaw(every: String): Option[Long] = every match {
    case offsetRe(n, u) =>
      val unit = u.toLowerCase(java.util.Locale.ROOT) match {
        case "s" | "sec" | "secs" | "second" | "seconds"   => 1000000L
        case "min" | "t" | "minute" | "minutes"            => 60000000L
        case "h" | "hr" | "hrs" | "hour" | "hours"         => 3600000000L
        case _                                             => 86400000000L
      }
      val step = n.toLong * unit
      require(step > 0, s"offset frequency must be positive, got '$every'")
      Some(step)
    case _ => None
  }

  private[graft] def offsetMicros(every: String): Option[Long] =
    offsetMicrosRaw(every).map { step =>
      require(86400000000L % step == 0,
        s"offset frequency must divide a day (admits '15min'/'2h'/'1d', " +
          s"rejects '7h'/'2d'), got '$every' — the epoch-floor lattice " +
          "only matches DuckDB time_bucket / pandas resample for " +
          "day-dividing steps; for a non-dividing step pass an explicit " +
          "origin (resampleOrigin)")
      step
    }

  /** Epoch-floor bucket of `c` at `stepMicros`: true FLOOR via
    * `x − pmod(x, step)` (pmod is non-negative, so pre-1970 instants
    * floor downward exactly like DuckDB `time_bucket`, where integer
    * `div` would truncate toward zero). Shared by resample and
    * upsampleFfill. */
  private[graft] def floorBucket(c: Column, stepMicros: Long): Column =
    timestamp_micros(unix_micros(c) - pmod(unix_micros(c), lit(stepMicros)))

  /** pandas `query`/`eval` expression dialect → Spark SQL text.
    * Spark's parser natively accepts the pandas boolean spellings
    * (`and`/`or`/`not`, `==`, `!=`, backtick-quoted names), so the
    * translation is small and explicit:
    *  - `@variable` environment references are REJECTED (there is no
    *    Python environment here — inline the value);
    *  - `in [a, b]` / `not in [a, b]` list literals become SQL tuples
    *    `in (a, b)` (bracket lists are translated ONLY after in/not
    *    in, so array-index syntax elsewhere is left alone).
    * Both rules apply ONLY outside quoted string literals — pandas
    * scans tokens, not raw text, so `email == 'a@b.co'` is a plain
    * comparison and an `in [..]`-shaped substring inside a literal is
    * data, not syntax ([[literalMask]]). */
  private[graft] def pandasExprText(s: String): String = {
    val mask = literalMask(s)
    require(!s.zipWithIndex.exists { case (c, i) => c == '@' && !mask(i) },
      s"'@variable' references are not supported (no Python environment) " +
        s"— inline the value: '$s'")
    // The closing bracket is found by scanning FORWARD with the mask
    // (first unmasked ']'), not by the regex — a '[^\]]*' span stops at
    // a ']' INSIDE a quoted element ("x in ['a]b', 'c']") and would
    // leave a legitimate list unrewritten (ADVICE round 15).
    val inOpenRe = "(?i)\\bin\\s*\\[".r
    val sb = new StringBuilder
    var pos = 0
    for (m <- inOpenRe.findAllMatchIn(s)) {
      if (m.start >= pos && !mask(m.start)) { // keyword inside a literal is data
        val open = m.end - 1
        var close = open + 1
        while (close < s.length && (mask(close) || s.charAt(close) != ']')) close += 1
        if (close < s.length) {
          sb.append(s.substring(pos, open)).append('(')
            .append(s.substring(open + 1, close)).append(')')
          pos = close + 1
        }
      }
    }
    sb.append(s.substring(pos))
    sb.result()
  }

  /** Per-character flag: true where `s(i)` lies inside (or on the
    * delimiters of) a single- or double-quoted string literal. Used by
    * [[pandasExprText]] and `eval`'s assignment splitter so quoted data
    * never triggers dialect rules. Unterminated literals mask to end of
    * string (the SQL parser will produce the real error). Backslash
    * escapes are NOT interpreted (Spark SQL's doubled-quote escaping
    * masks correctly by construction — each half reads as a literal);
    * a predicate needing `\'` inside a literal should use the other
    * quote style. */
  private[graft] def literalMask(s: String): Array[Boolean] = {
    val mask = new Array[Boolean](s.length)
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == '\'' || c == '"') {
        mask(i) = true; i += 1
        while (i < s.length && s.charAt(i) != c) { mask(i) = true; i += 1 }
        if (i < s.length) { mask(i) = true; i += 1 }
      } else i += 1
    }
    mask
  }

  /** Split `s` on `\n` / `;` occurring OUTSIDE string literals — the
    * eval-assignment separator that leaves `concat(a, '; ', b)` whole. */
  private[graft] def splitAssignments(s: String): Seq[String] = {
    val mask = literalMask(s)
    val out = Seq.newBuilder[String]
    val cur = new StringBuilder
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if ((c == '\n' || c == ';') && !mask(i)) { out += cur.result(); cur.clear() }
      else cur.append(c)
      i += 1
    }
    out += cur.result()
    out.result()
  }

  private val evalAssignRe =
    "(?s)\\A\\s*([A-Za-z_][A-Za-z0-9_]*)\\s*=(?![=])\\s*(.+?)\\s*\\z".r

  implicit class GraftDataFrameOps(private val df: DataFrame) extends AnyVal {

    // ----------------------------------------------------------------
    // §2.L pandas string surfaces: query / eval
    // ----------------------------------------------------------------

    /** pandas `DataFrame.query(expr)` — filter rows with a boolean
      * expression STRING in the pandas spellings (`and`/`or`/`not`,
      * `==`, backticked names, `in [..]` lists; `@var` rejected — see
      * [[syntax.pandasExprText]]). The predicate plans as an ordinary
      * Catalyst Filter: it pushes down to the scan and fuses into
      * codegen exactly like `filter(col(...))` — the string surface
      * costs nothing at 100 TB. */
    def query(predicate: String): DataFrame =
      df.filter(expr(syntax.pandasExprText(predicate)))

    /** pandas `DataFrame.eval("target = expression")` — append (or
      * replace) columns from assignment STRINGS, newline- or
      * `;`-separated; later assignments may reference earlier targets
      * (pandas multiline-eval semantics). Same dialect as [[query]].
      * Each assignment is a row-local Project — fused into one
      * codegen stage, no shuffle. */
    def eval(assignments: String): DataFrame =
      syntax.splitAssignments(assignments).map(_.trim).filter(_.nonEmpty)
        .foldLeft(df) { (acc, line) =>
          line match {
            case syntax.evalAssignRe(name, rhs) =>
              acc.withColumn(name, expr(syntax.pandasExprText(rhs)))
            case _ => throw new IllegalArgumentException(
              s"eval expects 'name = expression' assignments, got '$line'")
          }
        }

    // ----------------------------------------------------------------
    // §2.H resample / calendar
    // ----------------------------------------------------------------

    /** `resample(every).agg(...)` — downsample into time buckets
      * (non-empty buckets only, SQL semantics; see [[upsampleFfill]] for
      * gap filling). `every` accepts BOTH spellings (round-11 verdict
      * "missing" item 2):
      *  - calendar units (year|quarter|month|week|day|hour|minute|second)
      *    → `date_trunc` buckets; any other unit is rejected;
      *  - pandas OFFSET frequencies ('15min', '5s', '2h', '1d' — any
      *    day-dividing step) → epoch-floor buckets ([[floorBucket]]:
      *    x − pmod(x, step), a true floor), the same lattice as DuckDB
      *    `time_bucket` at every epoch including pre-1970.
      * The bucket emits as timestamp_ntz per §2.0.
      * Shape: identical either way — one codegen'd row-local bucket
      * expression + partial+final hash agg, the 100 TB form. */
    def resample(every: String, tsCol: String, as: String)(aggs: Column*): DataFrame = {
      val bucket = offsetMicros(every) match {
        case Some(step) => syntax.floorBucket(col(tsCol), step)
        case None =>
          require(calendarUnits.contains(every.toLowerCase(java.util.Locale.ROOT)),
            s"every must be a date_trunc unit (${calendarUnits.mkString("|")}) " +
              s"or an offset frequency ('15min', '5s', …), got '$every'")
          date_trunc(every, col(tsCol))
      }
      df.groupBy(bucket.as(as))
        .agg(aggs.head, aggs.tail: _*)
        .withColumn(as, P.tsOut(col(as)))
    }

    /** `resample(every, origin=…)` — downsample into time buckets
      * anchored at an EXPLICIT origin, which makes ANY positive step a
      * well-defined lattice (the '7h'/'2d' spellings [[resample]]
      * rejects: without an anchor, every engine picks a different one
      * — DuckDB 2000-01-03, pandas the series' first midnight, naive
      * epoch-floor 1970-01-01 — and they silently disagree; ADVICE
      * round 12). bucket = origin + ⌊(ts − origin)/step⌋·step via the
      * pmod true-floor (pre-origin instants floor DOWNWARD), which is
      * exactly DuckDB `time_bucket(step, ts, origin)` and pandas
      * `resample(step, origin=origin)`. Same one-expression +
      * partial/final hash agg shape as [[resample]]. */
    def resampleOrigin(every: String, origin: java.time.LocalDateTime,
                       tsCol: String, as: String)(aggs: Column*): DataFrame = {
      val step = syntax.offsetMicrosRaw(every).getOrElse(throw
        new IllegalArgumentException(
          s"resampleOrigin needs an offset frequency ('7h', '90min', …), got '$every'"))
      val o = origin.toInstant(java.time.ZoneOffset.UTC)
      val oUs = o.getEpochSecond * 1000000L + o.getNano / 1000L
      val delta = unix_micros(col(tsCol)) - lit(oUs)
      val bucket = timestamp_micros(lit(oUs) + (delta - pmod(delta, lit(step))))
      df.groupBy(bucket.as(as))
        .agg(aggs.head, aggs.tail: _*)
        .withColumn(as, P.tsOut(col(as)))
    }

    /** `resample(every).ohlc()` — open/close picked deterministically by
      * `orderCol` (min_by/max_by ≡ DuckDB arg_min/arg_max). */
    def resampleOhlc(every: String, tsCol: String, valueCol: String,
                     orderCol: String, as: String): DataFrame =
      resample(every, tsCol, as)(
        min_by(col(valueCol), col(orderCol)).as("open"),
        max(valueCol).as("high"),
        min(valueCol).as("low"),
        max_by(col(valueCol), col(orderCol)).as("close"))

    /** `asfreq(every).ffill()` — regular time-spine per `by` series
      * (each series' min→max bucket via sequence+explode — the spine
      * is tiny relative to data, and the join broadcasts at scale),
      * left-joined with the per-bucket exact-decimal sum of
      * `valueCol`, then carried forward across empty buckets. `every`
      * accepts calendar units (minute|hour|day|week → date_trunc) AND
      * pandas offset frequencies ('15min', '5s', … → [[floorBucket]]
      * lattice with an exact-second spine step), like [[resample]].
      * Output: by ++ (h, v, v_ffill). */
    def upsampleFfill(every: String, tsCol: String, valueCol: String,
                      by: Seq[String] = Nil, as: String = "v_ffill"): DataFrame = {
      val iv = Map("minute" -> "MINUTE", "hour" -> "HOUR",
        "day" -> "DAY", "week" -> "WEEK")
      val offset = offsetMicros(every)
      require(offset.isDefined || iv.contains(every),
        s"every must be one of ${iv.keys.mkString("|")} or an offset " +
          s"frequency ('15min', '5s', …), got '$every'")
      val (bucketOf, step) = offset match {
        case Some(us) =>
          ((c: Column) => syntax.floorBucket(c, us),
            expr(s"INTERVAL ${us / 1000000L} SECOND")) // offsets are whole seconds
        case None =>
          ((c: Column) => date_trunc(every, c), expr(s"INTERVAL 1 ${iv(every)}"))
      }
      val bucket = bucketOf(col(tsCol))
      val grouped =
        if (by.isEmpty) df.groupBy(bucket.as("h"))
        else df.groupBy(by.map(col) :+ bucket.as("h"): _*)
      val bucketed = grouped.agg(sum(P.dec2(col(valueCol))).cast("double").as("v"))
      val boundsAgg = Seq(bucketOf(min(col(tsCol))).as("_t0"),
        bucketOf(max(col(tsCol))).as("_t1"))
      val bounds =
        if (by.isEmpty) df.agg(boundsAgg.head, boundsAgg.tail: _*)
        else df.groupBy(by.map(col): _*).agg(boundsAgg.head, boundsAgg.tail: _*)
      val spine = bounds.select(by.map(col) :+
        explode(sequence(col("_t0"), col("_t1"), step)).as("h"): _*)
      spine.join(bucketed, by :+ "h", "left")
        .ffill("v", Seq("h"), by, as)
    }

    /** `pd.merge_ordered` — ordered full-outer merge on (`by`, `on`)
      * with optional forward fill of all value columns (names must be
      * disjoint across sides). Thin wrapper over ts/MergeOrdered. */
    def mergeOrdered(right: DataFrame, on: String, by: Seq[String],
                     fillMethod: Option[String] = None): DataFrame = {
      require(fillMethod.forall(_ == "ffill"),
        s"fill_method must be None or ffill, got $fillMethod")
      graft.ts.MergeOrdered.merge(df, right, on, by,
        ffill = fillMethod.contains("ffill"))
    }

    /** Two-phase SALTED sum/count per hot key — the skew device behind
      * agg_groupby_salted (core/Skew): partial agg on (key, salt),
      * final on key. Output: (key, sum_value, n). */
    def saltedAgg(key: String, valueCol: String, tieCol: String,
                  salts: Int = 16): DataFrame =
      graft.core.Skew.saltedAgg(df, key, valueCol, tieCol, salts)

    /** Salted inner equi-join against a SMALL frame: hot keys of this
      * frame spread over `salts` partitions by replicating the small
      * side (core/Skew). */
    def saltedJoin(small: DataFrame, key: String, tieCol: String,
                   salts: Int = 16): DataFrame =
      graft.core.Skew.saltedJoin(df, small, key, tieCol, salts)

    /** `between_time(start, end)` — inclusive start hour, exclusive end. */
    def betweenTime(startHour: Int, endHour: Int, tsCol: String): DataFrame =
      df.filter(hour(col(tsCol)) >= startHour && hour(col(tsCol)) < endHour)

    /** `shift(freq=...)` — lattice shift of the time index by a SQL
      * interval (row-local, scan-fused). */
    def shiftTime(interval: String, tsCol: String, as: String): DataFrame =
      df.withColumn(as, col(tsCol) + expr(s"INTERVAL $interval"))

    // ----------------------------------------------------------------
    // §2.H gap filling / interpolation
    // ----------------------------------------------------------------

    /** `ffill()` — carry the last non-null `valueCol` forward per `by`
      * series in `orderCols` order. One shuffle + sort. */
    def ffill(valueCol: String, orderCols: Seq[String], by: Seq[String],
              as: String): DataFrame = {
      val w = ordered(by, orderCols.map(col))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      df.withColumn(as, last(valueCol, ignoreNulls = true).over(w))
    }

    /** `bfill()` — mirror of [[ffill]]: first non-null looking forward. */
    def bfill(valueCol: String, orderCols: Seq[String], by: Seq[String],
              as: String): DataFrame = {
      val w = ordered(by, orderCols.map(col))
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
      df.withColumn(as, first(valueCol, ignoreNulls = true).over(w))
    }

    /** `interpolate(method='linear', limit=…, limit_direction=…)` —
      * positional linear interpolation with the pandas-2.2.2-measured
      * edge semantics (ops/TimeSeries scaladoc):
      *  - interior nulls get prev + (next−prev)·(i−pi)/(ni−pi), gated by
      *    `limit` in the given `direction` ("forward": i−pi ≤ limit;
      *    "backward": ni−i ≤ limit; "both": min of the two);
      *  - with a limit, "backward"/"both" clamp LEADING nulls to the
      *    first valid value and "both" clamps TRAILING nulls to the last
      *    valid value, each within the limit; unlimited leaves edges null.
      * Shape: one row_number pass + one fused 4-function window pass per
      * direction pair — two WindowExec total, one shuffle on `by`. */
    def interpolate(valueCol: String, orderCol: String, by: Seq[String] = Nil,
                    limit: Option[Int] = None, direction: String = "forward",
                    as: String = "interp"): DataFrame = {
      require(Seq("forward", "backward", "both").contains(direction),
        s"direction must be forward|backward|both, got $direction")
      val w = ordered(by, Seq(col(orderCol)))
      val back = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val fwd = w.rowsBetween(Window.currentRow, Window.unboundedFollowing)
      val v = col(valueCol)
      // the four prev/next functions (dependent on _i) in one projection
      // level -> ONE WindowExec above the row_number's
      val base = df
        .withColumn("_i", row_number().over(w).cast("bigint"))
        .select(col("*"),
          last(valueCol, ignoreNulls = true).over(back).as("_prev"),
          last(when(v.isNotNull, col("_i")), ignoreNulls = true).over(back).as("_pi"),
          first(valueCol, ignoreNulls = true).over(fwd).as("_next"),
          first(when(v.isNotNull, col("_i")), ignoreNulls = true).over(fwd).as("_ni"))
      val lin = col("_prev") + (col("_next") - col("_prev")) *
        (col("_i") - col("_pi")).cast("double") /
        (col("_ni") - col("_pi")).cast("double")
      val interiorGate = limit match {
        case None => lit(true)
        case Some(l) => direction match {
          case "forward"  => col("_i") - col("_pi") <= l
          case "backward" => col("_ni") - col("_i") <= l
          case _          => least(col("_i") - col("_pi"), col("_ni") - col("_i")) <= l
        }
      }
      var out = when(v.isNotNull, v)
        .when(col("_prev").isNotNull && col("_next").isNotNull && interiorGate, lin)
      for (l <- limit if direction == "backward" || direction == "both")
        out = out.when(col("_prev").isNull && col("_next").isNotNull &&
          col("_ni") - col("_i") <= l, col("_next"))
      for (l <- limit if direction == "both")
        out = out.when(col("_next").isNull && col("_prev").isNotNull &&
          col("_i") - col("_pi") <= l, col("_prev"))
      base.withColumn(as, out).drop("_i", "_prev", "_pi", "_next", "_ni")
    }

    // ----------------------------------------------------------------
    // §2.H sessionization / EWM
    // ----------------------------------------------------------------

    /** `sessionize(gap)` — monotone session ids per `by` series: a new
      * session starts when the gap to the previous event exceeds
      * `gapMicros`. One shuffle + sort; the cumulative-sum flag form
      * (no iterative logic), safe at any scale. */
    def sessionize(gapMicros: Long, tsCol: String, orderCol: String,
                   by: Seq[String], as: String = "session_id"): DataFrame = {
      val w = ordered(by, Seq(col(orderCol)))
      val cum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
      df.withColumn("_prev_us", lag(unix_micros(col(tsCol)), 1).over(w))
        .withColumn("_new_sess",
          when(col("_prev_us").isNull ||
            unix_micros(col(tsCol)) - col("_prev_us") > gapMicros, 1L).otherwise(0L))
        .withColumn(as, sum("_new_sess").over(cum))
        .drop("_prev_us", "_new_sess")
    }

    /** `ewm(alpha, adjust=True).mean()` in closed form: weights
      * (1/(1−α))ⁱ as two cumulative window sums — left-to-right in frame
      * order in both engines, exact scaling ⇒ bit-deterministic, r4 out.
      * Valid for series ≲1000 points before the weight overflows double;
      * the general-length path is graft.udaf.Ewm (tested vs this form). */
    def ewmMean(alpha: Double, valueCol: String, orderCol: String,
                by: Seq[String], as: String): DataFrame = {
      require(alpha > 0 && alpha <= 1, s"alpha must be in (0,1], got $alpha")
      // α = 1 (pandas span=1): all weight on the current row — the ewm
      // mean IS the series. Short-circuit so the closed-form weights
      // below never divide by 1−α = 0.
      if (alpha == 1.0)
        return df.withColumn(as, P.r4(col(valueCol).cast("double")))
      val w = ordered(by, Seq(col(orderCol)))
      val cum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val base = 1.0 / (1.0 - alpha)
      df.withColumn("_i", row_number().over(w).cast("double"))
        .withColumn(as,
          P.r4(sum(col(valueCol) * pow(lit(base), col("_i"))).over(cum) /
            sum(pow(lit(base), col("_i"))).over(cum)))
        .drop("_i")
    }

    /** `ewm(alpha, adjust=True).std(bias=False)` — [[ewmMean]] extended
      * with second moments (Σw, Σw², Σwx, Σwx² as one fused 5-function
      * window pass); NULL at n=1, clamped at 0 before sqrt so a constant
      * series can't emit NaN from a −1 ulp residue. */
    def ewmStd(alpha: Double, valueCol: String, orderCol: String,
               by: Seq[String], as: String): DataFrame = {
      require(alpha > 0 && alpha <= 1, s"alpha must be in (0,1], got $alpha")
      // α = 1 (pandas span=1): only the current row carries weight, so
      // the bias-corrected variance's denominator Σw²−Σw² is 0 — pandas
      // emits NaN for every row; we emit NULL (the engine-parity NaN).
      if (alpha == 1.0)
        return df.withColumn(as, lit(null).cast("double"))
      val w = ordered(by, Seq(col(orderCol)))
      val cum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val b = 1.0 / (1.0 - alpha)
      val b2 = b * b
      df.withColumn("_i", row_number().over(w).cast("double"))
        .select(col("*"),
          sum(pow(lit(b), col("_i"))).over(cum).as("_sw"),
          sum(pow(lit(b2), col("_i"))).over(cum).as("_sww"),
          sum(col(valueCol) * pow(lit(b), col("_i"))).over(cum).as("_swx"),
          sum(col(valueCol) * col(valueCol) * pow(lit(b), col("_i"))).over(cum).as("_swxx"),
          count(lit(1)).over(cum).as("_nn"))
        .withColumn(as,
          when(col("_nn") > 1,
            P.r4(sqrt(greatest(
              (col("_sw") * col("_sw") / (col("_sw") * col("_sw") - col("_sww"))) *
                (col("_swxx") / col("_sw") -
                  (col("_swx") / col("_sw")) * (col("_swx") / col("_sw"))),
              lit(0.0))))))
        .drop("_i", "_sw", "_sww", "_swx", "_swxx", "_nn")
    }

    /** pandas `ewm(span=…)` spelling: α = 2/(span+1) (span ≥ 1),
      * computed HERE so both spellings provably share one code path. */
    def ewmMeanSpan(span: Double, valueCol: String, orderCol: String,
                    by: Seq[String], as: String): DataFrame = {
      require(span >= 1, s"span must be >= 1, got $span")
      ewmMean(2.0 / (span + 1.0), valueCol, orderCol, by, as)
    }

    /** pandas `ewm(com=…)` spelling: α = 1/(1+com), com ≥ 0 (com = 0
      * is pandas-valid and maps to the α = 1 degenerate). */
    def ewmMeanCom(com: Double, valueCol: String, orderCol: String,
                   by: Seq[String], as: String): DataFrame = {
      require(com >= 0, s"com must be >= 0, got $com")
      ewmMean(1.0 / (1.0 + com), valueCol, orderCol, by, as)
    }

    /** `ewm(span=…).std()` — [[ewmStd]] under the span spelling. */
    def ewmStdSpan(span: Double, valueCol: String, orderCol: String,
                   by: Seq[String], as: String): DataFrame = {
      require(span >= 1, s"span must be >= 1, got $span")
      ewmStd(2.0 / (span + 1.0), valueCol, orderCol, by, as)
    }

    /** `ewm(com=…).std()` — [[ewmStd]] under the com spelling
      * (com = 0 → the α = 1 all-NULL degenerate, like pandas NaN). */
    def ewmStdCom(com: Double, valueCol: String, orderCol: String,
                  by: Seq[String], as: String): DataFrame = {
      require(com >= 0, s"com must be >= 0, got $com")
      ewmStd(1.0 / (1.0 + com), valueCol, orderCol, by, as)
    }

    // ----------------------------------------------------------------
    // §2.E rolling / expanding / shift-derived
    // ----------------------------------------------------------------

    /** `rolling(n, min_periods).mean()` — exact-decimal sum over the
      * n-row frame; NULL until `minPeriods` rows exist (pandas default
      * minPeriods = n). */
    def rollingMean(n: Int, valueCol: String, orderCol: String, by: Seq[String],
                    minPeriods: Int = -1, as: String): DataFrame = {
      val mp = if (minPeriods < 0) n else minPeriods
      val w = ordered(by, Seq(col(orderCol))).rowsBetween(-(n - 1), 0)
      df.withColumn(as,
        when(count(lit(1)).over(w) >= mp,
          sum(P.dec2(col(valueCol))).over(w).cast("double") /
            count(lit(1)).over(w)))
    }

    /** `rolling(n, win_type=…).mean()` — WEIGHTED rolling mean with an
      * explicit integer weight vector (oldest row first; e.g. pandas
      * `win_type='triang'` at n=5 is `Seq(1, 2, 3, 2, 1)`). Spelled as
      * a LAG CHAIN — `weights.length` same-spec lags fuse into ONE
      * WindowExec — with each weighted term an exact decimal (int
      * literal × 2-dp value) so the sum is exact and the single
      * double division by Σweights is identical IEEE across engines.
      * NULL until the frame fills (pandas min_periods = n). */
    def rollingWeighted(weights: Seq[Int], valueCol: String, orderCol: String,
                        by: Seq[String], as: String): DataFrame = {
      require(weights.nonEmpty && weights.forall(_ > 0),
        s"weights must be non-empty and strictly positive, got $weights")
      val w = ordered(by, Seq(col(orderCol)))
      val n = weights.length
      val wsum = weights.zipWithIndex.map { case (wt, i) =>
        // weights are oldest-first: weight i multiplies lag (n-1-i)
        val term = lag(P.dec2(col(valueCol)), n - 1 - i).over(w)
        if (wt == 1) term else term * wt
      }.reduce(_ + _)
      df.withColumn(as, wsum.cast("double") / weights.sum.toDouble)
    }

    /** `rolling(n).std()` — sample std from exact decimal moment sums
      * over the n-row frame (one fused window pass); NULL until the
      * frame fills (pandas min_periods = n). */
    def rollingStd(n: Int, valueCol: String, orderCol: String, by: Seq[String],
                   as: String): DataFrame = {
      val w = ordered(by, Seq(col(orderCol))).rowsBetween(-(n - 1), 0)
      val x = P.dec2(col(valueCol))
      df.select(col("*"), // one projection level -> ONE fused WindowExec
          count(lit(1)).over(w).as("_rn"),
          sum(x).over(w).cast("double").as("_sx"),
          sum((x * x).cast("decimal(38,4)")).over(w).cast("double").as("_sq"))
        .withColumn(as,
          when(col("_rn") === n,
            P.r4(sqrt((col("_sq") - col("_sx") * col("_sx") / n) / (n - 1)))))
        .drop("_rn", "_sx", "_sq")
    }

    /** `rolling(n).skew()` — population skewness over the n-row frame
      * from exact decimal moment sums (decimal(12,2) base keeps the
      * cube's static type inside 38 digits; values must stay < 10¹⁰). */
    def rollingSkew(n: Int, valueCol: String, orderCol: String, by: Seq[String],
                    as: String): DataFrame = {
      val w = ordered(by, Seq(col(orderCol))).rowsBetween(-(n - 1), 0)
      val x = col(valueCol).cast("decimal(12,2)")
      val nd = s"$n.0"
      val mean = s"(_s1 / $nd)"
      val m2 = s"(_s2 / $nd - $mean * $mean)"
      val m3 = s"(_s3 / $nd - 3 * $mean * _s2 / $nd + 2 * $mean * $mean * $mean)"
      df.select(col("*"), // one projection level -> ONE fused WindowExec
          count(lit(1)).over(w).as("_rn"),
          sum(x).over(w).cast("double").as("_s1"),
          sum((x * x).cast("decimal(38,4)")).over(w).cast("double").as("_s2"),
          sum((x * x * x).cast("decimal(38,6)")).over(w).cast("double").as("_s3"))
        .withColumn(as, expr(
          s"CASE WHEN _rn = $n AND $m2 > 0 THEN round($m3 / ($m2 * sqrt($m2)), 4) END"))
        .drop("_rn", "_s1", "_s2", "_s3")
    }

    /** `rolling(n).kurt()` — population EXCESS kurtosis over the n-row
      * frame (the skew device widened to the 4th moment; decimal(8,2)
      * base keeps x⁴'s static type exact — values must stay < 10⁶). */
    def rollingKurt(n: Int, valueCol: String, orderCol: String, by: Seq[String],
                    as: String): DataFrame = {
      val w = ordered(by, Seq(col(orderCol))).rowsBetween(-(n - 1), 0)
      val x = col(valueCol).cast("decimal(8,2)")
      val x2 = (x * x).cast("decimal(17,4)")
      val nd = s"$n.0"
      val mean = s"(_s1 / $nd)"
      val m2 = s"(_s2 / $nd - $mean * $mean)"
      val m4 = s"(_s4 / $nd - 4 * $mean * _s3 / $nd + 6 * $mean * $mean * _s2 / $nd" +
        s" - 3 * $mean * $mean * $mean * $mean)"
      df.select(col("*"), // one projection level -> ONE fused WindowExec
          count(lit(1)).over(w).as("_rn"),
          sum(x).over(w).cast("double").as("_s1"),
          sum(x2).over(w).cast("double").as("_s2"),
          sum((x2 * x).cast("decimal(26,6)")).over(w).cast("double").as("_s3"),
          sum((x2 * x2).cast("decimal(35,8)")).over(w).cast("double").as("_s4"))
        .withColumn(as, expr(
          s"CASE WHEN _rn = $n AND $m2 > 0 THEN round($m4 / ($m2 * $m2) - 3, 4) END"))
        .drop("_rn", "_s1", "_s2", "_s3", "_s4")
    }

    /** `rolling(n).min()/.max()` — exact frame extrema with the
      * min_periods guard (value comparisons only, no arithmetic). */
    def rollingMinMax(n: Int, valueCol: String, orderCol: String,
                      by: Seq[String], minAs: String = "roll_min",
                      maxAs: String = "roll_max"): DataFrame = {
      val w = ordered(by, Seq(col(orderCol))).rowsBetween(-(n - 1), 0)
      df.withColumn("_rn", count(lit(1)).over(w))
        .withColumn(minAs, when(col("_rn") === n, min(valueCol).over(w)))
        .withColumn(maxAs, when(col("_rn") === n, max(valueCol).over(w)))
        .drop("_rn")
    }

    /** Time-based `rolling('1h')` window spec over `[t − duration, t]`
      * at µs precision — pass to your own agg columns. */
    def rollingTimeWindow(durationMicros: Long, tsCol: String,
                          by: Seq[String]): WindowSpec =
      ordered(by, Seq(unix_micros(col(tsCol)))).rangeBetween(-durationMicros, 0)

    /** `expanding().std()` — sample std over the unbounded-preceding
      * frame from exact decimal moment sums (one fused window pass);
      * NULL at n = 1 (pandas min_periods). Same formula text as
      * [[rollingStd]] with the frame opened and n per-row. */
    def expandingStd(valueCol: String, orderCol: String, by: Seq[String],
                     as: String): DataFrame = {
      val cum = ordered(by, Seq(col(orderCol)))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val x = P.dec2(col(valueCol))
      df.select(col("*"), // one projection level -> ONE fused WindowExec
          count(lit(1)).over(cum).as("_en"),
          sum(x).over(cum).cast("double").as("_esx"),
          sum((x * x).cast("decimal(38,4)")).over(cum).cast("double").as("_esq"))
        .withColumn(as,
          when(col("_en") > 1,
            P.r4(sqrt((col("_esq") - col("_esx") * col("_esx") / col("_en")) /
              (col("_en") - 1)))))
        .drop("_en", "_esx", "_esq")
    }

    /** `rolling(n).sem()` — standard error of the mean over the n-row
      * frame: the [[rollingStd]] moment device divided by √n (one
      * extra row-local division, same single fused WindowExec). */
    def rollingSem(n: Int, valueCol: String, orderCol: String, by: Seq[String],
                   as: String): DataFrame = {
      val w = ordered(by, Seq(col(orderCol))).rowsBetween(-(n - 1), 0)
      val x = P.dec2(col(valueCol))
      df.select(col("*"), // one projection level -> ONE fused WindowExec
          count(lit(1)).over(w).as("_rn"),
          sum(x).over(w).cast("double").as("_sx"),
          sum((x * x).cast("decimal(38,4)")).over(w).cast("double").as("_sq"))
        .withColumn(as,
          when(col("_rn") === n,
            P.r4(sqrt((col("_sq") - col("_sx") * col("_sx") / n) / (n - 1)) /
              math.sqrt(n.toDouble))))
        .drop("_rn", "_sx", "_sq")
    }

    /** `expanding().skew()` — the [[rollingSkew]] population-moment
      * device with the frame OPENED and n per-row; NULL below 3 rows
      * (pandas expanding min_periods). Same formula text with _rn in
      * place of the literal n, so at a prefix of length k it equals
      * rollingSkew(k)'s last row bit-for-bit (ApiSpec asserts). */
    def expandingSkew(valueCol: String, orderCol: String, by: Seq[String],
                      as: String): DataFrame = {
      val cum = ordered(by, Seq(col(orderCol)))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val x = col(valueCol).cast("decimal(12,2)")
      val nd = "cast(_rn as double)"
      val mean = s"(_s1 / $nd)"
      val m2 = s"(_s2 / $nd - $mean * $mean)"
      val m3 = s"(_s3 / $nd - 3 * $mean * _s2 / $nd + 2 * $mean * $mean * $mean)"
      df.select(col("*"),
          count(lit(1)).over(cum).as("_rn"),
          sum(x).over(cum).cast("double").as("_s1"),
          sum((x * x).cast("decimal(38,4)")).over(cum).cast("double").as("_s2"),
          sum((x * x * x).cast("decimal(38,6)")).over(cum).cast("double").as("_s3"))
        .withColumn(as, expr(
          s"CASE WHEN _rn >= 3 AND $m2 > 0 THEN round($m3 / ($m2 * sqrt($m2)), 4) END"))
        .drop("_rn", "_s1", "_s2", "_s3")
    }

    /** `expanding().kurt()` — the [[rollingKurt]] excess-kurtosis
      * device with the frame opened; NULL below 4 rows (pandas
      * expanding min_periods). */
    def expandingKurt(valueCol: String, orderCol: String, by: Seq[String],
                      as: String): DataFrame = {
      val cum = ordered(by, Seq(col(orderCol)))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val x = col(valueCol).cast("decimal(8,2)")
      val x2 = (x * x).cast("decimal(17,4)")
      val nd = "cast(_rn as double)"
      val mean = s"(_s1 / $nd)"
      val m2 = s"(_s2 / $nd - $mean * $mean)"
      val m4 = s"(_s4 / $nd - 4 * $mean * _s3 / $nd + 6 * $mean * $mean * _s2 / $nd" +
        s" - 3 * $mean * $mean * $mean * $mean)"
      df.select(col("*"),
          count(lit(1)).over(cum).as("_rn"),
          sum(x).over(cum).cast("double").as("_s1"),
          sum(x2).over(cum).cast("double").as("_s2"),
          sum((x2 * x).cast("decimal(26,6)")).over(cum).cast("double").as("_s3"),
          sum((x2 * x2).cast("decimal(35,8)")).over(cum).cast("double").as("_s4"))
        .withColumn(as, expr(
          s"CASE WHEN _rn >= 4 AND $m2 > 0 THEN round($m4 / ($m2 * $m2) - 3, 4) END"))
        .drop("_rn", "_s1", "_s2", "_s3", "_s4")
    }

    /** `expanding().mean()` — exact-decimal running mean. */
    def expandingMean(valueCol: String, orderCol: String, by: Seq[String],
                      as: String): DataFrame = {
      val cum = ordered(by, Seq(col(orderCol)))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      df.withColumn(as,
        sum(P.dec2(col(valueCol))).over(cum).cast("double") /
          count(lit(1)).over(cum))
    }

    /** `diff(n)` — exact-decimal difference vs the n-back row. */
    def diffN(n: Int, valueCol: String, orderCol: String, by: Seq[String],
              as: String): DataFrame = {
      val w = ordered(by, Seq(col(orderCol)))
      df.withColumn(as,
        (P.dec2(col(valueCol)) - P.dec2(lag(valueCol, n).over(w))).cast("double"))
    }

    /** `pct_change()` — null-guarded ratio to the previous row. */
    def pctChange(valueCol: String, orderCol: String, by: Seq[String],
                  as: String): DataFrame = {
      val w = ordered(by, Seq(col(orderCol)))
      df.withColumn(as, P.div(col(valueCol), lag(valueCol, 1).over(w)) - 1)
    }

    /** `cumsum()` — exact-decimal running sum (order-independent). */
    def cumsum(valueCol: String, orderCol: String, by: Seq[String],
               as: String): DataFrame = {
      val cum = ordered(by, Seq(col(orderCol)))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      df.withColumn(as, sum(P.dec2(col(valueCol))).over(cum).cast("double"))
    }

    /** Per-group z-score: mean/std from exact decimal sums in one fused
      * window pass, the feature-engineering staple. */
    def zscore(valueCol: String, orderCol: String, by: Seq[String],
               as: String): DataFrame = {
      val full = ordered(by, Seq(col(orderCol)))
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      df.select(col("*"),
          count(lit(1)).over(full).as("_n"),
          sum(P.dec2(col(valueCol))).over(full).cast("double").as("_sx"),
          sum((P.dec2(col(valueCol)) * P.dec2(col(valueCol))).cast("decimal(38,4)"))
            .over(full).cast("double").as("_sq"))
        .withColumn(as,
          (col(valueCol) - col("_sx") / col("_n")) /
            sqrt((col("_sq") - col("_sx") * col("_sx") / col("_n")) / (col("_n") - 1)))
        .drop("_n", "_sx", "_sq")
    }

    /** `groupby.head(k)` by rank: top-k rows per `by` group in `order`,
      * rank column kept. Window form; see udaf.TopK for the map-side-
      * combining form when k ≪ group size at scale. */
    def topkPerGroup(k: Int, by: Seq[String], order: Seq[Column],
                     rankAs: String = "rn"): DataFrame = {
      val w = ordered(by, order)
      df.withColumn(rankAs, row_number().over(w)).filter(col(rankAs) <= k)
    }

    // ----------------------------------------------------------------
    // §2.C as-of join (pandas merge_asof)
    // ----------------------------------------------------------------

    /** `pd.merge_asof(df, build, on, by, direction=…)` — match each
      * row of this frame with the latest (backward), earliest-at-or-
      * after (forward) or closest (nearest; ties backward) build row
      * per `by` keys, within `toleranceMicros` when given. Thin
      * wrapper over graft.ts.AsofJoin's union-and-window form (one
      * shuffle on the by keys); see plans/AsofJoinPlan for the
      * physical-operator tier and the `asof_join(...)` SQL TVF. */
    def asof(build: DataFrame, on: String, by: Seq[String],
             payload: Seq[String], direction: String = "backward",
             toleranceMicros: Option[Long] = None,
             allowExactMatches: Boolean = true): DataFrame = direction match {
      case "backward" => graft.ts.AsofJoin.backward(
        df, build, on, by, payload, toleranceMicros, allowExactMatches)
      case "forward" => graft.ts.AsofJoin.forward(
        df, build, on, by, payload, toleranceMicros, allowExactMatches)
      case "nearest" => graft.ts.AsofJoin.nearest(
        df, build, on, by, payload, toleranceMicros, allowExactMatches)
      case other => throw new IllegalArgumentException(
        s"direction must be backward|forward|nearest, got '$other'")
    }

    // ----------------------------------------------------------------
    // §2.D summaries / §2.I reshape
    // ----------------------------------------------------------------

    /** pandas `describe()` of one numeric column: (cnt, mean_v, std_v,
      * min_v, p25, p50, p75, max_v). Exact decimal sums per §2.0;
      * exact `percentile` here — swap approx_percentile at 100 TB for
      * bounded memory (same plan shape). */
    def describeCol(valueCol: String): DataFrame = {
      val v = col(ident(valueCol))
      df.agg(
          count(lit(1)).as("cnt"),
          sum(P.dec2(v)).cast("double").as("s"),
          sum((P.dec2(v) * P.dec2(v)).cast("decimal(38,4)")).cast("double").as("q"),
          min(v).as("min_v"),
          P.r4(expr(s"percentile(`$valueCol`, 0.25)")).as("p25"),
          P.r4(expr(s"percentile(`$valueCol`, 0.5)")).as("p50"),
          P.r4(expr(s"percentile(`$valueCol`, 0.75)")).as("p75"),
          max(v).as("max_v"))
        .select(
          col("cnt"),
          (col("s") / col("cnt")).as("mean_v"),
          P.r4(sqrt((col("q") - col("s") * col("s") / col("cnt")) / (col("cnt") - 1)))
            .as("std_v"),
          col("min_v"), col("p25"), col("p50"), col("p75"), col("max_v"))
    }

    /** [[describeCol]] through the GRID device (round 18, the
      * agg_describe scale knob): ONE corpus shuffle builds the
      * per-value occurrence grid (ParallelRank memoizes it), the
      * doubled-rank device turns it into exact strictly-smaller
      * counts at full parallelism, and every statistic — exact
      * decimal sums included — reduces over grid rows (Σ c·x is the
      * same exact decimal as the row-wise Σ x). The p25/p50/p75 are
      * the exact `percentile` interpolation re-derived from ORDER
      * STATISTICS: value at 1-indexed rank k lives on the grid row
      * with strictly-smaller < k ≤ strictly-smaller + count, and
      * quantile_cont(p) = lower + (upper − lower)·frac at h = p·(n−1)
      * — the same IEEE formula Spark's Percentile evaluates, so the
      * result is bit-identical to [[describeCol]] while avoiding both
      * its serial exact-percentile buffer (a per-partition value→count
      * map merged through the agg path — measured 12.2 s at the sf10
      * stress) and any group-count-bound sort. */
    def describeColGrid(valueCol: String): DataFrame = {
      val ranked = graft.core.ParallelRank.doubledAvgRankGrid(
          df.select(col(ident(valueCol)).as("_v")), Nil, "_v", "_r2")
        // doubled rank 2·lo + c + 1 → lo = strictly-smaller count (exact)
        .withColumn("_lo", expr("(`_r2` - `_c` - 1) div 2"))
      val nn = ranked.agg(
        coalesce(sum(col("_c")), lit(0L)).cast("long").as("_cnt_all"),
        coalesce(sum(when(col("_v").isNotNull, col("_c"))), lit(0L))
          .cast("long").as("_n"))
      def h(p: Double): Column = lit(p) * (col("_n") - 1).cast("double")
      def atRank(k: Column): Column =
        max(when(k > col("_lo") && k <= col("_lo") + col("_c"), col("_v")))
      val probes = Seq(0.25 -> "25", 0.5 -> "50", 0.75 -> "75")
      val aggs: Seq[Column] = Seq(
        max(col("_cnt_all")).as("cnt0"),
        max(col("_n")).as("_n"),
        sum((P.dec2(col("_v")) * col("_c")).cast("decimal(38,2)"))
          .cast("double").as("s"),
        sum(((P.dec2(col("_v")) * P.dec2(col("_v"))).cast("decimal(38,4)")
          * col("_c")).cast("decimal(38,4)")).cast("double").as("q"),
        min(col("_v")).as("min_v"),
        max(col("_v")).as("max_v")) ++
        probes.flatMap { case (p, t) =>
          Seq(
            atRank(floor(h(p)).cast("long") + 1L).as(s"_lo$t"),
            atRank(ceil(h(p)).cast("long") + 1L).as(s"_hi$t"))
        }
      val stats = ranked.crossJoin(broadcast(nn))
        .filter(col("_v").isNotNull)
        .agg(aggs.head, aggs.tail: _*)
      def interp(p: Double, t: String): Column =
        P.r4(col(s"_lo$t") +
          (col(s"_hi$t") - col(s"_lo$t")) *
            (h(p) - floor(h(p))))
      stats.select(
        coalesce(col("cnt0"), lit(0L)).as("cnt"),
        (col("s") / coalesce(col("cnt0"), lit(0L))).as("mean_v"),
        P.r4(sqrt((col("q") - col("s") * col("s") / col("cnt0"))
          / (col("cnt0") - 1))).as("std_v"),
        col("min_v"),
        interp(0.25, "25").as("p25"),
        interp(0.5, "50").as("p50"),
        interp(0.75, "75").as("p75"),
        col("max_v"))
    }

    /** `value_counts(normalize=)`: counts per key combination, plus the
      * proportion when `normalize` — computed by a whole-frame window
      * over the ALREADY AGGREGATED output, so the single-partition
      * window touches O(groups) rows, never the corpus. */
    def valueCounts(cols: Seq[String], normalize: Boolean = false): DataFrame = {
      val base = df.groupBy(cols.map(col): _*).agg(count(lit(1)).as("n"))
      if (!normalize) base
      else base.select(cols.map(col) ++ Seq(col("n"),
        (col("n").cast("double") / sum("n").over(Window.partitionBy()))
          .as("proportion")): _*)
    }

    /** `pd.qcut(x, q)` — EXACT global-rank form (ntile over the whole
      * frame; one global sort — correct but serial at the limit; see
      * [[qcutApprox]] for the scale path). `tieCol` makes the order
      * total so ties split deterministically. */
    def qcut(valueCol: String, q: Int, tieCol: String,
             as: String = "bucket"): DataFrame =
      df.withColumn(as,
        ntile(q).over(Window.orderBy(col(valueCol), col(tieCol))).cast("bigint"))

    /** `pd.qcut` — the SCALE form: quantile boundaries from one tiny
      * aggregate, broadcast back, bucket = (q−1) range compares —
      * map-side except the boundary agg. Swap percentile →
      * approx_percentile at 100 TB (identical plan shape). Buckets are
      * right-closed (x = boundary stays low), the pandas convention. */
    def qcutApprox(valueCol: String, q: Int, as: String = "bucket"): DataFrame = {
      require(q >= 2, s"q must be >= 2, got $q")
      ident(valueCol)
      val bs = (1 until q).map(i =>
        expr(s"percentile(`$valueCol`, ${i.toDouble / q})").as(s"_qb$i"))
      val b = df.agg(bs.head, bs.tail: _*)
      val bucket = (1 until q).map(i =>
        (col(valueCol) > col(s"_qb$i")).cast("bigint")).foldLeft(lit(1L))(_ + _)
      df.crossJoin(broadcast(b))
        .withColumn(as, bucket)
        .drop((1 until q).map(i => s"_qb$i"): _*)
    }

    /** `pd.cut(x, bins, labels)` — explicit right-closed (lo, hi]
      * edges; out-of-range values → NULL. Row-local CASE ladder,
      * codegen'd, zero shuffles. */
    def cut(valueCol: String, edges: Seq[Double], labels: Seq[String],
            as: String = "bin"): DataFrame = {
      require(labels.size == edges.size - 1,
        s"need ${edges.size - 1} labels for ${edges.size} edges, got ${labels.size}")
      val v = col(valueCol)
      var ladder = when(v > edges(0) && v <= edges(1), labels(0))
      for (i <- 1 until labels.size)
        ladder = ladder.when(v > edges(i) && v <= edges(i + 1), labels(i))
      df.withColumn(as, ladder)
    }

    /** `pd.factorize` — dense integer codes in FIRST-APPEARANCE order
      * (first row by `orderCol`, not sorted values): tiny per-category
      * agg → row_number over the category table only → BROADCAST
      * join-back; the single-partition window never sees fact rows. */
    def factorize(catCol: String, orderCol: String,
                  as: String = "code"): DataFrame = {
      val codes = df.groupBy(catCol).agg(min(col(orderCol)).as("_first"))
        .select(col(catCol),
          (row_number().over(Window.orderBy("_first")) - 1).cast("bigint").as(as))
      df.join(broadcast(codes), Seq(catCol))
    }

    /** `pd.get_dummies` over an EXPLICIT category list (the scale
      * discipline: at 100 TB the schema must not depend on a distinct
      * scan) — appends one 0/1 column per value. */
    def getDummies(catCol: String, values: Seq[String],
                   prefix: String): DataFrame = {
      val inds = values.map(v =>
        when(col(catCol) === v, 1L).otherwise(0L)
          .as(s"${prefix}_${v.toLowerCase(java.util.Locale.ROOT)}"))
      df.select(col("*") +: inds: _*)
    }

    // ----------------------------------------------------------------
    // §2.J dedup
    // ----------------------------------------------------------------

    /** MinHash+LSH near-duplicate PAIRS with exact Jaccard verification:
      * (a, b, jaccard) for every pair sharing an LSH band bucket whose
      * exact 3-gram Jaccard ≥ `tau`. Banded — O(docs·bands) shuffle, no
      * all-pairs. `(nBands, rowsPerBand)` defaults to AUTO (0): the
      * family is sized from a cheap count via
      * [[graft.text.NearDup.autoMinhashFamily]] — P(candidate) =
      * J^rowsPerBand per band, and the sf3 stress axis measured the
      * fixed 4×2 family superlinear past ~10⁵ docs (BASELINE "tenth
      * axis"); pass both explicitly to pin a family. */
    def minhashPairs(idCol: String, textCol: String, tau: Double,
                     nBands: Int = 0, rowsPerBand: Int = 0): DataFrame =
      graft.text.NearDup.minhashPairs(df, idCol, textCol, tau, nBands, rowsPerBand)

    /** MinHash+LSH dedup END-TO-END: drop every row that is a
      * non-representative member (keep-min id) of a near-duplicate
      * cluster at threshold `tau`. Pairs via [[minhashPairs]], clusters
      * via label propagation (graft.text.DedupCluster) — every stage
      * banded/bucketed, the 100 TB shape. */
    def dedupMinhash(idCol: String, textCol: String, tau: Double): DataFrame =
      graft.text.DedupCluster.survivors(
        df, idCol, minhashPairs(idCol, textCol, tau).select("a", "b"),
        iters = 20, minRounds = 1)

    /** FUZZY train/test decontamination: drop every row of THIS
      * (training) frame whose 3-gram-shingle Jaccard with ANY
      * `benchmark` row reaches `tau` — benchmark signatures broadcast,
      * the training side is never all-pairs-joined. Returns the
      * surviving training rows. */
    def decontaminate(benchmark: DataFrame, idCol: String, textCol: String,
                      tau: Double): DataFrame =
      graft.text.NearDup.decontaminateFuzzy(df, benchmark, idCol, textCol, tau)

    /** `bits`-wide SimHash sketch per row: (doc_id, simhash). `bits` is
      * the scale knob — grow it ~log₂(corpus) to keep the Hamming graph
      * sparse (measured saturation numbers in NearDup.simhashOf). */
    def simhashSketch(idCol: String, textCol: String,
                      bits: Int = 60): DataFrame =
      graft.text.NearDup.simhashOf(df, idCol, textCol, bits)

    /** SimHash near-dup pairs (a, b, hamming) at Hamming ≤ `maxHamming`
      * — pigeonhole (maxHamming+1)-part blocking by default, `"bitflip"`
      * probe blocking for maxHamming = 1; both lossless, proved by the
      * gated all-pairs oracles. */
    def simhashPairs(idCol: String, textCol: String, bits: Int = 60,
                     maxHamming: Int = 2,
                     blocking: String = "pigeonhole"): DataFrame =
      graft.text.NearDup.simhashPairs(df, idCol, textCol, bits, maxHamming, blocking)

    /** SimHash dedup END-TO-END: keep one survivor (min id) per
      * Hamming-≤-`maxHamming` cluster plus all singletons — the SimHash
      * twin of [[dedupMinhash]], every stage the graded scale shape. */
    def dedupSimhash(idCol: String, textCol: String, bits: Int = 60,
                     maxHamming: Int = 1): DataFrame =
      graft.text.DedupCluster.survivors(
        df, idCol,
        simhashPairs(idCol, textCol, bits, maxHamming).select("a", "b"),
        iters = 20, minRounds = 1)

    /** Hyperplane-LSH near-dup pairs (a, b, cos_sim) over an embedding
      * column: banded candidates (2^bitsPerBand buckets/band) + exact
      * cosine verify ≥ `tau`. `(bands, bitsPerBand)` defaults to AUTO
      * (0): sized from a cheap count via
      * [[graft.vec.VecOps.autoEmbedLshFamily]] — bits ≈ log₂(n/16),
      * the sf1/sf3-measured policy; pass both explicitly to pin. */
    def embedLshPairs(idCol: String, vecCol: String, tau: Double,
                      bands: Int = 0,
                      bitsPerBand: Int = 0): DataFrame =
      graft.vec.VecOps.embedLshPairs(df, idCol, vecCol, tau, bands, bitsPerBand)

    /** Embedding dedup END-TO-END: keep one survivor (min id) per
      * cosine-≥-`tau` LSH cluster plus singletons — the vector twin of
      * [[dedupMinhash]]/[[dedupSimhash]]. Band family AUTO-sized by
      * default (see [[embedLshPairs]]). */
    def dedupEmbedLsh(idCol: String, vecCol: String, tau: Double,
                      bands: Int = 0,
                      bitsPerBand: Int = 0): DataFrame =
      graft.vec.VecOps.dedupEmbedLsh(df, idCol, vecCol, tau, bands, bitsPerBand)

    /** Batched k-NN join against this corpus: top-`k` rows by exact r4
      * cosine per query row — `"lsh"` band blocking (the 100 TB path)
      * or `"broadcast"` exact scoring. (qid, rk, vec_id, cos_sim). */
    def knnJoin(queries: DataFrame, idCol: String, vecCol: String, k: Int,
                blocking: String = "lsh",
                bands: Int = graft.vec.LshPlanes.nBands,
                bitsPerBand: Int = graft.vec.LshPlanes.bitsPerBand): DataFrame =
      graft.vec.VecOps.knnJoin(df, queries, idCol, vecCol, k, blocking,
        bands, bitsPerBand)

    /** Learned-IVF batched ANN search against this corpus: k-means
      * coarse quantizer fit in-call, per-query `nprobe`-cell probing,
      * exact scores on occupants; nprobe = kCells reproduces the exact
      * broadcast result. (qid, rk, vec_id, cos_sim). */
    def ivfSearch(queries: DataFrame, idCol: String, vecCol: String, k: Int,
                  kCells: Int = 8, nprobe: Int = 3,
                  trainIters: Int = 3): DataFrame =
      graft.vec.VecOps.ivfSearch(df, queries, idCol, vecCol, k, kCells,
        nprobe, trainIters)

    // ----------------------------------------------------------------
    // §2.J text metrics (row-local appenders fuse into the scan; the
    // agg forms shuffle one row per document)
    // ----------------------------------------------------------------

    /** Append whitespace/regex tokenizer counts (row-local). */
    def tokenCounts(textCol: String): DataFrame =
      graft.text.TextOps.tokenCountsOf(df, textCol)

    /** Per-document stopword-ratio language ID. */
    def langId(idCol: String, textCol: String,
               stopwords: Seq[String] = Seq("the", "a"),
               minStopRatio: Double = 0.03): DataFrame =
      graft.text.TextOps.langIdOf(df, idCol, textCol, stopwords, minStopRatio)

    /** Per-document lexical-quality score (the curation formula). */
    def textQuality(idCol: String, textCol: String): DataFrame =
      graft.text.TextOps.qualityOf(df, idCol, textCol)

    /** Append Gopher-style quality-filter flags (row-local HOF folds). */
    def gopherFlags(textCol: String,
                    minWords: Long = 5, maxWords: Long = 200,
                    minMeanLen: Double = 2.0, maxMeanLen: Double = 10.0,
                    stopwords: Seq[String] = Seq("the", "a", "of", "to")): DataFrame =
      graft.text.TextOps.gopherFlagsOf(df, textCol, minWords, maxWords,
        minMeanLen, maxMeanLen, stopwords)

    /** Append the rolling-hash content fingerprint (row-local). */
    def fingerprintText(textCol: String, as: String = "fingerprint"): DataFrame =
      graft.text.TextOps.fingerprintOf(df, textCol, as)

    /** Append redacted text + match count (row-local global replace). */
    def redact(textCol: String, pattern: String = "[0-9]+",
               replacement: String = "<num>"): DataFrame =
      graft.text.TextOps.redactOf(df, textCol, pattern, replacement)

    /** Per-group Zipf-law fit: OLS slope of ln(freq) on ln(rank). */
    def zipfSlope(byCol: String, textCol: String): DataFrame =
      graft.text.TextOps.zipfSlopeOf(df, byCol, textCol)

    /** Per-group Jensen-Shannon divergence vs the whole frame's mix. */
    def jsDivergence(byCol: String, textCol: String): DataFrame =
      graft.text.TextOps.jsDivergenceOf(df, byCol, textCol)

    // ----------------------------------------------------------------
    // §2.J corpus curation (round-11 batch 3)
    // ----------------------------------------------------------------

    /** Unicode NFKC + ROOT-locale casefold of `textCol` appended as
      * `as` — the C4/Dolma-class pre-tokenization normalization
      * (pandas `str.normalize('NFKC') + str.lower()`). Row-local
      * native expression ([[graft.functions.NfkcCasefold]], codegen'd
      * — fuses into the scan, zero shuffle at any scale). */
    def normalizeNfkc(textCol: String, as: String): DataFrame =
      df.withColumn(as, call_function("nfkc_casefold", col(textCol)))

    /** pandas `str.normalize(form)` — Unicode normalization to an
      * explicit form (NFC/NFD/NFKC/NFKD), NO casefold (pandas doesn't
      * lower-case here; [[normalizeNfkc]] is the curation composite).
      * Row-local native expression, scan-fused. */
    def normalizeUnicode(form: String, textCol: String, as: String): DataFrame =
      df.withColumn(as, call_function("unicode_normalize", col(textCol), lit(form)))

    /** Deterministic per-group token-budget subsample: keep each
      * group's rows in Knuth-hash pseudo-random order until `budget`
      * whitespace tokens are spent. One window per group partition. */
    def tokenBudgetSample(byCol: String, idCol: String, textCol: String,
                          budget: Long): DataFrame =
      graft.ops.CurationOps.tokenBudgetSampleOf(df, byCol, idCol, textCol, budget)

    /** α=0.5 temperature mixture re-weighting per group (q_i ∝ √p_i,
      * the multilingual up/down-sampling recipe). One corpus scan. */
    def temperatureWeights(byCol: String, textCol: String): DataFrame =
      graft.ops.CurationOps.temperatureWeightsOf(df, byCol, textCol)

    /** Class-balanced subsample: every group keeps exactly the
      * smallest group's count, deterministic Knuth-hash order. */
    def classBalance(byCol: String, idCol: String): DataFrame =
      graft.ops.CurationOps.classBalanceOf(df, byCol, idCol)

    /** Per-doc boilerplate fraction from corpus-wide `chunkWords`-word
      * chunk hashing (C4-style repeated-text signal). */
    def chunkBoilerplate(idCol: String, textCol: String,
                         chunkWords: Int = 10): DataFrame =
      graft.ops.CurationOps.chunkBoilerplateOf(df, idCol, textCol, chunkWords)

    /** Sliding-window EXACT substring duplication at stride 1 — doc
      * pairs sharing ≥ 1 duplicated `k`-word window at ANY offset
      * (catches spans the fixed chunk grid misses). Digest-keyed,
      * DF-capped, in-group pair explode — no self-join. */
    def substringDups(idCol: String, textCol: String, k: Int = 10,
                      maxDf: Int = 50): DataFrame =
      graft.ops.CurationOps.substringDupsOf(df, idCol, textCol, k, maxDf)

    /** Span-level duplicate-removal accounting: per affected doc, the
      * word positions covered by any ≥2-doc duplicated `k`-word window
      * (the text a span-dedup pass strips). Instance-sized joins — no
      * cap needed, boilerplate is exactly what removal wants. */
    /** Cleaned text of every span-affected doc (covered positions cut,
      * order kept) — the rewrite half of [[stripDupSpans]]. */
    def stripDupSpansApply(idCol: String, textCol: String, k: Int = 10): DataFrame =
      graft.ops.CurationOps.stripDupSpansApplyOf(df, idCol, textCol, k)

    def stripDupSpans(idCol: String, textCol: String, k: Int = 10): DataFrame =
      graft.ops.CurationOps.stripDupSpansOf(df, idCol, textCol, k)

    /** Tokenizer-faithful counting: per-doc whitespace vs greedy
      * longest-match BPE tokens over the inlined trained vocabulary
      * (graft.text.Bpe). Tokenization is DISTINCT-words-bounded. */
    def bpeTokenCounts(idCol: String, textCol: String): DataFrame =
      graft.text.Bpe.bpeTokenCountsOf(df, idCol, textCol)

    /** [[tokenBudgetSample]] with the budget in REAL (BPE) tokens —
      * the production unit of account. */
    def tokenBudgetSampleBpe(byCol: String, idCol: String, textCol: String,
                             budget: Long): DataFrame =
      graft.text.Bpe.tokenBudgetSampleBpe(df, byCol, idCol, textCol, budget)

    // ----------------------------------------------------------------
    // §2.J product quantization (round-11 batch 3; train codebooks
    // per corpus with graft.vec.TrainPq)
    // ----------------------------------------------------------------

    /** PQ-encode the embedding column: id ++ (c0.., qerr). Row-local. */
    def pqEncode(idCol: String, vecCol: String,
                 books: graft.vec.Pq.Books = graft.vec.PqCodebooks.codebooks): DataFrame =
      graft.vec.Pq.pqEncodeOf(df, idCol, vecCol, books)

    /** Batched ADC top-k against this corpus: (qid, rk, id, adc_dist).
      * Per-query LUT built once on the broadcast side; corpus rows pay
      * m lookups + m adds. */
    def pqAdcSearch(queries: DataFrame, idCol: String, vecCol: String, k: Int,
                    books: graft.vec.Pq.Books = graft.vec.PqCodebooks.codebooks): DataFrame =
      graft.vec.Pq.pqAdcSearch(df, queries, idCol, vecCol, k, books)

    /** Per-group PQ reconstruction MSE: (by, n, mse). */
    def pqMse(byCol: String, idCol: String, vecCol: String,
              books: graft.vec.Pq.Books = graft.vec.PqCodebooks.codebooks): DataFrame =
      graft.vec.Pq.pqMseOf(df, byCol, idCol, vecCol, books)

    /** CUSUM single-changepoint estimate per series: k* =
      * argmax_k |S_k|, S_k the cumsum of deviations from the series
      * mean. The ENTIRE argmax runs in exact decimal(35,2) — score =
      * |n·cumsum_k − k·total| (the ts_cusum_flag width device) — so
      * comparisons can't ulp-split and ties break to the earlier row
      * identically in both engines. One window pass + one argmax agg
      * per series; `by = Nil` → one global series (serial window).
      * Output: by ++ (cp_<order>, cp_k, s_max). */
    def changepoint(valueCol: String, orderCol: String,
                    by: Seq[String]): DataFrame = {
      val wOrd = ordered(by, Seq(col(orderCol)))
      val wCum = wOrd.rowsBetween(Window.unboundedPreceding, 0)
      val wAll = if (by.isEmpty)
        Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      else Window.partitionBy(by.map(col): _*)
      val keyed = df
        .select((by.map(col) :+ col(orderCol) :+
          col(valueCol).cast("decimal(18,2)").as("_v")): _*)
        .withColumn("_rn", row_number().over(wOrd))
        .withColumn("_cum", sum(col("_v")).over(wCum))
        .withColumn("_total", sum(col("_v")).over(wAll))
        .withColumn("_n", count(lit(1)).over(wAll))
        // Width margin (the ts_cusum_flag adjudication, same device):
        // decimal(24,2)×decimal(10,0) → decimal(35,2) ≤ width 38 in
        // both engines provided |cum|,|total| < 10²² and n < 10¹⁰; the
        // guard asserts a 10× margin so an out-of-envelope series
        // raises instead of silently nulling under Spark's non-ANSI
        // narrowing cast (or DuckDB's silent double fallback past 38).
        .withColumn("_score",
          when(abs(col("_cum")) < lit(1e21) &&
               abs(col("_total")) < lit(1e21) && col("_n") < lit(1000000000L),
            abs(col("_cum").cast("decimal(24,2)") * col("_n").cast("decimal(10,0)") -
              col("_rn").cast("decimal(10,0)") * col("_total").cast("decimal(24,2)")))
            .otherwise(raise_error(lit(
              "changepoint: series cumsum/count exceeds the decimal(24,2)/decimal(10,0) envelope — widen the bounded casts"))))
      val grouped = if (by.isEmpty) keyed.groupBy() else keyed.groupBy(by.map(col): _*)
      grouped
        .agg(max(struct(col("_score"), (-col("_rn")).as("nrn"),
          col(orderCol).as("eid"), col("_n").as("nn"))).as("_best"))
        .select((by.map(col) :+
          col("_best.eid").as(s"cp_$orderCol") :+
          (-col("_best.nrn")).cast("bigint").as("cp_k") :+
          (col("_best._score").cast("double") / col("_best.nn").cast("double"))
            .as("s_max")): _*)
    }

    /** IVF-PQ encode (coarse cell + residual codes + exact error) —
      * the billion-scale index layout; the cell doubles as the IVF
      * partition key. Expects `vec_id`/`embedding` columns (the gated
      * corpus shape); train residual books with TrainIvfPq. */
    def ivfPqEncode(): DataFrame = graft.vec.IvfPq.ivfPqEncodeOf(df)

    /** Multiple linear regression per group (y ~ b0 + b1·x1 + b2·x2)
      * via Cramer on the normal equations — exact integer/decimal
      * moments, deterministic coefficients. x columns integral, y a
      * 2-dp value. See agg_ols_normal_eq. */
    def olsNormalEq(byCol: String, x1Col: String, x2Col: String,
                    yCol: String): DataFrame =
      graft.ops.Aggs.olsNormalEqOf(df, byCol, x1Col, x2Col, yCol)

    /** Inter-arrival burstiness (CV of per-key gaps in whole seconds);
      * `idCol` breaks timestamp ties. See ts_burstiness. */
    def burstiness(keyCol: String, tsCol: String, idCol: String): DataFrame =
      graft.ops.TimeSeries.burstinessOf(df, keyCol, tsCol, idCol)

    /** Per-`byCol` norm retention of the first-`dims` prefix (the
      * Matryoshka truncation-quality report). See vec_truncate_renorm. */
    def truncateRenorm(idCol: String, byCol: String, vecCol: String,
                       dims: Int): DataFrame =
      graft.vec.VecOps.truncateRenormOf(df, idCol, byCol, vecCol, dims)

    /** Recall@10 of the first-`dims`-prefix cosine ranking vs the
      * full-width truth over the qid < 5 panel. See sim_recall_truncated. */
    def truncatedRecall(idCol: String, vecCol: String, dims: Int): DataFrame =
      graft.vec.VecOps.truncatedRecallOf(df, idCol, vecCol, dims)

    /** Per-group cosine between even/odd-id cohort centroids (the
      * embedding drift monitor). See vec_centroid_drift. */
    def centroidDrift(idCol: String, byCol: String, vecCol: String,
                      dims: Int): DataFrame =
      graft.vec.VecOps.centroidDriftOf(df, idCol, byCol, vecCol, dims)

    /** One-way ANOVA of a 2-dp `valueCol` across `byCol` groups:
      * k_groups, n_rows, sums of squares, F. See agg_anova_oneway. */
    def anovaOneway(byCol: String, valueCol: String): DataFrame =
      graft.ops.StatsTests.anovaOnewayOf(df, byCol, valueCol)

    /** Kruskal–Wallis H (+ tie-corrected H′) of a 2-dp `valueCol`
      * across `byCol` groups. See agg_kruskal_wallis. */
    def kruskalWallis(byCol: String, valueCol: String): DataFrame =
      graft.ops.StatsTests.kruskalWallisOf(df, byCol, valueCol)

    /** Pairwise Cohen's d effect sizes of a 2-dp `valueCol` across
      * `byCol` groups (k(k−1)/2 rows). See agg_cohens_d. */
    def cohensD(byCol: String, valueCol: String): DataFrame =
      graft.ops.StatsTests.cohensDOf(df, byCol, valueCol)

    /** Kendall's τ-b between integer columns `xCol`/`yCol` of an
      * aligned series keyed by `idCol`. Pair-explodes C(n,2): feed it
      * a BOUNDED aggregate, never a fact table. See agg_kendall_tau. */
    def kendallTau(idCol: String, xCol: String, yCol: String): DataFrame =
      graft.ops.StatsTests.kendallTauOf(df, idCol, xCol, yCol)

    /** KPSS level-stationarity η (Bartlett L=4) of an integer series
      * `valueCol` ordered by `orderCol` (a bounded pre-aggregated
      * series — the ADF complement). See ts_kpss. */
    def kpss(orderCol: String, valueCol: String): DataFrame =
      graft.ops.StatsTests.kpssOf(df, orderCol, valueCol)

    /** Bartlett's variance-homogeneity B of a 2-dp `valueCol` across
      * `byCol` groups (the parametric ANOVA pre-check). See
      * agg_bartlett_test. */
    def bartlett(byCol: String, valueCol: String): DataFrame =
      graft.ops.Inference.bartlettOf(df, byCol, valueCol)

    /** Brown–Forsythe (median-centered Levene) W of a 2-dp `valueCol`
      * across `byCol` groups — the robust variance-homogeneity test.
      * See agg_levene_bf. */
    def leveneBf(byCol: String, valueCol: String): DataFrame =
      graft.ops.Inference.leveneBfOf(df, byCol, valueCol)

    /** Friedman Q over a CELL frame (block × treatment × exact-integer
      * response); only blocks carrying all treatments rank. See
      * agg_friedman_test. */
    def friedman(blockCol: String, treatCol: String, respCol: String): DataFrame =
      graft.ops.Inference.friedmanOf(df, blockCol, treatCol, respCol)

    /** Durbin–Watson of the `valueCol` ~ `orderCol` trend residuals
      * over a BOUNDED exact-integer series. See ts_dw_stat. */
    def durbinWatson(orderCol: String, valueCol: String): DataFrame =
      graft.ops.Inference.dwStatOf(df, orderCol, valueCol)

    /** Lag-1 Granger F of `xCol` → `yCol` over a BOUNDED exact-integer
      * aligned series keyed by `orderCol`. See ts_granger_f. */
    def grangerF(orderCol: String, yCol: String, xCol: String): DataFrame =
      graft.ops.Inference.grangerFOf(df, orderCol, yCol, xCol)

    /** Phase-binned ANOVA F per candidate period over a BOUNDED
      * exact-integer series keyed by non-negative `hCol` — the
      * transcendental-free periodogram. See ts_period_detect. */
    def periodDetect(hCol: String, valueCol: String,
                     periods: Seq[Long]): DataFrame =
      graft.ops.Inference.periodDetectOf(df, hCol, valueCol, periods)

    /** Two-proportion z of success rate where `grp` is true vs false.
      * See agg_prop_ztest. */
    def propZTest(grp: Column, success: Column): DataFrame =
      graft.ops.Inference.propZTestOf(df, grp, success)

    /** Per-panel-cell proportion z vs the rest + Benjamini–Hochberg
      * FDR over the (bounded) panel keyed by `panel`. See
      * agg_prop_ztest_bh. */
    def propZTestBh(panel: Column, success: Column,
                    alphaFdr: Double = 0.1): DataFrame =
      graft.ops.Inference.propZTestBhOf(df, panel, success, alphaFdr)

    /** One-sample t of a 2-dp `valueCol` per `byCol` group against
      * μ₀ = mu0Cents/100. See agg_ttest_1samp. */
    def ttest1Samp(byCol: String, valueCol: String, mu0Cents: Long): DataFrame =
      graft.ops.Inference.ttest1SampOf(df, byCol, valueCol, mu0Cents)

    /** Paired t over a frame of EXACT-INTEGER cent diffs `dCol`. See
      * agg_ttest_paired. */
    def ttestPaired(dCol: String): DataFrame =
      graft.ops.Inference.ttestPairedOf(df, dCol)

    /** Wilcoxon signed-rank over exact-integer paired diffs `dCol`
      * (zero diffs dropped). See agg_wilcoxon_signed. */
    def wilcoxonSigned(dCol: String): DataFrame =
      graft.ops.Inference.wilcoxonSignedOf(df, dCol)

    /** Cochran's Q over the "block carries ≥ minCount rows of the
      * treatment" incidence. See agg_cochran_q. */
    def cochranQ(blockCol: String, treatCol: String, minCount: Long): DataFrame =
      graft.ops.Inference.cochranQOf(df, blockCol, treatCol, minCount)

    /** McNemar's paired before/after over the heavy-use marks
      * "≥ minCount rows matching cond1 / cond2" per block. See
      * agg_mcnemar. */
    def mcnemar(blockCol: String, cond1: Column, cond2: Column,
                minCount: Long): DataFrame =
      graft.ops.Inference.mcnemarOf(df, blockCol, cond1, cond2, minCount)

    /** Kalman local-level filter per `keyCol` series ordered by
      * `orderCol` (q/r/p0 = process var, observation var, diffuse
      * init). Integral key/order route through the linear udaf/Kalman
      * flatMapGroups pass (round 16); any other types (string keys,
      * timestamp order) keep the type-generic prefix-fold spelling —
      * same values either way. See ts_kalman_level; the
      * O(1)-per-arrival streaming twin is
      * StreamOps.streamingKalmanLevel. */
    def kalmanLevel(keyCol: String, orderCol: String, valueCol: String,
                    q: Double = 4.0, r: Double = 16.0,
                    p0: Double = 100.0): DataFrame =
      graft.ops.Inference.kalmanLevelOf(df, keyCol, orderCol, valueCol, q, r, p0)

    /** Per-`byCol` lexical diversity: micro-averaged type-token ratio
      * + hapax fraction from exact integer totals. See text_ttr. */
    def lexicalDiversity(byCol: String, idCol: String, textCol: String): DataFrame =
      graft.text.TextOps.ttrOf(df, byCol, idCol, textCol)

    /** Add-one bigram-LM self-perplexity per document (ids <
      * docLimit reported). See text_bigram_perplexity. */
    def bigramPerplexity(idCol: String, textCol: String,
                         docLimit: Long): DataFrame =
      graft.ops.LlmOps.bigramPerplexityOf(df, idCol, textCol, docLimit)

    /** Generalized ESD: `k` argmax-remove-recompute outlier rounds
      * over a BOUNDED exact-integer series. See ts_esd_outliers. */
    def esdOutliers(orderCol: String, valueCol: String, k: Int): DataFrame =
      graft.ops.Inference.esdOutliersOf(df, orderCol, valueCol, k)

    /** MMR diversified top-k for `queryId` over the top-`panelSize`
      * cosine panel (pass λ and 1−λ explicitly — deriving 1−λ yields
      * a different IEEE double than its literal). See sim_mmr_topk. */
    def mmrTopk(idCol: String, vecCol: String, queryId: Long,
                panelSize: Int, k: Int, lambda: Double,
                omLambda: Double): DataFrame =
      graft.vec.VecOps.mmrTopkOf(df, idCol, vecCol, queryId, panelSize, k,
        lambda, omLambda)
  }
}
