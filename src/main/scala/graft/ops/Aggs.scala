package graft.ops

import graft.api.syntax._
import graft.core.{Policy => P, Tables => T}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** §2.D aggregations.
  *
  * Scale notes: every groupBy here compiles to partial (map-side) +
  * final HashAggregate, so the shuffle carries one row per (partition,
  * group), not per input row — the 100 TB-safe shape. Continuous stats
  * (avg/stddev/corr) are derived from EXACT decimal sums cast to double
  * and then combined with scalar IEEE arithmetic written identically in
  * both engines — deterministic under any partitioning/AQE re-plan,
  * unlike a floating `avg()` whose accumulation order is engine- and
  * partitioning-dependent.
  */
object Aggs {
  // cast(sum(decimal(x)) as double) — exact, order-independent.
  private def dsum(c: org.apache.spark.sql.Column) =
    sum(P.dec2(c)).cast("double")
  // exact decimal sum of squares (scale 4), cast to double
  private def dsumsq(c: org.apache.spark.sql.Column) =
    sum((P.dec2(c) * P.dec2(c)).cast("decimal(38,4)")).cast("double")

  /** The group-count-independent Spearman composition behind
    * `agg_spearman_grid`: one joint (group, q, p) hash agg over
    * `fact` (columns l_returnflag, q, p — q integral, p exact
    * decimal), ParallelRank marginal rank grids, count-weighted exact
    * co-moment sums. NULL-SAFE throughout (round-17 review): null
    * groups/values survive the joint grid (groupBy keeps null keys),
    * the rank grids (ParallelRank's <=> internals), and the join-back
    * (<=> conditions here) — exactly like the window spelling, whose
    * partitionBy gives nulls their own partition. Bit-identical to
    * `agg_spearman`; both gate against [[spearmanOracleSql]]. */
  private[graft] def spearmanGridOf(
      fact: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val d19 = (c: org.apache.spark.sql.Column) => c.cast("decimal(19,0)")
    // the joint grid feeds three consumers (two marginals + the
    // final weighted agg) — one corpus shuffle, memoized
    val joint = graft.core.DiskMemo.persist(
      fact.groupBy("l_returnflag", "q", "p").agg(count(lit(1)).as("c")),
      "spearman_joint")
    // ONE single-column quantile action sketches the P marginal's
    // bucket bounds off the joint artifact (round 18 — was a 2-column
    // sketch; the q marginal no longer needs bounds at all, below).
    // Bounds only balance work, so joint-mass cuts are as good as
    // marginal-mass cuts.
    val n = graft.core.ParallelRank.defaultBuckets(joint.sparkSession)
    val probs = (1 until n).map(_.toDouble / n).toArray
    val pb =
      if (probs.isEmpty) Array.empty[Double]
      else try
        // 0.05 relative error (was 0.01): bounds only balance work,
        // so the sketch can run with smaller buffers — same exact
        // ranks for any cut set (round-18 optimization)
        joint.select(col("p").cast("double").as("_pd"))
          .stat.approxQuantile("_pd", probs, 0.05)
      catch { // empty corpus: no quantiles, single bucket
        case _: java.util.NoSuchElementException => Array.empty[Double]
      }
    // The q marginal is VALUE-DOMAIN BOUNDED (l_quantity is integral
    // 1..50), so its rank grid never exceeds flags × 50 rows at ANY
    // corpus size — a serial cumsum window over that tiny frame
    // computes the identical doubled average rank (2·cum − c + 1 =
    // 2·#strictly-smaller + #equal + 1, nulls-first ordering both
    // spellings) with none of ParallelRank's bucket machinery, which
    // cost a measured 1.2 s of quantile + window + broadcast-join
    // orchestration for a 150-row frame (round-18 probe). Columns are
    // pre-renamed to the join-side names so the window spec reads
    // (_qg, _qv) — grid-frame names, distinguishing it from the
    // fact-table rank sorts PlanShapeSpec forbids.
    val qMarg = joint.groupBy("l_returnflag", "q").agg(sum("c").as("cq"))
      .select(col("l_returnflag").as("_qg"), col("q").as("_qv"), col("cq"))
    val wq = Window.partitionBy("_qg").orderBy("_qv")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val qr = qMarg
      .withColumn("ax", sum(col("cq")).over(wq) * 2L - col("cq") + 1L)
      .select(col("_qg"), col("_qv"), col("ax"))
    // Round-19 optimization (guide §2.4 "remove shuffles outright"):
    // the old spelling joined the FULL joint grid back to the ranked
    // p marginal — a shuffle join of two ~|distinct (flag,q,p)|-row
    // frames — just to pair ax·bx per cell. But every ax-dependent
    // co-moment is a sum over cells, and sums regroup associatively:
    // Σ_cells c·f(ax)·g(bx) = Σ_p g(bx) · (Σ_q c·f(ax)). So attach ax
    // first (broadcast — the q marginal is value-domain bounded),
    // pre-aggregate the ax partials PER (flag, p) in the SAME
    // aggregation that builds the p marginal, and ride them through
    // ParallelRank.fromCounts (which passes non-machinery columns
    // untouched and exposes the count as `_c`). The final reduce then
    // runs directly on the ranked grid — the joint⋈pr shuffle join and
    // its two exchanges are gone. Exactness: sax/n/sb are int64 sums
    // of non-negative terms (partials fit whenever the total fits —
    // the pre-existing bound), saxd/saxx are exact decimal sums; both
    // forms regroup losslessly, so the result stays bit-identical
    // (same oracle as agg_spearman, hash-gated).
    val jointAx = joint.join(broadcast(qr),
      col("l_returnflag") <=> col("_qg") && col("q") <=> col("_qv"))
    val pGrid = jointAx.groupBy(col("l_returnflag"), col("p"))
      .agg(
        sum(col("c")).as("cp"),
        sum(col("c") * col("ax")).as("sax"),
        sum(d19(col("c")) * d19(col("ax"))).as("saxd"),
        sum(d19(col("c")) * d19(col("ax")) * d19(col("ax"))).as("saxx"))
    val pRank = graft.core.ParallelRank.fromCounts(
      pGrid, Seq("l_returnflag"), "p", "cp", "bx", precomputedBounds = Some(pb))
    pRank
      .groupBy("l_returnflag")
      .agg(
        sum(col("_c")).as("n"),
        sum(col("sax")).as("sa"), sum(col("_c") * col("bx")).as("sb"),
        sum(col("saxx")).as("saa"),
        sum(d19(col("_c")) * d19(col("bx")) * d19(col("bx"))).as("sbb"),
        sum(col("saxd") * d19(col("bx"))).as("sab"))
      .select(col("l_returnflag"), col("n"),
        P.r4((col("n").cast("double") * col("sab").cast("double") -
          col("sa").cast("double") * col("sb").cast("double")) /
          sqrt((col("n").cast("double") * col("saa").cast("double") -
            col("sa").cast("double") * col("sa").cast("double")) *
            (col("n").cast("double") * col("sbb").cast("double") -
              col("sb").cast("double") * col("sb").cast("double"))))
          .as("spearman_rho"))
      .orderBy("l_returnflag")
  }

  /** ONE oracle text for both Spearman spellings (`agg_spearman` /
    * `agg_spearman_grid`): the two queries are bit-identical by
    * construction — identical integer rank/co-moment sums, identical
    * final formula — so they gate against the same SQL. */
  /** agg_gini's oracle — shared verbatim by the window and grid
    * spellings (the scale-twin single-oracle discipline). */
  private val giniOracleSql: String =
    """SELECT o_orderstatus, n,
      |  round((2.0 * six - cast(n + 1 as double) * sx) /
      |        (cast(n as double) * sx), 4) AS gini
      |FROM (
      |  SELECT o_orderstatus, count(*) AS n,
      |    cast(sum(cast(o_totalprice as decimal(18,2))) as double) AS sx,
      |    cast(sum(cast(i * cast(o_totalprice as decimal(18,2)) as decimal(38,2))) as double) AS six
      |  FROM (
      |    SELECT o_orderstatus, o_totalprice,
      |      cast(row_number() OVER (PARTITION BY o_orderstatus ORDER BY o_totalprice) as bigint) AS i
      |    FROM orders)
      |  GROUP BY o_orderstatus)
      |ORDER BY o_orderstatus""".stripMargin

  /** agg_trimmed_mean's oracle — shared verbatim by the window and
    * grid spellings (the scale-twin single-oracle discipline). */
  private val trimmedMeanOracleSql: String =
    """SELECT o_orderstatus, count(*) AS n,
      |  cast(sum(CASE WHEN keep THEN 1 ELSE 0 END) as bigint) AS n_kept,
      |  cast(sum(CASE WHEN keep THEN cast(o_totalprice as decimal(18,2)) END) as double)
      |    / cast(sum(CASE WHEN keep THEN 1 ELSE 0 END) as double) AS tmean
      |FROM (
      |  SELECT o_orderstatus, o_totalprice,
      |    i > ceil(n * 0.1) AND i <= ceil(n * 0.9) AS keep
      |  FROM (
      |    SELECT o_orderstatus, o_totalprice,
      |      cast(row_number() OVER (PARTITION BY o_orderstatus ORDER BY o_totalprice) as bigint) AS i,
      |      count(*) OVER (PARTITION BY o_orderstatus) AS n
      |    FROM orders))
      |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin

  /** agg_lorenz_curve's oracle — shared verbatim by the window and
    * grid spellings. */
  private val lorenzOracleSql: String =
    """SELECT o_orderstatus, dec,
      |  round(cast(sum(s) OVER (PARTITION BY o_orderstatus ORDER BY dec
      |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) as double)
      |        / cast(sum(s) OVER (PARTITION BY o_orderstatus) as double), 4) AS cum_share
      |FROM (
      |  SELECT o_orderstatus, dec, sum(cast(o_totalprice as decimal(18,2))) AS s
      |  FROM (
      |    SELECT o_orderstatus, o_totalprice,
      |      cast(ntile(10) OVER (PARTITION BY o_orderstatus ORDER BY o_totalprice) as bigint) AS dec
      |    FROM orders)
      |  GROUP BY 1, 2)
      |ORDER BY o_orderstatus, dec""".stripMargin

  private val spearmanOracleSql: String =
    """SELECT l_returnflag, n,
      |  round((cast(n as double) * cast(sab as double) - cast(sa as double) * cast(sb as double))
      |        / sqrt((cast(n as double) * cast(saa as double) - cast(sa as double) * cast(sa as double))
      |               * (cast(n as double) * cast(sbb as double) - cast(sb as double) * cast(sb as double))), 4)
      |    AS spearman_rho
      |FROM (
      |  SELECT l_returnflag, count(*) AS n,
      |    cast(sum(ax) as bigint) AS sa, cast(sum(bx) as bigint) AS sb,
      |    sum(cast(ax as decimal(19,0)) * cast(ax as decimal(19,0))) AS saa,
      |    sum(cast(bx as decimal(19,0)) * cast(bx as decimal(19,0))) AS sbb,
      |    sum(cast(ax as decimal(19,0)) * cast(bx as decimal(19,0))) AS sab
      |  FROM (
      |    SELECT l_returnflag,
      |      cast(rank() OVER (PARTITION BY l_returnflag ORDER BY q) as bigint) * 2
      |        + count(*) OVER (PARTITION BY l_returnflag, q) - 1 AS ax,
      |      cast(rank() OVER (PARTITION BY l_returnflag ORDER BY p) as bigint) * 2
      |        + count(*) OVER (PARTITION BY l_returnflag, p) - 1 AS bx
      |    FROM (
      |      SELECT l_returnflag, cast(l_quantity as bigint) AS q,
      |        cast(l_extendedprice as decimal(18,2)) AS p
      |      FROM lineitem))
      |  GROUP BY l_returnflag)
      |ORDER BY l_returnflag""".stripMargin

  val ops: Seq[OpSpec] = baseOps ++ histogramOps

  private lazy val baseOps: Seq[OpSpec] = Seq(
    OpSpec(
      "agg_global",
      (s, d) =>
        T.lineitem(s, d).agg(
          // exact decimal sum internally; emit double — the driver's
          // comparator sees pandas float64 on both engine sides
          dsum(col("l_quantity")).as("sum_qty"),
          min("l_quantity").as("min_qty"),
          max("l_quantity").as("max_qty"),
          count(lit(1)).as("n")),
      Some("""SELECT cast(sum(cast(l_quantity as decimal(18,2))) as double) AS sum_qty,
             |  min(l_quantity) AS min_qty, max(l_quantity) AS max_qty, count(*) AS n
             |FROM lineitem""".stripMargin),
    ),
    // Flagship TPC-H-Q1 shape.
    OpSpec(
      "agg_groupby_multi",
      (s, d) =>
        T.lineitem(s, d)
          .groupBy("l_returnflag", "l_linestatus")
          .agg(
            dsum(col("l_quantity")).as("sum_qty"),
            dsum(col("l_extendedprice")).as("sum_base_price"),
            sum((P.dec2(col("l_extendedprice")) *
              (lit(1) - col("l_discount")).cast("decimal(4,2)")).cast("decimal(38,4)"))
              .cast("double").as("sum_disc_price"),
            P.r4(dsum(col("l_quantity")) / count(lit(1))).as("avg_qty"),
            P.r4(dsum(col("l_extendedprice")) / count(lit(1))).as("avg_price"),
            count(lit(1)).as("count_order"))
          .orderBy("l_returnflag", "l_linestatus"),
      Some("""SELECT l_returnflag, l_linestatus,
             |  cast(sum(cast(l_quantity as decimal(18,2))) as double) AS sum_qty,
             |  cast(sum(cast(l_extendedprice as decimal(18,2))) as double) AS sum_base_price,
             |  cast(sum(cast(cast(l_extendedprice as decimal(18,2)) * cast(1 - l_discount as decimal(4,2)) as decimal(38,4))) as double) AS sum_disc_price,
             |  round(cast(sum(cast(l_quantity as decimal(18,2))) as double) / count(*), 4) AS avg_qty,
             |  round(cast(sum(cast(l_extendedprice as decimal(18,2))) as double) / count(*), 4) AS avg_price,
             |  count(*) AS count_order
             |FROM lineitem GROUP BY l_returnflag, l_linestatus
             |ORDER BY l_returnflag, l_linestatus""".stripMargin),
    ),
    OpSpec(
      "agg_count_distinct",
      (s, d) =>
        T.lineitem(s, d).agg(
          countDistinct(col("l_partkey")).as("n_parts"),
          countDistinct(col("l_suppkey")).as("n_supps"),
          countDistinct(col("l_returnflag"), col("l_linestatus")).as("n_flag_status")),
      Some("""SELECT count(DISTINCT l_partkey) AS n_parts, count(DISTINCT l_suppkey) AS n_supps,
             |  count(DISTINCT (l_returnflag, l_linestatus)) AS n_flag_status
             |FROM lineitem""".stripMargin),
    ),
    OpSpec(
      "agg_value_counts",
      // thin call into graft.api (valueCounts)
      (s, d) =>
        T.events(s, d).valueCounts(Seq("event_type"))
          .orderBy(desc("n"), col("event_type")),
      Some("""SELECT event_type, count(*) AS n FROM events
             |GROUP BY event_type ORDER BY n DESC, event_type""".stripMargin),
    ),
    // value_counts(normalize=True) [P core/base.py] — proportions, not
    // counts: n / Σn via a whole-frame window over the ALREADY
    // AGGREGATED (tiny) output, so the single-partition window touches
    // O(groups) rows, never the corpus. Quotient of exact int64s in
    // double — bit-identical, no rounding.
    OpSpec(
      "agg_value_counts_norm",
      // thin call into graft.api (valueCounts normalize=true)
      (s, d) =>
        T.events(s, d).valueCounts(Seq("event_type"), normalize = true)
          .orderBy(desc("n"), col("event_type")),
      Some("""SELECT event_type, n, cast(n as double) / sum(n) OVER () AS proportion
             |FROM (SELECT event_type, count(*) AS n FROM events GROUP BY event_type)
             |ORDER BY n DESC, event_type""".stripMargin),
    ),
    // Deterministic because the ordering value is unique per group at the
    // extremes (verified via oracle_check; continuous 2-dp doubles).
    OpSpec(
      "agg_min_max_by",
      (s, d) =>
        T.orders(s, d)
          .groupBy("o_orderstatus")
          .agg(
            max_by(col("o_orderkey"), col("o_totalprice")).as("key_of_max"),
            min_by(col("o_orderkey"), col("o_totalprice")).as("key_of_min"),
            max("o_totalprice").as("max_price"),
            min("o_totalprice").as("min_price"))
          .orderBy("o_orderstatus"),
      Some("""SELECT o_orderstatus, arg_max(o_orderkey, o_totalprice) AS key_of_max,
             |  arg_min(o_orderkey, o_totalprice) AS key_of_min,
             |  max(o_totalprice) AS max_price, min(o_totalprice) AS min_price
             |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin),
    ),
    // Subtotal NULL labels folded to 'ALL' so ordering is NULL-free and
    // identical in both engines (data itself has no NULLs).
    OpSpec(
      "agg_rollup",
      (s, d) =>
        T.lineitem(s, d)
          .rollup("l_returnflag", "l_linestatus")
          .agg(
            dsum(col("l_quantity")).as("sum_qty"),
            count(lit(1)).as("n"))
          .select(
            coalesce(col("l_returnflag"), lit("ALL")).as("rf"),
            coalesce(col("l_linestatus"), lit("ALL")).as("ls"),
            col("sum_qty"), col("n"))
          .orderBy("rf", "ls"),
      Some("""SELECT coalesce(l_returnflag, 'ALL') AS rf, coalesce(l_linestatus, 'ALL') AS ls,
             |  cast(sum(cast(l_quantity as decimal(18,2))) as double) AS sum_qty, count(*) AS n
             |FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)
             |ORDER BY rf, ls""".stripMargin),
    ),
    OpSpec(
      "agg_cube",
      (s, d) =>
        T.lineitem(s, d)
          .cube("l_returnflag", "l_linestatus")
          .agg(count(lit(1)).as("n"))
          .select(
            coalesce(col("l_returnflag"), lit("ALL")).as("rf"),
            coalesce(col("l_linestatus"), lit("ALL")).as("ls"),
            col("n"))
          .orderBy("rf", "ls"),
      Some("""SELECT coalesce(l_returnflag, 'ALL') AS rf, coalesce(l_linestatus, 'ALL') AS ls, count(*) AS n
             |FROM lineitem GROUP BY CUBE(l_returnflag, l_linestatus)
             |ORDER BY rf, ls""".stripMargin),
    ),
    OpSpec(
      "agg_grouping_sets",
      (s, d) =>
        T.lineitem(s, d)
          .groupingSets(
            Seq(Seq(col("l_returnflag")), Seq(col("l_linestatus"))),
            col("l_returnflag"), col("l_linestatus"))
          .agg(count(lit(1)).as("n"))
          .select(
            coalesce(col("l_returnflag"), lit("ALL")).as("rf"),
            coalesce(col("l_linestatus"), lit("ALL")).as("ls"),
            col("n"))
          .orderBy("rf", "ls"),
      Some("""SELECT coalesce(l_returnflag, 'ALL') AS rf, coalesce(l_linestatus, 'ALL') AS ls, count(*) AS n
             |FROM lineitem GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus))
             |ORDER BY rf, ls""".stripMargin),
    ),
    // Explicit pivot values → deterministic column set; oracle stays
    // ANSI (CASE-WHEN sums) rather than DuckDB's PIVOT statement.
    OpSpec(
      "agg_pivot",
      (s, d) =>
        T.lineitem(s, d)
          .groupBy("l_returnflag")
          .pivot("l_linestatus", Seq("F", "O"))
          .agg(sum(P.dec2(col("l_quantity"))).cast("double"))
          .orderBy("l_returnflag"),
      Some("""SELECT l_returnflag,
             |  cast(sum(CASE WHEN l_linestatus = 'F' THEN cast(l_quantity as decimal(18,2)) END) as double) AS F,
             |  cast(sum(CASE WHEN l_linestatus = 'O' THEN cast(l_quantity as decimal(18,2)) END) as double) AS O
             |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin),
    ),
    // Both engines linear-interpolate exact percentiles; r4 absorbs the
    // last-ulp association difference.
    OpSpec(
      "agg_quantile",
      (s, d) =>
        T.lineitem(s, d)
          .groupBy("l_returnflag")
          .agg(
            P.r4(expr("percentile(l_quantity, 0.5)")).as("p50"),
            P.r4(expr("percentile(l_quantity, 0.9)")).as("p90"))
          .orderBy("l_returnflag"),
      Some("""SELECT l_returnflag, round(quantile_cont(l_quantity, 0.5), 4) AS p50,
             |  round(quantile_cont(l_quantity, 0.9), 4) AS p90
             |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin),
    ),
    // stddev/variance from exact sums: sqrt((Σx² − (Σx)²/n)/(n−1)) with
    // identical IEEE expression text in both engines.
    OpSpec(
      "agg_stddev_var",
      (s, d) =>
        T.orders(s, d)
          .groupBy("o_orderstatus")
          .agg(
            count(lit(1)).as("n"),
            dsum(col("o_totalprice")).as("s"),
            dsumsq(col("o_totalprice")).as("q"))
          .select(
            col("o_orderstatus"),
            P.r4((col("q") - col("s") * col("s") / col("n")) / (col("n") - 1)).as("var_samp"),
            P.r4(sqrt((col("q") - col("s") * col("s") / col("n")) / (col("n") - 1))).as("stddev_samp"))
          .orderBy("o_orderstatus"),
      Some("""SELECT o_orderstatus,
             |  round((q - s * s / n) / (n - 1), 4) AS var_samp,
             |  round(sqrt((q - s * s / n) / (n - 1)), 4) AS stddev_samp
             |FROM (
             |  SELECT o_orderstatus, count(*) AS n,
             |    cast(sum(cast(o_totalprice as decimal(18,2))) as double) AS s,
             |    cast(sum(cast(cast(o_totalprice as decimal(18,2)) * cast(o_totalprice as decimal(18,2)) as decimal(38,4))) as double) AS q
             |  FROM orders GROUP BY o_orderstatus)
             |ORDER BY o_orderstatus""".stripMargin),
    ),
    // pandas describe(): count/mean/std/min/quartiles/max in ONE pass —
    // the most-used pandas method, composed entirely from the proven
    // determinism devices (exact decimal sums for mean/std, exact
    // percentile ≡ quantile_cont, exact min/max).
    OpSpec(
      "agg_describe",
      // thin call into graft.api — the GRID device since round 18:
      // bit-identical to describeCol (ParallelRankSpec pins it; same
      // oracle) but the exact percentiles come from doubled-rank
      // order statistics instead of the serial per-partition
      // value→count buffer — measured 10.69 s → 2.21 s at sf10
      // (DescribeKnobStress, steal 552; approx_percentile measured
      // 0.06 s as the documented looser-still knob)
      (s, d) => T.orders(s, d).describeColGrid("o_totalprice"),
      Some("""SELECT cnt, s / cnt AS mean_v,
             |  round(sqrt((q - s * s / cnt) / (cnt - 1)), 4) AS std_v,
             |  min_v, p25, p50, p75, max_v
             |FROM (
             |  SELECT count(*) AS cnt,
             |    cast(sum(cast(o_totalprice as decimal(18,2))) as double) AS s,
             |    cast(sum(cast(cast(o_totalprice as decimal(18,2)) * cast(o_totalprice as decimal(18,2)) as decimal(38,4))) as double) AS q,
             |    min(o_totalprice) AS min_v,
             |    round(quantile_cont(o_totalprice, 0.25), 4) AS p25,
             |    round(quantile_cont(o_totalprice, 0.5), 4) AS p50,
             |    round(quantile_cont(o_totalprice, 0.75), 4) AS p75,
             |    max(o_totalprice) AS max_v
             |  FROM orders)""".stripMargin),
    ),
    // Weighted average from exact decimal sums: Σ(w·x)/Σw — the
    // identical-IEEE-quotient device (no rounding needed).
    OpSpec(
      "agg_weighted_avg",
      (s, d) =>
        T.lineitem(s, d)
          .groupBy("l_returnflag")
          .agg(
            sum((P.dec2(col("l_quantity")) * P.dec2(col("l_extendedprice")))
              .cast("decimal(38,4)")).cast("double").as("swx"),
            dsum(col("l_quantity")).as("sw"))
          .select(col("l_returnflag"), (col("swx") / col("sw")).as("wavg_price"))
          .orderBy("l_returnflag"),
      Some("""SELECT l_returnflag, swx / sw AS wavg_price
             |FROM (
             |  SELECT l_returnflag,
             |    cast(sum(cast(cast(l_quantity as decimal(18,2)) * cast(l_extendedprice as decimal(18,2)) as decimal(38,4))) as double) AS swx,
             |    cast(sum(cast(l_quantity as decimal(18,2))) as double) AS sw
             |  FROM lineitem GROUP BY l_returnflag)
             |ORDER BY l_returnflag""".stripMargin),
    ),
    // Two-phase SALTED aggregation (core/Skew.saltedAgg) against the
    // PLAIN group-by oracle: the hash gate itself proves the hot-key
    // mitigation is semantically invisible — exact decimal partials
    // make the two-phase sum bit-equal to the one-phase sum no matter
    // how the salt spreads rows.
    OpSpec(
      "agg_groupby_salted",
      (s, d) =>
        graft.core.Skew.saltedAgg(
          T.events(s, d), key = "user_id", valueCol = "value",
          tieCol = "event_id", salts = 16)
          .orderBy("user_id"),
      Some("""SELECT user_id,
             |  cast(sum(cast(value as decimal(18,2))) as double) AS sum_value,
             |  count(*) AS n
             |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin),
    ),
    // Population skewness / excess kurtosis from exact integer moment
    // sums (l_quantity is integral 1..50, so Σx..Σx⁴ are exact bigints
    // in both engines); the double-arithmetic formula TEXT is shared
    // verbatim between the Spark expr() and the oracle SQL, so both
    // evaluate the identical IEEE expression tree — no engine skew/kurt
    // builtin, whose bias corrections differ. m2^1.5 is spelled
    // m2*sqrt(m2) (sqrt is correctly-rounded everywhere; pow is not).
    {
      val mean = "(s1 / n)"
      val m2 = s"(s2 / n - $mean * $mean)"
      val m3 = s"(s3 / n - 3 * $mean * s2 / n + 2 * $mean * $mean * $mean)"
      val m4 = s"(s4 / n - 4 * $mean * s3 / n + 6 * $mean * $mean * s2 / n - 3 * $mean * $mean * $mean * $mean)"
      val skew = s"round($m3 / ($m2 * sqrt($m2)), 4)"
      val kurt = s"round($m4 / ($m2 * $m2) - 3, 4)"
      OpSpec(
        "agg_skew_kurt",
        (s, d) => {
          val xi = col("l_quantity").cast("bigint")
          T.lineitem(s, d)
            .groupBy("l_returnflag")
            .agg(
              count(lit(1)).cast("double").as("n"),
              sum(xi).cast("double").as("s1"),
              sum(xi * xi).cast("double").as("s2"),
              sum(xi * xi * xi).cast("double").as("s3"),
              sum(xi * xi * xi * xi).cast("double").as("s4"))
            .selectExpr("l_returnflag",
              s"$skew AS skew_qty", s"$kurt AS kurt_qty")
            .orderBy("l_returnflag")
        },
        Some(s"""SELECT l_returnflag, $skew AS skew_qty, $kurt AS kurt_qty
                |FROM (
                |  SELECT l_returnflag,
                |    cast(count(*) as double) AS n,
                |    cast(sum(x) as double) AS s1,
                |    cast(sum(x * x) as double) AS s2,
                |    cast(sum(x * x * x) as double) AS s3,
                |    cast(sum(x * x * x * x) as double) AS s4
                |  FROM (SELECT l_returnflag, cast(l_quantity as bigint) AS x FROM lineitem)
                |  GROUP BY l_returnflag)
                |ORDER BY l_returnflag""".stripMargin),
      )
    },
    // Pearson r from exact sums — same determinism device.
    OpSpec(
      "agg_corr",
      (s, d) =>
        T.lineitem(s, d)
          .agg(
            count(lit(1)).cast("double").as("n"),
            dsum(col("l_quantity")).as("sx"),
            dsum(col("l_extendedprice")).as("sy"),
            dsumsq(col("l_quantity")).as("sxx"),
            dsumsq(col("l_extendedprice")).as("syy"),
            sum((P.dec2(col("l_quantity")) * P.dec2(col("l_extendedprice"))).cast("decimal(38,4)"))
              .cast("double").as("sxy"))
          .select(
            P.r4((col("n") * col("sxy") - col("sx") * col("sy")) /
              (sqrt(col("n") * col("sxx") - col("sx") * col("sx")) *
                sqrt(col("n") * col("syy") - col("sy") * col("sy")))).as("corr_qty_price")),
      Some("""SELECT round((n * sxy - sx * sy) / (sqrt(n * sxx - sx * sx) * sqrt(n * syy - sy * sy)), 4) AS corr_qty_price
             |FROM (
             |  SELECT cast(count(*) as double) AS n,
             |    cast(sum(cast(l_quantity as decimal(18,2))) as double) AS sx,
             |    cast(sum(cast(l_extendedprice as decimal(18,2))) as double) AS sy,
             |    cast(sum(cast(cast(l_quantity as decimal(18,2)) * cast(l_quantity as decimal(18,2)) as decimal(38,4))) as double) AS sxx,
             |    cast(sum(cast(cast(l_extendedprice as decimal(18,2)) * cast(l_extendedprice as decimal(18,2)) as decimal(38,4))) as double) AS syy,
             |    cast(sum(cast(cast(l_quantity as decimal(18,2)) * cast(l_extendedprice as decimal(18,2)) as decimal(38,4))) as double) AS sxy
             |  FROM lineitem)""".stripMargin),
    ),
    // groupby().corr() [P core/groupby] — Pearson r PER GROUP from the
    // same exact-decimal closed form as agg_corr: one hash agg (six
    // partial sums per group, map-side combine), one projection. The
    // per-group form is what a cohort analysis actually runs; at 100 TB
    // it is one shuffle of six numbers per group.
    OpSpec(
      "agg_corr_grouped",
      (s, d) =>
        T.lineitem(s, d)
          .groupBy("l_returnflag")
          .agg(
            count(lit(1)).cast("double").as("n"),
            dsum(col("l_quantity")).as("sx"),
            dsum(col("l_extendedprice")).as("sy"),
            dsumsq(col("l_quantity")).as("sxx"),
            dsumsq(col("l_extendedprice")).as("syy"),
            sum((P.dec2(col("l_quantity")) * P.dec2(col("l_extendedprice"))).cast("decimal(38,4)"))
              .cast("double").as("sxy"))
          .select(col("l_returnflag"),
            P.r4((col("n") * col("sxy") - col("sx") * col("sy")) /
              (sqrt(col("n") * col("sxx") - col("sx") * col("sx")) *
                sqrt(col("n") * col("syy") - col("sy") * col("sy")))).as("corr_qty_price"))
          .orderBy("l_returnflag"),
      Some("""SELECT l_returnflag,
             |  round((n * sxy - sx * sy) / (sqrt(n * sxx - sx * sx) * sqrt(n * syy - sy * sy)), 4) AS corr_qty_price
             |FROM (
             |  SELECT l_returnflag, cast(count(*) as double) AS n,
             |    cast(sum(cast(l_quantity as decimal(18,2))) as double) AS sx,
             |    cast(sum(cast(l_extendedprice as decimal(18,2))) as double) AS sy,
             |    cast(sum(cast(cast(l_quantity as decimal(18,2)) * cast(l_quantity as decimal(18,2)) as decimal(38,4))) as double) AS sxx,
             |    cast(sum(cast(cast(l_extendedprice as decimal(18,2)) * cast(l_extendedprice as decimal(18,2)) as decimal(38,4))) as double) AS syy,
             |    cast(sum(cast(cast(l_quantity as decimal(18,2)) * cast(l_extendedprice as decimal(18,2)) as decimal(38,4))) as double) AS sxy
             |  FROM lineitem GROUP BY l_returnflag)
             |ORDER BY l_returnflag""".stripMargin),
    ),
    // histogram: fixed-width value buckets (pandas value_counts(bins=) /
    // cut). Portable floor arithmetic — DuckDB 1.0 lacks width_bucket.
    OpSpec(
      "agg_histogram",
      (s, d) =>
        T.events(s, d)
          .groupBy(floor(col("value") / 20).cast("bigint").as("bucket"))
          .agg(count(lit(1)).as("n"))
          .orderBy("bucket"),
      Some("""SELECT cast(floor(value / 20) as bigint) AS bucket, count(*) AS n
             |FROM events GROUP BY 1 ORDER BY bucket""".stripMargin),
    ),
    // mode(): most frequent value, deterministic tie-break on the value
    // itself (pandas Series.mode returns the smallest on ties).
    OpSpec(
      "agg_mode",
      (s, d) => {
        val counted = T.lineitem(s, d)
          .groupBy("l_returnflag", "l_quantity")
          .agg(count(lit(1)).as("c"))
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("l_returnflag").orderBy(desc("c"), col("l_quantity"))
        counted
          .withColumn("rn", row_number().over(w))
          .filter(col("rn") === 1)
          .select(col("l_returnflag"), col("l_quantity").as("mode_qty"), col("c").as("n"))
          .orderBy("l_returnflag")
      },
      Some("""SELECT l_returnflag, l_quantity AS mode_qty, c AS n FROM (
             |  SELECT l_returnflag, l_quantity, count(*) AS c,
             |    row_number() OVER (PARTITION BY l_returnflag ORDER BY count(*) DESC, l_quantity) AS rn
             |  FROM lineitem GROUP BY l_returnflag, l_quantity)
             |WHERE rn = 1 ORDER BY l_returnflag""".stripMargin),
    ),
    // covariance from exact sums — same determinism device as corr.
    OpSpec(
      "agg_covar",
      (s, d) =>
        T.lineitem(s, d)
          .groupBy("l_returnflag")
          .agg(
            count(lit(1)).cast("double").as("n"),
            dsum(col("l_quantity")).as("sx"),
            dsum(col("l_extendedprice")).as("sy"),
            sum((P.dec2(col("l_quantity")) * P.dec2(col("l_extendedprice"))).cast("decimal(38,4)"))
              .cast("double").as("sxy"))
          .select(col("l_returnflag"),
            P.r4((col("sxy") - col("sx") * col("sy") / col("n")) / (col("n") - 1)).as("covar_samp"),
            P.r4((col("sxy") - col("sx") * col("sy") / col("n")) / col("n")).as("covar_pop"))
          .orderBy("l_returnflag"),
      Some("""SELECT l_returnflag,
             |  round((sxy - sx * sy / n) / (n - 1), 4) AS covar_samp,
             |  round((sxy - sx * sy / n) / n, 4) AS covar_pop
             |FROM (
             |  SELECT l_returnflag, cast(count(*) as double) AS n,
             |    cast(sum(cast(l_quantity as decimal(18,2))) as double) AS sx,
             |    cast(sum(cast(l_extendedprice as decimal(18,2))) as double) AS sy,
             |    cast(sum(cast(cast(l_quantity as decimal(18,2)) * cast(l_extendedprice as decimal(18,2)) as decimal(38,4))) as double) AS sxy
             |  FROM lineitem GROUP BY l_returnflag)
             |ORDER BY l_returnflag""".stripMargin),
    ),
    // HLL sketch — DuckDB's differs; declared without oracle (driver
    // records rows-only). Unit test asserts within 5% of exact.
    OpSpec(
      "agg_approx_distinct",
      (s, d) =>
        T.lineitem(s, d).agg(approx_count_distinct(col("l_partkey")).as("approx_parts")),
      None,
    ),
    // pandas .all()/.any() per group — boolean aggregates. Partial-agg
    // friendly (AND/OR are associative+commutative): shuffle one bool
    // per (partition, group).
    OpSpec(
      "agg_any_all",
      (s, d) =>
        T.lineitem(s, d)
          .groupBy("l_returnflag")
          .agg(
            expr("bool_and(l_quantity > 5)").as("all_gt5"),
            expr("bool_or(l_discount > 0.09)").as("any_disc9"),
            expr("bool_and(l_tax <= 0.08)").as("all_tax_le8"))
          .orderBy("l_returnflag"),
      Some("""SELECT l_returnflag,
             |  bool_and(l_quantity > 5) AS all_gt5,
             |  bool_or(l_discount > 0.09) AS any_disc9,
             |  bool_and(l_tax <= 0.08) AS all_tax_le8
             |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin),
    ),
    // Bitwise AND/OR/XOR aggregates (np.bitwise_*.reduce analogues) —
    // associative, so map-side partials apply; one int64 per group.
    OpSpec(
      "agg_bitwise",
      (s, d) =>
        T.lineitem(s, d)
          .groupBy("l_returnflag")
          .agg(
            expr("bit_and(l_partkey)").as("band"),
            expr("bit_or(l_partkey)").as("bor"),
            expr("bit_xor(l_partkey)").as("bxor"))
          .orderBy("l_returnflag"),
      Some("""SELECT l_returnflag,
             |  bit_and(l_partkey) AS band, bit_or(l_partkey) AS bor,
             |  bit_xor(l_partkey) AS bxor
             |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin),
    ),
    // groupby().prod() [P core/groupby] — neither engine has an exact
    // float product agg with deterministic order, so use the ordered-
    // fold device (§2.0, same as text_lang_entropy): exp of an ordered
    // sum of logs. Spark's sorted collect_list fold is bit-identical to
    // DuckDB's list_sum(list(... ORDER BY ...)); one final 4-dp round
    // absorbs the transcendental exp/ln. Factors 1−l_discount ∈
    // [0.9, 1] keep magnitudes tame. The collect is per (group, order
    // key)-bounded — fine here; the 100 TB path is the (sign, Σlog)
    // associative-partial variant declared below as agg_product_assoc.
    OpSpec(
      "agg_product",
      (s, d) =>
        T.lineitem(s, d)
          .filter(col("l_orderkey") < 100)
          .groupBy("l_orderkey")
          .agg(expr(
            """round(exp(aggregate(
              |  transform(array_sort(collect_list(named_struct('k', l_linenumber, 'v', ln(1.0 - l_discount)))),
              |            p -> p.v),
              |  0D, (acc, x) -> acc + x)), 4)""".stripMargin).as("disc_prod"))
          .orderBy("l_orderkey"),
      Some("""SELECT l_orderkey,
             |  round(exp(list_sum(list(ln(1.0 - l_discount) ORDER BY l_linenumber))), 4) AS disc_prod
             |FROM lineitem WHERE l_orderkey < 100
             |GROUP BY l_orderkey ORDER BY l_orderkey""".stripMargin),
    ),
    // The ASSOCIATIVE form of groupby().prod() — the recommended
    // 100 TB path the agg_product scaladoc points at: carry (zero
    // count, negative count, Σ ln|x|) as plain associative partials
    // (map-side combine applies, no per-group collect buffer), finish
    // with sign·exp(Σ). Declared against the SAME oracle formula as
    // agg_product up to the final 4-dp round (Σ of ≤7 ln-terms per
    // group: the unordered-sum residue is ~1 ulp, absorbed by r4 —
    // DeterminismSpec double-runs it). Factors 1−l_discount ∈ [0.9, 1]
    // are strictly positive here, but the zero/negative guards make the
    // device total.
    OpSpec(
      "agg_product_assoc",
      (s, d) =>
        T.lineitem(s, d)
          .filter(col("l_orderkey") < 100)
          .groupBy("l_orderkey")
          .agg(
            sum(when(col("l_discount") === 1.0, 1L).otherwise(0L)).as("zeros"),
            sum(when(col("l_discount") > 1.0, 1L).otherwise(0L)).as("negs"),
            sum(log(abs(lit(1.0) - col("l_discount")))).as("slog"))
          .select(col("l_orderkey"),
            when(col("zeros") > 0, lit(0.0))
              .otherwise(round(
                when(col("negs") % 2 === 1, lit(-1.0)).otherwise(lit(1.0)) *
                  exp(col("slog")), 4))
              .as("disc_prod"))
          .orderBy("l_orderkey"),
      Some("""SELECT l_orderkey,
             |  CASE WHEN sum(CASE WHEN l_discount = 1.0 THEN 1 ELSE 0 END) > 0 THEN 0.0
             |       ELSE round(
             |         (CASE WHEN sum(CASE WHEN l_discount > 1.0 THEN 1 ELSE 0 END) % 2 = 1
             |               THEN -1.0 ELSE 1.0 END) *
             |         exp(sum(ln(abs(1.0 - l_discount)))), 4)
             |  END AS disc_prod
             |FROM lineitem WHERE l_orderkey < 100
             |GROUP BY l_orderkey ORDER BY l_orderkey""".stripMargin),
    ),
    // pivot_table(margins=True) [P core/reshape/pivot.py] — the All
    // row: ROLLUP on the group key over the same conditional-sum wide
    // form as agg_crosstab. One hash agg computes every grouping set
    // (partials fan out map-side); label coalesced to 'All'.
    OpSpec(
      "agg_pivot_margins",
      (s, d) =>
        T.lineitem(s, d)
          .rollup("l_returnflag")
          .agg(
            sum(when(col("l_linestatus") === "F", 1L).otherwise(0L)).as("n_f"),
            sum(when(col("l_linestatus") === "O", 1L).otherwise(0L)).as("n_o"),
            count(lit(1)).as("n_all"))
          .select(coalesce(col("l_returnflag"), lit("All")).as("l_returnflag"),
            col("n_f"), col("n_o"), col("n_all"))
          .orderBy("l_returnflag"),
      Some("""SELECT coalesce(l_returnflag, 'All') AS l_returnflag,
             |  cast(sum(CASE WHEN l_linestatus = 'F' THEN 1 ELSE 0 END) as bigint) AS n_f,
             |  cast(sum(CASE WHEN l_linestatus = 'O' THEN 1 ELSE 0 END) as bigint) AS n_o,
             |  count(*) AS n_all
             |FROM lineitem GROUP BY ROLLUP (l_returnflag)
             |ORDER BY l_returnflag""".stripMargin),
    ),
    // df.corr() — the pairwise correlation MATRIX (not just one pair):
    // all three off-diagonal Pearson cells from one pass of exact
    // decimal sums, shared closed-form text. One hash agg, one row.
    OpSpec(
      "agg_corr_matrix",
      (s, d) => {
        val q = P.dec2(col("l_quantity"))
        val e = P.dec2(col("l_extendedprice"))
        val x = P.dec2(col("l_discount"))
        def cross(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =
          sum((a * b).cast("decimal(38,4)")).cast("double")
        T.lineitem(s, d)
          .agg(
            count(lit(1)).cast("double").as("n"),
            sum(q).cast("double").as("sq"), sum(e).cast("double").as("se"),
            sum(x).cast("double").as("sx"),
            cross(q, q).as("sqq"), cross(e, e).as("see"), cross(x, x).as("sxx"),
            cross(q, e).as("sqe"), cross(q, x).as("sqx"), cross(e, x).as("sex"))
          .select(
            P.r4((col("n") * col("sqe") - col("sq") * col("se")) /
              (sqrt(col("n") * col("sqq") - col("sq") * col("sq")) *
                sqrt(col("n") * col("see") - col("se") * col("se")))).as("corr_qty_price"),
            P.r4((col("n") * col("sqx") - col("sq") * col("sx")) /
              (sqrt(col("n") * col("sqq") - col("sq") * col("sq")) *
                sqrt(col("n") * col("sxx") - col("sx") * col("sx")))).as("corr_qty_disc"),
            P.r4((col("n") * col("sex") - col("se") * col("sx")) /
              (sqrt(col("n") * col("see") - col("se") * col("se")) *
                sqrt(col("n") * col("sxx") - col("sx") * col("sx")))).as("corr_price_disc"))
      },
      Some("""SELECT
             |  round((n * sqe - sq * se) / (sqrt(n * sqq - sq * sq) * sqrt(n * see - se * se)), 4) AS corr_qty_price,
             |  round((n * sqx - sq * sx) / (sqrt(n * sqq - sq * sq) * sqrt(n * sxx - sx * sx)), 4) AS corr_qty_disc,
             |  round((n * sex - se * sx) / (sqrt(n * see - se * se) * sqrt(n * sxx - sx * sx)), 4) AS corr_price_disc
             |FROM (
             |  SELECT cast(count(*) as double) AS n,
             |    cast(sum(cast(l_quantity as decimal(18,2))) as double) AS sq,
             |    cast(sum(cast(l_extendedprice as decimal(18,2))) as double) AS se,
             |    cast(sum(cast(l_discount as decimal(18,2))) as double) AS sx,
             |    cast(sum(cast(cast(l_quantity as decimal(18,2)) * cast(l_quantity as decimal(18,2)) as decimal(38,4))) as double) AS sqq,
             |    cast(sum(cast(cast(l_extendedprice as decimal(18,2)) * cast(l_extendedprice as decimal(18,2)) as decimal(38,4))) as double) AS see,
             |    cast(sum(cast(cast(l_discount as decimal(18,2)) * cast(l_discount as decimal(18,2)) as decimal(38,4))) as double) AS sxx,
             |    cast(sum(cast(cast(l_quantity as decimal(18,2)) * cast(l_extendedprice as decimal(18,2)) as decimal(38,4))) as double) AS sqe,
             |    cast(sum(cast(cast(l_quantity as decimal(18,2)) * cast(l_discount as decimal(18,2)) as decimal(38,4))) as double) AS sqx,
             |    cast(sum(cast(cast(l_extendedprice as decimal(18,2)) * cast(l_discount as decimal(18,2)) as decimal(38,4))) as double) AS sex
             |  FROM lineitem)""".stripMargin),
    ),
    // pd.crosstab(returnflag, linestatus) — contingency counts as wide
    // conditional sums (shared formula text, no engine PIVOT dialect):
    // one hash agg, one row per left key.
    OpSpec(
      "agg_crosstab",
      (s, d) =>
        T.lineitem(s, d)
          .groupBy("l_returnflag")
          .agg(
            sum(when(col("l_linestatus") === "F", 1L).otherwise(0L)).as("n_f"),
            sum(when(col("l_linestatus") === "O", 1L).otherwise(0L)).as("n_o"))
          .orderBy("l_returnflag"),
      Some("""SELECT l_returnflag,
             |  cast(sum(CASE WHEN l_linestatus = 'F' THEN 1 ELSE 0 END) as bigint) AS n_f,
             |  cast(sum(CASE WHEN l_linestatus = 'O' THEN 1 ELSE 0 END) as bigint) AS n_o
             |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin),
    ),
    // pandas groupby().mad() — mean absolute deviation about the group
    // mean. Inherently two-pass (each row needs its group's mean), but
    // pass 1 is a 3-row aggregate, so the plan is tiny-agg → BROADCAST
    // join-back → one final hash agg — NOT a fat window over the fact
    // table (at 100 TB a partitionBy(flag) window sorts the whole
    // table into 3 reducers; the broadcast shape keeps the second pass
    // map-side). Exactness device: l_quantity is integral, so the
    // per-row term |x·n − S| is exact bigint arithmetic (safe to
    // n ≈ 2·10¹⁷ rows per group at x ≤ 50); the SUM of those terms
    // grows as n²·x̄ and would overflow int64 past ~4·10⁸ rows per
    // group, so it accumulates as decimal(38,0) — exact to 10³⁸ —
    // in BOTH engines. MAD = Σ|x·n − S| / n² has ONE double division
    // at the end — identical IEEE in both engines.
    OpSpec(
      "agg_mad",
      (s, d) => {
        val li = T.lineitem(s, d)
          .select(col("l_returnflag"), col("l_quantity").cast("bigint").as("x"))
        val stats = li.groupBy("l_returnflag")
          .agg(sum(col("x")).as("s1"), count(lit(1)).as("n"))
        li.join(broadcast(stats), Seq("l_returnflag"))
          .groupBy("l_returnflag")
          .agg(
            (sum(abs(col("x") * col("n") - col("s1")).cast("decimal(38,0)")).cast("double") /
              max(col("n") * col("n")).cast("double")).as("mad_qty"),
            max(col("n")).as("n"))
          .orderBy("l_returnflag")
      },
      Some("""SELECT l_returnflag,
             |  cast(sum(cast(abs(x * n - s1) as decimal(38,0))) as double) / cast(n * n as double) AS mad_qty,
             |  n
             |FROM (
             |  SELECT l_returnflag, x,
             |    sum(x) OVER (PARTITION BY l_returnflag) AS s1,
             |    count(*) OVER (PARTITION BY l_returnflag) AS n
             |  FROM (SELECT l_returnflag, cast(l_quantity as bigint) AS x FROM lineitem))
             |GROUP BY l_returnflag, n ORDER BY l_returnflag""".stripMargin),
    ),
    // pandas groupby().sem() — standard error of the mean =
    // stddev_samp / √n, from the same exact-moment sums as
    // agg_stddev_var; formula TEXT shared verbatim across engines
    // (sqrt is correctly rounded everywhere), 4-dp output per §2.0.
    OpSpec(
      "agg_sem",
      (s, d) =>
        T.orders(s, d)
          .groupBy("o_orderstatus")
          .agg(
            count(lit(1)).as("n"),
            dsum(col("o_totalprice")).as("s"),
            dsumsq(col("o_totalprice")).as("q"))
          .select(
            col("o_orderstatus"), col("n"),
            P.r4(sqrt((col("q") - col("s") * col("s") / col("n")) / (col("n") - 1)) /
              sqrt(col("n"))).as("sem_price"))
          .orderBy("o_orderstatus"),
      Some("""SELECT o_orderstatus, n,
             |  round(sqrt((q - s * s / n) / (n - 1)) / sqrt(n), 4) AS sem_price
             |FROM (
             |  SELECT o_orderstatus, count(*) AS n,
             |    cast(sum(cast(o_totalprice as decimal(18,2))) as double) AS s,
             |    cast(sum(cast(cast(o_totalprice as decimal(18,2)) * cast(o_totalprice as decimal(18,2)) as decimal(38,4))) as double) AS q
             |  FROM orders GROUP BY o_orderstatus)
             |ORDER BY o_orderstatus""".stripMargin),
    ),
    // pivot_table(values=[qty, price]) — MULTI-VALUE pivot: Spark's
    // pivot().agg(a, b) names columns {pivotVal}_{aggAlias}; the
    // oracle spells the same wide conditional sums with matching
    // aliases. Still one hash agg (partial+final), one row per left
    // key — the pivot adds columns, not shuffles.
    OpSpec(
      "agg_pivot_values2",
      (s, d) =>
        T.lineitem(s, d)
          .groupBy("l_returnflag")
          .pivot("l_linestatus", Seq("F", "O"))
          .agg(
            sum(P.dec2(col("l_quantity"))).cast("double").as("qty"),
            sum(P.dec2(col("l_extendedprice"))).cast("double").as("price"))
          .orderBy("l_returnflag"),
      Some("""SELECT l_returnflag,
             |  cast(sum(CASE WHEN l_linestatus = 'F' THEN cast(l_quantity as decimal(18,2)) END) as double) AS F_qty,
             |  cast(sum(CASE WHEN l_linestatus = 'F' THEN cast(l_extendedprice as decimal(18,2)) END) as double) AS F_price,
             |  cast(sum(CASE WHEN l_linestatus = 'O' THEN cast(l_quantity as decimal(18,2)) END) as double) AS O_qty,
             |  cast(sum(CASE WHEN l_linestatus = 'O' THEN cast(l_extendedprice as decimal(18,2)) END) as double) AS O_price
             |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin),
    ),
    // df.nunique() — exact distinct count PER COLUMN in one statement.
    // Spark plans multiple count(DISTINCT) via Expand (3 rows emitted
    // per input row, one per distinct-aggregate), so the map-side cost
    // is columns×rows: fine for a profiling query, and the honest
    // 100 TB guidance is approx_count_distinct per column (declared as
    // agg_approx_distinct) or one pass per column when exactness is
    // required.
    OpSpec(
      "agg_nunique_all",
      (s, d) =>
        T.customer(s, d)
          .agg(
            countDistinct(col("c_custkey")).as("nu_custkey"),
            countDistinct(col("c_nationkey")).as("nu_nationkey"),
            countDistinct(col("c_mktsegment")).as("nu_mktsegment")),
      Some("""SELECT count(DISTINCT c_custkey) AS nu_custkey,
             |  count(DISTINCT c_nationkey) AS nu_nationkey,
             |  count(DISTINCT c_mktsegment) AS nu_mktsegment
             |FROM customer""".stripMargin),
    ),
    // Join-key skew profile — the pre-join diagnostic that DECIDES the
    // salt count in graft.core.Skew.saltedAgg/saltedJoin (and whether
    // AQE skew handling will trigger): per-key frequencies reduced to
    // key count, row count, hottest-key frequency, and the max/avg
    // skew ratio. Two hash aggs, one row out; exact ints with two
    // final double divisions (identical IEEE).
    OpSpec(
      "agg_key_skew",
      (s, d) =>
        T.orders(s, d)
          .groupBy(col("o_custkey")).agg(count(lit(1)).as("c"))
          .agg(
            count(lit(1)).as("n_keys"),
            sum(col("c")).as("n_rows"),
            max(col("c")).as("max_freq"))
          .select(col("n_keys"), col("n_rows"), col("max_freq"),
            (col("n_rows").cast("double") / col("n_keys")).as("avg_freq"),
            (col("max_freq") * col("n_keys")).cast("double")
              .divide(col("n_rows")).as("skew_ratio")),
      Some("""SELECT n_keys, n_rows, max_freq,
             |  cast(n_rows as double) / n_keys AS avg_freq,
             |  cast(max_freq * n_keys as double) / n_rows AS skew_ratio
             |FROM (
             |  SELECT count(*) AS n_keys, cast(sum(c) as bigint) AS n_rows,
             |    max(c) AS max_freq
             |  FROM (SELECT o_custkey, count(*) AS c FROM orders GROUP BY 1))""".stripMargin),
    ),
    // Gini coefficient of order value per status — the inequality
    // measure (econ/monitoring staple): G = (2·Σi·xᵢ − (n+1)·Σx) /
    // (n·Σx) over ascending-sorted x with 1-based rank i. Ties in x
    // make Σi·xᵢ invariant under within-tie permutation (equal x times
    // a fixed rank-index sum), so row_number needs no tiebreak column
    // to be deterministic. Rank is exact bigint, x is exact 2-dp
    // decimal, i·x accumulates as decimal(38,2) — every sum exact,
    // ONE double division at the end, r4 per §2.0. Plan: one window
    // (rank) + one hash agg over the same o_orderstatus shuffle.
    OpSpec(
      "agg_gini",
      (s, d) =>
        T.orders(s, d)
          .withColumn("i",
            row_number().over(Window.partitionBy("o_orderstatus")
              .orderBy("o_totalprice")).cast("bigint"))
          .groupBy("o_orderstatus")
          .agg(
            count(lit(1)).as("n"),
            sum(P.dec2(col("o_totalprice"))).cast("double").as("sx"),
            sum((col("i") * P.dec2(col("o_totalprice"))).cast("decimal(38,2)"))
              .cast("double").as("six"))
          .select(col("o_orderstatus"), col("n"),
            P.r4((lit(2.0) * col("six") - (col("n") + 1).cast("double") * col("sx")) /
              (col("n").cast("double") * col("sx"))).as("gini"))
          .orderBy("o_orderstatus"),
      Some(giniOracleSql),
    ),
    // The GROUP-COUNT-INDEPENDENT Gini (round-18 census ∩ sweep: the
    // rank window above sorts orders in 3 status partitions, measured
    // 2.44× at 3.33× data — the last census-LOW key above the 2×
    // twin threshold). Σ i·x over a value's rank interval (lo, lo+c]
    // is x·(c·lo + c·(c+1)/2) — pure int64 on the doubled-rank grid
    // (c·(c+1) is even, the div exact), and the decimal accumulation
    // Σ dec2(v)·ranksum is the identical exact decimal the row-wise
    // Σ cast(i·dec2) produces. One oracle text for both spellings.
    OpSpec(
      "agg_gini_grid",
      (s, d) => {
        val grid = graft.core.ParallelRank.doubledAvgRankGrid(
          T.orders(s, d).select(col("o_orderstatus"), col("o_totalprice")),
          Seq("o_orderstatus"), "o_totalprice", "dr")
        grid
          .withColumn("lo", expr("(dr - `_c` - 1) div 2"))
          .withColumn("rsum",
            col("lo") * col("_c") + expr("(`_c` * (`_c` + 1)) div 2"))
          .groupBy("o_orderstatus")
          .agg(
            sum(col("_c")).as("n"),
            sum((P.dec2(col("o_totalprice")) * col("_c"))
              .cast("decimal(38,2)")).cast("double").as("sx"),
            sum((P.dec2(col("o_totalprice")) * col("rsum"))
              .cast("decimal(38,2)")).cast("double").as("six"))
          .select(col("o_orderstatus"), col("n"),
            P.r4((lit(2.0) * col("six") - (col("n") + 1).cast("double") * col("sx")) /
              (col("n").cast("double") * col("sx"))).as("gini"))
          .orderBy("o_orderstatus")
      },
      Some(giniOracleSql),
    ),
    // Winsorized mean per group — robust mean with tails clamped to
    // the [p10, p90] ORDER STATISTICS. Deliberately rank-based, not
    // interpolated: the boundary is the value at sorted position
    // ceil(p·n) — an actual 2-dp data value — so the clamped column
    // stays exactly 2-dp and the mean reduces through the exact
    // decimal sum (an interpolated quantile boundary would inject
    // arbitrary-precision doubles into the sum and reopen the §2.0
    // rounding-tie trap). The value at rank k is well-defined under
    // ties (sorted multiset position), so row_number needs no
    // tiebreak. Plan: rank window → 3-row boundary agg → broadcast
    // join-back → one exact hash agg (the agg_mad shape).
    OpSpec(
      "agg_winsorized_mean",
      (s, d) => {
        val ranked = T.orders(s, d)
          .select(col("o_orderstatus"), col("o_totalprice"))
          .withColumn("i",
            row_number().over(Window.partitionBy("o_orderstatus")
              .orderBy("o_totalprice")).cast("bigint"))
          .withColumn("n",
            count(lit(1)).over(Window.partitionBy("o_orderstatus")))
        val bounds = ranked.groupBy("o_orderstatus")
          .agg(
            min(when(col("i") === ceil(col("n") * 0.1), col("o_totalprice"))).as("lo"),
            min(when(col("i") === ceil(col("n") * 0.9), col("o_totalprice"))).as("hi"))
        T.orders(s, d).join(broadcast(bounds), Seq("o_orderstatus"))
          .groupBy("o_orderstatus")
          .agg(
            count(lit(1)).as("n"),
            (sum(P.dec2(least(greatest(col("o_totalprice"), col("lo")), col("hi"))))
              .cast("double") / count(lit(1)).cast("double")).as("wmean"),
            max(col("lo")).as("lo"), max(col("hi")).as("hi"))
          .orderBy("o_orderstatus")
      },
      Some("""SELECT o.o_orderstatus, count(*) AS n,
             |  cast(sum(cast(least(greatest(o.o_totalprice, b.lo), b.hi) as decimal(18,2))) as double)
             |    / cast(count(*) as double) AS wmean,
             |  max(b.lo) AS lo, max(b.hi) AS hi
             |FROM orders o JOIN (
             |  SELECT o_orderstatus,
             |    min(CASE WHEN i = ceil(n * 0.1) THEN o_totalprice END) AS lo,
             |    min(CASE WHEN i = ceil(n * 0.9) THEN o_totalprice END) AS hi
             |  FROM (
             |    SELECT o_orderstatus, o_totalprice,
             |      cast(row_number() OVER (PARTITION BY o_orderstatus ORDER BY o_totalprice) as bigint) AS i,
             |      count(*) OVER (PARTITION BY o_orderstatus) AS n
             |    FROM orders)
             |  GROUP BY o_orderstatus) b USING (o_orderstatus)
             |GROUP BY o.o_orderstatus
             |ORDER BY o.o_orderstatus""".stripMargin),
    ),
    // pandas .quantile([.25,.5,.75,.95]) — the multi-quantile summary
    // in ONE hash aggregate: Spark's percentile takes an ARRAY of
    // fractions and sorts each group once for all four order
    // statistics (vs 4 separate aggs = 4 sorts). Exact-interpolation
    // semantics match DuckDB quantile_cont (same p·(n−1) rule over
    // the same 2-dp doubles), r4 per §2.0.
    OpSpec(
      "agg_quantile_multi",
      (s, d) =>
        T.orders(s, d)
          .groupBy("o_orderstatus")
          .agg(expr(
            "percentile(o_totalprice, array(0.25D, 0.5D, 0.75D, 0.95D))").as("q"))
          .select(col("o_orderstatus"),
            P.r4(col("q")(0)).as("p25"), P.r4(col("q")(1)).as("p50"),
            P.r4(col("q")(2)).as("p75"), P.r4(col("q")(3)).as("p95"))
          .orderBy("o_orderstatus"),
      Some("""SELECT o_orderstatus,
             |  round(quantile_cont(o_totalprice, 0.25), 4) AS p25,
             |  round(quantile_cont(o_totalprice, 0.5), 4) AS p50,
             |  round(quantile_cont(o_totalprice, 0.75), 4) AS p75,
             |  round(quantile_cont(o_totalprice, 0.95), 4) AS p95
             |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin),
    ),
    // Herfindahl–Hirschman concentration index of order volume across
    // customers, per status — gini's cousin for "is this keyspace
    // dominated by a few customers": HHI = Σcᵢ² / (Σcᵢ)² over per-
    // customer order counts. All-integer sums (counts and squares of
    // counts), ONE double division, r4. Two stacked hash aggs — the
    // agg_key_skew shape with an exact concentration number instead
    // of max/avg.
    OpSpec(
      "agg_herfindahl",
      (s, d) =>
        T.orders(s, d)
          .groupBy("o_orderstatus", "o_custkey")
          .agg(count(lit(1)).as("c"))
          .groupBy("o_orderstatus")
          .agg(
            count(lit(1)).as("n_cust"),
            sum(col("c")).as("n_orders"),
            P.r4(sum(col("c") * col("c")).cast("double") /
              (sum(col("c")) * sum(col("c"))).cast("double")).as("hhi"))
          .orderBy("o_orderstatus"),
      Some("""SELECT o_orderstatus, count(*) AS n_cust,
             |  cast(sum(c) as bigint) AS n_orders,
             |  round(cast(sum(c * c) as double) / cast(sum(c) * sum(c) as double), 4) AS hhi
             |FROM (
             |  SELECT o_orderstatus, o_custkey, count(*) AS c
             |  FROM orders GROUP BY 1, 2)
             |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin),
    ),
    // Top-5-customer revenue share per status — the concentration
    // question HHI summarizes, answered concretely: rank per-customer
    // exact-decimal totals (ties broken by custkey, pinned), sum the
    // top 5, divide by the group total. Per-customer agg is the only
    // fact-table shuffle; the rank window runs over customer TOTALS
    // (one row per customer), never raw orders.
    OpSpec(
      "agg_topn_share",
      (s, d) => {
        val per = T.orders(s, d)
          .groupBy("o_orderstatus", "o_custkey")
          .agg(sum(P.dec2(col("o_totalprice"))).as("rev"))
          .withColumn("rk",
            row_number().over(Window.partitionBy("o_orderstatus")
              .orderBy(desc("rev"), col("o_custkey"))))
        per.groupBy("o_orderstatus")
          .agg(
            count(lit(1)).as("n_cust"),
            P.r4(sum(when(col("rk") <= 5, col("rev")).otherwise(lit(0).cast("decimal(18,2)")))
              .cast("double") / sum(col("rev")).cast("double")).as("top5_share"))
          .orderBy("o_orderstatus")
      },
      Some("""SELECT o_orderstatus, count(*) AS n_cust,
             |  round(cast(sum(CASE WHEN rk <= 5 THEN rev ELSE 0.00 END) as double)
             |        / cast(sum(rev) as double), 4) AS top5_share
             |FROM (
             |  SELECT o_orderstatus, o_custkey, rev,
             |    row_number() OVER (PARTITION BY o_orderstatus ORDER BY rev DESC, o_custkey) AS rk
             |  FROM (
             |    SELECT o_orderstatus, o_custkey,
             |      sum(cast(o_totalprice as decimal(18,2))) AS rev
             |    FROM orders GROUP BY 1, 2))
             |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin),
    ),
    // Tukey-fence outlier count per group — the boxplot/robust-stats
    // staple. Quartiles are rank-based ORDER STATISTICS (actual 2-dp
    // values — the agg_winsorized_mean device), so the fences
    // q1 ∓ 1.5·IQR stay in EXACT decimal arithmetic end-to-end (1.5 is
    // a decimal(2,1) literal in both engines, never a double): the
    // outlier comparison can't straddle an engine-rounding boundary by
    // construction. Tiny bounds agg → broadcast join-back → one exact
    // hash agg; the fact table shuffles once, at 100 TB as here.
    OpSpec(
      "agg_iqr_outliers",
      (s, d) => {
        val ranked = T.orders(s, d)
          .select(col("o_orderstatus"), col("o_totalprice"))
          .withColumn("i",
            row_number().over(Window.partitionBy("o_orderstatus")
              .orderBy("o_totalprice")).cast("bigint"))
          .withColumn("n",
            count(lit(1)).over(Window.partitionBy("o_orderstatus")))
        val k15 = lit(new java.math.BigDecimal("1.5"))
        val bounds = ranked.groupBy("o_orderstatus")
          .agg(
            min(when(col("i") === ceil(col("n") * 0.25), P.dec2(col("o_totalprice")))).as("q1"),
            min(when(col("i") === ceil(col("n") * 0.75), P.dec2(col("o_totalprice")))).as("q3"))
          .withColumn("lo", col("q1") - (col("q3") - col("q1")) * k15)
          .withColumn("hi", col("q3") + (col("q3") - col("q1")) * k15)
        T.orders(s, d).join(broadcast(bounds), Seq("o_orderstatus"))
          .groupBy("o_orderstatus")
          .agg(
            count(lit(1)).as("n"),
            sum(when(col("o_totalprice") < col("lo") ||
              col("o_totalprice") > col("hi"), 1L).otherwise(0L)).as("n_outliers"),
            max(col("q1")).cast("double").as("q1"),
            max(col("q3")).cast("double").as("q3"))
          .orderBy("o_orderstatus")
      },
      Some("""SELECT o.o_orderstatus, count(*) AS n,
             |  cast(sum(CASE WHEN o.o_totalprice < b.lo OR o.o_totalprice > b.hi
             |           THEN 1 ELSE 0 END) as bigint) AS n_outliers,
             |  cast(max(b.q1) as double) AS q1,
             |  cast(max(b.q3) as double) AS q3
             |FROM orders o JOIN (
             |  SELECT o_orderstatus, q1, q3,
             |    q1 - (q3 - q1) * 1.5 AS lo,
             |    q3 + (q3 - q1) * 1.5 AS hi
             |  FROM (
             |    SELECT o_orderstatus,
             |      min(CASE WHEN i = ceil(n * 0.25) THEN cast(o_totalprice as decimal(18,2)) END) AS q1,
             |      min(CASE WHEN i = ceil(n * 0.75) THEN cast(o_totalprice as decimal(18,2)) END) AS q3
             |    FROM (
             |      SELECT o_orderstatus, o_totalprice,
             |        cast(row_number() OVER (PARTITION BY o_orderstatus ORDER BY o_totalprice) as bigint) AS i,
             |        count(*) OVER (PARTITION BY o_orderstatus) AS n
             |      FROM orders)
             |    GROUP BY o_orderstatus)) b USING (o_orderstatus)
             |GROUP BY o.o_orderstatus ORDER BY o.o_orderstatus""".stripMargin),
    ),
    // Trimmed (10%) mean per group — winsorize's sibling: DROP the
    // tails instead of clamping them. Same rank-based order-statistic
    // boundaries, but no join-back at all: one ranked window + one
    // exact hash agg (sum only the mid-rank 2-dp decimals, divide by
    // their count). Rank ties order arbitrarily but the SET of kept
    // ranks is tie-order-invariant, so the sum is deterministic.
    OpSpec(
      "agg_trimmed_mean",
      (s, d) =>
        T.orders(s, d)
          .select(col("o_orderstatus"), col("o_totalprice"))
          .withColumn("i",
            row_number().over(Window.partitionBy("o_orderstatus")
              .orderBy("o_totalprice")).cast("bigint"))
          .withColumn("n",
            count(lit(1)).over(Window.partitionBy("o_orderstatus")))
          .withColumn("keep",
            col("i") > ceil(col("n") * 0.1) && col("i") <= ceil(col("n") * 0.9))
          .groupBy("o_orderstatus")
          .agg(
            count(lit(1)).as("n"),
            sum(when(col("keep"), 1L).otherwise(0L)).as("n_kept"),
            (sum(when(col("keep"), P.dec2(col("o_totalprice")))).cast("double") /
              sum(when(col("keep"), 1L).otherwise(0L)).cast("double")).as("tmean"))
          .orderBy("o_orderstatus"),
      Some(trimmedMeanOracleSql),
    ),
    // The GROUP-COUNT-INDEPENDENT trimmed mean (round 18, the
    // window-parallelism census + 100× sweep intersection: the window
    // spelling above sorts orders in 3 o_orderstatus partitions and
    // measured 2.93× at 3.33× data). ParallelRank's doubled-rank grid
    // gives each (status, value) row its strictly-smaller count lo =
    // (dr − c − 1)/2 exactly, so the number of KEPT occurrences of a
    // value is the overlap of its rank interval (lo, lo+c] with the
    // kept band (⌈0.1n⌉, ⌈0.9n⌉] — pure int64 arithmetic, and the
    // kept SUM Σ dec2(v)·overlap is the identical exact decimal the
    // row-wise conditional sum produces (rank ties order arbitrarily
    // but the kept multiset is tie-order-invariant). Both keys gate
    // against ONE oracle text — the filter_top_percent_grid /
    // agg_spearman_grid scale-twin precedent.
    OpSpec(
      "agg_trimmed_mean_grid",
      (s, d) => {
        val grid = graft.core.ParallelRank.doubledAvgRankGrid(
          T.orders(s, d).select(col("o_orderstatus"), col("o_totalprice")),
          Seq("o_orderstatus"), "o_totalprice", "dr")
        val totals = grid.groupBy("o_orderstatus").agg(sum("_c").as("n"))
        grid.join(broadcast(totals), Seq("o_orderstatus"))
          .withColumn("lo", expr("(dr - `_c` - 1) div 2"))
          .withColumn("kept",
            greatest(lit(0L),
              least(col("lo") + col("_c"), ceil(col("n") * 0.9)) -
                greatest(col("lo"), ceil(col("n") * 0.1))))
          .groupBy("o_orderstatus")
          .agg(
            max(col("n")).as("n"),
            sum(col("kept")).as("n_kept"),
            (sum((P.dec2(col("o_totalprice")) * col("kept"))
              .cast("decimal(38,2)")).cast("double") /
              sum(col("kept")).cast("double")).as("tmean"))
          .orderBy("o_orderstatus")
      },
      Some(trimmedMeanOracleSql),
    ),
    // Benford first-digit profile — the data-QA / fraud-screening
    // staple: observed leading-digit frequency vs the Benford
    // expectation log10(1+1/d). The digit comes from the DECIMAL
    // STRING (first char in [1-9] of the canonical 2-dp rendering —
    // identical text both engines), never floor(log10(x)) whose libm
    // boundary could split engines. Row-local extract + one tiny hash
    // agg; the frequency and expectation are r4'd.
    OpSpec(
      "agg_benford",
      (s, d) => {
        val digits = T.orders(s, d)
          .filter(col("o_totalprice") > 0)
          .select(substring(regexp_replace(
            P.dec2(col("o_totalprice")).cast("string"), "[^1-9]", ""), 1, 1)
            .cast("int").as("digit"))
        // whole-frame proportion window over the ≤9-row AGGREGATE (the
        // agg_value_counts_norm device) — no driver action, no wide
        // single-partition window
        digits.groupBy("digit")
          .agg(count(lit(1)).as("cnt"))
          .withColumn("total", sum(col("cnt")).over(Window.partitionBy()))
          .select(col("digit"), col("cnt"),
            P.r4(col("cnt").cast("double") / col("total").cast("double")).as("freq"),
            P.r4(log10(lit(1.0) + lit(1.0) / col("digit").cast("double"))).as("benford"))
          .orderBy("digit")
      },
      Some("""SELECT digit, cnt,
             |  round(cast(cnt as double) / cast(sum(cnt) OVER () as double), 4) AS freq,
             |  round(log10(1.0 + 1.0 / cast(digit as double)), 4) AS benford
             |FROM (
             |  SELECT digit, count(*) AS cnt
             |  FROM (
             |    SELECT cast(substring(regexp_replace(
             |      cast(cast(o_totalprice as decimal(18,2)) as varchar), '[^1-9]', '', 'g'), 1, 1) as int) AS digit
             |    FROM orders WHERE o_totalprice > 0)
             |  GROUP BY digit)
             |ORDER BY digit""".stripMargin),
    ),
    // Per-column data-quality profile — df.info()/isna().sum() as one
    // declared query: for each events column, row count, nulls,
    // distinct values. ONE pass: every (count, count(col),
    // approx-free countDistinct) pair rides a single hash agg; the
    // per-column rows come from a row-local stack/UNION-ALL unpivot of
    // that 1-row aggregate — no second scan. The `v` column is made
    // nullable by the same event_type device the interpolation family
    // uses, so the null counter is exercised, not vacuous.
    OpSpec(
      "agg_null_profile",
      (s, d) => {
        val e = T.events(s, d)
          .withColumn("v",
            when(col("event_type") === "view", lit(null)).otherwise(col("value")))
        val prof = e.agg(
          count(lit(1)).as("n"),
          count(col("v")).as("nn_v"),
          countDistinct(col("v")).as("nd_v"),
          count(col("event_type")).as("nn_et"),
          countDistinct(col("event_type")).as("nd_et"),
          count(col("user_id")).as("nn_u"),
          countDistinct(col("user_id")).as("nd_u"))
        prof.selectExpr(
          """stack(3,
            |  'event_type', n, n - nn_et, nd_et,
            |  'user_id',    n, n - nn_u,  nd_u,
            |  'v',          n, n - nn_v,  nd_v)
            |  AS (column_name, n_rows, n_null, n_distinct)""".stripMargin)
          .orderBy("column_name")
      },
      Some("""WITH p AS (
             |  SELECT count(*) AS n,
             |    count(v) AS nn_v, count(DISTINCT v) AS nd_v,
             |    count(event_type) AS nn_et, count(DISTINCT event_type) AS nd_et,
             |    count(user_id) AS nn_u, count(DISTINCT user_id) AS nd_u
             |  FROM (SELECT *, CASE WHEN event_type = 'view' THEN NULL ELSE value END AS v
             |        FROM events))
             |SELECT 'event_type' AS column_name, n AS n_rows, n - nn_et AS n_null, nd_et AS n_distinct FROM p
             |UNION ALL
             |SELECT 'user_id', n, n - nn_u, nd_u FROM p
             |UNION ALL
             |SELECT 'v', n, n - nn_v, nd_v FROM p
             |ORDER BY column_name""".stripMargin),
    ),
    // Lorenz curve decile points — the chart behind agg_gini: for each
    // revenue decile (ascending), the cumulative share of total. ntile
    // assigns ties arbitrarily but tied rows carry EQUAL values, so
    // every decile's SUM is tie-order-invariant; cumsum and total stay
    // exact decimal, one r4 division per emitted point (30 rows).
    OpSpec(
      "agg_lorenz_curve",
      (s, d) => {
        val byV = Window.partitionBy("o_orderstatus").orderBy("o_totalprice")
        val byDec = Window.partitionBy("o_orderstatus").orderBy("dec")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val tot = Window.partitionBy("o_orderstatus")
        T.orders(s, d)
          .withColumn("dec", ntile(10).over(byV).cast("bigint"))
          .groupBy("o_orderstatus", "dec")
          .agg(sum(P.dec2(col("o_totalprice"))).as("s"))
          .select(col("o_orderstatus"), col("dec"),
            P.r4(sum(col("s")).over(byDec).cast("double") /
              sum(col("s")).over(tot).cast("double")).as("cum_share"))
          .orderBy("o_orderstatus", "dec")
      },
      Some(lorenzOracleSql),
    ),
    // The GROUP-COUNT-INDEPENDENT Lorenz curve (round 18, census +
    // sweep intersection: the ntile window above sorts orders in 3
    // status partitions, 2.33× at 3.33× data). ntile(10)'s bucket for
    // 1-indexed rank i is a PURE FUNCTION of (i, n): the first
    // n mod 10 deciles take ⌈n/10⌉ ranks, the rest ⌊n/10⌋, so decile
    // d covers ranks (end(d−1), end(d)] with end(d) = d·(n div 10) +
    // min(d, n mod 10). Each doubled-rank grid row occupies ranks
    // (lo, lo+c] and contributes v · overlap(d) to decile d — ties
    // split across a boundary carry EQUAL values, so the per-decile
    // exact-decimal sums match the row-wise ntile grouping, and the
    // two cum-share windows run over the tiny (status × 10)-row
    // frame. One oracle text for both spellings.
    OpSpec(
      "agg_lorenz_curve_grid",
      (s, d) => {
        val byDec = Window.partitionBy("o_orderstatus").orderBy("dec")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val tot = Window.partitionBy("o_orderstatus")
        val grid = graft.core.ParallelRank.doubledAvgRankGrid(
          T.orders(s, d).select(col("o_orderstatus"), col("o_totalprice")),
          Seq("o_orderstatus"), "o_totalprice", "dr")
        val totals = grid.groupBy("o_orderstatus").agg(sum("_c").as("n"))
        grid.join(broadcast(totals), Seq("o_orderstatus"))
          .withColumn("lo", expr("(dr - `_c` - 1) div 2"))
          .withColumn("q", expr("n div 10"))
          .withColumn("r", expr("n % 10"))
          .withColumn("dec", explode(expr("sequence(1L, 10L)")))
          .withColumn("ov",
            greatest(lit(0L),
              least(col("lo") + col("_c"),
                col("dec") * col("q") + least(col("dec"), col("r"))) -
                greatest(col("lo"),
                  (col("dec") - 1L) * col("q") +
                    least(col("dec") - 1L, col("r")))))
          .filter(col("ov") > 0L)
          .groupBy("o_orderstatus", "dec")
          .agg(sum((P.dec2(col("o_totalprice")) * col("ov"))
            .cast("decimal(38,2)")).as("s"))
          .select(col("o_orderstatus"), col("dec"),
            P.r4(sum(col("s")).over(byDec).cast("double") /
              sum(col("s")).over(tot).cast("double")).as("cum_share"))
          .orderBy("o_orderstatus", "dec")
      },
      Some(lorenzOracleSql),
    ),
    // Welch's two-sample t (scipy.stats.ttest_ind(equal_var=False),
    // view vs click) — the parametric member of the drift-test family
    // (KS / Mann–Whitney / chi² are the others). Means and variances
    // come from exact decimal moment sums (ONE map-combined agg over
    // both samples via conditional sums); t and the Welch–
    // Satterthwaite dof are shared-text double arithmetic, r4.
    OpSpec(
      "agg_welch_t",
      (s, d) => {
        val isV = col("event_type") === "view"
        val agg = T.events(s, d)
          .filter(col("event_type").isin("view", "click"))
          .agg(
            sum(when(isV, 1L).otherwise(0L)).cast("double").as("n1"),
            sum(when(!isV, 1L).otherwise(0L)).cast("double").as("n2"),
            sum(when(isV, P.dec2(col("value")))).cast("double").as("s1"),
            sum(when(!isV, P.dec2(col("value")))).cast("double").as("s2"),
            sum(when(isV, (P.dec2(col("value")) * P.dec2(col("value"))).cast("decimal(38,4)")))
              .cast("double").as("q1"),
            sum(when(!isV, (P.dec2(col("value")) * P.dec2(col("value"))).cast("decimal(38,4)")))
              .cast("double").as("q2"))
        val v1 = (col("q1") - col("s1") * col("s1") / col("n1")) / (col("n1") - 1) / col("n1")
        val v2 = (col("q2") - col("s2") * col("s2") / col("n2")) / (col("n2") - 1) / col("n2")
        agg.select(
          col("n1").cast("bigint").as("n1"), col("n2").cast("bigint").as("n2"),
          P.r4((col("s1") / col("n1") - col("s2") / col("n2")) / sqrt(v1 + v2)).as("t_stat"),
          P.r4((v1 + v2) * (v1 + v2) /
            (v1 * v1 / (col("n1") - 1) + v2 * v2 / (col("n2") - 1))).as("dof"))
      },
      Some("""SELECT cast(n1 as bigint) AS n1, cast(n2 as bigint) AS n2,
             |  round((s1 / n1 - s2 / n2) /
             |        sqrt((q1 - s1 * s1 / n1) / (n1 - 1) / n1 + (q2 - s2 * s2 / n2) / (n2 - 1) / n2), 4) AS t_stat,
             |  round(((q1 - s1 * s1 / n1) / (n1 - 1) / n1 + (q2 - s2 * s2 / n2) / (n2 - 1) / n2)
             |        * ((q1 - s1 * s1 / n1) / (n1 - 1) / n1 + (q2 - s2 * s2 / n2) / (n2 - 1) / n2)
             |        / ((q1 - s1 * s1 / n1) / (n1 - 1) / n1 * ((q1 - s1 * s1 / n1) / (n1 - 1) / n1) / (n1 - 1)
             |           + (q2 - s2 * s2 / n2) / (n2 - 1) / n2 * ((q2 - s2 * s2 / n2) / (n2 - 1) / n2) / (n2 - 1)), 4) AS dof
             |FROM (
             |  SELECT
             |    cast(sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) as double) AS n1,
             |    cast(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) as double) AS n2,
             |    cast(sum(CASE WHEN event_type = 'view' THEN cast(value as decimal(18,2)) END) as double) AS s1,
             |    cast(sum(CASE WHEN event_type = 'click' THEN cast(value as decimal(18,2)) END) as double) AS s2,
             |    cast(sum(CASE WHEN event_type = 'view' THEN cast(cast(value as decimal(18,2)) * cast(value as decimal(18,2)) as decimal(38,4)) END) as double) AS q1,
             |    cast(sum(CASE WHEN event_type = 'click' THEN cast(cast(value as decimal(18,2)) * cast(value as decimal(18,2)) as decimal(38,4)) END) as double) AS q2
             |  FROM events WHERE event_type IN ('view', 'click'))""".stripMargin),
    ),
    // Mann–Whitney U (scipy.stats.mannwhitneyu, view vs click) — the
    // rank-sum drift test, tie-corrected, in EXACT INTEGERS: with
    // average ranks a = rank_min + (ties−1)/2, the DOUBLED rank 2a =
    // 2·rank_min + ties − 1 is an integer, so Σ2a accumulates as
    // bigint off the distinct-value grid (c1 · that, per value) and
    // 2U = 2R1 − n1(n1+1) stays exact until one final /2 (a power of
    // two — the division is lossless in binary). Same bounded
    // value-grid window as agg_ks_test.
    OpSpec(
      "agg_mannwhitney_u",
      (s, d) => {
        val grid = T.events(s, d)
          .filter(col("event_type").isin("view", "click"))
          .groupBy("value")
          .agg(
            sum(when(col("event_type") === "view", 1L).otherwise(0L)).as("c1"),
            sum(when(col("event_type") === "click", 1L).otherwise(0L)).as("c2"))
        val byV = Window.orderBy("value") // distinct-value grid: bounded
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        grid
          .select(col("c1"), col("c2"),
            (sum(col("c1") + col("c2")).over(byV) - (col("c1") + col("c2")) + 1L)
              .as("rank_min"))
          .agg(
            sum(col("c1")).as("n1"), sum(col("c2")).as("n2"),
            sum(col("c1") * (col("rank_min") * 2 + (col("c1") + col("c2")) - 1))
              .as("r1x2"))
          .select(col("n1"), col("n2"),
            ((col("r1x2") - col("n1") * (col("n1") + 1)).cast("double") / 2)
              .as("u1"))
      },
      Some("""SELECT n1, n2,
             |  cast(r1x2 - n1 * (n1 + 1) as double) / 2 AS u1
             |FROM (
             |  SELECT cast(sum(c1) as bigint) AS n1, cast(sum(c2) as bigint) AS n2,
             |    cast(sum(c1 * (rank_min * 2 + (c1 + c2) - 1)) as bigint) AS r1x2
             |  FROM (
             |    SELECT c1, c2,
             |      sum(c1 + c2) OVER w - (c1 + c2) + 1 AS rank_min
             |    FROM (
             |      SELECT value,
             |        sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS c1,
             |        sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS c2
             |      FROM events WHERE event_type IN ('view', 'click')
             |      GROUP BY value)
             |    WINDOW w AS (ORDER BY value ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)))""".stripMargin),
    ),
    // Spearman rank correlation per group (pandas corr(method=
    // 'spearman')) — Pearson over tie-averaged ranks, with the SAME
    // doubled-rank integer device as Mann–Whitney: 2a per row is an
    // exact int64, the co-moment sums accumulate as decimal(38,0)
    // (operands cast BEFORE the multiply — a bigint product of two
    // 2n-scale ranks overflows int64 past ~1e9-row groups, the
    // agg_mad lesson). Rank windows shard by the GROUP key (no global
    // sort — the reshape_qcut scale trap avoided by construction).
    // SCALE NOTE (round 16): this spelling's parallelism is bounded
    // by the group count (3 flags ⇒ 3 sort tasks). Two re-plans were
    // MEASURED at sf0.1 honest-basis and both lost to it (this: 3.4 s;
    // rank_asc−rank_desc identity: 6.0 s — doubles the serial sorts;
    // ParallelRank joint-grid: 9.1 s — five shuffles + two quantile
    // sketches of orchestration), so the declared query keeps the
    // window form; the group-count-independent scale path is the
    // GATED `agg_spearman_grid` below (round 17 — bit-identical by
    // ParallelRankSpec + the shared oracle, crossover in BASELINE
    // round-16: 31× at 10 M rows).
    OpSpec(
      "agg_spearman",
      (s, d) => {
        val byQ = Window.partitionBy("l_returnflag").orderBy("q")
        val byP = Window.partitionBy("l_returnflag").orderBy("p")
        val cq = Window.partitionBy("l_returnflag", "q")
        val cp = Window.partitionBy("l_returnflag", "p")
        val d19 = (c: org.apache.spark.sql.Column) => c.cast("decimal(19,0)")
        T.lineitem(s, d)
          .select(col("l_returnflag"),
            col("l_quantity").cast("bigint").as("q"), P.dec2(col("l_extendedprice")).as("p"))
          .select(col("l_returnflag"),
            (rank().over(byQ).cast("bigint") * 2 + count(lit(1)).over(cq) - 1).as("ax"),
            (rank().over(byP).cast("bigint") * 2 + count(lit(1)).over(cp) - 1).as("bx"))
          .groupBy("l_returnflag")
          .agg(
            count(lit(1)).as("n"),
            sum(col("ax")).as("sa"), sum(col("bx")).as("sb"),
            sum(d19(col("ax")) * d19(col("ax"))).as("saa"),
            sum(d19(col("bx")) * d19(col("bx"))).as("sbb"),
            sum(d19(col("ax")) * d19(col("bx"))).as("sab"))
          .select(col("l_returnflag"), col("n"),
            P.r4((col("n").cast("double") * col("sab").cast("double") -
              col("sa").cast("double") * col("sb").cast("double")) /
              sqrt((col("n").cast("double") * col("saa").cast("double") -
                col("sa").cast("double") * col("sa").cast("double")) *
                (col("n").cast("double") * col("sbb").cast("double") -
                  col("sb").cast("double") * col("sb").cast("double"))))
              .as("spearman_rho"))
          .orderBy("l_returnflag")
      },
      Some(spearmanOracleSql),
    ),
    // The GROUP-COUNT-INDEPENDENT Spearman (round-17; round-16 verdict
    // item 1): the declared window spelling above is exact and wins at
    // bench scale, but its two rank sorts partition by the GROUP key —
    // on a 3-flag fact table that is 3 sort tasks no matter the
    // cluster. This spelling ranks on GRIDS instead: one joint
    // (flag, q, p) hash agg over the fact table (full parallelism),
    // marginal counts derived from it (grid-sized, never re-touching
    // facts), ParallelRank's bucketed doubled-avg-rank device per
    // marginal (parallelism = groups × buckets), and the co-moment
    // sums accumulated over the joint grid weighted by occurrence
    // count. Every integer equals the window spelling's bit-for-bit
    // (ParallelRankSpec proves the rank device; the shared oracle
    // proves the composition), so both keys gate against ONE oracle
    // text. Measured crossover: 31× at 10 M rows single-key
    // (BASELINE round-16); at bench sf the window form stays cheaper,
    // which is why BOTH are declared — the ts_ewm/ts_ewm_linear
    // precedent. The q-rank grid is value-domain bounded (50
    // quantities × flags) and broadcast; the p-rank grid is
    // distinct-price-sized — broadcast-able at bench SF, a
    // co-partitioned shuffle join at 100 TB (unhinted: AQE decides).
    OpSpec(
      "agg_spearman_grid",
      (s, d) => spearmanGridOf(
        T.lineitem(s, d).select(col("l_returnflag"),
          col("l_quantity").cast("bigint").as("q"),
          P.dec2(col("l_extendedprice")).as("p"))),
      Some(spearmanOracleSql),
    ),
    // Two-sample Kolmogorov–Smirnov statistic (scipy.stats.ks_2samp's
    // D) between the 'view' and 'click' value distributions — the
    // drift/shift test every feature pipeline runs. EXACT-INTEGER
    // device: at each distinct value the CDF gap |F1−F2| is compared
    // as the cross-multiplied integer |cum1·n2 − cum2·n1| over the
    // common denominator n1·n2 — the MAX is taken over exact int64s,
    // never floats, and only the final D = max/(n1·n2) divides, r4.
    // The window runs over the DISTINCT-VALUE grid (2-dp values are
    // range-bounded, ≤ ~20k rows at any corpus size — documented
    // single-partition bound), not over events.
    OpSpec(
      "agg_ks_test",
      (s, d) => {
        val two = T.events(s, d)
          .filter(col("event_type").isin("view", "click"))
          .groupBy("value")
          .agg(
            sum(when(col("event_type") === "view", 1L).otherwise(0L)).as("c1"),
            sum(when(col("event_type") === "click", 1L).otherwise(0L)).as("c2"))
        val totals = two.agg(sum(col("c1")).as("n1"), sum(col("c2")).as("n2"))
        val byV = Window.orderBy("value") // distinct-value grid: bounded
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        two.crossJoin(broadcast(totals))
          .select(col("n1"), col("n2"),
            sum(col("c1")).over(byV).as("cum1"),
            sum(col("c2")).over(byV).as("cum2"))
          .groupBy("n1", "n2")
          .agg(max(abs(col("cum1") * col("n2") - col("cum2") * col("n1"))).as("dnum"))
          .select(col("n1"), col("n2"),
            P.r4(col("dnum").cast("double") /
              (col("n1") * col("n2")).cast("double")).as("ks_d"))
      },
      Some("""SELECT n1, n2,
             |  round(cast(max(abs(cum1 * n2 - cum2 * n1)) as double)
             |        / cast(n1 * n2 as double), 4) AS ks_d
             |FROM (
             |  SELECT n1, n2,
             |    sum(c1) OVER w AS cum1,
             |    sum(c2) OVER w AS cum2
             |  FROM (
             |    SELECT value,
             |      sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS c1,
             |      sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS c2
             |    FROM events WHERE event_type IN ('view', 'click')
             |    GROUP BY value) t
             |  CROSS JOIN (
             |    SELECT cast(sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) as bigint) AS n1,
             |           cast(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) as bigint) AS n2
             |    FROM events WHERE event_type IN ('view', 'click'))
             |  WINDOW w AS (ORDER BY value ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
             |GROUP BY n1, n2""".stripMargin),
    ),
    // Chi-square test of independence (event_type × weekday) — the
    // categorical-drift companion of the KS test. Observed counts are
    // exact; expected = rowtot·coltot/n and the (o−e)²/e terms are
    // doubles, so the 35-term sum uses the ORDERED-FOLD device keyed
    // by (event_type, dow) — bit-pinned, over the tiny contingency
    // aggregate, never the fact table. Emits the statistic + dof
    // (neither engine ships a chi² CDF; the p-value lookup is the
    // caller's table).
    OpSpec(
      "agg_chi2_independence",
      (s, d) => {
        val obs = T.events(s, d)
          .groupBy(col("event_type"), expr("weekday(ts)").cast("bigint").as("dow"))
          .agg(count(lit(1)).as("o"))
        val wr = Window.partitionBy("event_type")
        val wc = Window.partitionBy("dow")
        val wn = Window.partitionBy()
        obs
          .select(col("event_type"), col("dow"), col("o"),
            sum(col("o")).over(wr).as("rt"),
            sum(col("o")).over(wc).as("ct"),
            sum(col("o")).over(wn).as("n"))
          .withColumn("term", {
            val e = (col("rt") * col("ct")).cast("double") / col("n").cast("double")
            (col("o").cast("double") - e) * (col("o").cast("double") - e) / e
          })
          .agg(
            P.r4(expr("""aggregate(
                        |  transform(array_sort(collect_list(struct(event_type, dow, term))), x -> x.term),
                        |  0D, (acc, x) -> acc + x)""".stripMargin)).as("chi2"),
            ((countDistinct(col("event_type")) - 1) *
              (countDistinct(col("dow")) - 1)).as("dof"))
      },
      Some("""SELECT
             |  round(list_sum(list(term ORDER BY event_type, dow)), 4) AS chi2,
             |  cast((count(DISTINCT event_type) - 1) * (count(DISTINCT dow) - 1) as bigint) AS dof
             |FROM (
             |  SELECT event_type, dow, term FROM (
             |    SELECT event_type, dow,
             |      (cast(o as double) - cast(rt * ct as double) / cast(n as double))
             |        * (cast(o as double) - cast(rt * ct as double) / cast(n as double))
             |        / (cast(rt * ct as double) / cast(n as double)) AS term
             |    FROM (
             |      SELECT event_type, dow, o,
             |        sum(o) OVER (PARTITION BY event_type) AS rt,
             |        sum(o) OVER (PARTITION BY dow) AS ct,
             |        sum(o) OVER () AS n
             |      FROM (
             |        SELECT event_type, isodow(cast(ts as timestamp)) - 1 AS dow,
             |          count(*) AS o
             |        FROM events GROUP BY 1, 2))))""".stripMargin),
    ),
    // Cramér's V — the EFFECT SIZE on top of the chi² machinery
    // (χ² says "dependent", V says "how much", normalized to [0,1]):
    // V = sqrt(χ² / (n · min(r−1, c−1))). Same contingency aggregate,
    // marginal windows, and ordered-fold term sum as
    // agg_chi2_independence; one extra sqrt-normalization, r4.
    OpSpec(
      "agg_cramers_v",
      (s, d) => {
        val obs = T.events(s, d)
          .groupBy(col("event_type"), expr("weekday(ts)").cast("bigint").as("dow"))
          .agg(count(lit(1)).as("o"))
        val wr = Window.partitionBy("event_type")
        val wc = Window.partitionBy("dow")
        val wn = Window.partitionBy()
        obs
          .select(col("event_type"), col("dow"), col("o"),
            sum(col("o")).over(wr).as("rt"),
            sum(col("o")).over(wc).as("ct"),
            sum(col("o")).over(wn).as("n"))
          .withColumn("term", {
            val e = (col("rt") * col("ct")).cast("double") / col("n").cast("double")
            (col("o").cast("double") - e) * (col("o").cast("double") - e) / e
          })
          .agg(
            expr("""aggregate(
                   |  transform(array_sort(collect_list(struct(event_type, dow, term))), x -> x.term),
                   |  0D, (acc, x) -> acc + x)""".stripMargin).as("chi2"),
            max(col("n")).as("n"),
            least(countDistinct(col("event_type")) - 1,
              countDistinct(col("dow")) - 1).as("mindim"))
          .select(
            P.r4(sqrt(col("chi2") /
              (col("n") * col("mindim")).cast("double"))).as("cramers_v"),
            col("n").cast("bigint").as("n"))
      },
      Some("""SELECT
             |  round(sqrt(list_sum(list(term ORDER BY event_type, dow))
             |        / cast(n * mindim as double)), 4) AS cramers_v,
             |  cast(n as bigint) AS n
             |FROM (
             |  SELECT event_type, dow, term, n,
             |    least(count(DISTINCT event_type) OVER () - 1,
             |          count(DISTINCT dow) OVER () - 1) AS mindim
             |  FROM (
             |    SELECT event_type, dow,
             |      (cast(o as double) - cast(rt * ct as double) / cast(n as double))
             |        * (cast(o as double) - cast(rt * ct as double) / cast(n as double))
             |        / (cast(rt * ct as double) / cast(n as double)) AS term,
             |      n
             |    FROM (
             |      SELECT event_type, dow, o,
             |        sum(o) OVER (PARTITION BY event_type) AS rt,
             |        sum(o) OVER (PARTITION BY dow) AS ct,
             |        sum(o) OVER () AS n
             |      FROM (
             |        SELECT event_type, isodow(cast(ts as timestamp)) - 1 AS dow,
             |          count(*) AS o
             |        FROM events GROUP BY 1, 2))))
             |GROUP BY n, mindim""".stripMargin),
    ),
    // Pareto 80/20 — how many top customers cover 80% of revenue per
    // group. ENTIRELY in exact decimal: per-customer totals (the only
    // fact shuffle) → rank window over customer totals (rev DESC,
    // custkey tiebreak) → decimal cumsum → the 80% cutoff is the
    // integer-free comparison cum·5 < total·4 (≡ cum/total < 0.8, no
    // division, no float) → n80 = first rank past the cutoff. Only
    // the final n80/n share is IEEE, r4'd.
    OpSpec(
      "agg_pareto_8020",
      (s, d) => {
        val byRev = Window.partitionBy("o_orderstatus")
          .orderBy(desc("rev"), col("o_custkey"))
        val cum = byRev.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val tot = Window.partitionBy("o_orderstatus")
        T.orders(s, d)
          .groupBy("o_orderstatus", "o_custkey")
          .agg(sum(P.dec2(col("o_totalprice"))).as("rev"))
          .select(col("o_orderstatus"),
            sum(col("rev")).over(cum).as("cum"),
            sum(col("rev")).over(tot).as("total"))
          .groupBy("o_orderstatus")
          .agg(count(lit(1)).as("n_cust"),
            (sum(when(col("cum") * 5 < col("total") * 4, 1L).otherwise(0L)) + 1L)
              .as("n80"))
          .select(col("o_orderstatus"), col("n_cust"), col("n80"),
            P.r4(col("n80").cast("double") / col("n_cust").cast("double"))
              .as("top_share"))
          .orderBy("o_orderstatus")
      },
      Some("""SELECT o_orderstatus, n_cust, n80,
             |  round(cast(n80 as double) / cast(n_cust as double), 4) AS top_share
             |FROM (
             |  SELECT o_orderstatus, count(*) AS n_cust,
             |    cast(sum(CASE WHEN cum * 5 < total * 4 THEN 1 ELSE 0 END) + 1 as bigint) AS n80
             |  FROM (
             |    SELECT o_orderstatus,
             |      sum(rev) OVER (PARTITION BY o_orderstatus ORDER BY rev DESC, o_custkey
             |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
             |      sum(rev) OVER (PARTITION BY o_orderstatus) AS total
             |    FROM (
             |      SELECT o_orderstatus, o_custkey,
             |        sum(cast(o_totalprice as decimal(18,2))) AS rev
             |      FROM orders GROUP BY 1, 2))
             |  GROUP BY o_orderstatus)
             |ORDER BY o_orderstatus""".stripMargin),
    ),
    // Shannon entropy of each user's event-type mix — the behavioral-
    // diversity profiling staple (pandas: groupby().value_counts() →
    // scipy.stats.entropy). The text_lang_entropy determinism device
    // reused verbatim: the sum folds a SORTED (by event_type) term
    // list left-to-right in both engines (removes within-engine
    // association nondeterminism), then r4 absorbs the engines'
    // ln() last-ulp skew. Round-11 note: emitting the fold UNROUNDED
    // was tried per the r10 advice and is measurably wrong — the
    // doubles are NOT bit-identical. Mechanism isolated: Spark's Log
    // expression calls java.lang.StrictMath.log (fdlibm) while DuckDB
    // calls libm log, and the two differ in the last ulp on real
    // corpus ratios (measured: r = 14/69 → ...cd22 vs ...cd21; 728
    // event-mix ratios probed, Math.log == libm everywhere but
    // StrictMath diverges), so per §2.0 the r4 stays: internals differ;
    // `+ 0D` turns a single-type user's −0.0 into 0.0 (negative zero
    // hashes differently cross-engine). Shape: one (user, type) count
    // agg (≤5 types/user) + one fold per user — two key-partitioned
    // shuffles of tiny aggregates, the 100 TB-safe form.
    OpSpec(
      "agg_entropy",
      (s, d) => {
        val counts = T.events(s, d)
          .groupBy("user_id", "event_type").agg(count(lit(1)).as("n"))
          .withColumn("tot", sum(col("n")).over(
            org.apache.spark.sql.expressions.Window.partitionBy("user_id")))
          .withColumn("t", expr("(n / tot) * ln(n / tot)"))
        counts.groupBy("user_id")
          .agg(expr(
            """round(-aggregate(
              |  transform(array_sort(collect_list(struct(event_type, t))), s -> s.t),
              |  0D, (acc, x) -> acc + x) + 0D, 4)""".stripMargin).as("entropy"),
            countDistinct(col("event_type")).as("n_types"))
          .orderBy("user_id")
      },
      Some("""WITH c AS (
             |  SELECT user_id, event_type, count(*) AS n
             |  FROM events GROUP BY user_id, event_type),
             |cn AS (SELECT *, sum(n) OVER (PARTITION BY user_id) AS tot FROM c),
             |t AS (SELECT user_id, event_type, (n / tot) * ln(n / tot) AS t FROM cn)
             |SELECT user_id,
             |  round(-list_reduce(list_prepend(0.0, list(t ORDER BY event_type)),
             |                     (acc, x) -> acc + x) + 0.0, 4) AS entropy,
             |  cast(count(event_type) as bigint) AS n_types
             |FROM t GROUP BY user_id ORDER BY user_id""".stripMargin),
    ),
    // Multiple linear regression per group — value ~ hour-of-day +
    // weekday, solved by CRAMER on the 3×3 normal equations. Every
    // moment is EXACT before the solve (integer sums for the int
    // regressors, decimal(18,2)/(38,4) sums for the y cross terms —
    // the agg_stddev_var device), and the four determinants are ONE
    // shared formula text parsed by both engines, so the doubles go
    // out bit-identical and UNROUNDED. Shape: one partial+final hash
    // agg over 9 sums — the distributed-OLS recipe (moments shuffle,
    // rows never do; at 100 TB the solve is a per-group scalar).
    OpSpec(
      "agg_ols_normal_eq",
      (s, d) => olsNormalEqOf(
        T.events(s, d).select(col("event_type"),
          hour(col("ts")).cast("bigint").as("x1"),
          weekday(col("ts")).cast("bigint").as("x2"),
          col("value")),
        "event_type", "x1", "x2", "value"),
      olsOracle,
    ),
    // JARQUE–BERA normality test per group: JB = n/6·(S² + K²/4) from
    // the same population moments as agg_skew_kurt — skew/kurt are
    // SCALE-INVARIANT, so the moments run over exact integer CENTS
    // (value·100) and every sum is exact. The per-element POWERS are
    // computed in decimal (Spark) / hugeint (DuckDB), NOT int64: the
    // corpus ceiling for x⁴ in a long is |cents| ≤ 55,108 and the
    // regenerated round-15 sf0.1 corpus carries 56,021 — an int64
    // x*x*x*x throws ARITHMETIC_OVERFLOW under ANSI in BOTH engines
    // (56021⁴ ≈ 9.85e18 > 2⁶³−1; it fits decimal(38,0)/hugeint with
    // 19 more digits of headroom). One shared formula text end to end.
    {
      val mean = "(s1 / n)"
      val m2 = s"(s2 / n - $mean * $mean)"
      val m3 = s"(s3 / n - 3 * $mean * s2 / n + 2 * $mean * $mean * $mean)"
      val m4 = s"(s4 / n - 4 * $mean * s3 / n + 6 * $mean * $mean * s2 / n - 3 * $mean * $mean * $mean * $mean)"
      // nullif: a constant (or 1-row) group has m2 = 0 and ANSI double
      // division throws in Spark 4 — NULL skew/kurt instead. The text
      // is SHARED with the oracle (nullif exists in DuckDB with the
      // same semantics), and when m2 ≠ 0 the division is identical.
      val sk = s"($m3 / nullif($m2 * sqrt($m2), 0))"
      val ku = s"($m4 / nullif($m2 * $m2, 0) - 3)"
      val jb = s"round(n / 6.0 * ($sk * $sk + $ku * $ku / 4.0), 4)"
      OpSpec(
        "agg_jarque_bera",
        (s, d) => {
          val xi = (col("value").cast("decimal(18,2)") * 100).cast("bigint")
          val xd = xi.cast("decimal(19,0)")
          val x2 = (xd * xd).cast("decimal(38,0)")
          val x3 = (x2 * xd).cast("decimal(38,0)")
          val x4 = (x3 * xd).cast("decimal(38,0)")
          T.events(s, d)
            .groupBy("event_type")
            .agg(
              count(lit(1)).cast("double").as("n"),
              sum(xi).cast("double").as("s1"),
              sum(x2).cast("double").as("s2"),
              sum(x3).cast("double").as("s3"),
              sum(x4).cast("double").as("s4"))
            .selectExpr("event_type", "cast(n as bigint) AS n_rows",
              s"round($sk, 4) AS skew", s"round($ku, 4) AS kurt",
              s"$jb AS jb")
            .orderBy("event_type")
        },
        Some(s"""SELECT event_type, cast(n as bigint) AS n_rows,
                |  round($sk, 4) AS skew, round($ku, 4) AS kurt,
                |  $jb AS jb
                |FROM (
                |  SELECT event_type,
                |    cast(count(*) as double) AS n,
                |    cast(sum(x) as double) AS s1,
                |    cast(sum(xh * xh) as double) AS s2,
                |    cast(sum(xh * xh * xh) as double) AS s3,
                |    cast(sum(xh * xh * xh * xh) as double) AS s4
                |  FROM (SELECT event_type,
                |          cast(cast(value as decimal(18,2)) * 100 as bigint) AS x,
                |          cast(cast(cast(value as decimal(18,2)) * 100 as bigint) as hugeint) AS xh
                |        FROM events)
                |  GROUP BY event_type)
                |ORDER BY event_type""".stripMargin),
      )
    },
    // GRUBBS' statistic (Grubbs 1950): G = max|x−x̄|/s per group plus
    // WHICH point attains it — the single-outlier screen run before
    // any Gaussian assumption. μ/σ from exact moments broadcast back;
    // the per-row deviation is one shared expression of identical
    // doubles, so `dev = G` is an exact equality match both engines
    // (argmax ties break to the smallest event_id via min).
    OpSpec(
      "agg_grubbs_stat",
      (s, d) => {
        // Groups of n < 2 have no sample sd — drop them BEFORE the sd
        // projection (the decimal sy²/nd path throws DIVIDE_BY_ZERO
        // under ANSI when nd−1 = 0; a 1-row group is degenerate for
        // Grubbs anyway). Gate-neutral: every sf group has thousands.
        val stats = T.events(s, d).groupBy("event_type").agg(
            count(lit(1)).cast("double").as("nd"),
            dsum(col("value")).as("sy"),
            dsumsq(col("value")).as("syy"))
          .filter(col("nd") >= 2)
          .selectExpr("event_type", "nd", "sy / nd AS mu",
            "sqrt((syy - sy * sy / nd) / (nd - 1)) AS sd")
        val dev = T.events(s, d).select(col("event_type"), col("event_id"), col("value"))
          .join(broadcast(stats), "event_type")
          .withColumn("g", expr("abs(value - mu) / sd"))
        val gMax = dev.groupBy("event_type").agg(max(col("g")).as("g_max"))
        dev.join(broadcast(gMax), "event_type")
          .filter(col("g") === col("g_max"))
          .groupBy("event_type")
          .agg(min(col("event_id")).as("outlier_event_id"),
            graft.core.Policy.r4(max(col("g_max"))).as("grubbs_g"),
            max(col("nd")).cast("bigint").as("n"))
          .select(col("event_type"), col("n"), col("grubbs_g"),
            col("outlier_event_id"))
          .orderBy("event_type")
      },
      Some("""WITH st AS (
             |  SELECT event_type, nd, sy / nd AS mu,
             |    sqrt((syy - sy * sy / nd) / (nd - 1)) AS sd
             |  FROM (
             |    SELECT event_type, cast(count(*) as double) AS nd,
             |      cast(sum(cast(value as decimal(18,2))) as double) AS sy,
             |      cast(sum(cast(cast(value as decimal(18,2)) * cast(value as decimal(18,2)) as decimal(38,4))) as double) AS syy
             |    FROM events GROUP BY event_type)),
             |dev AS (
             |  SELECT e.event_type, e.event_id, st.nd,
             |    abs(e.value - st.mu) / st.sd AS g
             |  FROM events e JOIN st USING (event_type)),
             |gm AS (SELECT event_type, max(g) AS g_max FROM dev GROUP BY event_type)
             |SELECT d.event_type, cast(max(d.nd) as bigint) AS n,
             |  round(max(gm.g_max), 4) AS grubbs_g,
             |  min(d.event_id) AS outlier_event_id
             |FROM dev d JOIN gm ON gm.event_type = d.event_type AND d.g = gm.g_max
             |GROUP BY d.event_type ORDER BY d.event_type""".stripMargin),
    ),
    // PARTIAL correlation (value ~ hour, CONTROLLING weekday): r_xy·z
    // = (r_xy − r_xz·r_yz)/√((1−r_xz²)(1−r_yz²)) — the statistic that
    // answers "is the hour effect real or just the weekday mix?",
    // completing the corr family (corr → grouped → matrix → partial).
    // All three pairwise r's from the agg_corr exact-moment closed
    // form via ONE shared corrTxt text; the partial combination is one
    // more shared expression ⇒ r4 outputs identical.
    OpSpec(
      "agg_partial_corr",
      (s, d) => {
        val sums = T.events(s, d).select(col("event_type"),
            hour(col("ts")).cast("bigint").as("x1"),
            weekday(col("ts")).cast("bigint").as("x2"),
            col("value"))
          .groupBy("event_type").agg(
            count(lit(1)).cast("double").as("nd"),
            sum(col("x1")).cast("double").as("s1"),
            sum(col("x2")).cast("double").as("s2"),
            sum(col("x1") * col("x1")).cast("double").as("s11"),
            sum(col("x2") * col("x2")).cast("double").as("s22"),
            sum(col("x1") * col("x2")).cast("double").as("s12"),
            dsum(col("value")).as("sy"),
            dsumsq(col("value")).as("syy"),
            sum((col("x1") * col("value").cast("decimal(18,2)"))
              .cast("decimal(38,4)")).cast("double").as("s1y"),
            sum((col("x2") * col("value").cast("decimal(18,2)"))
              .cast("decimal(38,4)")).cast("double").as("s2y"))
        sums.selectExpr("event_type", "cast(nd as bigint) AS n",
            s"${corrTxt("s1y", "s1", "sy", "s11", "syy")} AS r_vh",
            s"${corrTxt("s2y", "s2", "sy", "s22", "syy")} AS r_vw",
            s"${corrTxt("s12", "s1", "s2", "s11", "s22")} AS r_hw")
          .selectExpr("event_type", "n",
            "round(r_vh, 4) AS r_value_hour",
            "round(r_vw, 4) AS r_value_wday",
            "round(r_hw, 4) AS r_hour_wday",
            "round((r_vh - r_vw * r_hw) / sqrt((1.0 - r_vw * r_vw) * (1.0 - r_hw * r_hw)), 4) AS partial_value_hour")
          .orderBy("event_type")
      },
      Some(s"""WITH x AS (
              |  SELECT event_type, cast(hour(ts) as bigint) AS x1,
              |    cast(isodow(ts) - 1 as bigint) AS x2, value
              |  FROM events),
              |m AS (
              |  SELECT event_type, cast(count(*) as double) AS nd,
              |    cast(sum(x1) as double) AS s1, cast(sum(x2) as double) AS s2,
              |    cast(sum(x1 * x1) as double) AS s11,
              |    cast(sum(x2 * x2) as double) AS s22,
              |    cast(sum(x1 * x2) as double) AS s12,
              |    cast(sum(cast(value as decimal(18,2))) as double) AS sy,
              |    cast(sum(cast(cast(value as decimal(18,2)) * cast(value as decimal(18,2)) as decimal(38,4))) as double) AS syy,
              |    cast(sum(cast(x1 * cast(value as decimal(18,2)) as decimal(38,4))) as double) AS s1y,
              |    cast(sum(cast(x2 * cast(value as decimal(18,2)) as decimal(38,4))) as double) AS s2y
              |  FROM x GROUP BY event_type),
              |r AS (
              |  SELECT event_type, cast(nd as bigint) AS n,
              |    ${corrTxt("s1y", "s1", "sy", "s11", "syy")} AS r_vh,
              |    ${corrTxt("s2y", "s2", "sy", "s22", "syy")} AS r_vw,
              |    ${corrTxt("s12", "s1", "s2", "s11", "s22")} AS r_hw
              |  FROM m)
              |SELECT event_type, n,
              |  round(r_vh, 4) AS r_value_hour,
              |  round(r_vw, 4) AS r_value_wday,
              |  round(r_hw, 4) AS r_hour_wday,
              |  round((r_vh - r_vw * r_hw) / sqrt((1.0 - r_vw * r_vw) * (1.0 - r_hw * r_hw)), 4) AS partial_value_hour
              |FROM r ORDER BY event_type""".stripMargin),
    ),
    // SQL twin: the `ols_fit` TVF calls Aggs.olsNormalEqOf.
    OpSpec(
      "agg_ols_tvf",
      (s, d) => {
        T.events(s, d).select(col("event_type"),
            hour(col("ts")).cast("bigint").as("x1"),
            weekday(col("ts")).cast("bigint").as("x2"),
            col("value"))
          .createOrReplaceTempView("tvf_events_ols")
        s.sql("""SELECT * FROM ols_fit('tvf_events_ols', 'event_type', 'x1', 'x2', 'value')
                |ORDER BY event_type""".stripMargin)
      },
      olsOracle,
    ),
  )

  /** The shared DuckDB oracle for agg_ols_normal_eq / agg_ols_tvf. */
  private lazy val olsOracle: Option[String] =
    Some(s"""WITH x AS (
            |  SELECT event_type, cast(hour(ts) as bigint) AS x1,
              |    cast(isodow(ts) - 1 as bigint) AS x2, value
              |  FROM events),
              |m AS (
              |  SELECT event_type, cast(count(*) as double) AS n,
              |    cast(sum(x1) as double) AS s1, cast(sum(x2) as double) AS s2,
              |    cast(sum(x1 * x1) as double) AS s11,
              |    cast(sum(x2 * x2) as double) AS s22,
              |    cast(sum(x1 * x2) as double) AS s12,
              |    cast(sum(cast(value as decimal(18,2))) as double) AS sy,
              |    cast(sum(cast(cast(value as decimal(18,2)) * cast(value as decimal(18,2)) as decimal(38,4))) as double) AS syy,
              |    cast(sum(cast(x1 * cast(value as decimal(18,2)) as decimal(38,4))) as double) AS s1y,
              |    cast(sum(cast(x2 * cast(value as decimal(18,2)) as decimal(38,4))) as double) AS s2y
              |  FROM x GROUP BY event_type),
              |dets AS (
              |  SELECT event_type, n AS nd, sy, syy, s1y, s2y,
              |    ${det3("n", "s1", "s2", "s1", "s11", "s12", "s2", "s12", "s22")} AS det,
              |    ${det3("sy", "s1", "s2", "s1y", "s11", "s12", "s2y", "s12", "s22")} AS det0,
              |    ${det3("n", "sy", "s2", "s1", "s1y", "s12", "s2", "s2y", "s22")} AS det1,
              |    ${det3("n", "s1", "sy", "s1", "s11", "s1y", "s2", "s12", "s2y")} AS det2
              |  FROM m)
              |SELECT event_type, cast(nd as bigint) AS n,
              |  det0 / det AS b0, det1 / det AS b1, det2 / det AS b2,
              |  1.0 - (syy - (det0 / det * sy + det1 / det * s1y + det2 / det * s2y)) / (syy - sy * sy / nd) AS r2
              |FROM dets ORDER BY event_type""".stripMargin)

  // 2-D histogram (the heatmap feed): hour-of-day × 50-unit value
  // band, count + exact value mass per cell. One hash agg on two
  // small int keys — the density-plot query at any scale.
  private lazy val histogramOps: Seq[OpSpec] = Seq(
    OpSpec(
      "agg_histogram2d",
      (s, d) => T.events(s, d)
        .select(hour(col("ts")).cast("bigint").as("hour_of_day"),
          floor(col("value") / lit(50.0)).cast("bigint").as("value_band"),
          col("value"))
        .groupBy("hour_of_day", "value_band")
        .agg(count(lit(1)).as("n"),
          dsum(col("value")).as("sum_value"))
        .orderBy("hour_of_day", "value_band"),
      Some("""SELECT cast(hour(ts) as bigint) AS hour_of_day,
             |  cast(floor(value / 50.0) as bigint) AS value_band,
             |  count(*) AS n,
             |  cast(sum(cast(value as decimal(18,2))) as double) AS sum_value
             |FROM events GROUP BY 1, 2 ORDER BY hour_of_day, value_band""".stripMargin),
    ),
  )

  /** Pearson r from exact moments as ONE formula text both engines
    * (the agg_corr closed form): r(a,b) given Σab, Σa, Σb, Σa², Σb²
    * and the group count `nd`. */
  private def corrTxt(sab: String, sa: String, sb: String, saa: String,
                      sbb: String): String =
    s"((nd * $sab - $sa * $sb) / (sqrt(nd * $saa - $sa * $sa) * sqrt(nd * $sbb - $sb * $sb)))"

  /** 3×3 determinant as ONE formula text parsed by BOTH engines (the
    * BPE stepSql device): row-major a b c / d e f / g h i. */
  private def det3(a: String, b: String, c: String, d: String, e: String,
                   f: String, g: String, h: String, i: String): String =
    s"($a * ($e * $i - $f * $h) - $b * ($d * $i - $f * $g) + $c * ($d * $h - $e * $g))"

  /** y ~ b0 + b1·x1 + b2·x2 per group by Cramer on the 3×3 normal
    * equations; x columns must be integral (bigint), y a 2-dp value.
    * Moments are exact before the double solve — see agg_ols_normal_eq.
    *
    * PRECONDITION: the per-group design must be non-singular (both
    * regressors vary within every group and are not collinear). A
    * singular group has det = 0, where the two engines diverge by
    * dialect — Spark emits IEEE ±Infinity/NaN for the x/0 doubles,
    * DuckDB emits NULL — so such a group would hash-fail rather than
    * silently agree; filter degenerate groups upstream. */
  def olsNormalEqOf(df: org.apache.spark.sql.DataFrame, byCol: String,
                    x1Col: String, x2Col: String,
                    yCol: String): org.apache.spark.sql.DataFrame = {
    val sums = df.groupBy(byCol).agg(
      count(lit(1)).cast("double").as("n"),
      sum(col(x1Col)).cast("double").as("s1"),
      sum(col(x2Col)).cast("double").as("s2"),
      sum(col(x1Col) * col(x1Col)).cast("double").as("s11"),
      sum(col(x2Col) * col(x2Col)).cast("double").as("s22"),
      sum(col(x1Col) * col(x2Col)).cast("double").as("s12"),
      dsum(col(yCol)).as("sy"),
      dsumsq(col(yCol)).as("syy"),
      sum((col(x1Col) * col(yCol).cast("decimal(18,2)"))
        .cast("decimal(38,4)")).cast("double").as("s1y"),
      sum((col(x2Col) * col(yCol).cast("decimal(18,2)"))
        .cast("decimal(38,4)")).cast("double").as("s2y"))
    sums.selectExpr(
        byCol, "n AS nd", "sy", "syy", "s1y", "s2y",
        s"${det3("n", "s1", "s2", "s1", "s11", "s12", "s2", "s12", "s22")} AS det",
        s"${det3("sy", "s1", "s2", "s1y", "s11", "s12", "s2y", "s12", "s22")} AS det0",
        s"${det3("n", "sy", "s2", "s1", "s1y", "s12", "s2", "s2y", "s22")} AS det1",
        s"${det3("n", "s1", "sy", "s1", "s11", "s1y", "s2", "s12", "s2y")} AS det2")
      .selectExpr(byCol, "cast(nd as bigint) AS n",
        "det0 / det AS b0", "det1 / det AS b1", "det2 / det AS b2",
        // R² from the same exact moments: SSE = syy − (b0·sy + b1·s1y
        // + b2·s2y), SST = syy − sy²/n — one shared expression text
        "1.0 - (syy - (det0 / det * sy + det1 / det * s1y + det2 / det * s2y)) / (syy - sy * sy / nd) AS r2")
      .orderBy(byCol)
  }
}
