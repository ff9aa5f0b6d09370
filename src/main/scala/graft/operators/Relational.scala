package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.data.Interleaved

/** Relational operator coverage (SURVEY.md §2.4-§2.7): joins in every
  * flavor the north rule needs (broadcast/shuffle/semi/anti), windows,
  * sorts+limits, set ops, rollup, higher-order array functions, and
  * time-bucketed aggregation. All plans are declarative — Catalyst picks
  * partial aggregation, pushes filters/projections into the parquet scan,
  * and AQE re-plans shuffles at runtime.
  */
object Relational {

  /** Filter + projection; predicate and column pruning reach the scan
    * (`PushedFilters`/`ReadSchema` in explain).
    */
  def filterProject(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir)
      .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"),
        col("l_extendedprice"))
      .filter(col("l_quantity") > 45 && col("l_extendedprice") > 40000)
      .orderBy(col("l_orderkey"), col("l_linenumber"))

  /** Broadcast hash join: customer is a dimension → broadcast, no shuffle
    * of the orders side.
    */
  def joinBroadcast(s: SparkSession, dir: String): DataFrame =
    Tables.orders(s, dir)
      .join(broadcast(Tables.customer(s, dir)),
        col("o_custkey") === col("c_custkey"))
      .groupBy(col("c_mktsegment"))
      .agg(
        round(sum(col("o_totalprice")), 4).as("revenue"),
        count(lit(1)).as("n_orders"))
      .orderBy(col("c_mktsegment"))

  /** Fact-to-fact shuffle join (sort-merge/shuffled-hash at scale) plus a
    * broadcast dim, then aggregation — the canonical star-join shape.
    */
  def joinShuffle(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir)
      // shuffled-hash: still the fact-to-fact shuffle join the query
      // demonstrates, but the per-partition orders build is linear
      // where sort-merge pays two sorts (§3.1)
      .join(Tables.orders(s, dir).hint("shuffle_hash"),
        col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(Tables.customer(s, dir)),
        col("o_custkey") === col("c_custkey"))
      .groupBy(col("c_mktsegment"), col("o_orderstatus"))
      .agg(
        round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 4)
          .as("revenue"),
        count(lit(1)).as("n"))
      .orderBy(col("c_mktsegment"), col("o_orderstatus"))

  /** Left-semi join — EXISTS. */
  def semiJoin(s: SparkSession, dir: String): DataFrame = {
    val bigOrders = Tables.orders(s, dir).filter(col("o_totalprice") > 400000)
      .select(col("o_custkey"))
    Tables.customer(s, dir)
      .join(bigOrders, col("c_custkey") === col("o_custkey"), "left_semi")
      .select(col("c_custkey"), col("c_name"))
      .orderBy(col("c_custkey"))
  }

  /** Left-anti join — NOT EXISTS. */
  def antiJoin(s: SparkSession, dir: String): DataFrame = {
    val urgent = Tables.orders(s, dir)
      .filter(col("o_orderpriority") === "1-URGENT").select(col("o_custkey"))
    Tables.customer(s, dir)
      .join(urgent, col("c_custkey") === col("o_custkey"), "left_anti")
      .select(col("c_custkey"), col("c_mktsegment"))
      .orderBy(col("c_custkey"))
  }

  /** Window functions: top-3 orders per customer by totalprice, plus a
    * running per-customer order rank — one shuffle on the partition key.
    */
  def windowTopK(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
    Tables.orders(s, dir)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 3)
      .select(col("o_custkey"), col("o_orderkey"),
        round(col("o_totalprice"), 4).as("price"), col("rn"))
      .orderBy(col("o_custkey"), col("rn"))
  }

  /** Global sort + limit (TakeOrderedAndProject — no full sort at scale). */
  def sortLimit(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir)
      .select(col("l_orderkey"), col("l_linenumber"),
        round(col("l_extendedprice"), 4).as("price"))
      .orderBy(col("price").desc, col("l_orderkey"), col("l_linenumber"))
      .limit(10)

  /** Distinct + exact and approximate distinct counts. */
  def distinctAgg(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir)
      .groupBy(col("l_returnflag"))
      .agg(
        countDistinct(col("l_partkey")).as("parts"),
        countDistinct(col("l_suppkey")).as("supps"),
        count(lit(1)).as("n"))
      .orderBy(col("l_returnflag"))

  /** Set ops: customers with open orders but no finished orders (EXCEPT),
    * and with both (INTERSECT), via union of the two tagged results.
    */
  def setOps(s: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(s, dir)
    val open = o.filter(col("o_orderstatus") === "O").select(col("o_custkey"))
    val fin = o.filter(col("o_orderstatus") === "F").select(col("o_custkey"))
    val exc = open.except(fin).select(col("o_custkey"), lit("only_open").as("tag"))
    val inter = open.intersect(fin)
      .select(col("o_custkey"), lit("both").as("tag"))
    exc.unionAll(inter).orderBy(col("tag"), col("o_custkey"))
  }

  /** Rollup — hierarchical grouping sets in one pass. */
  def rollupAgg(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir)
      .rollup(col("l_returnflag"), col("l_linestatus"))
      .agg(count(lit(1)).as("n"), round(sum(col("l_quantity")), 4).as("qty"))
      .orderBy(col("l_returnflag").asc_nulls_first,
        col("l_linestatus").asc_nulls_first)

  /** Higher-order functions over the spans array: exists / filter+size /
    * aggregate (fold) — per-doc media profiling without exploding.
    */
  def hofSpans(s: SparkSession, dir: String): DataFrame = {
    val docs = Interleaved.docs(Tables.documents(s, dir))
    docs.select(
      col("doc_id"),
      // coalesce keeps the predicate two-valued: exists() over a Kleene
      // null (image span with null media_ref) would yield NULL, not false
      exists(col("spans"), sp =>
        sp.getField("kind") === "image" &&
          coalesce(sp.getField("media_ref"), lit("")).endsWith("7"))
        .as("has_ref7"),
      size(filter(col("spans"), sp => sp.getField("kind") === "image"))
        .as("n_images"),
      aggregate(col("spans"), lit(0),
        (acc, sp) => acc + when(sp.getField("text").isNotNull,
          length(sp.getField("text"))).otherwise(0)).as("text_chars"))
      .orderBy(col("doc_id"))
  }

  /** CUBE — all grouping-set combinations with grouping_id for
    * disambiguation (SURVEY §2.5 grouping-sets row).
    */
  def cubeAgg(s: SparkSession, dir: String): DataFrame =
    Tables.orders(s, dir)
      .cube(col("o_orderstatus"), col("o_orderpriority"))
      .agg(count(lit(1)).as("n"),
        round(sum(col("o_totalprice")), 4).as("total"),
        grouping_id().cast("int").as("gid"))
      .orderBy(col("o_orderstatus").asc_nulls_first,
        col("o_orderpriority").asc_nulls_first)

  /** SQL entry point with a correlated EXISTS subquery — the spark.sql
    * surface over registered temp views (the reference's library-entry
    * analogue, §3.2).
    */
  def sqlExists(s: SparkSession, dir: String): DataFrame = {
    Tables.customer(s, dir).createOrReplaceTempView("customer_v")
    Tables.orders(s, dir).createOrReplaceTempView("orders_v")
    s.sql(
      """SELECT c_custkey, c_mktsegment FROM customer_v c
        |WHERE EXISTS (SELECT 1 FROM orders_v o
        |  WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 450000)
        |ORDER BY c_custkey""".stripMargin)
  }

  /** UNION DISTINCT across two slices (completes the §2.6 set-op trio
    * with q10's EXCEPT/INTERSECT).
    */
  def unionDistinct(s: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(s, dir)
    o.filter(col("o_totalprice") > 450000).select(col("o_custkey"))
      .union(o.filter(col("o_orderpriority") === "1-URGENT")
        .select(col("o_custkey")))
      .distinct()
      .orderBy(col("o_custkey"))
  }

  /** JSON parse with parse-error capture (reference P1/P4: parse failure
    * becomes an invalid row with a message, never an abort —
    * YamlSchemaValidator.java:100-103). Corruption injected on
    * event_id%97==0 rows; from_json is PERMISSIVE so malformed input
    * degrades to null and surfaces as an error row.
    */
  def parseJsonProps(s: SparkSession, dir: String): DataFrame = {
    val j = when(col("event_id") % 97 === 0,
      regexp_replace(col("props"), "\\}", "")).otherwise(col("props"))
    val k = from_json(j,
      org.apache.spark.sql.types.StructType.fromDDL("k INT")).getField("k")
    Tables.events(s, dir).select(
      col("event_id"),
      k.as("k"),
      k.isNotNull.as("parse_ok"),
      when(k.isNull, lit("parse error: malformed JSON document"))
        .otherwise(lit(null).cast("string")).as("error"))
      .orderBy(col("event_id"))
  }

  /** As-of join: enrich every non-error event with the SAME user's most
    * recent error value at or before the event's timestamp — the
    * point-in-time-correct dimension lookup (rates tables, feature
    * snapshots) that plain equi-joins get wrong and Spark has no native
    * operator for.
    *
    * Expressed by composition rather than a custom SparkPlan: union the
    * probe and snapshot sides, then carry the snapshot value forward
    * with `last(ignoreNulls)` over a per-user event-time window. ONE
    * shuffle on the key, work linear in rows — where the naive
    * `l.ts >= r.ts` theta-join is quadratic per user (a non-equi
    * condition forces nested-loop within the key group) and a DENSE
    * per-event subquery is worse. Snapshots are pre-aggregated to one
    * row per (user, ts), so the at-or-before tie (`side` orders the
    * snapshot first at equal ts) is deterministic. At 100 TB the window
    * partitions by user — the usual hot-key story applies (salt by time
    * range if one user dominates); nothing wider than the snapshot
    * value rides the shuffle beyond the probe row itself.
    */
  def asofJoin(s: SparkSession, dir: String): DataFrame =
    asofJoinOf(Tables.events(s, dir))

  /** [[asofJoin]] over any `(event_id, user_id, ts, event_type,
    * value)` frame.
    */
  def asofJoinOf(e: DataFrame): DataFrame = {
    val snaps = e.filter(col("event_type") === "error")
      .groupBy(col("user_id"), col("ts"))
      .agg(max(col("value")).as("ref_value"))
    val probes = e.filter(col("event_type") =!= "error")
      .select(col("event_id"), col("user_id"), col("ts"),
        col("event_type"), col("value"))
    val u = probes
      .select(col("event_id"), col("user_id"), col("ts"),
        col("event_type"), col("value"),
        lit(null).cast("double").as("ref_value"), lit(1).as("side"))
      .unionAll(snaps.select(lit(null).cast("long").as("event_id"),
        col("user_id"), col("ts"),
        lit(null).cast("string").as("event_type"),
        lit(null).cast("double").as("value"), col("ref_value"),
        lit(0).as("side")))
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("side"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // carry the last snapshot ROW (a struct — non-null even when the
    // snapshot's value is null), not the last non-null value: ASOF
    // semantics match the most recent snapshot row, and skipping
    // null-valued snapshots would resurrect an older value
    u.withColumn("asof", last(
        when(col("side") === 0, struct(col("ref_value"))),
        ignoreNulls = true).over(w))
      .filter(col("side") === 1)
      .select(col("event_id"), col("user_id"), col("event_type"),
        col("value"), col("asof.ref_value").as("ref_value"))
      .orderBy(col("event_id"))
  }

  /** Session gap for [[sessionize]] in microseconds (6 h at fixture
    * event density; production tunes per product). Microseconds — not
    * truncated seconds — so the break decision is the same exact
    * integer comparison in any engine.
    */
  val SessionGapUs = 21600000000L

  /** Gap-based sessionization: a user's events split into sessions
    * wherever consecutive events are MORE than [[SessionGapUs]] apart
    * (the gap bound is inclusive, matching `session_window`);
    * per-session stats follow. The classic two-window form — a lag
    * break flag, then a running sum of breaks — both windows keyed on
    * user_id, so this is ONE hash shuffle and linear per-user work;
    * the per-user event list never sits in memory (WindowExec streams
    * the frame). Hot users are the standard skew story (AQE/salting by
    * day). Oracle query `q21_sessions` gates it.
    */
  def sessionize(s: SparkSession, dir: String): DataFrame = {
    val o = Tables.events(s, dir).select(col("user_id"), col("event_id"),
      col("value"),
      unix_micros(col("ts").cast("timestamp")).as("us"))
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("us"), col("event_id"))
    // > : an exactly-gap-sized interval MERGES — the inclusive merge
    // bound of Spark's `session_window` (an event at exactly prevEnd
    // extends the session); `Oracles.sessionize` breaks on the same `>`
    val withBreak = o.withColumn("brk",
      when(lag(col("us"), 1).over(w).isNull ||
        col("us") - lag(col("us"), 1).over(w) > SessionGapUs, 1)
        .otherwise(0))
    withBreak
      .withColumn("session_id", sum(col("brk")).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("user_id"), col("session_id").cast("int")
        .as("session_id"))
      .agg(count(lit(1)).cast("int").as("n_events"),
        (max(col("us")) - min(col("us"))).as("duration_us"),
        round(sum(col("value")), 4).as("total_value"))
      .orderBy(col("user_id"), col("session_id"))
  }

  /** 2024-01-01T00:00:00 UTC in epoch microseconds — the interval
    * table's origin (the events fixture starts there).
    */
  val RangeBaseUs = 1704067200000000L
  val HourUs = 3600000000L

  /** Deterministic maintenance-window intervals: window w starts at
    * base + 37w hours and lasts (w%7 + 1) hours.
    */
  def maintenanceWindows(s: SparkSession): DataFrame =
    s.range(50).select(col("id").cast("int").as("window_id"),
      (lit(RangeBaseUs) + col("id") * lit(37L * HourUs)).as("ws"),
      (lit(RangeBaseUs) + (col("id") * 37L + col("id") % 7L + 1L) *
        lit(HourUs)).as("we"))

  /** Range join: events falling inside time intervals, aggregated per
    * interval. The naive `ts >= start AND ts < end` join has no equi
    * key, so Spark plans a nested loop — quadratic. Scale form:
    * bucketize time (1 h grain), explode each interval into the
    * buckets it covers (bounded: grain is chosen near the median
    * interval length, so the fan-out is O(1) per interval — ≤ 8 here),
    * equi-join events on their bucket, then apply the exact range as a
    * residual filter. All µs-integer arithmetic, so the oracle's
    * engine computes identical keys.
    */
  def rangeJoin(s: SparkSession, dir: String): DataFrame = {
    val w = maintenanceWindows(s)
    // hour-aligned intervals: covered buckets follow from the id with
    // exact integer arithmetic (Spark `/` on longs is DOUBLE division)
    val wb = w.select(col("window_id"), col("ws"), col("we"),
      explode(sequence(col("window_id").cast("long") * 37L,
        col("window_id").cast("long") * 37L + col("window_id") % 7L))
        .as("bucket"))
    val e = Tables.events(s, dir).select(col("event_id"), col("value"),
      unix_micros(col("ts").cast("timestamp")).as("us"))
      .withColumn("bucket",
        floor((col("us") - lit(RangeBaseUs)) / lit(HourUs)))
    val matched = e.join(broadcast(wb), Seq("bucket"))
      .filter(col("us") >= col("ws") && col("us") < col("we"))
      .groupBy(col("window_id"))
      .agg(count(lit(1)).cast("int").as("n_events"),
        round(sum(col("value")), 4).as("total_value"))
    w.select(col("window_id")).join(matched, Seq("window_id"), "left")
      .select(col("window_id"),
        coalesce(col("n_events"), lit(0)).as("n_events"),
        coalesce(col("total_value"), lit(0.0)).as("total_value"))
      .orderBy(col("window_id"))
  }

  /** Attribution window for [[attribution]] in microseconds (6 h — wide
    * enough for real matches at fixture event density). Integer µs so
    * the match decision is the same exact comparison in any engine.
    */
  val AttribWindowUs = 6L * HourUs

  /** Batch attribution join — each click matched to the same user's
    * impressions in the preceding [[AttribWindowUs]] window (oracle
    * query `q24_attribution` gates it), and the interval-join shape ad
    * pipelines run at 100 TB. The naive `click ∈ [imp, imp+W]` predicate is
    * non-equi — Spark plans a per-user nested loop, quadratic on hot
    * users. Scale form (the [[rangeJoin]] bucketize pattern): bucket
    * time at the window grain, explode each IMPRESSION into its two
    * covering buckets (a click ≤ W after it lies in the impression's
    * bucket or the next — exactly 2, no data-dependent fan-out), equi-
    * join on (user, bucket), then the exact window as a residual
    * filter. A (imp, click) pair can match in at most one bucket (the
    * click's bucket is unique), so no dedup pass is needed. All µs
    * integers; impressions = view events, clicks = click events.
    */
  def attribution(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(s, dir)
    val imp = e.filter(col("event_type") === "view")
      .select(col("user_id"), col("event_id").as("imp_id"),
        unix_micros(col("ts").cast("timestamp")).as("imp_us"))
    val clk = e.filter(col("event_type") === "click")
      .select(col("user_id"), col("event_id").as("click_id"),
        unix_micros(col("ts").cast("timestamp")).as("click_us"))
    val impB = imp.withColumn("b0",
        floor(col("imp_us") / lit(AttribWindowUs)))
      .select(col("user_id"), col("imp_id"), col("imp_us"),
        explode(array(col("b0"), col("b0") + 1)).as("bucket"))
    val clkB = clk.withColumn("bucket",
      floor(col("click_us") / lit(AttribWindowUs)))
    impB.join(clkB, Seq("user_id", "bucket"))
      .filter(col("click_us") >= col("imp_us") &&
        col("click_us") <= col("imp_us") + lit(AttribWindowUs))
      .select(col("user_id"), col("imp_id"), col("click_id"),
        col("imp_us"), col("click_us"))
      .orderBy(col("user_id"), col("imp_id"), col("click_id"))
  }

  /** Pivot: per-user event-type counts as columns. The value list is
    * EXPLICIT — `pivot(col)` without one runs a driver-side distinct
    * job over the full table first and caps at
    * `spark.sql.pivotMaxValues`; with the list the pivot lowers to
    * plain conditional aggregation (one shuffle, map-side partials).
    */
  def pivotEvents(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .groupBy(col("user_id"))
      .pivot("event_type",
        Seq("click", "error", "purchase", "signup", "view"))
      .agg(count(lit(1)))
      .na.fill(0L)
      .orderBy(col("user_id"))

  /** Time-bucketed aggregation on the events table: hourly tumbling
    * windows per event type.
    */
  def eventsHourly(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .groupBy(
        date_format(date_trunc("hour", col("ts")), "yyyy-MM-dd HH:00:00")
          .as("hour"),
        col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum(col("value")), 4).as("total"))
      .orderBy(col("hour"), col("event_type"))
}
