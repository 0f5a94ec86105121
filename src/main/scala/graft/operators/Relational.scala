package graft.operators

import java.time.LocalDateTime

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.Tables

/** Relational/star-join surface over the TPC-H-ish harness tables —
  * exercises the join strategies a 100 TB deployment depends on: broadcast
  * hash joins for dimensions, shuffle hash/sort-merge for fact-fact, and
  * windowed top-k per group.
  *
  * Money math is done in DECIMAL (exact, engine-independent) and cast to
  * double only at the output boundary, the same discipline as q1_pricing.
  */
object Relational {

  private def dec(c: org.apache.spark.sql.Column) = c.cast("decimal(18,2)")

  /** TPC-H Q3 shape: unshipped-revenue top-10 for one market segment.
    * Dimension side (filtered customer) is broadcast — the lineitem⋈orders
    * fact join shuffles on orderkey only. */
  def shippingPriority(
      spark: SparkSession, dir: String,
      segment: String = "BUILDING",
      cutoff: LocalDateTime = LocalDateTime.parse("1997-06-15T00:00:00")): DataFrame = {
    val cust = Tables.customer(spark, dir)
      .filter(col("c_mktsegment") === segment)
      .select(col("c_custkey"))
    val ord = Tables.orders(spark, dir)
      .filter(col("o_orderdate") < lit(cutoff))
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderdate"), col("o_orderpriority"))
    val li = Tables.lineitem(spark, dir)
      .filter(col("l_shipdate") > lit(cutoff))
      .select(col("l_orderkey"), col("l_extendedprice"), col("l_discount"))
    li.join(ord, col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
      .groupBy(col("l_orderkey"), col("o_orderdate"), col("o_orderpriority"))
      .agg(sum((dec(col("l_extendedprice")) * (lit(1) - dec(col("l_discount"))))
        .cast("decimal(28,4)")).cast("double").as("revenue"))
      .orderBy(col("revenue").desc, col("l_orderkey"))
      .limit(10)
  }

  /** TPC-H Q5 shape: local-supplier revenue per nation in one region — a
    * six-table star join; region→nation→(customer,supplier) dimensions all
    * broadcast, facts shuffle once on orderkey and once on (suppkey). */
  def localSupplierVolume(
      spark: SparkSession, dir: String,
      region: String = "ASIA",
      from: LocalDateTime = LocalDateTime.parse("1996-01-01T00:00:00"),
      until: LocalDateTime = LocalDateTime.parse("1998-01-01T00:00:00")): DataFrame = {
    val nations = Tables.nation(spark, dir)
      .join(broadcast(Tables.region(spark, dir).filter(col("r_name") === region)),
        col("n_regionkey") === col("r_regionkey"))
      .select(col("n_nationkey"), col("n_name"))
    val cust = Tables.customer(spark, dir).select(col("c_custkey"), col("c_nationkey"))
    val supp = Tables.supplier(spark, dir).select(col("s_suppkey"), col("s_nationkey"))
    val ord = Tables.orders(spark, dir)
      .filter(col("o_orderdate") >= lit(from) && col("o_orderdate") < lit(until))
      .select(col("o_orderkey"), col("o_custkey"))
    val li = Tables.lineitem(spark, dir)
      .select(col("l_orderkey"), col("l_suppkey"), col("l_extendedprice"), col("l_discount"))
    li.join(ord, col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
      .join(broadcast(supp),
        col("l_suppkey") === col("s_suppkey") && col("c_nationkey") === col("s_nationkey"))
      .join(broadcast(nations), col("s_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name"))
      .agg(sum((dec(col("l_extendedprice")) * (lit(1) - dec(col("l_discount"))))
        .cast("decimal(28,4)")).cast("double").as("revenue"))
      .orderBy(col("revenue").desc, col("n_name"))
  }

/** TPC-H Q10 shape — returned-item revenue per customer: which
    * customers returned the most merchandise in a quarter (reference
    * relevance: the harness's "who is churning and why" read over the
    * same star schema). lineitem filtered to returnflag = 'R' and orders
    * to the quarter SHUFFLE once on orderkey; customer and nation are
    * broadcast dimensions; top-K by exact DECIMAL revenue with the
    * custkey tiebreak. */
  def returnedItemRevenue(
      spark: SparkSession, dir: String,
      from: LocalDateTime = LocalDateTime.parse("1996-10-01T00:00:00"),
      until: LocalDateTime = LocalDateTime.parse("1997-01-01T00:00:00"),
      topK: Int = 20): DataFrame = {
    require(topK >= 1, s"need topK >= 1: $topK")
    val ord = Tables.orders(spark, dir)
      .filter(col("o_orderdate") >= lit(from) && col("o_orderdate") < lit(until))
      .select(col("o_orderkey"), col("o_custkey"))
    val li = Tables.lineitem(spark, dir)
      .filter(col("l_returnflag") === "R")
      .select(col("l_orderkey"), col("l_extendedprice"), col("l_discount"))
    val cust = Tables.customer(spark, dir)
      .select(col("c_custkey"), col("c_name"), col("c_acctbal"), col("c_nationkey"))
    val nat = Tables.nation(spark, dir)
      .select(col("n_nationkey"), col("n_name"))
    li.join(ord, col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
      .join(broadcast(nat), col("c_nationkey") === col("n_nationkey"))
      .groupBy(col("c_custkey"), col("c_name"), col("c_acctbal"), col("n_name"))
      .agg(sum((dec(col("l_extendedprice")) * (lit(1) - dec(col("l_discount"))))
        .cast("decimal(28,4)")).cast("double").as("revenue"))
      .orderBy(col("revenue").desc, col("c_custkey"))
      .limit(topK)
  }

  /** National market share (the TPC-H Q8 shape): among parts of `ptype`
    * bought by customers in `region`, the fraction of sales volume
    * supplied by `nation`, per order year — the five-dimension star join
    * whose plan quality (join order, broadcast placement) separates a
    * tuned engine from a naive one.
    *
    * Exactness: volumes sum in DECIMAL(28,4) (the [[localSupplierVolume]]
    * rule — exact, order-independent), the conditional national slice uses
    * an explicit decimal 0 ELSE so empty years are 0 not NULL, and the
    * share is ONE division of the two exactly-summed doubles.
    *
    * Scale: every dimension (part slice, region-filtered customers,
    * supplier→nation map) broadcasts; the lineitem fact is scanned once,
    * filtered map-side by the part broadcast BEFORE the only shuffle (the
    * orders join on orderkey), and the final aggregate reduces to
    * |years| rows. Catalyst pushes p_type/r_name into the dim scans. */
  def marketShare(spark: SparkSession, dir: String,
      region: String = "AMERICA", nation: String = "NATION_1",
      ptype: String = "STANDARD"): DataFrame = {
    val nations = Tables.nation(spark, dir)
    val regionNationKeys = nations
      .join(broadcast(Tables.region(spark, dir)
        .filter(col("r_name") === region)),
        col("n_regionkey") === col("r_regionkey"))
      .select(col("n_nationkey"))
    val cust = Tables.customer(spark, dir)
      .join(broadcast(regionNationKeys),
        col("c_nationkey") === col("n_nationkey"))
      .select(col("c_custkey"))
    val supp = Tables.supplier(spark, dir)
      .join(broadcast(nations.select(col("n_nationkey"), col("n_name"))),
        col("s_nationkey") === col("n_nationkey"))
      .select(col("s_suppkey"), col("n_name"))
    val parts = Tables.part(spark, dir)
      .filter(col("p_type") === ptype).select(col("p_partkey"))
    val ord = Tables.orders(spark, dir)
      .select(col("o_orderkey"), col("o_custkey"),
        year(col("o_orderdate")).cast("long").as("o_year"))
    val vol = (dec(col("l_extendedprice")) * (lit(1) - dec(col("l_discount"))))
      .cast("decimal(28,4)")
    Tables.lineitem(spark, dir)
      .select(col("l_orderkey"), col("l_partkey"), col("l_suppkey"),
        col("l_extendedprice"), col("l_discount"))
      .join(broadcast(parts), col("l_partkey") === col("p_partkey"))
      .join(ord, col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
      .join(broadcast(supp), col("l_suppkey") === col("s_suppkey"))
      .groupBy(col("o_year"))
      .agg(
        sum(when(col("n_name") === nation, vol)
          .otherwise(lit(0).cast("decimal(28,4)"))).cast("double")
          .as("nation_volume"),
        sum(vol).cast("double").as("total_volume"))
      .withColumn("share", col("nation_volume") / col("total_volume"))
      .orderBy(col("o_year"))
  }

  /** Shared fixed-band value histogram of two time periods — the binned
    * sufficient statistics [[psiDrift]] and [[ksDrift]] both consume:
    * events split at UTC day `splitDay` into reference (before) and
    * current (from), values floored to `bandMicro`-wide integer bands. */
  private def driftBands(events: DataFrame, splitDay: Long,
      bandMicro: Long): DataFrame = {
    events
      .select(
        unix_micros(col("ts").cast("timestamp")).as("tus"),
        floor(col("value") * lit(1000000)).cast("long").as("v_micro"))
      .withColumn("period",
        when(expr("tus div 86400000000") < splitDay, lit(1L)).otherwise(lit(2L)))
      .withColumn("band", expr(s"v_micro div $bandMicro"))
      .groupBy(col("band"))
      .agg(sum(when(col("period") === 1, 1L).otherwise(0L)).as("c1"),
        sum(when(col("period") === 2, 1L).otherwise(0L)).as("c2"))
  }

  /** Population-stability drift report (the PSI monitor every deployed
    * model's input features run under; banded, as PSI always is): per
    * value band, the reference/current counts and a floor-log2 PSI
    * contribution — `(c2·T1 − c1·T2)·[bits(c2·T1+1) − bits(c1·T2+1)]
    * / (T1·T2)`, the [[graft.text.TextAnalysis.lmBits]] integer proxy for
    * `(p2−p1)·ln(p2/p1)` (bits is monotone, so every contribution is
    * ≥ 0 exactly like true PSI terms, zero-count bands degrade gracefully
    * where classic PSI hits ln 0, and no transcendental log can diverge
    * across engines). Sum `psi_contrib` downstream; the conventional
    * alert bands (0.1 warn / 0.25 act, in ln units) map to ~0.14 / 0.36
    * in bits.
    *
    * In-plan int64 guard: `delta_num·Δbits ≤ T1·T2·63` wraps past
    * ~3.8e8 events per period — raises loudly (the bm25 rule); at larger
    * volumes widen to DECIMAL(38) as rateTrend does.
    *
    * Scale: ONE scan, a band-keyed map-side-combined count to ≤|bands|
    * rows, totals as a 1-row broadcast — the report is metadata-sized. */
  def psiDrift(events: DataFrame, splitDay: Long = 19737L,
      bandMicro: Long = 5000000L): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(bandMicro >= 1, s"need bandMicro >= 1: $bandMicro")
    def bits(c: Column): Column = (length(bin(c)) - 1).cast("long")
    val bands = driftBands(events, splitDay, bandMicro)
    // totals via a full-frame window over the BOUNDED band table: a
    // 1-row aggregate branch would duplicate the whole band subtree in
    // the plan (two scans of events) — the contract test pins this
    val all = Window.orderBy(col("band"))
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    bands
      .withColumn("t1", sum(col("c1")).over(all))
      .withColumn("t2", sum(col("c2")).over(all))
      .withColumn("delta_num",
        when(col("t1") <= 380000000L && col("t2") <= 380000000L,
          col("c2") * col("t1") - col("c1") * col("t2"))
          .otherwise(raise_error(lit(
            "psiDrift contribution overflows int64 past ~3.8e8 events per period"))))
      .withColumn("dbits",
        bits(col("c2") * col("t1") + 1) - bits(col("c1") * col("t2") + 1))
      .select(col("band"), col("c1"), col("c2"),
        col("delta_num"), col("dbits"),
        // NULL-on-undefined: if every event fell on one side of splitDay
        // the t1·t2 denominator is 0 — ANSI would error where the oracle
        // yields NaN, so emit NULL (the bootstrapMeans convention)
        when(col("t1") > 0 && col("t2") > 0,
          (col("delta_num") * col("dbits")).cast("double")
            / (col("t1").cast("double") * col("t2").cast("double")))
          .as("psi_contrib"))
  }

  /** Banded two-sample Kolmogorov-Smirnov distance between the same two
    * periods — `D = max_band |F1(band) − F2(band)|` over the shared
    * fixed-band histogram (binned KS, the standard large-scale practice:
    * exact KS needs a global sort of both samples; banding bounds the
    * cumulative pass by |bands| and lower-bounds the true D). Integer
    * cross-multiplied: `d_num = max |cum1·n2 − cum2·n1|`, `D = d_num /
    * (n1·n2)` — one division, no float cumulative.
    *
    * Scale: the cumulative window runs over the ≤|bands| histogram (the
    * [[graft.text.TextAnalysis.vocabCoverage]] bounded-window rule),
    * never over events. */
  def ksDrift(events: DataFrame, splitDay: Long = 19737L,
      bandMicro: Long = 5000000L): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.orderBy(col("band"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // totals share the cumulative's sort (full frame over the bounded
    // band table) — see psiDrift for why not a 1-row aggregate branch
    val all = Window.orderBy(col("band"))
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    driftBands(events, splitDay, bandMicro)
      .withColumn("cum1", sum(col("c1")).over(w))
      .withColumn("cum2", sum(col("c2")).over(w))
      .withColumn("n1", sum(col("c1")).over(all))
      .withColumn("n2", sum(col("c2")).over(all))
      .groupBy(col("n1"), col("n2"))
      .agg(max(abs(col("cum1") * col("n2") - col("cum2") * col("n1")))
        .as("d_num"))
      .select(col("n1"), col("n2"), col("d_num"),
        // NULL-on-undefined when a period is empty (see psiDrift)
        when(col("n1") > 0 && col("n2") > 0,
          col("d_num").cast("double")
            / (col("n1").cast("double") * col("n2").cast("double"))).as("d"))
  }

  /** Two-variant experiment analysis (the A/B readout): split users by
    * `user_id % 2`, measure per-user conversion (≥1 `convType` event), and
    * report the 2×2 contingency cells, conversion rates, and the Pearson
    * χ² statistic (1 dof; χ² > 3.84 ≈ p < 0.05) — the decision table an
    * experimentation pipeline emits per metric.
    *
    * Exactness: cells are exact integer counts; rates are single
    * divisions; χ² is the [[graft.text.TextAnalysis.chiSquareTokens]]
    * deterministic IEEE chain (factors cast individually, identical
    * multiply/divide order in the oracle), NULL when any margin is zero
    * (the 0/0 case whose float encoding differs across engines). The
    * `a·d − b·c` int64 product is safe to ~3e9 users per variant — the
    * chiSquareTokens bound, loud-guarded the same way.
    *
    * Scale: one user-keyed aggregate (map-side combined), then a 1-row
    * conditional rollup — nothing else moves. */
  def abTest(events: DataFrame, convType: String = "purchase"): DataFrame = {
    val perUser = events.groupBy(col("user_id"))
      .agg(max(when(col("event_type") === convType, 1L).otherwise(0L))
        .as("conv"))
      .withColumn("variant", pmod(col("user_id"), lit(2)))
    perUser.groupBy()
      .agg(
        sum(when(col("variant") === 0, 1L).otherwise(0L)).as("users0"),
        sum(when(col("variant") === 1, 1L).otherwise(0L)).as("users1"),
        sum(when(col("variant") === 0, col("conv")).otherwise(0L)).as("conv0"),
        sum(when(col("variant") === 1, col("conv")).otherwise(0L)).as("conv1"))
      .withColumn("a", col("conv0"))
      .withColumn("b", col("users0") - col("conv0"))
      .withColumn("c", col("conv1"))
      .withColumn("d", col("users1") - col("conv1"))
      .withColumn("diff",
        when(col("users0") <= 3037000499L && col("users1") <= 3037000499L,
          col("a") * col("d") - col("b") * col("c"))
          .otherwise(raise_error(lit(
            "abTest contingency product overflows int64 past ~3e9 users per variant"))))
      .select(
        col("users0"), col("users1"), col("conv0"), col("conv1"),
        // NULL-on-undefined like chi2: an empty variant must not hit
        // ANSI divide-by-zero where the oracle would yield NaN
        when(col("users0") > 0,
          col("conv0").cast("double") / col("users0").cast("double"))
          .as("rate0"),
        when(col("users1") > 0,
          col("conv1").cast("double") / col("users1").cast("double"))
          .as("rate1"),
        when(col("users0") > 0 && col("users1") > 0
            && col("conv0") + col("conv1") > 0
            && col("b") + col("d") > 0,
          ((col("users0") + col("users1")).cast("double")
            * col("diff").cast("double") * col("diff").cast("double"))
            / (col("users0").cast("double") * col("users1").cast("double")
              * (col("conv0") + col("conv1")).cast("double")
              * (col("b") + col("d")).cast("double")))
          .as("chi2"))
  }

  /** Per-nation counts of customers with and without orders — the
    * production plan (SURVEY §2.3): ONE scan of each table, one left join
    * against the distinct order keys, and a conditional aggregation. The
    * earlier semi+anti formulation ([[customerOrderPresenceSemiAnti]])
    * scanned and shuffled both inputs twice for the same answer — at fact
    * scale that doubles the heaviest exchange, so the single-scan shape is
    * the default. */
  def customerOrderPresence(spark: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(spark, dir).select(col("c_custkey"), col("c_nationkey"))
    val o = Tables.orders(spark, dir).select(col("o_custkey")).distinct()
    c.join(o, col("c_custkey") === col("o_custkey"), "left_outer")
      .groupBy(col("c_nationkey"))
      .agg(
        sum(when(col("o_custkey").isNotNull, 1L).otherwise(0L)).as("with_orders"),
        sum(when(col("o_custkey").isNull, 1L).otherwise(0L)).as("without_orders"))
  }

  /** The explicit LeftSemi/LeftAnti formulation of
    * [[customerOrderPresence]], kept as the §2.3 semi/anti operator
    * exercise. The distinct key set is cached so both branches reuse one
    * scan+distinct instead of recomputing it per join. */
  def customerOrderPresenceSemiAnti(spark: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(spark, dir).select(col("c_custkey"), col("c_nationkey"))
    val o = Tables.orders(spark, dir).select(col("o_custkey")).distinct().cache()
    val semi = c.join(o, col("c_custkey") === col("o_custkey"), "left_semi")
      .groupBy(col("c_nationkey")).agg(count(lit(1)).as("with_orders"))
    val anti = c.join(o, col("c_custkey") === col("o_custkey"), "left_anti")
      .groupBy(col("c_nationkey")).agg(count(lit(1)).as("without_orders"))
    semi.join(anti, Seq("c_nationkey"), "full_outer")
      .na.fill(0L, Seq("with_orders", "without_orders"))
  }

  /** Bucketed co-located fact-fact join: both sides are first PERSISTED
    * bucketed by the join key (`bucketBy` + `sortBy` into external
    * parquet tables at `scratch`, catalog entries in the session's
    * in-memory catalog), then joined — the physical plan contains NO
    * exchange on the join keys, because both scans already satisfy the
    * join's clustering requirement (PlanContractSpec pins this).
    *
    * This is the 100 TB answer for a fact-fact join that runs MANY times
    * (the TTL/compaction/serving reads of a curated corpus): pay the
    * bucket shuffle once at layout time, then every subsequent join of
    * the two tables is shuffle-free — the persisted-layout counterpart of
    * [[graft.store.MessageStore]]'s partition-path co-location, applied
    * to join keys instead of scan keys. Bucket count is the parallelism
    * knob; both sides MUST use the same count for the exchange to
    * disappear.
    *
    * The returned aggregate (order-priority revenue profile) shuffles
    * only on the 5-value priority key AFTER the join. */
  def bucketedRevenueByPriority(spark: SparkSession, dir: String,
      scratch: String, buckets: Int = 8): DataFrame = {
    val ord = Tables.orders(spark, dir)
      .select(col("o_orderkey"), col("o_orderpriority"))
    val li = Tables.lineitem(spark, dir)
      .select(col("l_orderkey"), col("l_quantity"), col("l_extendedprice"))
    // table names carry the scratch-dir hash (the same disambiguation
    // scratchStore applies to paths): two sessions benching different
    // dirs in one JVM get DISTINCT catalog entries instead of clobbering
    // each other's layout mid-read, and a repeat invocation against the
    // same dir REUSES the existing layout — the "pay the bucket shuffle
    // once" contract holds across calls, not just within one.
    val tag = Integer.toHexString((scratch + ":" + buckets).hashCode)
    def persist(df: DataFrame, key: String, table: String): DataFrame = {
      val path = s"$scratch/$table"
      val fs = new org.apache.hadoop.fs.Path(path)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      val onDisk = fs.exists(new org.apache.hadoop.fs.Path(path, "_SUCCESS"))
      if (!spark.catalog.tableExists(table) || !onDisk) {
        if (spark.catalog.tableExists(table))
          spark.sql(s"DROP TABLE `$table`")
        df.write.format("parquet")
          .bucketBy(buckets, key).sortBy(key)
          .option("path", path)
          .mode("overwrite").saveAsTable(table)
      }
      spark.table(table)
    }
    val o = persist(ord, "o_orderkey", s"graft_bkt_orders_$tag")
    val l = persist(li, "l_orderkey", s"graft_bkt_lineitem_$tag")
    l.join(o, col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_orderpriority"))
      .agg(
        sum(col("l_quantity")).as("sum_qty"),
        sum(dec(col("l_extendedprice"))).cast("double").as("sum_price"),
        count(lit(1)).as("n_lines"))
      .orderBy(col("o_orderpriority"))
  }

  /** TPC-H Q6 shape: forecast-revenue change — a pure selective scan-agg
    * with every predicate pushed to parquet (row-group min/max skipping
    * does the heavy lifting at scale; no join, no shuffle beyond the
    * single partial-agg merge). */
  /** Long-form melt — the inverse of `pivot`. Spark 3.4+ ships `unpivot`
    * as a first-class logical operator (Unpivot, planned as Expand): one
    * narrow pass that emits `values.size` rows per input row — no join,
    * no shuffle, fully codegen'd — so melt is declared, not hand-rolled
    * (SURVEY §2.3 composition rule). Value columns must share a common
    * type, as in SQL UNPIVOT. */
  def melt(df: DataFrame, ids: Seq[String], values: Seq[String],
      varName: String = "variable", valName: String = "value"): DataFrame =
    df.unpivot(ids.map(col).toArray, values.map(col).toArray, varName, valName)

  def forecastRevenue(
      spark: SparkSession, dir: String,
      from: LocalDateTime = LocalDateTime.parse("1996-01-01T00:00:00"),
      until: LocalDateTime = LocalDateTime.parse("1997-01-01T00:00:00")): DataFrame =
    Tables.lineitem(spark, dir)
      .filter(col("l_shipdate") >= lit(from) && col("l_shipdate") < lit(until) &&
        col("l_discount").between(0.05, 0.07) && col("l_quantity") < 24)
      .agg(sum((dec(col("l_extendedprice")) * dec(col("l_discount")))
        .cast("decimal(28,4)")).cast("double").as("revenue"))

  /** Top-k events per type by value — the per-group window top-k pattern
    * (T1's per-group variant, SURVEY §2.5). */
  def topEventsPerType(spark: SparkSession, dir: String, k: Int = 3): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("event_type"))
      .orderBy(col("value").desc, col("event_id"))
    Tables.events(spark, dir)
      .select(col("event_type"), col("event_id"), col("user_id"), col("value"))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
  }

  /** Cohort retention: users grouped by their first-activity epoch-week,
    * tracked by how many return k weeks later. Classic product-analytics
    * rollup, expressed in pure integer week arithmetic (epoch-ms //
    * week-ms — no calendar/timezone coercion to diverge between engines).
    * Two key-partitioned shuffles (user distinct-week set, then the
    * cohort×offset count); the per-user min-week rides the same exchange
    * as the distinct. */
  def cohortRetention(spark: SparkSession, dir: String): DataFrame = {
    val weekMs = 604800000L
    val wk = floor(unix_millis(col("ts").cast("timestamp")) / lit(weekMs)).cast("long")
    val uw = Tables.events(spark, dir)
      .select(col("user_id"), wk.as("week")).distinct()
    val cohort = uw.groupBy(col("user_id")).agg(min(col("week")).as("cohort_week"))
    uw.join(cohort, Seq("user_id"))
      .groupBy(col("cohort_week"), (col("week") - col("cohort_week")).as("week_offset"))
      .agg(count(lit(1)).as("users")) // uw is distinct → count == distinct users
  }

  /** Strict-ordering funnel analysis over the event stream: how many users
    * reach each step of `steps`, where reaching step i+1 requires an event
    * of that type STRICTLY AFTER the user's step-i completion time (the
    * earliest valid one — the standard product-analytics funnel, e.g.
    * view → click → purchase). Emits one row per step with the user count
    * and the conversion rate vs step 1 (exact integer counts; the double
    * is their correctly-rounded ratio).
    *
    * Scale: the driver composes a fixed `steps.length`-stage plan — no
    * data-dependent iteration. Each stage is one filtered scan of the
    * events (predicate on event_type pushes down) joined to the previous
    * stage's per-user completion time — a key-partitioned join against a
    * ≤|users| row table — followed by a map-side-combined min. The final
    * per-level count aggregates |users| rows to `steps.length` rows, and
    * the cumulative "reached step ≥ s" sum runs over that steps-sized
    * table, never over users. */
  def funnel(spark: SparkSession, dir: String,
      steps: Seq[String] = Seq("view", "click", "purchase"),
      maxGapMs: Option[Long] = None): DataFrame =
    funnelOf(spark, Tables.events(spark, dir), steps, maxGapMs)

  /** [[funnel]] over an arbitrary `(user_id, event_type, ts)` frame.
    * `maxGapMs` bounds each step-to-step advance: a step counts only
    * within `maxGapMs` of the previous step's completion (the
    * "converted within 24h" product question); `None` keeps the
    * unbounded strict-ordering semantics. */
  def funnelOf(spark: SparkSession, events: DataFrame,
      steps: Seq[String], maxGapMs: Option[Long] = None): DataFrame = {
    require(steps.nonEmpty, "funnel needs at least one step")
    require(maxGapMs.forall(_ > 0), s"maxGapMs must be positive: $maxGapMs")
    val ev = events.select(col("user_id"), col("event_type"), col("ts"))
    val first = ev.filter(col("event_type") === steps.head)
      .groupBy(col("user_id")).agg(min(col("ts")).as("t"))
      .select(col("user_id"), col("t"), lit(1L).as("lvl"))
    val reached = steps.zipWithIndex.drop(1).foldLeft(first) {
      case (prev, (step, i)) =>
        // only users at EXACTLY the previous level may advance — joining
        // all of prev would let a step-(i+1) event vault a user over a
        // step they never completed (view→purchase with no click)
        val nxt = ev.filter(col("event_type") === step)
          .join(prev.filter(col("lvl") === i)
            .select(col("user_id"), col("t").as("tp")), Seq("user_id"))
          .filter(col("ts") > col("tp") && maxGapMs.map(g =>
            col("ts") <= col("tp") + expr(s"INTERVAL $g MILLISECOND"))
            .getOrElse(lit(true)))
          .groupBy(col("user_id")).agg(min(col("ts")).as("tn"))
        prev.join(nxt, Seq("user_id"), "left")
          .select(col("user_id"),
            coalesce(col("tn"), col("t")).as("t"),
            when(col("tn").isNotNull, lit((i + 1).toLong))
              .otherwise(col("lvl")).as("lvl"))
    }
    val byLvl = reached.groupBy(col("lvl")).agg(count(lit(1)).as("n"))
    val stepNames = steps.zipWithIndex
      .map { case (s, i) => ((i + 1).toLong, s) }
    val spine = spark.createDataFrame(stepNames)
      .toDF("step", "step_name")
    // users reaching step >= s: complete the steps spine FIRST (a level
    // nobody stops at exactly must contribute 0, not break the chain),
    // then suffix-sum over the steps-sized table — both windows here run
    // over at most |steps| rows, never over users
    import org.apache.spark.sql.expressions.Window
    spine
      .join(byLvl.withColumnRenamed("lvl", "step"), Seq("step"), "left")
      .withColumn("users", sum(coalesce(col("n"), lit(0L))).over(
        Window.orderBy(col("step").desc)
          .rowsBetween(Window.unboundedPreceding, 0)))
      .withColumn("conversion",
        col("users").cast("double") /
          max(when(col("step") === 1, col("users"))).over(
            Window.orderBy(col("step")).rowsBetween(Window.unboundedPreceding,
              Window.unboundedFollowing)).cast("double"))
      .select(col("step"), col("step_name"), col("users"), col("conversion"))
      .orderBy(col("step"))
  }

  /** First-order Markov transition matrix of the event stream: for each
    * ordered pair of event types, how often a user's event of `from_type`
    * is IMMEDIATELY followed by one of `to_type`, plus the row-normalized
    * transition probability — the "where do users go next" flow model
    * behind sankey diagrams and next-step prediction baselines.
    *
    * Determinism: per-user order is `(ts, event_id)` — event_id breaks
    * timestamp ties identically on any engine — and `p` is a single
    * division of two exact integer counts (pair count / from-type total).
    *
    * Scale: ONE window shuffle keyed on user_id (lag carries O(1) state
    * per row), then a map-side-combined count to a |types|²-row table;
    * the row-normalizing window runs over that tiny aggregate, never over
    * events. */
  def transitions(spark: SparkSession, dir: String): DataFrame =
    transitionsOf(Tables.events(spark, dir))

  /** [[transitions]] over an arbitrary `(user_id, event_type, ts,
    * event_id)` frame. */
  def transitionsOf(events: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val perUser = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    val pairs = events
      .select(col("user_id"), col("event_type"), col("ts"), col("event_id"))
      .withColumn("from_type", lag(col("event_type"), 1).over(perUser))
      .filter(col("from_type").isNotNull)
      .groupBy(col("from_type"), col("event_type"))
      .agg(count(lit(1)).as("n"))
    pairs
      .withColumn("from_total",
        sum(col("n")).over(Window.partitionBy(col("from_type"))))
      .select(col("from_type"), col("event_type").as("to_type"), col("n"),
        (col("n").cast("double") / col("from_total").cast("double")).as("p"))
      .orderBy(col("from_type"), col("to_type"))
  }

  /** Frequent pair itemsets (the Apriori L2 market-basket pass — Agrawal
    * & Srikant 1994): baskets are (user, UTC day), items the distinct
    * event types in the basket, support the number of baskets containing
    * BOTH items of an unordered pair — [[seqPatterns]] without the order:
    * "seen together" rather than "in this order".
    *
    * Shape: baskets reduce to sorted distinct-item arrays in ONE keyed
    * shuffle (`sort_array(collect_set(...))` — sorted so the array is
    * deterministic and pairs come out a < b), pairs expand as a pure
    * array expression bounded by |types|² per basket (never a self-join —
    * the join formulation shuffles the basket table twice), and the
    * pair count is map-side combined. Top-K is a TakeOrdered over the
    * total order (support desc, item_a, item_b). */
  def pairItemsets(events: DataFrame, topK: Int = 20): DataFrame = {
    require(topK >= 1, s"need topK >= 1: $topK")
    val baskets = events
      .select(col("user_id"),
        unix_micros(col("ts").cast("timestamp")).as("tus"),
        col("event_type"))
      .withColumn("day", expr("tus div 86400000000"))
      .groupBy(col("user_id"), col("day"))
      .agg(sort_array(collect_set(col("event_type"))).as("items"))
    val n = size(col("items"))
    baskets
      .select(explode(when(n >= 2,
        flatten(transform(sequence(lit(0), n - 2), i =>
          transform(sequence(i + 1, n - 1), j =>
            struct(element_at(col("items"), i + 1).as("item_a"),
              element_at(col("items"), j + 1).as("item_b"))))))
        .otherwise(array().cast(
          "array<struct<item_a:string,item_b:string>>"))).as("p"))
      .select(col("p.item_a"), col("p.item_b"))
      .groupBy(col("item_a"), col("item_b"))
      .agg(count(lit(1)).as("support"))
      .orderBy(col("support").desc, col("item_a"), col("item_b"))
      .limit(topK)
  }

  /** Time-to-convert histogram: for each user with both a first `fromType`
    * and a LATER (or simultaneous) first `toType` event, the whole-hour
    * bucket of the gap between them, counted per bucket — the
    * time-to-event readout behind conversion-window tuning and funnel SLA
    * monitoring ([[attribution]] says which touch converted; this says
    * how long conversion takes).
    *
    * Determinism: first events are integer `min(epoch-micros)` per user
    * (total order, no window needed), the gap is exact integer
    * subtraction, and the bucket is integer floor-division by 3.6e9 μs.
    * Users whose first conversion precedes their first exposure are
    * excluded (negative gap = not attributable to the exposure).
    *
    * Scale: two conditional min aggregates share ONE user-keyed
    * map-side-combined shuffle; the histogram reduces |users| rows to
    * |buckets|. */
  def timeToConvert(events: DataFrame, fromType: String = "view",
      toType: String = "purchase"): DataFrame = {
    events
      .select(col("user_id"),
        unix_micros(col("ts").cast("timestamp")).as("tus"),
        col("event_type"))
      .groupBy(col("user_id"))
      .agg(min(when(col("event_type") === fromType, col("tus"))).as("t_from"),
        min(when(col("event_type") === toType, col("tus"))).as("t_to"))
      .filter(col("t_from").isNotNull && col("t_to").isNotNull
        && col("t_to") >= col("t_from"))
      .withColumn("gap_us", col("t_to") - col("t_from"))
      .withColumn("bucket_h", expr("gap_us div 3600000000"))
      .groupBy(col("bucket_h"))
      .agg(count(lit(1)).as("n_users"))
      .orderBy(col("bucket_h"))
  }

  /** Frequent sequential patterns: the top-K contiguous length-`len`
    * event-type sequences ranked by SUPPORT (distinct users exhibiting the
    * pattern — the GSP/PrefixSpan counting rule, Srikant & Agrawal 1996)
    * with raw occurrence counts alongside — [[transitionsOf]] is the
    * `len = 2` Markov special case; at `len = 3+` this surfaces the
    * multi-step behavioural motifs funnels have to be TOLD about
    * ([[funnel]] checks a GIVEN sequence; this MINES them).
    *
    * Determinism: per-user total order is `(ts, event_id)`; ranking is
    * `(support desc, occurrences desc, pattern asc)` — a total order over
    * patterns, so the top-K cut is engine-identical.
    *
    * Scale: all `len−1` leads share ONE user-keyed window shuffle (O(len)
    * state per row), the pattern count is a map-side-combined aggregate to
    * ≤|types|^len rows, support's count-distinct expands over that same
    * keyed aggregate, and the top-K is a TakeOrdered over the tiny pattern
    * table — events never sort globally. */
  def seqPatterns(events: DataFrame, len: Int = 3, topK: Int = 20): DataFrame = {
    require(len >= 2 && topK >= 1, s"need len >= 2, topK >= 1: $len/$topK")
    import org.apache.spark.sql.expressions.Window
    val perUser = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    val base = events
      .select(col("user_id"), col("event_type"), col("ts"), col("event_id"))
      .withColumn("s1", col("event_type"))
    val withSteps = (2 to len).foldLeft(base) { (df, i) =>
      df.withColumn(s"s$i", lead(col("event_type"), i - 1).over(perUser))
    }
    val patCols = (1 to len).map(i => col(s"s$i"))
    withSteps.filter(patCols.last.isNotNull)
      .groupBy(patCols: _*)
      .agg(count(lit(1)).as("occurrences"),
        countDistinct(col("user_id")).as("support"))
      .orderBy(col("support").desc +: col("occurrences").desc +:
        patCols.map(_.asc): _*)
      .limit(topK)
  }

  /** Per-event lag/rolling feature generation — the feature-matrix pass a
    * training pipeline runs before fitting any sequence model: previous
    * two values, a trailing `rollRows`-row sum/mean, and the gap to the
    * previous event, each per user in `(ts, event_id)` order.
    *
    * Determinism: values quantize to `floor(value·1e6)` int64 micro-units
    * BEFORE any window math (the [[rfmOf]] rule), so lags and rolling sums
    * are exact integers; `roll_mean_micro` is one division of two exact
    * integers; `delta_us` subtracts exact integer epoch-micros. First
    * events carry NULL lag/delta — the honest encoding consumers impute
    * explicitly, rather than a silent sentinel.
    *
    * Scale: ONE user-keyed window shuffle serves every column (all five
    * window expressions share the same partitioning + ordering, and the
    * rolling frame is rows-bounded so state is O(rollRows) per user) —
    * the feature pass costs exactly one exchange regardless of how many
    * features ride on it. */
  def lagFeatures(events: DataFrame, rollRows: Int = 3): DataFrame = {
    require(rollRows >= 1, s"need rollRows >= 1: $rollRows")
    import org.apache.spark.sql.expressions.Window
    val perUser = Window.partitionBy(col("user_id"))
      .orderBy(col("tus"), col("event_id"))
    val frame = perUser.rowsBetween(-(rollRows - 1), 0)
    events
      .select(col("user_id"), col("event_id"),
        unix_micros(col("ts").cast("timestamp")).as("tus"),
        floor(col("value") * lit(1000000)).cast("long").as("v_micro"))
      .select(col("user_id"), col("event_id"), col("tus"), col("v_micro"),
        lag(col("v_micro"), 1).over(perUser).as("lag1_micro"),
        lag(col("v_micro"), 2).over(perUser).as("lag2_micro"),
        sum(col("v_micro")).over(frame).as("roll_sum_micro"),
        count(lit(1)).over(frame).as("roll_cnt"),
        (col("tus") - lag(col("tus"), 1).over(perUser)).as("delta_us"))
      .withColumn("roll_mean_micro",
        col("roll_sum_micro").cast("double") / col("roll_cnt").cast("double"))
  }

  /** RFM (recency / frequency / monetary) segmentation of the user base
    * with FIXED scoring bands — the classic lifecycle segmentation
    * (champions / at-risk / hibernating) counted per (r, f, m) score
    * cell. Bands are fixed, documented thresholds rather than data-driven
    * quantiles: that is both standard practice (scores must be comparable
    * across runs) and the scale-honest choice — no global sort, no
    * quantile pass; for quantile-based bands compose with
    * [[graft.operators.RobustStats.globalRank]].
    *
    * Scores (1 = worst, 4 = best): recency days since the user's last
    * event relative to the corpus max timestamp (≤1d → 4, ≤7d → 3,
    * ≤30d → 2, else 1), frequency = event count (≥21 → 4, ≥6 → 3, ≥2 → 2,
    * else 1), monetary = summed `floor(value·1e6)` micro-units (≥100e6 →
    * 4, ≥20e6 → 3, ≥5e6 → 2, else 1).
    *
    * Determinism: day distance is integer millis floor-division, monetary
    * sums integer micro-units (per-event floor BEFORE the sum, so
    * addition order cannot matter), banding is pure comparison.
    *
    * Scale: the corpus max-ts is a 1-row aggregate broadcast into the
    * per-user pass; the user aggregate is ONE map-side-combinable keyed
    * shuffle; the segment rollup reduces |users| rows to ≤64 cells. */
  def rfm(spark: SparkSession, dir: String): DataFrame =
    rfmOf(Tables.events(spark, dir))

  /** [[rfm]] over an arbitrary `(user_id, ts, value)` frame. */
  def rfmOf(events: DataFrame): DataFrame = {
    val dayMs = 86400000L
    val ev = events.select(col("user_id"),
      unix_millis(col("ts").cast("timestamp")).as("tms"),
      floor(col("value") * lit(1000000)).cast("long").as("v_micro"))
    val nowRow = ev.agg(max(col("tms")).as("now_ms"))
    def band(b4: Column, b3: Column, b2: Column): Column =
      when(b4, 4L).when(b3, 3L).when(b2, 2L).otherwise(1L)
    val scored = ev.groupBy(col("user_id"))
      .agg(max(col("tms")).as("last_ms"), count(lit(1)).as("freq"),
        sum(col("v_micro")).as("mon_micro"))
      .crossJoin(broadcast(nowRow))
      .withColumn("rec_days",
        expr(s"(now_ms - last_ms) div $dayMs"))
      .select(col("user_id"), col("mon_micro"),
        band(col("rec_days") <= 1, col("rec_days") <= 7,
          col("rec_days") <= 30).as("r_score"),
        band(col("freq") >= 21, col("freq") >= 6,
          col("freq") >= 2).as("f_score"),
        band(col("mon_micro") >= 100000000L,
          col("mon_micro") >= 20000000L, col("mon_micro") >= 5000000L)
          .as("m_score"))
    scored.groupBy(col("r_score"), col("f_score"), col("m_score"))
      .agg(count(lit(1)).as("users"), sum(col("mon_micro")).as("mon_micro"))
      .orderBy(col("r_score"), col("f_score"), col("m_score"))
  }

  /** First-touch / last-touch attribution: for each user's FIRST
    * `convType` conversion, credit the user's earliest preceding
    * non-conversion event (first touch) and the latest one strictly before
    * the conversion (last touch), and count conversions credited to each
    * channel — the two bookend models of marketing attribution. Users
    * whose conversion has no preceding touch are excluded (nothing to
    * credit).
    *
    * Determinism: "first"/"last"/"before" all order by the unique
    * `(ts, event_id)` pair, and both bookends ride ONE aggregation as
    * min/max over a `(ts, event_id, event_type)` struct (lexicographic
    * struct ordering — the ohlcBars trick), so the credited channel is
    * total-order deterministic on any engine.
    *
    * Scale: conversion times are a ≤|users|-row table joined back on the
    * user key (key-partitioned, no broadcast of event data); the bookend
    * min/max is map-side combinable; the final counts aggregate |users|
    * rows down to |types| rows. */
  def attribution(spark: SparkSession, dir: String,
      convType: String = "purchase"): DataFrame =
    attributionOf(Tables.events(spark, dir), convType)

  /** [[attribution]] over an arbitrary `(user_id, event_type, ts,
    * event_id)` frame. */
  def attributionOf(events: DataFrame, convType: String): DataFrame = {
    val ev = events.select(col("user_id"), col("event_type"), col("ts"),
      col("event_id"))
    val conv = ev.filter(col("event_type") === convType)
      .groupBy(col("user_id"))
      .agg(min(struct(col("ts"), col("event_id"))).as("cv"))
    val touches = ev.filter(col("event_type") =!= convType)
      .join(conv, Seq("user_id"))
      .filter(struct(col("ts"), col("event_id")) < col("cv"))
      .groupBy(col("user_id"))
      .agg(
        min(struct(col("ts"), col("event_id"), col("event_type"))).as("ft"),
        max(struct(col("ts"), col("event_id"), col("event_type"))).as("lt"))
    val first = touches.groupBy(col("ft.event_type").as("channel"))
      .agg(count(lit(1)).as("first_touch"))
    val last = touches.groupBy(col("lt.event_type").as("channel"))
      .agg(count(lit(1)).as("last_touch"))
    first.join(last, Seq("channel"), "full_outer")
      .select(col("channel"),
        coalesce(col("first_touch"), lit(0L)).as("first_touch"),
        coalesce(col("last_touch"), lit(0L)).as("last_touch"))
      .orderBy(col("channel"))
  }

  /** Hierarchy aggregation with ROLLUP grouping sets: per (event_type,
    * day), per event_type, and grand total in ONE pass — Spark expands the
    * sets map-side and partial-aggregates each, so the fact table is
    * scanned once instead of once per level (the hand-rolled alternative is
    * 3 scans + a union). `grouping_id` disambiguates the subtotal rows.
    *
    * Determinism: value sums are 1e-6 fixed-point integers
    * (`floor(value×1e6)` — one IEEE multiply + floor, identical on every
    * engine), so subtotals are exact longs in any addition order; day is a
    * formatted string so no engine-specific date coercion enters the hash.
    */
  /** OHLC bars: per (event_type, hour) the opening/closing values plus
    * high/low/volume — the time-series bar rollup, computed in ONE
    * aggregation pass: open/close are `min`/`max` over a `(ts, event_id,
    * value)` struct (lexicographic struct ordering; `(ts, event_id)` is
    * unique so the selected row — and therefore the value — is total-order
    * deterministic on any engine), where a window formulation would pay a
    * per-group sort. Map-side combinable, one shuffle on the bar key. */
  def ohlcBars(events: DataFrame): DataFrame = {
    val tms = unix_millis(col("ts").cast("timestamp"))
    events
      .select(col("event_type"), col("event_id"), col("value"), tms.as("tms"))
      .withColumn("hour_idx", expr("tms div 3600000"))
      .groupBy(col("event_type"), col("hour_idx"))
      .agg(
        min(struct(col("tms"), col("event_id"), col("value")))
          .getField("value").as("open"),
        max(col("value")).as("high"),
        min(col("value")).as("low"),
        max(struct(col("tms"), col("event_id"), col("value")))
          .getField("value").as("close"),
        count(lit(1)).as("volume"))
  }

  /** Time-weighted average value per event type over irregular samples —
    * the TWAP every sensor/price series needs where the plain mean
    * over-weights bursts: each sample's value holds until the NEXT sample
    * (step interpolation), so its weight is that duration, and the final
    * sample carries no weight (nothing after it to hold over).
    *
    * Determinism: value quantizes to 1e-6 fixed point, durations are
    * exact epoch-ms longs, so the weighted sum and total duration are
    * exact integers (bounded by span·v_max·1e6 — the weights SUM to the
    * series span, so the bound is span-×-max, independent of row count;
    * ~1.3e18 for a 30-day span of |v| ≤ 500) and the average is one
    * double division chain. Single-sample groups have no interval at all
    * and are absent from the output (a TWAP over zero duration is
    * undefined, not zero).
    *
    * Scale: one keyed window for the successor timestamp (same
    * event-type shuffle the aggregate needs anyway), then a
    * map-side-combined sum — no state beyond the window frame. */
  def twap(events: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("event_type"))
      .orderBy(col("tms").asc, col("event_id").asc)
    val tms = unix_millis(col("ts").cast("timestamp"))
    events
      .select(col("event_type"), col("event_id"),
        floor(col("value") * lit(1000000.0)).cast("long").as("vmicro"),
        tms.as("tms"))
      .withColumn("dur", lead(col("tms"), 1).over(w) - col("tms"))
      .filter(col("dur").isNotNull)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_intervals"),
        sum(col("vmicro") * col("dur")).as("wsum"),
        sum(col("dur")).as("span_ms"))
      .select(col("event_type"), col("n_intervals"), col("span_ms"),
        when(col("span_ms") > 0,
          col("wsum").cast("double") / col("span_ms").cast("double")
            / lit(1000000.0)).as("twap"))
  }

  def eventRollup(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .select(col("event_type"),
        date_format(col("ts"), "yyyy-MM-dd").as("day"),
        floor(col("value") * lit(1000000.0)).cast("long").as("vmicro"))
      .rollup(col("event_type"), col("day"))
      .agg(grouping_id().cast("long").as("gid"),
        count(lit(1)).as("n"),
        sum(col("vmicro")).as("value_sum_micro"))
      .select(col("gid"), col("event_type"), col("day"), col("n"),
        col("value_sum_micro"))

  /** Slowly-changing-dimension type-2 history (Kimball's SCD2): collapse
    * each key's attribute stream to its CHANGE points and emit validity
    * intervals `[valid_from, valid_to)` — `valid_to` NULL on the open
    * current row, `version` the 1-based change ordinal. The
    * dimension-table build every warehouse load runs; also the
    * state-timeline view of the broker's assignment changes
    * (`src/StorageNodeRegistry.ts:31-64` refreshes membership over time —
    * this is that history as intervals).
    *
    * Exactness: epoch-ms longs, change detection is string equality, and
    * the (ts, event_id) total order removes same-timestamp ambiguity.
    * Scale: two windows over the SAME (key × time) partitioning — the
    * second runs on the already-filtered change points, so one shuffle
    * partitions both; no self-join, no data-sized state. */
  def scd2(events: DataFrame, key: String = "user_id",
      attr: String = "event_type"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val byTime = Window.partitionBy(col(key))
      .orderBy(col("t_ms").asc, col("event_id").asc)
    events
      .select(col(key), col("event_id"),
        unix_millis(col("ts").cast("timestamp")).as("t_ms"),
        col(attr).cast("string").as("attr"))
      .withColumn("prev", lag(col("attr"), 1).over(byTime))
      .filter(col("prev").isNull || col("attr") =!= col("prev"))
      .withColumn("valid_from", col("t_ms"))
      .withColumn("valid_to", lead(col("t_ms"), 1).over(byTime))
      .withColumn("version", row_number().over(byTime).cast("long"))
      .select(col(key), col("version"), col("attr"),
        col("valid_from"), col("valid_to"))
  }

  /** Hour-of-day seasonality profile per event type: count + exact
    * fixed-point value sum per (type, hour 0–23), plus the peak-hour flag
    * (max count, ties to the earliest hour). The load-shape fingerprint a
    * capacity planner reads off a year of traffic.
    *
    * Scale: one map-side-combined aggregation onto ≤ 24·|types| rows —
    * the shuffle carries pre-reduced partials, and the peak window runs
    * over each type's ≤ 24-row group. Exact integers throughout. */
  def seasonalProfile(events: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val prof = events
      .select(col("event_type"), hour(col("ts")).cast("long").as("hod"),
        floor(col("value") * lit(1000000.0)).cast("long").as("vmicro"))
      .groupBy(col("event_type"), col("hod"))
      .agg(count(lit(1)).as("n"), sum(col("vmicro")).as("value_sum_micro"))
    val peak = Window.partitionBy(col("event_type"))
    prof.withColumn("is_peak",
      (struct(col("n"), -col("hod")) ===
        max(struct(col("n"), -col("hod"))).over(peak)).cast("long"))
  }

  /** Burstiness per event type: the Fano factor (variance-to-mean ratio)
    * of per-ACTIVE-minute event counts — 1 ≈ Poisson arrivals, > 1 bursty,
    * < 1 regular. Idle minutes are excluded by construction (the
    * dispersion of the traffic that exists, not of the calendar); the
    * dense-spine variant is one [[graft.metrics.Metrics.denseMinuteCounts]]
    * swap away.
    *
    * Exactness: population variance from integer sufficient statistics
    * (n, Σc, Σc²) widened to DECIMAL(38,0) — overflow raises in-plan
    * (the rateTrend guard) instead of wrapping — and the single IEEE
    * division `(n·Σc² − (Σc)²) / (n·Σc)` happens once at the output edge.
    *
    * Scale: two map-side-combined aggregations (minute keys, then type
    * keys); nothing data-sized crosses the wire after the first partial
    * reduce. */
  def burstiness(events: DataFrame): DataFrame = {
    def dec(c: Column): Column = c.cast("decimal(38,0)")
    val perMin = events
      .groupBy(col("event_type"), date_trunc("minute", col("ts")).as("minute"))
      .agg(count(lit(1)).as("c"))
    val stats = perMin.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_minutes"), sum(col("c")).as("n_events"),
        sum(dec(col("c")) * dec(col("c"))).as("sum_c2"))
    def exact(c: Column, what: String): Column =
      when(c.isNotNull, c).otherwise(raise_error(lit(
        s"burstiness: $what exceeds the exact DECIMAL(38) bound")))
    val num = exact(
      dec(col("n_minutes")) * col("sum_c2")
        - dec(col("n_events")) * dec(col("n_events")),
      "n*sum_c2 - sum^2")
    val den = dec(col("n_minutes")) * dec(col("n_events"))
    stats.select(col("event_type"), col("n_minutes"), col("n_events"),
      (num.cast("double") / den.cast("double")).as("fano"))
  }

  /** Arbitrary GROUPING SETS in one scan — the non-hierarchical subtotal
    * combination neither ROLLUP (strict prefix chain, [[eventRollup]]) nor
    * CUBE (every combination) expresses: here
    * `((l_returnflag, l_linestatus), (l_linestatus), ())` — the
    * per-linestatus marginal WITHOUT the per-returnflag one. Catalyst
    * plans all sets through one Expand over a single scan with map-side
    * partial aggregation — the fan-out factor is the set count, a plan
    * constant, so at 100 TB this costs `sets × one shuffle`, never one
    * job per set. `gid` follows the standard bit encoding (first grouping
    * column = most significant), identical in DuckDB's `GROUPING(...)` —
    * parity proven by q_rollup's hash gate. Quantity sums use the
    * q1_pricing DECIMAL(18,2) idiom: exact in any addition order. */
  def lineitemGroupingSets(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .groupingSets(
        Seq(Seq(col("l_returnflag"), col("l_linestatus")),
          Seq(col("l_linestatus")), Seq.empty),
        col("l_returnflag"), col("l_linestatus"))
      .agg(grouping_id().cast("long").as("gid"),
        count(lit(1)).as("n"),
        sum(col("l_quantity").cast("decimal(18,2)")).cast("double").as("sum_qty"))
      .select(col("gid"), col("l_returnflag"), col("l_linestatus"),
        col("n"), col("sum_qty"))

  /** Hopping (sliding) window aggregation: count + value sum per
    * `(window, event_type)` where windows are `widthMin` minutes wide and
    * advance every `slideMin` minutes — the overlapping-window rollup the
    * tumbling bars ([[ohlcBars]], the metrics hierarchy) cannot express.
    * Uses Spark's NATIVE `window(ts, width, slide)` generator, so the same
    * plan runs unchanged under Structured Streaming with a watermark (the
    * hopping-rate alert path); each event lands in `width/slide` windows
    * via a map-side expand — no self-join, no shuffle multiplier beyond
    * the window fan-out factor.
    *
    * Determinism: the window start is epoch-aligned (startTime 0) and
    * reported as epoch millis; value sums are the 1e-6 fixed-point longs
    * of [[eventRollup]], exact in any addition order. Scale: one keyed
    * shuffle on `(win_start, event_type)` after map-side partial
    * aggregation of the expanded rows — the fan-out factor (width/slide)
    * is the only cost multiplier, and it is a constant chosen by the
    * caller, not data-dependent. */
  def hoppingAgg(events: DataFrame, widthMin: Int = 10,
      slideMin: Int = 5): DataFrame = {
    require(widthMin % slideMin == 0,
      s"width must be a multiple of slide: $widthMin / $slideMin")
    events
      .select(col("event_type"), col("ts"),
        floor(col("value") * lit(1000000.0)).cast("long").as("vmicro"))
      .groupBy(
        window(col("ts"), s"$widthMin minutes", s"$slideMin minutes"),
        col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("vmicro")).as("value_sum_micro"))
      .select(
        unix_millis(col("window.start").cast("timestamp")).as("win_start_ms"),
        col("event_type"), col("n"), col("value_sum_micro"))
  }
}
