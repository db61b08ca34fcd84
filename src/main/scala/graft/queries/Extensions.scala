package graft.queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.operators._

/** Training-data-pipeline extension queries (builder brief): dedup,
  * similarity search, text analysis, time windows, set ops, multimodal
  * plumbing. Each SQL-expressible operator carries a DuckDB oracle;
  * hash-based ops (minhash/simhash/ANN — engine-specific hash
  * functions) and the multimodal codec paths (real JDK decode/resize
  * DuckDB cannot mirror) are declared without oracles → the driver
  * records a rows-only check, and ScalaTest covers their semantics.
  */
object Extensions {

  /** Set operation (SURVEY §2.8 — free in Spark, declared in our
    * surface): customers ∪ suppliers per nation.
    */
  def unionKinds(c: Ctx): DataFrame =
    c.customer.select(lit("customer").as("kind"),
        col("c_nationkey").as("nationkey"))
      .unionAll(c.supplier.select(lit("supplier").as("kind"),
        col("s_nationkey").as("nationkey")))
      .groupBy("kind", "nationkey")
      .agg(count(lit(1)).as("n"))
      .orderBy("kind", "nationkey")

  val unionKindsSql: String =
    """SELECT kind, nationkey, COUNT(*) AS n FROM (
      |  SELECT 'customer' AS kind, c_nationkey AS nationkey FROM customer
      |  UNION ALL
      |  SELECT 'supplier' AS kind, s_nationkey AS nationkey FROM supplier) t
      |GROUP BY kind, nationkey ORDER BY kind, nationkey""".stripMargin

  /** EXCEPT set op (SURVEY §2.8): nations with customers but no
    * high-balance supplier.
    */
  def exceptNations(c: Ctx): DataFrame =
    c.customer.select(col("c_nationkey").as("nationkey")).distinct()
      .except(c.supplier.filter(col("s_acctbal") > 8000)
        .select(col("s_nationkey").as("nationkey")).distinct())
      .orderBy("nationkey")

  val exceptNationsSql: String =
    """SELECT DISTINCT c_nationkey AS nationkey FROM customer
      |EXCEPT
      |SELECT DISTINCT s_nationkey AS nationkey FROM supplier
      |WHERE s_acctbal > 8000
      |ORDER BY nationkey""".stripMargin

  /** Right outer join (SURVEY J4 — ref `queries.py:798` Q22
    * `how='right'`): suppliers right-joined to nation, keeping
    * supplier-less nations with zero counts.
    */
  def rightOuterJoin(c: Ctx): DataFrame =
    c.supplier
      .join(c.nation, col("s_nationkey") === col("n_nationkey"), "right")
      .groupBy("n_name")
      .agg(count(col("s_suppkey")).as("n_suppliers"),
        graft.operators.Kernels.dsum(col("s_acctbal")).as("total_bal"))
      .orderBy("n_name")

  val rightOuterJoinSql: String =
    s"""SELECT n_name, COUNT(s_suppkey) AS n_suppliers,
       |  ${graft.operators.Kernels.dsumSql("s_acctbal")} AS total_bal
       |FROM supplier RIGHT JOIN nation ON s_nationkey = n_nationkey
       |GROUP BY n_name ORDER BY n_name""".stripMargin

  /** Full outer join: all nationkeys appearing on either side with
    * per-side counts.
    */
  def fullOuterJoin(c: Ctx): DataFrame = {
    val cn = c.customer.groupBy(col("c_nationkey").as("nk"))
      .agg(count(lit(1)).as("n_customers"))
    val sn = c.supplier.filter(col("s_acctbal") > 8000)
      .groupBy(col("s_nationkey").as("nk"))
      .agg(count(lit(1)).as("n_rich_suppliers"))
    // full outer can't broadcast, but it can hash-join (SPARK-32399):
    // the shuffle_hash hint drops the two sort phases an SMJ would add
    cn.join(sn.hint("shuffle_hash"), Seq("nk"), "full_outer").orderBy("nk")
  }

  val fullOuterJoinSql: String =
    """SELECT COALESCE(cn.nk, sn.nk) AS nk, n_customers, n_rich_suppliers
      |FROM (SELECT c_nationkey AS nk, COUNT(*) AS n_customers
      |      FROM customer GROUP BY 1) cn
      |FULL OUTER JOIN (SELECT s_nationkey AS nk, COUNT(*) AS n_rich_suppliers
      |                 FROM supplier WHERE s_acctbal > 8000 GROUP BY 1) sn
      |  ON cn.nk = sn.nk
      |ORDER BY nk""".stripMargin

  /** CUBE grouping sets (SURVEY A10) — all combinations of (status,
    * priority) subtotals.
    */
  def cubeOrders(c: Ctx): DataFrame =
    c.orders
      .cube("o_orderstatus", "o_orderpriority")
      .agg(count(lit(1)).as("n"))
      .orderBy(col("o_orderstatus").asc_nulls_first,
        col("o_orderpriority").asc_nulls_first)

  val cubeOrdersSql: String =
    """SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n
      |FROM orders
      |GROUP BY CUBE (o_orderstatus, o_orderpriority)
      |ORDER BY o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST""".stripMargin

  /** Pivot (dask/pandas `pivot_table` analogue): order counts by
    * status × priority, priorities as columns. The oracle expresses
    * the same thing as CASE-WHEN aggregation — which is exactly what
    * Spark's pivot compiles to.
    */
  def pivotOrders(c: Ctx): DataFrame =
    c.orders
      .groupBy("o_orderstatus")
      .pivot("o_orderpriority",
        Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"))
      .agg(count(lit(1)))
      .toDF("o_orderstatus", "p1_urgent", "p2_high", "p3_medium",
        "p4_not_specified", "p5_low")
      .na.fill(0L) // empty pivot cells: null in Spark, 0 via COUNT in SQL
      .orderBy("o_orderstatus")

  val pivotOrdersSql: String =
    """SELECT o_orderstatus,
      |  COUNT(CASE WHEN o_orderpriority = '1-URGENT' THEN 1 END) AS p1_urgent,
      |  COUNT(CASE WHEN o_orderpriority = '2-HIGH' THEN 1 END) AS p2_high,
      |  COUNT(CASE WHEN o_orderpriority = '3-MEDIUM' THEN 1 END) AS p3_medium,
      |  COUNT(CASE WHEN o_orderpriority = '4-NOT SPECIFIED' THEN 1 END)
      |    AS p4_not_specified,
      |  COUNT(CASE WHEN o_orderpriority = '5-LOW' THEN 1 END) AS p5_low
      |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin

  /** Top word bigrams over the corpus (n-gram frequency analysis). */
  def topBigrams(c: Ctx, k: Int = 20): DataFrame = {
    c.documents
      .select(graft.functions.TextFunctions.words(col("text")).as("ws"))
      // get() tolerates the one-word-document edge (ws[i+1] would
      // throw under ANSI); the contains-space filter below then drops
      // the degenerate unigram rows, as the oracle's range bound does
      .select(explode(expr(
        """transform(sequence(0, greatest(size(ws) - 2, 0)),
          |          i -> concat_ws(' ', get(ws, i), get(ws, i+1)))""".stripMargin))
        .as("bigram"))
      .where(col("bigram").contains(" "))
      .groupBy("bigram")
      .agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("bigram"))
      .limit(k)
  }

  def topBigramsSql(k: Int = 20): String =
    s"""SELECT arr[i] || ' ' || arr[i + 1] AS bigram, COUNT(*) AS n
       |FROM (SELECT arr, UNNEST(range(1, len(arr))) AS i
       |      FROM (SELECT regexp_split_to_array(trim(text), '\\s+') AS arr
       |            FROM documents) t0) t
       |GROUP BY 1 ORDER BY n DESC, bigram
       |LIMIT $k""".stripMargin

  /** ROLLUP grouping sets (SURVEY A10 — absent in the reference, free
    * in Spark): order counts/totals by (status, priority) with
    * subtotals and grand total.
    */
  def rollupOrders(c: Ctx): DataFrame =
    c.orders
      .rollup("o_orderstatus", "o_orderpriority")
      .agg(count(lit(1)).as("n"),
        graft.operators.Kernels.dsum(col("o_totalprice")).as("total"))
      .orderBy(col("o_orderstatus").asc_nulls_first,
        col("o_orderpriority").asc_nulls_first)

  val rollupOrdersSql: String =
    s"""SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n,
       |  ${graft.operators.Kernels.dsumSql("o_totalprice")} AS total
       |FROM orders
       |GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
       |ORDER BY o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST""".stripMargin

  /** String affix/slice functions (SURVEY X2/X3/X4): prefix grouping
    * via substring, startswith/endswith indicators.
    */
  def strAffixStats(c: Ctx): DataFrame =
    c.part
      .groupBy(substring(col("p_name"), 1, 3).as("prefix3"))
      .agg(count(lit(1)).as("n"),
        sum(graft.operators.Kernels.indicator(
          col("p_name").startsWith("red"))).as("n_red"),
        sum(graft.operators.Kernels.indicator(
          col("p_name").endsWith("t"))).as("n_t_end"))
      .orderBy("prefix3")

  val strAffixStatsSql: String =
    """SELECT substring(p_name, 1, 3) AS prefix3, COUNT(*) AS n,
      |  CAST(SUM(CASE WHEN p_name LIKE 'red%' THEN 1 ELSE 0 END) AS BIGINT) AS n_red,
      |  CAST(SUM(CASE WHEN p_name LIKE '%t' THEN 1 ELSE 0 END) AS BIGINT) AS n_t_end
      |FROM part GROUP BY 1 ORDER BY prefix3""".stripMargin

  /** approx_count_distinct (SURVEY A6's scale form — HLL sketch): the
    * 100 TB replacement for exact COUNT(DISTINCT). Sketch estimates are
    * engine-specific → no oracle (rows-only check); exactness of the
    * exact variant is covered by q16.
    */
  def approxDistinct(c: Ctx): DataFrame =
    c.lineitem
      .groupBy("l_returnflag")
      .agg(approx_count_distinct(col("l_partkey")).as("approx_parts"),
        approx_count_distinct(col("l_suppkey")).as("approx_supps"))
      .orderBy("l_returnflag")

  /** Exact interpolated quantiles (data-quality profiling): Spark
    * `percentile` (exact, sort-based) matches DuckDB `quantile_cont`
    * definitionally — both interpolate between order statistics of the
    * same doubles. SCALE CAVEAT: `percentile`'s aggregation buffer
    * collects every value into one state — fine at fixture scale, an
    * executor OOM at corpus scale. The scale path for EXACT quantiles
    * is `stats_quantiles_rank` ([[graft.operators.Kernels.exactQuantiles]]
    * — range-sharded rank selection, type-1 quantiles); the one-pass
    * mergeable sketch is `stats_quantiles_approx` (rows-only).
    */
  def quantiles(c: Ctx): DataFrame =
    c.lineitem
      .groupBy("l_returnflag")
      .agg(
        expr("percentile(l_extendedprice, 0.5)").as("p50_price"),
        expr("percentile(l_extendedprice, 0.95)").as("p95_price"),
        expr("percentile(l_quantity, 0.5)").as("p50_qty"))
      .orderBy("l_returnflag")

  val quantilesSql: String =
    """SELECT l_returnflag,
      |  quantile_cont(l_extendedprice, 0.5) AS p50_price,
      |  quantile_cont(l_extendedprice, 0.95) AS p95_price,
      |  quantile_cont(l_quantity, 0.5) AS p50_qty
      |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin

  /** EXACT quantiles that scale — rank selection over
    * [[graft.operators.Kernels.exactQuantiles]] (range-sharded global
    * rank, no single-buffer `percentile` state, no unpartitioned
    * window): the corpus-scale form of [[quantiles]] when the answer
    * must be exact rather than a sketch. Type-1 (discontinuous)
    * definition — value at rank `max(1, ceil(q·n))` of the
    * (price, orderkey, linenumber) total order — restated verbatim by
    * the oracle's ROW_NUMBER equality.
    */
  def quantilesRank(c: Ctx): DataFrame =
    graft.operators.Kernels.exactQuantiles(c.lineitem,
      col("l_extendedprice"),
      Seq(col("l_orderkey"), col("l_linenumber")),
      Seq(0.25, 0.5, 0.75, 0.95))

  val quantilesRankSql: String =
    """WITH n AS (SELECT COUNT(*) AS n_total FROM lineitem),
      |r AS (
      |  SELECT l_extendedprice AS value,
      |    ROW_NUMBER() OVER (ORDER BY l_extendedprice, l_orderkey,
      |      l_linenumber) AS rnk
      |  FROM lineitem)
      |SELECT q, rnk, value
      |FROM (SELECT UNNEST([CAST(0.25 AS DOUBLE), CAST(0.5 AS DOUBLE),
      |        CAST(0.75 AS DOUBLE), CAST(0.95 AS DOUBLE)]) AS q), n, r
      |WHERE rnk = GREATEST(1, CAST(CEIL(q * n_total) AS BIGINT))
      |ORDER BY q, rnk""".stripMargin

  /** One-pass sketch quantiles — the 100 TB form (rows-only check;
    * sketch internals are engine-specific). Emitted as scalar p50/p95
    * columns, not the raw quantile array — the driver's row-sorter
    * can't hash array cells.
    */
  def quantilesApprox(c: Ctx): DataFrame =
    c.lineitem
      .groupBy("l_returnflag")
      .agg(expr("percentile_approx(l_extendedprice, array(0.5, 0.95), 10000)")
        .as("q"))
      .select(col("l_returnflag"),
        element_at(col("q"), 1).as("p50_price"),
        element_at(col("q"), 2).as("p95_price"))
      .orderBy("l_returnflag")

  /** Column profiling (data-quality summary a training pipeline runs
    * before ingest): counts, null counts, ranges, distincts.
    */
  def profileLineitem(c: Ctx): DataFrame =
    c.lineitem.agg(
      count(lit(1)).as("n_rows"),
      sum(graft.operators.Kernels.indicator(col("l_shipdate").isNull))
        .as("null_shipdate"),
      min("l_extendedprice").as("min_price"),
      max("l_extendedprice").as("max_price"),
      min("l_quantity").as("min_qty"),
      max("l_quantity").as("max_qty"),
      countDistinct(col("l_orderkey")).as("n_orders"),
      countDistinct(col("l_partkey")).as("n_parts"))

  val profileLineitemSql: String =
    """SELECT COUNT(*) AS n_rows,
      |  CAST(SUM(CASE WHEN l_shipdate IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS null_shipdate,
      |  MIN(l_extendedprice) AS min_price, MAX(l_extendedprice) AS max_price,
      |  MIN(l_quantity) AS min_qty, MAX(l_quantity) AS max_qty,
      |  COUNT(DISTINCT l_orderkey) AS n_orders,
      |  COUNT(DISTINCT l_partkey) AS n_parts
      |FROM lineitem""".stripMargin

  /** The skew toolkit exercised as a driver entry (not just
    * plan-asserted tests): salted two-phase aggregation — same result
    * as a plain groupBy, bit-exact because the decimal carrier makes
    * the (key, salt) partial split order-independent, but a hot key's
    * REDUCE side spreads over 8 partial reducers.
    */
  def saltedRevenue(c: Ctx): DataFrame =
    graft.operators.Kernels.saltedDsum(
        c.lineitem, Seq("l_returnflag"),
        col("l_extendedprice") * (lit(1) - col("l_discount")), "revenue")
      .orderBy("l_returnflag")

  val saltedRevenueSql: String =
    s"""SELECT l_returnflag,
       |  ${graft.operators.Kernels.dsumSql("l_extendedprice * (1 - l_discount)")} AS revenue
       |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin

  /** Salted fact-fact equi-join (manual skew control for joins AQE
    * can't rewrite) + aggregation — identical results to the plain
    * join, checked against the plain-SQL oracle.
    */
  def saltedJoinAgg(c: Ctx): DataFrame = {
    val orders = c.orders.select(col("o_orderkey").as("l_orderkey"),
      col("o_orderpriority"))
    graft.operators.Kernels.saltedJoin(
        c.lineitem.select("l_orderkey", "l_extendedprice", "l_discount"),
        orders, Seq("l_orderkey"))
      .groupBy("o_orderpriority")
      .agg(graft.operators.Kernels
          .dsum(col("l_extendedprice") * (lit(1) - col("l_discount")))
          .as("revenue"),
        count(lit(1)).as("n"))
      .orderBy("o_orderpriority")
  }

  val saltedJoinAggSql: String =
    s"""SELECT o_orderpriority,
       |  ${graft.operators.Kernels.dsumSql("l_extendedprice * (1 - l_discount)")} AS revenue,
       |  COUNT(*) AS n
       |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
       |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin

  /** The SQL surface (≈ the reference's published datasets,
    * `distributed/publish.py:1-14` → temp views + `spark.sql`):
    * register the fixture tables as views and run declarative SQL.
    */
  def sqlViewQuery(c: Ctx): DataFrame = {
    for (t <- Seq("orders_v" -> c.orders))
      t._2.createOrReplaceTempView(t._1)
    c.spark.sql(
      s"""SELECT o_orderstatus, COUNT(*) AS n,
         |  ${graft.operators.Kernels.dsumSql("o_totalprice")} AS total
         |FROM orders_v GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin)
  }

  val sqlViewQuerySql: String =
    s"""SELECT o_orderstatus, COUNT(*) AS n,
       |  ${graft.operators.Kernels.dsumSql("o_totalprice")} AS total
       |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin

  // --- driver ln-divergence probes (r14; VERDICT r13 task 2) ---------
  // Two rounds of drift-entry red proved the driver's DuckDB `ln`
  // deviates from the JVM's, with zero observability into HOW FAR.
  // These entries turn the driver's binary pass/fail into a
  // measurement: the same fixed literal argument ladder hashed at
  // three grids — whichever grids go red bound the driver's ln
  // precision class (1e-6 / 1e-9 / 1e-12 absolute), permanently
  // document why the r12/r13 coarsening bets failed, and stay as an
  // environment-drift canary. Arguments enter as INTEGER PAIRS and
  // become doubles via one IEEE division (deterministic), so any flip
  // isolates to `ln` itself. The fourth entry runs the SAME ladder
  // through the fixed-point integer kernel (graft.functions.IntegerLn)
  // — it must stay green on any engine, proving the production drift
  // fix is environment-independent.
  //
  // Ladder design: exact counts and inverses (|ln| up to ~21), near-1
  // ratios at 1e-3/1e-6/1e-9 (the drift family's actual argument
  // shape, where ln's argument-reduction error dominates), classic
  // irrational-ish ratios, and drift-shaped smoothed-count products.
  private val lnProbeArgs: Seq[(Long, Long, Long)] = Seq(
    (1L, 2L, 1L), (2L, 3L, 1L), (3L, 7L, 1L), (4L, 10L, 1L),
    (5L, 97L, 1L), (6L, 1000L, 1L), (7L, 999983L, 1L),
    (8L, 123456789L, 1L), (9L, 999999937L, 1L),
    (10L, 1L, 3L), (11L, 1L, 7L), (12L, 1L, 1000L), (13L, 1L, 999983L),
    (14L, 1000001L, 1000000L), (15L, 999999L, 1000000L),
    (16L, 1000003L, 1000000L), (17L, 10000019L, 10000000L),
    (18L, 1000000007L, 1000000000L), (19L, 999999937L, 1000000000L),
    (20L, 1000000021L, 1000000000L), (21L, 999999893L, 1000000000L),
    (22L, 7L, 3L), (23L, 22L, 7L), (24L, 355L, 113L), (25L, 17L, 13L),
    (26L, 123457L, 65432L), (27L, 65432L, 123457L),
    (28L, 13567201L, 13590467L), (29L, 45676501L, 30213484L),
    (30L, 301L * 45067L, 452L * 30067L),
    (31L, 977L * 60013L, 976L * 60014L),
    (32L, 35184372088832L, 35184372088831L),
    (33L, 4611686018427387847L, 4611686018427387903L),
    (34L, 87178291200L, 479001600L), (35L, 2147483647L, 2147483629L),
    (36L, 999999999989L, 1000000000003L))

  private def lnProbe(c: Ctx, grid: String): DataFrame = {
    import c.spark.implicits._
    lnProbeArgs.toDF("probe_id", "a", "b")
      .withColumn("ln_scaled", expr(
        s"CAST(floor(ln(CAST(a AS DOUBLE) / CAST(b AS DOUBLE)) * $grid" +
          " + CAST(0.5 AS DOUBLE)) AS BIGINT)"))
      .orderBy("probe_id")
  }

  private val lnProbeValuesSql: String = lnProbeArgs
    .map { case (i, a, b) => s"($i, $a, $b)" }
    .mkString("(VALUES ", ", ", ")")

  private def lnProbeSql(grid: String): String =
    s"""WITH args AS (
       |  SELECT CAST(probe_id AS BIGINT) AS probe_id,
       |    CAST(a AS BIGINT) AS a, CAST(b AS BIGINT) AS b
       |  FROM $lnProbeValuesSql t(probe_id, a, b))
       |SELECT probe_id, a, b,
       |  CAST(floor(ln(CAST(a AS DOUBLE) / CAST(b AS DOUBLE)) * $grid
       |    + CAST(0.5 AS DOUBLE)) AS BIGINT) AS ln_scaled
       |FROM args ORDER BY probe_id""".stripMargin

  private def lnProbeKernel(c: Ctx): DataFrame = {
    import c.spark.implicits._
    graft.functions.IntegerLn
      .withLnRatio(lnProbeArgs.toDF("probe_id", "a", "b"), "a", "b")
      .select(col("probe_id"), col("a"), col("b"),
        col("iln_lr9").as("lr9"))
      .orderBy("probe_id")
  }

  private val lnProbeKernelSql: String = {
    val (lnCtes, lastCte) =
      graft.functions.IntegerLn.sqlCtes("args", "a", "b")
    s"""WITH args AS (
       |  SELECT CAST(probe_id AS BIGINT) AS probe_id,
       |    CAST(a AS BIGINT) AS a, CAST(b AS BIGINT) AS b
       |  FROM $lnProbeValuesSql t(probe_id, a, b))$lnCtes
       |SELECT probe_id, a, b, iln_lr9 AS lr9
       |FROM $lastCte ORDER BY probe_id""".stripMargin
  }

  /** Fixed (a, b, c, d) factor ladder for the PRE-SCALED product form
    * ([[graft.functions.IntegerLn.prodStages]], r15): rows 0–7 keep
    * every factor < 2³¹ (all clamps are no-ops — pins bit-identity
    * with the raw-product path), rows 8–19 plant factors up to near
    * 2⁶²–2⁶³ so the clamp shifts and the ·ln2 correction ENGAGE in
    * both engines — the raw products would overflow BIGINT by up to
    * 60 bits. Asymmetric rows (a tiny count against a 2⁶²-scale
    * total) mirror the drift family's empty-bin case. Like
    * `probe_ln_intkernel`, this entry is deterministic by
    * construction and must stay green on ANY engine pair.
    */
  private val lnPrescaleArgs: Seq[(Long, Long, Long, Long, Long)] = Seq(
    (0L, 1L, 1L, 1L, 1L),
    (1L, 2L, 3L, 5L, 7L),
    (2L, 500L, 60175L, 3L, 60175L),
    (3L, 1L, 60178L, 12L, 60175L),
    (4L, 123457L, 1000003L, 999983L, 123449L),
    (5L, 2147483647L, 2L, 3L, 2147483629L),
    (6L, 2147483647L, 2147483647L, 2147483629L, 2147483629L),
    (7L, 1073741824L, 1073741824L, 1073741823L, 1073741825L),
    (8L, 4294967311L, 3L, 5L, 4294967291L),
    (9L, 1L, 4611686018427387847L, 257L, 4611686018427387903L),
    (10L, 4611686018427387847L, 4611686018427387903L, 1L, 1L),
    (11L, 1L, 1L, 4611686018427387847L, 4611686018427387903L),
    (12L, 9223372036854775783L, 9223372036854775783L, 3L, 7L),
    (13L, 3L, 7L, 9223372036854775783L, 9223372036854775783L),
    (14L, 1000000007L, 4611686018427387847L,
      4294967311L, 999999999989L),
    (15L, 281474976710677L, 281474976710597L,
      281474976710591L, 281474976710729L),
    (16L, 1L, 9223372036854775783L, 9223372036854775783L, 1L),
    (17L, 60175L, 4611686018427387847L, 60174L, 4611686018427387903L),
    (18L, 35184372088832L, 35184372088831L,
      35184372088833L, 35184372088830L),
    (19L, 6074000999L, 8589934583L, 6074001000L, 8589934597L))

  private def lnProbePrescale(c: Ctx): DataFrame = {
    import c.spark.implicits._
    graft.functions.IntegerLn
      .withLnRatioProd2(lnPrescaleArgs.toDF("probe_id", "a", "b", "cc", "dd"),
        "a", "b", "cc", "dd")
      .select(col("probe_id"), col("a"), col("b"), col("cc"), col("dd"),
        col("iln_lr9").as("lr9"))
      .orderBy("probe_id")
  }

  private val lnProbePrescaleSql: String = {
    val values = lnPrescaleArgs
      .map { case (i, a, b, cc, dd) => s"($i, $a, $b, $cc, $dd)" }
      .mkString("(VALUES ", ", ", ")")
    val (lnCtes, lastCte) = graft.functions.IntegerLn.sqlCtesProd2(
      "args", "a", "b", "cc", "dd")
    s"""WITH args AS (
       |  SELECT CAST(probe_id AS BIGINT) AS probe_id,
       |    CAST(a AS BIGINT) AS a, CAST(b AS BIGINT) AS b,
       |    CAST(cc AS BIGINT) AS cc, CAST(dd AS BIGINT) AS dd
       |  FROM $values t(probe_id, a, b, cc, dd))$lnCtes
       |SELECT probe_id, a, b, cc, dd, iln_lr9 AS lr9
       |FROM $lastCte ORDER BY probe_id""".stripMargin
  }

  val queries: Map[String, Ctx => DataFrame] = Map(
    "probe_ln_grid6" -> (c => lnProbe(c, "1e6")),
    "probe_ln_grid9" -> (c => lnProbe(c, "1e9")),
    "probe_ln_grid12" -> (c => lnProbe(c, "1e12")),
    "probe_ln_intkernel" -> (lnProbeKernel _),
    "probe_ln_prescale" -> (lnProbePrescale _),
    // dedup family
    "dedup_exact" -> (c => Dedup.exact(c.documents)),
    "dedup_fingerprint" -> (c => Dedup.fingerprint(c.documents)),
    "dedup_jaccard_hist" -> (c => Dedup.jaccardHistogram(c.documents)),
    "dedup_containment" -> (c => Dedup.containmentPairs(c.documents, tau = 0.9)),
    "dedup_containment_lsh_md5" ->
      (c => Dedup.containmentLshMd5(c.documents, tau = 0.9)),
    "dedup_containment_chunk_lsh_md5" ->
      (c => Dedup.containmentChunkLshMd5(c.documents, tau = 0.9)),
    // delta-vs-base containment against a PERSISTED chunk-LSH
    // container index (chunk signatures + shingle hashes + sizes,
    // written once per fixture): the probe and the exact verify READ
    // the store, never recompute the base — the oracle is the
    // one-frame chunk twin restricted per side, proving the store
    // round-trip changes nothing
    "dedup_containment_store" -> (c => {
      val base = c.documents.filter(pmod(col("doc_id"), lit(3)) =!= 0)
      val delta = c.documents.filter(pmod(col("doc_id"), lit(3)) === 0)
      val store = Dedup.ensureContainmentStore(base,
        new java.io.File(c.dir).getName + "_ctstore")
      Dedup.containmentFromStore(store, delta, tau = 0.5)
    }),
    "dedup_source_overlap" -> (c => Dedup.sourceOverlap(c.documents)),
    "dedup_split_leakage" -> (c => Dedup.splitLeakage(c.documents)),
    // the audit's PRODUCTION shape: leakage report fed from the
    // persisted cluster map (same fixture keep_best_store reuses) —
    // the unchanged oracle proves store-fed ≡ one-shot, and the audit
    // never re-runs the clustering
    "dedup_split_leakage_store" -> (c => {
      val map = Dedup.ensureClusterMap(c.documents,
        new java.io.File(c.dir).getName + "_clmap")
      Dedup.splitLeakageFromClusters(c.documents,
        Dedup.readClusterMap(c.spark, map))
    }),
    "dedup_minhash_lsh" -> (c => Dedup.minHashLsh(c.documents)),
    "dedup_minhash_lsh_md5" -> (c => Dedup.minHashLshMd5(c.documents)),
    "dedup_simhash_pairs" -> (c => Dedup.simHashPairs(c.documents)),
    "dedup_simhash_pairs_md5" -> (c => Dedup.simHashPairsMd5(c.documents)),
    "dedup_embedding_cosine" -> (c => Similarity.embeddingNearDups(c.embeddings)),
    "dedup_clusters" -> (c => Dedup.clusters(c.documents)),
    // the giant-component observability hook as a checked entry: the
    // log2 size histogram a production run logs before resolution
    "dedup_cluster_histogram" ->
      (c => Dedup.componentSizeHistogram(Dedup.clusters(c.documents))),
    "dedup_clusters_lsh_md5" -> (c => Dedup.clustersLshMd5(c.documents)),
    "dedup_incremental" -> (c => Dedup.incrementalLsh(c.documents)),
    "dedup_incremental_md5" -> (c => Dedup.incrementalLshMd5(c.documents)),
    // base signatures come from a PERSISTED parquet store (written
    // once per fixture, reused across invocations) — proves the
    // store round-trip changes nothing vs the one-frame md5 twin
    "dedup_incremental_store" -> (c => {
      val base = c.documents.filter(pmod(col("doc_id"), lit(3)) =!= 0)
      val delta = c.documents.filter(pmod(col("doc_id"), lit(3)) === 0)
      val store = Dedup.ensureSignatureStore(base,
        new java.io.File(c.dir).getName + "_incstore")
      Dedup.incrementalLshStore(store, delta)
    }),
    // exact-fingerprint ingest gate: broadcast semi-join, base never
    // shuffles
    "dedup_incremental_exact" -> (c => Dedup.incrementalExact(c.documents)),
    "dedup_passages" -> (c => Dedup.passageDedup(c.documents)),
    "dedup_spans" -> (c => Dedup.spanDedup(c.documents)),
    // true Lee et al. exact-substring dedup: distributed suffix
    // ranking (prefix doubling over globalRank), char-level threshold;
    // the oracle runs the INDEPENDENT gram algorithm
    "dedup_exact_substring" ->
      (c => Dedup.exactSubstringDedup(c.documents)),
    // ingest-batch path vs the PERSISTED gram-count store (base 4/5 of
    // doc_ids computed once, ever; delta 1/5 probed against it) — the
    // fresh-restricted oracle proves the store round trip is invisible;
    // the literal-gram oracle never sees gram hashes, so a green hash
    // certifies the 120-bit key layout against ground truth
    "dedup_exact_substring_store" -> (c => {
      val base = c.documents.filter(expr("pmod(doc_id, 5) != 0"))
      val delta = c.documents.filter(expr("pmod(doc_id, 5) = 0"))
      val store = Dedup.ensureSubstringStore(base,
        new java.io.File(c.dir).getName + "_substr")
      Dedup.exactSubstringDedupIncremental(delta, store)
    }),
    // substring-level decontamination: eval/test windows stripped iff
    // PRESENT in the stored train corpus (within-probe repetition does
    // NOT count — contrast the >= 2 multiplicity rule above); reuses
    // the same ensured train-side store
    "dedup_substring_decontaminate" -> (c => {
      val base = c.documents.filter(expr("pmod(doc_id, 5) != 0"))
      val probe = c.documents.filter(expr("pmod(doc_id, 5) = 0"))
      val store = Dedup.ensureSubstringStore(base,
        new java.io.File(c.dir).getName + "_substr")
      Dedup.substringDecontaminate(probe, store)
    }),
    // grow-by-append store (base 3/5, one appended 1/5 batch) probed
    // by the same delta — additive counts make append ≡ fresh exactly,
    // so the SAME oracle covers it end-to-end (replay guard included)
    "dedup_exact_substring_append" -> (c => {
      val b1 = c.documents.filter(expr("pmod(doc_id, 5) IN (1, 2, 3)"))
      val b2 = c.documents.filter(expr("pmod(doc_id, 5) = 4"))
      val delta = c.documents.filter(expr("pmod(doc_id, 5) = 0"))
      val store = Dedup.ensureAppendedSubstringStore(b1, b2,
        new java.io.File(c.dir).getName + "_substrapp")
      Dedup.exactSubstringDedupIncremental(delta, store)
    }),
    "dedup_keep_best" -> (c => Dedup.keepBest(c.documents)),
    // resolution over a PERSISTED cluster map (written once per
    // fixture, reused) — proves store-fed keep-best ≡ the one-shot
    // path, so the same oracle covers both
    "dedup_keep_best_store" -> (c => {
      val map = Dedup.ensureClusterMap(c.documents,
        new java.io.File(c.dir).getName + "_clmap")
      Dedup.keepBestFromStore(c.documents, map)
    }),
    // resolution over an INCREMENTALLY-MAINTAINED cluster map (base
    // map built from the first 4/5 of doc_ids, last 1/5 folded in via
    // appendToClusterMap) — the unchanged keepBest oracle proves
    // append ≡ fresh end-to-end: delta-vs-base candidate edges +
    // stored components as star edges reproduce the full
    // re-clustering bit-for-bit
    "dedup_keep_best_append" -> (c => {
      val map = Dedup.ensureAppendedClusterMap(c.documents,
        new java.io.File(c.dir).getName + "_clmap")
      Dedup.keepBestFromStore(c.documents, map)
    }),
    // the COMPOSED production loop: one delta batch through signature
    // append → cluster-map append → export append, then the post-batch
    // state (export manifest ⋈ keep-best winner census per shard)
    // oracle-checked against a from-scratch recomputation — the
    // end-to-end append ≡ fresh law across all three store families
    "pipeline_ingest_loop" -> (c => {
      val root = IngestLoop.ensureIngestLoop(c.documents,
        new java.io.File(c.dir).getName + "_iloop")
      IngestLoop.loopReport(c.documents, root)
    }),
    // the loop-grown index and profile, probed as the consumer would:
    // retrieval oracle = UNCHANGED fresh-corpus bm25QueriesSql, drift
    // oracle = stored-full-corpus reference vs an overlapping probe —
    // append ≡ fresh for the two r12-late families THROUGH the loop
    "pipeline_ingest_search" -> (c => {
      val root = IngestLoop.ensureIngestLoop(c.documents,
        new java.io.File(c.dir).getName + "_iloop")
      SearchIndex.bm25FromStore(c.spark, s"$root/index")
    }),
    "pipeline_ingest_profile" -> (c => {
      val root = IngestLoop.ensureIngestLoop(c.documents,
        new java.io.File(c.dir).getName + "_iloop")
      Profiling.driftFromStore(c.spark, s"$root/profile",
        c.documents.filter(pmod(col("doc_id"), lit(2L)) === 0))
    }),
    // the FULL retrieval pipeline over the loop-grown PERSISTED index:
    // store retrieval (wb-partition-pruned) → rerank — the unchanged
    // fresh-path rerank oracle proves retrieve→rank→rerank composes
    // with the store family end-to-end (append ≡ fresh THROUGH the
    // interaction scoring and the final cut)
    "pipeline_ingest_rerank" -> (c => {
      val root = IngestLoop.ensureIngestLoop(c.documents,
        new java.io.File(c.dir).getName + "_iloop")
      Search.rerankCandidates(c.documents,
        SearchIndex.bm25FromStore(c.spark, s"$root/index"))
    }),
    // the loop-grown substring gram-count store, censused: exact
    // bucketed totals + portable xor content hash vs a from-scratch
    // recomputation — append ≡ fresh for the r15 family THROUGH the
    // loop (base 4/5 build + one appended delta = the whole corpus)
    "pipeline_ingest_substring" -> (c => {
      val root = IngestLoop.ensureIngestLoop(c.documents,
        new java.io.File(c.dir).getName + "_iloop")
      Dedup.substringStoreReport(c.spark, s"$root/substr")
    }),
    // the gram store censused directly: exact bucketed totals + the
    // two-key-folding xor content hash vs a from-scratch DuckDB
    // recomputation of both 60-bit md5 halves — the 120-bit layout's
    // own content certification (the probe entries certify its
    // VERDICTS; this certifies the stored counts themselves)
    "dedup_substring_census_wide" -> (c => {
      val store = Dedup.ensureSubstringStore(c.documents,
        new java.io.File(c.dir).getName + "_substrcw")
      Dedup.substringStoreReport(c.spark, store)
    }),
    "dedup_within_doc" -> (c => Dedup.withinDocDedup(c.documents)),
    "pipeline_corpus_stats" -> (c => CorpusPipeline.corpusStats(c.documents)),
    "pipeline_decontaminate" -> (c => CorpusPipeline.decontaminate(c.documents)),
    "pipeline_pack_sequences" -> (c => CorpusPipeline.packSequences(c.documents)),
    "pipeline_chunk_documents" -> (c => CorpusPipeline.chunkDocuments(c.documents)),
    "pipeline_rag_ingest" -> (c => CorpusPipeline.ragIngest(c.documents)),
    "pipeline_bpe_merges" -> (c => CorpusPipeline.bpeMerges(c.documents)),
    "pipeline_bpe_encode" -> (c => CorpusPipeline.bpeEncode(c.documents)),
    "pipeline_subword_vocab" ->
      (c => CorpusPipeline.subwordVocab(c.documents)),
    "pipeline_subword_stats" ->
      (c => CorpusPipeline.subwordStats(c.documents)),
    "pipeline_curate" -> (c => CorpusPipeline.curate(c.documents)),
    "pipeline_dsir_select" -> (c => CorpusPipeline.dsirSelect(c.documents)),
    // estimator-calibration harness: LSH verdicts vs exact-Jaccard truth
    "dedup_lsh_eval" -> (c => Dedup.lshEval(c.documents)),
    // similarity search
    // flagship = the bounded-agg form (map-side k-capped heaps — the
    // shape that survives |corpus| ≫ memory); the window form stays as
    // a cross-check against the same oracle
    "sim_cosine_topk" -> (c => Similarity.cosineTopKAgg(c.embeddings)),
    "sim_cosine_topk_window" -> (c => Similarity.cosineTopK(c.embeddings)),
    "sim_ann_lsh" -> (c => Similarity.annLshTopK(c.embeddings)),
    "sim_ann_lsh_md5" -> (c => Similarity.annLshTopKMd5(c.embeddings)),
    "sim_ivf_topk" -> (c => Similarity.ivfTopK(c.embeddings)),
    "sim_ivf_topk_exact" -> (c => Similarity.ivfTopKExact(c.embeddings)),
    "sim_ann_recall" -> (c => Similarity.annRecall(c.embeddings)),
    // planted-cluster recall twins: same pipelines over the
    // clusteredEmbeddings fixture, where a broken index actually
    // FAILS (the isotropic originals can't discriminate — r9 verdict)
    "sim_ann_recall_clustered" ->
      (c => Similarity.annRecall(Similarity.clusteredEmbeddings(c.embeddings))),
    // k=64 codes: ~1-2 codes per planted cluster, enough for PQ to
    // resolve WITHIN-cluster ranking — at the default k=16 every
    // member of a cluster shares one code and recall@5 degenerates to
    // tie-breaks
    "sim_pq_recall_clustered" ->
      (c => Quantize.pqRecall(Similarity.clusteredEmbeddings(c.embeddings),
        k = 64, m = 16)),
    "sim_rp_recall_clustered" ->
      (c => Similarity.rpRecall(Similarity.clusteredEmbeddings(c.embeddings))),
    "sim_ivf_kmeans" -> (c => Similarity.ivfKmeansTopK(c.embeddings)),
    "sim_semantic_dedup" -> (c => Similarity.semanticDedup(c.embeddings)),
    // delta batch deduped against a PERSISTED semantic index (built
    // once per fixture from the base 4/5 of vec_ids, reused) — the
    // incremental-store pattern applied to the SemDeDup family
    "sim_semantic_dedup_incremental" -> (c => {
      val thr = c.embeddings.agg(expr("(max(vec_id) * 4) div 5").as("t"))
      val base = c.embeddings.crossJoin(broadcast(thr))
        .filter(col("vec_id") < col("t")).drop("t")
      val delta = c.embeddings.crossJoin(broadcast(thr))
        .filter(col("vec_id") >= col("t")).drop("t")
      val store = Similarity.ensureSemanticStore(base,
        new java.io.File(c.dir).getName + "_semstore")
      Similarity.semanticDedupIncremental(store, delta)
    }),
    "sim_ivf_kmeans_exact" -> (c => Similarity.ivfKmeansTopKExact(c.embeddings)),
    "sim_label_centroids" -> (c => Similarity.labelCentroidsFlat(c.embeddings)),
    "sim_knn_classify" -> (c => Similarity.knnClassify(c.embeddings)),
    "sim_hard_negatives" -> (c => Similarity.hardNegatives(c.embeddings)),
    "sim_decontaminate" -> (c => Similarity.semanticDecontaminate(c.embeddings)),
    "sample_mix_epochs" -> (c => Sampling.mixEpochs(c.documents)),
    // text analysis
    "text_stats" -> (c => TextAnalysis.stats(c.documents)),
    "text_token_count" -> (c => TextAnalysis.tokenCounts(c.documents)),
    "text_quality" -> (c => TextAnalysis.quality(c.documents)),
    "text_lang_id" -> (c => TextAnalysis.langId(c.documents)),
    "text_heavy_hitters" -> (c => TextAnalysis.heavyHitters(c.documents)),
    "text_heavy_hitter_churn" ->
      (c => TextAnalysis.heavyHitterChurnEntry(c.documents)),
    "text_source_signature" ->
      (c => TextAnalysis.sourceSignatureTerms(c.documents)),
    "text_winnow_fingerprint" -> (c => TextAnalysis.winnowFingerprint(c.documents)),
    "text_repeated_ngrams" -> (c => TextAnalysis.repeatedNgrams(c.documents)),
    "text_bm25_topk" -> (c => Search.bm25TopK(c.documents)),
    "text_bm25_queries" -> (c => Search.bm25Queries(c.documents)),
    // retrieve → rank → RERANK (r16): the BM25 top-k page re-scored
    // with exact-integer interaction features (coverage / adjacent
    // distinct-term pairs / tf / first position) — the cross-encoder
    // seam, cost bounded by the query load, not the corpus
    "text_bm25_rerank" -> (c => Search.bm25Rerank(c.documents)),
    // MODEL rerank (r17): a linear scorer (deterministic integer-grid
    // weight fixture) over the SAME candidate plumbing — the learned
    // cross-encoder seam wired to an actual model dot product;
    // weights = packing radixes reproduces the lexical rerank exactly
    // (SearchSpec law)
    "text_bm25_rerank_model" ->
      (c => Search.bm25RerankModel(c.documents)),
    // TRAINED rerank (r18): the same model plumbing served with
    // weights LEARNED by the deterministic pairwise-perceptron run
    // (integer full-batch epochs on the md5 feature fixture, training
    // scale folded back, snapped to the serving grid) — the
    // train → serve loop closed; the weights are data, and the oracle
    // carries the SAME learned constants as literals
    "text_bm25_rerank_trained" ->
      (c => Search.bm25RerankModel(c.documents,
        weights = Search.trainedRerankWeights)),
    // persisted inverted-index store: base build + delta append +
    // retrieval FROM the store; unchanged bm25QueriesSql oracle =
    // append ≡ fresh proven end-to-end through scoring and ranking
    "text_bm25_store" -> (c => SearchIndex.bm25StoreEntry(c.documents,
      java.lang.Long.toHexString(c.dir.hashCode.toLong & 0xffffffffL))),
    // POSITIONAL index layout (r17): rerank reassembled entirely from
    // stored position lists — zero corpus re-read in retrieve → rank →
    // rerank; the UNCHANGED rerank oracle certifies the stored
    // positions + append + index-only features against ground truth
    "text_bm25_rerank_index" ->
      (c => SearchIndex.bm25RerankStoreEntry(c.documents,
        java.lang.Long.toHexString(c.dir.hashCode.toLong & 0xffffffffL))),
    // exact-phrase search (r18): token-level verbatim containment —
    // fresh corpus scan vs the positional store, BOTH against the one
    // layout-independent oracle (hash-equal from two sources = the
    // stored position lists certified against the corpus itself)
    "text_phrase_search" -> (c => Search.phraseSearch(c.documents)),
    "text_phrase_store" ->
      (c => SearchIndex.phraseStoreEntry(c.documents,
        java.lang.Long.toHexString(c.dir.hashCode.toLong & 0xffffffffL))),
    // quality signals (repetition / LM scoring / PII)
    "text_repetition" -> (c => QualitySignals.repetition(c.documents)),
    "text_unigram_lm" -> (c => QualitySignals.unigramLm(c.documents)),
    "text_pii_redact" -> (c => QualitySignals.piiRedact(c.documents)),
    "text_quality_classifier" -> (c => QualitySignals.linearClassifier(c.documents)),
    "text_gopher_rules" -> (c => QualitySignals.gopherRules(c.documents)),
    // frozen-LM scoring: LM trained once on the base 4/5 of doc_ids
    // (persisted store, reused), the remaining 1/5 scored against it
    // with the add-one OOV rule - the CCNet frozen-wiki-LM shape
    "text_lm_store_score" -> (c => {
      val thr = c.documents.agg(expr("(max(doc_id) * 4) div 5").as("t"))
      val base = c.documents.crossJoin(broadcast(thr))
        .filter(col("doc_id") < col("t")).drop("t")
      val delta = c.documents.crossJoin(broadcast(thr))
        .filter(col("doc_id") >= col("t")).drop("t")
      val store = QualitySignals.ensureLmStore(base,
        new java.io.File(c.dir).getName + "_lmstore")
      QualitySignals.scoreAgainstLmStore(store, delta)
    }),
    "text_perplexity_buckets" -> (c => QualitySignals.perplexityBuckets(c.documents)),
    // embedding quantization / dimensionality reduction
    "sim_quantize_int8" -> (c => Quantize.int8Stats(c.embeddings)),
    "sim_rp_topk" -> (c => Similarity.rpTopK(c.embeddings)),
    "sim_pq_topk" -> (c => Quantize.pqTopK(c.embeddings)),
    "sim_pq_recall" -> (c => Quantize.pqRecall(c.embeddings)),
    "sim_rp_recall" -> (c => Similarity.rpRecall(c.embeddings)),
    // time windows / events
    "events_tumbling" -> (c => EventOps.tumblingHourly(c.events)),
    "events_sliding" -> (c => EventOps.slidingTwoHour(c.events)),
    "events_sessionize" -> (c => EventOps.sessionize(c.events)),
    "events_sessionize_capped" ->
      (c => EventOps.sessionizeCapped(c.events)),
    "events_json" -> (c => EventOps.jsonExtract(c.events)),
    "events_top_days" -> (c => EventOps.topDays(c.events)),
    "events_asof_join" -> (c => AsofOps.clicksWithLastView(c.events)),
    "events_range_join" -> (c => RangeOps.errorClickFollowups(c.events)),
    // deterministic sampling / splits
    "sample_stratified" -> (c => Sampling.stratifiedSample(c.documents)),
    "sample_source_quota" -> (c => Sampling.sourceQuota(c.documents)),
    "sample_exact_k" -> (c => Sampling.exactKSample(c.documents)),
    "pipeline_corpus_diff" ->
      (c => CorpusPipeline.corpusDiffEntry(c.documents)),
    // HLL sketch binaries are engine-specific -> rows-only by design;
    // SketchesSpec carries the append/accuracy laws
    // declarative constraint audit: domain/enum/range/uniqueness/FK
    // violation COUNTS (drift detection, not a gate)
    "validate_constraints" -> (c => Validate.constraintReport(
      c.lineitem, c.orders, c.customer, c.documents)),
    // resumable manifest'd shard export: the manifest is aggregated
    // from the WRITTEN files, so the oracle match proves the export
    // wrote exactly the source (once, uncorrupted, correct shards)
    "export_manifest" -> (c => {
      val p = graft.sources.TrainingExport.ensureExport(c.documents,
        java.lang.Long.toHexString(c.dir.hashCode.toLong & 0xffffffffL))
      graft.sources.TrainingExport.readManifest(c.spark, p)
    }),
    "sketch_source_distinct" -> (c => {
      val store = Sketches.ensureSketchStore(c.documents,
        java.lang.Long.toHexString(c.dir.hashCode.toLong & 0xffffffffL))
      Sketches.estimateStore(c.spark, store)
    }),
    // KLL order statistics: rows-only by design (randomized compaction
    // above capacity makes byte images run-dependent); SketchesSpec
    // carries the exact-below-capacity and append laws
    "sketch_source_quantiles" -> (c => {
      val store = Sketches.ensureQuantileStore(c.documents,
        java.lang.Long.toHexString(c.dir.hashCode.toLong & 0xffffffffL))
      Sketches.quantileReport(c.spark, store)
    }),
    "sample_temperature" -> (c => Sampling.temperatureSample(c.documents)),
    "sample_shuffle" -> (c => Sampling.deterministicShuffle(c.documents)),
    // set ops / grouping sets / joins / string funcs / sketches / SQL
    "set_union_kinds" -> (unionKinds _),
    "set_except_nations" -> (exceptNations _),
    "join_right_outer" -> (rightOuterJoin _),
    "join_full_outer" -> (fullOuterJoin _),
    "rollup_orders" -> (rollupOrders _),
    "cube_orders" -> (cubeOrders _),
    "pivot_orders" -> (pivotOrders _),
    "text_top_bigrams" -> (c => topBigrams(c)),
    "text_vocab_growth" -> (c => TextAnalysis.vocabGrowth(c.documents)),
    "text_bigram_fluency" ->
      (c => QualitySignals.bigramFluency(c.documents)),
    "str_affix_stats" -> (strAffixStats _),
    "approx_distinct" -> (approxDistinct _),
    "stats_quantiles" -> (quantiles _),
    "stats_quantiles_rank" -> (quantilesRank _),
    "stats_quantiles_approx" -> (quantilesApprox _),
    "profile_lineitem" -> (profileLineitem _),
    // generic long-format per-column profiler (exact distincts; the
    // 100 TB approximate path is the HLL sketch store)
    "profile_columns" -> (c => Profiling.columnProfileEntry(c.documents)),
    // snapshot drift (PSI / KL, add-1 smoothed) + the persisted
    // reference-profile store round-trip
    "pipeline_drift_psi" -> (c => Profiling.driftEntry(c.documents)),
    // the pre-scoring per-bin counts (all exact BIGINTs, no ln): if a
    // scored drift entry goes red while this stays green, the
    // divergence provably isolates to the ln scoring tail
    "pipeline_drift_bins" -> (c => Profiling.driftBinsEntry(c.documents)),
    "events_drift_bins" -> (c => Profiling.eventsDriftBinsEntry(c.events)),
    "embeddings_drift_bins" ->
      (c => Profiling.embeddingDriftBinsEntry(c.embeddings)),
    "events_drift" -> (c => Profiling.eventsDriftEntry(c.events)),
    "embeddings_drift" -> (c => Profiling.embeddingDriftEntry(c.embeddings)),
    "pipeline_drift_store" -> (c => Profiling.driftStoreEntry(c.documents,
      java.lang.Long.toHexString(c.dir.hashCode.toLong & 0xffffffffL))),
    "events_drift_store" -> (c => Profiling.eventsDriftStoreEntry(c.events,
      java.lang.Long.toHexString(c.dir.hashCode.toLong & 0xffffffffL))),
    "salted_revenue" -> (saltedRevenue _),
    "salted_join_agg" -> (saltedJoinAgg _),
    "sql_view_query" -> (sqlViewQuery _),
    // multimodal plumbing (REAL JDK decode/resize; rows-only — DuckDB
    // has no codec)
    "multimodal_features" ->
      (c => Multimodal.featuresQuery(c.spark, c.documents)),
    "multimodal_resize" ->
      (c => Multimodal.resizeQuery(c.spark, c.documents)))

  val oracles: Map[String, String] = Map(
    "probe_ln_grid6" -> lnProbeSql("1e6"),
    "probe_ln_grid9" -> lnProbeSql("1e9"),
    "probe_ln_grid12" -> lnProbeSql("1e12"),
    "probe_ln_intkernel" -> lnProbeKernelSql,
    "probe_ln_prescale" -> lnProbePrescaleSql,
    "export_manifest" -> graft.sources.TrainingExport.manifestSql(),
    "validate_constraints" -> Validate.constraintReportSql,
    "dedup_exact" -> Dedup.exactSql,
    "dedup_fingerprint" -> Dedup.fingerprintSql,
    "dedup_jaccard_hist" -> Dedup.jaccardHistogramSql,
    "dedup_containment" -> Dedup.containmentPairsSql(tau = 0.9),
    "dedup_containment_lsh_md5" -> Dedup.containmentLshMd5Sql(tau = 0.9),
    "dedup_containment_chunk_lsh_md5" ->
      Dedup.containmentChunkLshMd5Sql(tau = 0.9),
    "dedup_containment_store" -> Dedup.containmentStoreSql(tau = 0.5),
    "pipeline_ingest_loop" -> IngestLoop.ingestLoopSql(),
    "pipeline_ingest_search" -> Search.bm25QueriesSql(),
    "pipeline_ingest_profile" ->
      Profiling.driftSqlOver("1 = 1", "doc_id % 2 = 0"),
    "pipeline_ingest_substring" -> Dedup.ingestSubstringSql(),
    "dedup_substring_census_wide" -> Dedup.ingestSubstringSql(),
    "dedup_source_overlap" -> Dedup.sourceOverlapSql,
    "dedup_split_leakage" -> Dedup.splitLeakageSql(),
    // store round-trip must be invisible — same oracle as the one-shot
    "dedup_split_leakage_store" -> Dedup.splitLeakageSql(),
    "dedup_minhash_lsh_md5" -> Dedup.minHashLshMd5Sql(),
    "dedup_simhash_pairs_md5" -> Dedup.simHashPairsMd5Sql(),
    "dedup_embedding_cosine" -> Similarity.embeddingNearDupsSql(),
    "dedup_clusters" -> Dedup.clustersSql(),
    "dedup_cluster_histogram" -> Dedup.clusterHistogramSql(),
    "dedup_clusters_lsh_md5" -> Dedup.clustersLshMd5Sql(),
    "dedup_incremental_md5" -> Dedup.incrementalLshMd5Sql(),
    // same oracle as the one-frame twin: base/delta split + parquet
    // round-trip must be invisible in the verdicts
    "dedup_incremental_store" -> Dedup.incrementalLshMd5Sql(),
    "dedup_incremental_exact" -> Dedup.incrementalExactSql(),
    "dedup_passages" -> Dedup.passageDedupSql(),
    "dedup_spans" -> Dedup.spanDedupSql(),
    // independent-algorithm oracle: literal substring multiplicity
    // (no suffix ranks) — a hash match certifies the prefix-doubling
    // equivalence classes against ground truth
    "dedup_exact_substring" -> Dedup.exactSubstringDedupSql(),
    // fresh full-corpus computation restricted to the delta docs —
    // what both store paths (one-shot and grow-by-append) must equal
    "dedup_exact_substring_store" ->
      Dedup.exactSubstringDedupIncrementalSql(),
    "dedup_exact_substring_append" ->
      Dedup.exactSubstringDedupIncrementalSql(),
    // literal-substring train∩test overlap, no gram store mechanics
    "dedup_substring_decontaminate" ->
      Dedup.substringDecontaminateSql(),
    "dedup_keep_best" -> Dedup.keepBestSql(),
    "dedup_keep_best_store" -> Dedup.keepBestSql(),
    // the append path must be INVISIBLE in the resolved output — same
    // oracle as the fresh-map entries
    "dedup_keep_best_append" -> Dedup.keepBestSql(),
    "dedup_within_doc" -> Dedup.withinDocDedupSql(),
    "pipeline_corpus_stats" -> CorpusPipeline.corpusStatsSql(),
    "pipeline_decontaminate" -> CorpusPipeline.decontaminateSql(),
    "pipeline_pack_sequences" -> CorpusPipeline.packSequencesSql(),
    "pipeline_chunk_documents" -> CorpusPipeline.chunkDocumentsSql(),
    "pipeline_rag_ingest" -> CorpusPipeline.ragIngestSql(),
    "pipeline_bpe_merges" -> CorpusPipeline.bpeMergesSql(),
    "pipeline_bpe_encode" -> CorpusPipeline.bpeEncodeSql(),
    "pipeline_subword_vocab" -> CorpusPipeline.subwordVocabSql(),
    "pipeline_subword_stats" -> CorpusPipeline.subwordStatsSql(),
    "pipeline_curate" -> CorpusPipeline.curateSql(),
    "pipeline_dsir_select" -> CorpusPipeline.dsirSelectSql(),
    "dedup_lsh_eval" -> Dedup.lshEvalSql(),
    "sim_ann_lsh_md5" -> Similarity.annLshTopKMd5Sql(),
    "sim_ivf_topk_exact" -> Similarity.ivfTopKExactSql(),
    "sim_ann_recall" -> Similarity.annRecallSql(),
    "sim_ann_recall_clustered" ->
      Similarity.clusteredEmbSql(Similarity.annRecallSql()),
    "sim_pq_recall_clustered" ->
      Similarity.clusteredEmbSql(Quantize.pqRecallSql(k = 64, m = 16)),
    "sim_rp_recall_clustered" ->
      Similarity.clusteredEmbSql(Similarity.rpRecallSql()),
    "sim_ivf_kmeans_exact" -> Similarity.ivfKmeansTopKSql(),
    "sim_semantic_dedup" -> Similarity.semanticDedupSql(),
    "sim_semantic_dedup_incremental" -> Similarity.semanticDedupIncrementalSql(),
    "sim_cosine_topk" -> Similarity.cosineTopKSql(),
    "sim_cosine_topk_window" -> Similarity.cosineTopKSql(),
    "sim_label_centroids" -> Similarity.labelCentroidsFlatSql(),
    "sim_knn_classify" -> Similarity.knnClassifySql(),
    "sim_hard_negatives" -> Similarity.hardNegativesSql(),
    "sim_decontaminate" -> Similarity.semanticDecontaminateSql(),
    "sample_mix_epochs" -> Sampling.mixEpochsSql(),
    "text_stats" -> TextAnalysis.statsSql,
    "text_token_count" -> TextAnalysis.tokenCountsSql,
    "text_quality" -> TextAnalysis.qualitySql,
    "text_lang_id" -> TextAnalysis.langIdSql,
    "text_heavy_hitters" -> TextAnalysis.heavyHittersSql(),
    "text_heavy_hitter_churn" -> TextAnalysis.heavyHitterChurnSql(),
    "text_source_signature" -> TextAnalysis.sourceSignatureTermsSql(),
    "text_winnow_fingerprint" -> TextAnalysis.winnowFingerprintSql(),
    "text_repeated_ngrams" -> TextAnalysis.repeatedNgramsSql(),
    "text_bm25_topk" -> Search.bm25TopKSql(),
    "text_bm25_queries" -> Search.bm25QueriesSql(),
    "text_bm25_rerank" -> Search.bm25RerankSql(),
    "text_bm25_rerank_model" -> Search.bm25RerankModelSql(),
    // learned constants inlined as literals — weights are data
    "text_bm25_rerank_trained" ->
      Search.bm25RerankModelSql(weights = Search.trainedRerankWeights),
    // positional-index rerank must be INVISIBLE vs the fresh pipeline
    "text_bm25_rerank_index" -> Search.bm25RerankSql(),
    // ONE oracle for both phrase paths — fresh scan and positional
    // store must be indistinguishable from ground truth
    "text_phrase_search" -> Search.phraseSearchSql(),
    "text_phrase_store" -> Search.phraseSearchSql(),
    // store-fed rerank must be INVISIBLE vs the fresh pipeline
    "pipeline_ingest_rerank" -> Search.bm25RerankSql(),
    "text_bm25_store" -> Search.bm25QueriesSql(),
    "text_repetition" -> QualitySignals.repetitionSql(),
    "text_unigram_lm" -> QualitySignals.unigramLmSql,
    "text_pii_redact" -> QualitySignals.piiRedactSql,
    "text_quality_classifier" -> QualitySignals.linearClassifierSql(),
    "text_gopher_rules" -> QualitySignals.gopherRulesSql(),
    "text_lm_store_score" -> QualitySignals.lmStoreScoreSql,
    "text_perplexity_buckets" -> QualitySignals.perplexityBucketsSql(),
    "sim_quantize_int8" -> Quantize.int8StatsSql,
    "sim_rp_topk" -> Similarity.rpTopKSql(),
    "sim_pq_topk" -> Quantize.pqTopKSql(),
    "sim_pq_recall" -> Quantize.pqRecallSql(),
    "sim_rp_recall" -> Similarity.rpRecallSql(),
    "events_tumbling" -> EventOps.tumblingHourlySql,
    "events_sliding" -> EventOps.slidingTwoHourSql,
    "events_sessionize" -> EventOps.sessionizeSql(),
    "events_sessionize_capped" -> EventOps.sessionizeCappedSql(),
    "events_json" -> EventOps.jsonExtractSql,
    "events_top_days" -> EventOps.topDaysSql(),
    "events_asof_join" -> AsofOps.clicksWithLastViewSql(),
    "events_range_join" -> RangeOps.errorClickFollowupsSql(),
    "sample_stratified" -> Sampling.stratifiedSampleSql,
    "sample_source_quota" -> Sampling.sourceQuotaSql(),
    "sample_exact_k" -> Sampling.exactKSampleSql(),
    "pipeline_corpus_diff" -> CorpusPipeline.corpusDiffSql,
    "sample_temperature" -> Sampling.temperatureSampleSql,
    "sample_shuffle" -> Sampling.deterministicShuffleSql(),
    "set_union_kinds" -> unionKindsSql,
    "set_except_nations" -> exceptNationsSql,
    "join_right_outer" -> rightOuterJoinSql,
    "join_full_outer" -> fullOuterJoinSql,
    "rollup_orders" -> rollupOrdersSql,
    "cube_orders" -> cubeOrdersSql,
    "pivot_orders" -> pivotOrdersSql,
    "text_top_bigrams" -> topBigramsSql(),
    "text_vocab_growth" -> TextAnalysis.vocabGrowthSql,
    "text_bigram_fluency" -> QualitySignals.bigramFluencySql(),
    "str_affix_stats" -> strAffixStatsSql,
    "stats_quantiles" -> quantilesSql,
    "stats_quantiles_rank" -> quantilesRankSql,
    "profile_lineitem" -> profileLineitemSql,
    "profile_columns" -> Profiling.columnProfileSql,
    "pipeline_drift_psi" -> Profiling.driftSql,
    "pipeline_drift_bins" -> Profiling.driftBinsSql,
    "events_drift_bins" -> Profiling.eventsDriftBinsSql,
    "embeddings_drift_bins" -> Profiling.embeddingDriftBinsSql,
    "events_drift" -> Profiling.eventsDriftSql,
    "embeddings_drift" -> Profiling.embeddingDriftSql,
    // store round-trip must be invisible — the oracle recomputes the
    // same drift from the raw table
    "pipeline_drift_store" -> Profiling.driftStoreSql,
    "events_drift_store" -> Profiling.eventsDriftStoreSql,
    "salted_revenue" -> saltedRevenueSql,
    "salted_join_agg" -> saltedJoinAggSql,
    "sql_view_query" -> sqlViewQuerySql)
}
