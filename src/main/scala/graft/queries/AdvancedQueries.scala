package graft.queries

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.{TopKAgg, XHash}

/** SQL-surface completions past the core set: non-hierarchical grouping
  * sets, pivot/unpivot reshaping, and the custom typed-Aggregator top-k
  * (SURVEY.md §2D rows "aggregations beyond B11" and "UDF/UDAF").
  */
object AdvancedQueries {

  private def moneySum(c: Column, scale: Int = 2): Column =
    sum(c.cast(s"decimal(25,$scale)")).cast("double")

  val all: Seq[Q] = Seq(
    // ---- GROUPING SETS that neither rollup nor cube can express:
    // ((l_returnflag), (l_linestatus)) — two independent one-dimension
    // summaries in ONE pass over lineitem (Spark expands then aggregates;
    // one shuffle, no second scan).
    Q(
      "q23_grouping_sets",
      (s, d) =>
        Tables.lineitem(s, d)
          .groupingSets(
            Seq(Seq(col("l_returnflag")), Seq(col("l_linestatus"))),
            col("l_returnflag"), col("l_linestatus"))
          .agg(
            count(lit(1)).as("n"),
            sum(col("l_quantity")).as("sum_qty"),
            moneySum(col("l_extendedprice")).as("sum_price"),
            grouping(col("l_returnflag")).cast("bigint").as("g_rf"),
            grouping(col("l_linestatus")).cast("bigint").as("g_ls")),
      Some(s"""SELECT l_returnflag, l_linestatus, COUNT(1) AS n,
              |  SUM(l_quantity) AS sum_qty,
              |  ${Q.moneySum("l_extendedprice")} AS sum_price,
              |  GROUPING(l_returnflag) AS g_rf, GROUPING(l_linestatus) AS g_ls
              |FROM lineitem
              |GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus))""".stripMargin)),

    // ---- PIVOT: order-status columns per priority. Explicit value list
    // (F/O/P) keeps the schema static — Spark then plans it as ONE
    // hash-aggregate with conditional sums (no per-value scan), which is
    // also exactly the FILTER formulation the oracle uses.
    Q(
      "q24_pivot",
      (s, d) =>
        Tables.orders(s, d)
          .groupBy(col("o_orderpriority"))
          .pivot("o_orderstatus", Seq("F", "O", "P"))
          .agg(moneySum(col("o_totalprice"))),
      Some {
        def p(v: String) =
          s"""CAST(SUM(CAST(o_totalprice AS DECIMAL(25,2)))
             |    FILTER (WHERE o_orderstatus = '$v') AS DOUBLE) AS "$v"""".stripMargin
        s"""SELECT o_orderpriority,
           |  ${p("F")}, ${p("O")}, ${p("P")}
           |FROM orders GROUP BY o_orderpriority""".stripMargin
      }),

    // ---- UNPIVOT (melt): wide metric columns → long (metric, v) rows.
    Q(
      "q25_unpivot",
      (s, d) =>
        Tables.lineitem(s, d)
          .select(col("l_orderkey"), col("l_linenumber"),
            col("l_quantity").cast("double").as("qty"),
            col("l_extendedprice").cast("double").as("price"))
          .unpivot(
            Array(col("l_orderkey"), col("l_linenumber")),
            Array(col("qty"), col("price")),
            "metric", "v"),
      Some("""SELECT l_orderkey, l_linenumber, 'qty' AS metric,
             |  CAST(l_quantity AS DOUBLE) AS v FROM lineitem
             |UNION ALL
             |SELECT l_orderkey, l_linenumber, 'price' AS metric,
             |  CAST(l_extendedprice AS DOUBLE) AS v FROM lineitem""".stripMargin)),

    // ---- Custom typed-Aggregator top-k (TopKAgg scaladoc has the scale
    // story: shuffle volume groups×k instead of full-group sort). Result
    // equals the window row_number form — which is the oracle.
    Q(
      "q26_topk_agg",
      (s, d) =>
        Tables.orders(s, d)
          .groupBy(col("o_orderpriority"))
          .agg(TopKAgg.topK(3)(col("o_totalprice"), col("o_orderkey")).as("tk"))
          .select(col("o_orderpriority"), explode(col("tk.rows")).as("r"))
          .select(col("o_orderpriority"),
            col("r.score").as("o_totalprice"),
            col("r.id").as("o_orderkey")),
      Some("""SELECT o_orderpriority, o_totalprice, o_orderkey FROM (
             |  SELECT o_orderpriority, o_totalprice, o_orderkey,
             |    row_number() OVER (PARTITION BY o_orderpriority
             |      ORDER BY o_totalprice DESC, o_orderkey) AS rn
             |  FROM orders) WHERE rn <= 3""".stripMargin)),

    // ---- Salted two-phase distinct count (operators.Skew): exact because
    // value-hash salting makes the per-(key,salt) partial distincts
    // disjoint. The oracle is the plain COUNT(DISTINCT) — same answer, but
    // this plan's heaviest key fans out over 16 reducers instead of one.
    Q(
      "q27_skew_distinct",
      (s, d) =>
        graft.operators.Skew.skewedCountDistinct(
            Tables.lineitem(s, d), col("l_returnflag"), col("l_partkey"))
          .withColumnRenamed("k", "l_returnflag"),
      Some("""SELECT l_returnflag, COUNT(DISTINCT l_partkey) AS n_distinct
             |FROM lineitem GROUP BY l_returnflag""".stripMargin)),

    // ---- RANGE-framed window (value-based frame, vs q7's ROWS frame):
    // 30-day trailing spend per customer. Range frames are insensitive to
    // tie order (equal sort keys share one frame), so no tie-break needed.
    Q(
      "q28_range_frame",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val w = Window.partitionBy(col("o_custkey"))
          .orderBy(datediff(col("o_orderdate"), lit("1970-01-01")))
          .rangeBetween(-30, 0)
        Tables.orders(s, d)
          .select("o_orderkey", "o_custkey", "o_orderdate", "o_totalprice")
          .withColumn("spend_30d",
            sum(col("o_totalprice").cast("decimal(25,2)")).over(w).cast("double"))
          .drop("o_orderdate")
      },
      Some("""SELECT o_orderkey, o_custkey, o_totalprice,
             |  CAST(SUM(CAST(o_totalprice AS DECIMAL(25,2))) OVER (
             |    PARTITION BY o_custkey
             |    ORDER BY datediff('day', DATE '1970-01-01', o_orderdate)
             |    RANGE BETWEEN 30 PRECEDING AND CURRENT ROW) AS DOUBLE) AS spend_30d
             |FROM orders""".stripMargin)),

    // ---- Array function family: build per-group arrays (sorted for
    // determinism), then element access / slicing / higher-order reduce.
    // Scalar outputs only — the compare layer can't hash array cells.
    Q(
      "q29_array_funcs",
      (s, d) =>
        Tables.lineitem(s, d)
          .groupBy(col("l_orderkey"))
          .agg(sort_array(collect_list(col("l_quantity").cast("double"))).as("qtys"))
          .select(
            col("l_orderkey"),
            size(col("qtys")).cast("bigint").as("n_items"),
            element_at(col("qtys"), 1).as("min_qty"),
            element_at(col("qtys"), -1).as("max_qty"),
            aggregate(col("qtys"), lit(0.0), (acc, x) => acc + x).as("sum_qty"),
            aggregate(slice(col("qtys"), 1, 2), lit(0.0), (acc, x) => acc + x)
              .as("low2_qty")),
      Some("""SELECT l_orderkey,
             |  CAST(len(qtys) AS BIGINT) AS n_items,
             |  qtys[1] AS min_qty, qtys[-1] AS max_qty,
             |  list_sum(qtys) AS sum_qty,
             |  list_sum(qtys[1:2]) AS low2_qty
             |FROM (SELECT l_orderkey,
             |        list_sort(list(CAST(l_quantity AS DOUBLE))) AS qtys
             |      FROM lineitem GROUP BY l_orderkey)""".stripMargin)),

    // ---- argmin/argmax aggregates (max_by/min_by): deterministic via a
    // composite (value, arg) ordering struct — lexicographic in both
    // engines, so ties resolve identically.
    Q(
      "q30_argminmax",
      (s, d) =>
        Tables.lineitem(s, d)
          .groupBy(col("l_returnflag"))
          .agg(
            max_by(col("l_orderkey"),
              struct(col("l_extendedprice"), col("l_orderkey"))).as("top_order"),
            min_by(col("l_orderkey"),
              struct(col("l_extendedprice"), col("l_orderkey"))).as("bottom_order"),
            max(col("l_extendedprice")).as("max_price"),
            min(col("l_extendedprice")).as("min_price")),
      Some("""SELECT l_returnflag,
             |  first(l_orderkey ORDER BY l_extendedprice DESC, l_orderkey DESC) AS top_order,
             |  first(l_orderkey ORDER BY l_extendedprice ASC, l_orderkey ASC) AS bottom_order,
             |  MAX(l_extendedprice) AS max_price, MIN(l_extendedprice) AS min_price
             |FROM lineitem GROUP BY l_returnflag""".stripMargin)),

    // ---- Deterministic hash sampling: ~5% of orders selected by key
    // hash, NOT rand()/TABLESAMPLE — reproducible across engines, runs,
    // retries and cluster sizes (the property a training-data pipeline
    // needs for stable held-out splits). The predicate is pushed past the
    // scan like any filter; no shuffle.
    Q(
      "q31_hash_sample",
      (s, d) =>
        Tables.orders(s, d)
          .filter(XHash.hash60(col("o_orderkey").cast("string")) % 20 === 0)
          .groupBy(col("o_orderstatus"))
          .agg(count(lit(1)).as("n_sampled"),
            moneySum(col("o_totalprice")).as("sum_price")),
      Some(s"""SELECT o_orderstatus, COUNT(1) AS n_sampled,
              |  ${Q.moneySum("o_totalprice")} AS sum_price
              |FROM orders
              |WHERE ${XHash.hash60Sql("CAST(o_orderkey AS VARCHAR)")} % 20 = 0
              |GROUP BY o_orderstatus""".stripMargin)),

    // ---- Correlated scalar subquery: orders beating their customer's
    // average. Catalyst DECORRELATES this into an aggregate + join — no
    // per-row subquery execution ever happens; the plan is the same
    // two-shuffle shape a hand-written join would give. Declared in SQL
    // because that's the surface where decorrelation matters.
    Q(
      "q32_correlated",
      (s, d) => {
        Tables.orders(s, d).createOrReplaceTempView("orders_v")
        s.sql(
          """SELECT o_custkey, COUNT(1) AS n_above,
            |  CAST(MAX(CAST(o_totalprice AS DECIMAL(25,2))) AS DOUBLE) AS max_above
            |FROM orders_v o
            |WHERE o_totalprice > (SELECT AVG(o_totalprice) FROM orders_v i
            |                      WHERE i.o_custkey = o.o_custkey)
            |GROUP BY o_custkey""".stripMargin)
      },
      Some("""SELECT o_custkey, COUNT(1) AS n_above,
             |  CAST(MAX(CAST(o_totalprice AS DECIMAL(25,2))) AS DOUBLE) AS max_above
             |FROM orders o
             |WHERE o_totalprice > (SELECT AVG(o_totalprice) FROM orders i
             |                      WHERE i.o_custkey = o.o_custkey)
             |GROUP BY o_custkey""".stripMargin)),

    // ---- Broadcast as-of join: q15's semantics on the no-shuffle scale
    // path (operators.AsOf.broadcastProbe). The (small) error side is
    // collected through a BOUNDED limit, sorted per user, and broadcast;
    // each click partition binary-searches it in place — the big side is
    // never shuffled or sorted (q15's union+window form shuffles BOTH
    // sides by user). If the build side overflows the guard, the operator
    // falls back to the union+window plan instead of OOMing the driver.
    Q(
      "q33_asof_broadcast",
      (s, d) => {
        val e = Tables.events(s, d).withColumn("ts_us", expr("ts_ns div 1000"))
        val clicks = e.filter(col("event_type") === "click")
          .select("event_id", "user_id", "ts_us")
        val errors = e.filter(col("event_type") === "error")
          .groupBy(col("user_id"), col("ts_us"))
          .agg(max(col("event_id")).as("err_id"))
        graft.operators.AsOf.broadcastProbe(s, clicks, errors,
          "user_id", "ts_us", "event_id", "err_id")
      },
      Some("""SELECT a.event_id, a.user_id, epoch_us(a.ts) AS ts_us,
             |  b.err_id
             |FROM (SELECT * FROM events WHERE event_type = 'click') a
             |ASOF LEFT JOIN (
             |  SELECT user_id, epoch_us(ts) AS ts_us, MAX(event_id) AS err_id
             |  FROM events WHERE event_type = 'error' GROUP BY 1, 2) b
             |  ON a.user_id = b.user_id AND epoch_us(a.ts) > b.ts_us""".stripMargin)),

    // ---- Ranking window family: dense_rank / ntile / percent_rank /
    // cume_dist / nth_value over a unique total order per partition
    // (price, orderkey) — tie-free, so every rank function is
    // deterministic and engine-agnostic.
    //
    // Computed via operators.DistributedRank, NOT Window.partitionBy:
    // o_orderpriority has 5 values, so the window form funnels the whole
    // table through 5 sequential sorter tasks (300k rows each at the
    // 100× octave, billions at 100 TB). DistributedRank range-shards
    // each group across the cluster and derives the whole family from
    // the exact row number + per-group size in closed form; under the
    // query's unique total order, dense_rank = row_number and the
    // double divisions are bit-identical to the oracle's window
    // evaluation.
    Q(
      "q35_window_ranks",
      (s, d) => {
        graft.operators.DistributedRank.withRankFamily(
            Tables.orders(s, d)
              .select("o_orderkey", "o_orderpriority", "o_totalprice"),
            groupCols = Seq("o_orderpriority"),
            orderCols = Seq(col("o_totalprice").desc, col("o_orderkey")),
            shardKey = negate(col("o_totalprice")), // desc ⇒ negated key
            tiles = 4, firstCol = "o_orderkey",
            // ascending twin of orderCols: first_value comes from one
            // partial-aggregatable min_by, not a rank-lineage re-run
            firstOrderKey = struct(negate(col("o_totalprice")),
              col("o_orderkey")))
          .select(col("o_orderkey"), col("o_orderpriority"),
            col("o_totalprice"),
            col("rn").as("drk"),
            col("ntile").as("quartile"),
            round(col("percent_rank"), 6).as("pct_rank"),
            round(col("cume_dist"), 6).as("cume"),
            col("first_value").as("top_key"))
      },
      Some("""SELECT o_orderkey, o_orderpriority, o_totalprice,
             |  dense_rank() OVER w AS drk,
             |  ntile(4) OVER w AS quartile,
             |  round(percent_rank() OVER w, 6) AS pct_rank,
             |  round(cume_dist() OVER w, 6) AS cume,
             |  nth_value(o_orderkey, 1) OVER (PARTITION BY o_orderpriority
             |    ORDER BY o_totalprice DESC, o_orderkey
             |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS top_key
             |FROM orders
             |WINDOW w AS (PARTITION BY o_orderpriority
             |  ORDER BY o_totalprice DESC, o_orderkey)""".stripMargin)),

    // ---- MapType family: per-order map(linenumber -> quantity) via
    // map_from_entries, probed with element_at / map_keys / map_values.
    // Scalar outputs; the oracle verifies the lookups relationally
    // (conditional aggregates), so map semantics are value-checked without
    // needing DuckDB's map type to hash identically.
    Q(
      "q36_map_funcs",
      (s, d) =>
        Tables.lineitem(s, d)
          // map keys must be unique: collapse to one qty per line number
          .groupBy(col("l_orderkey"), col("l_linenumber"))
          .agg(sum(col("l_quantity").cast("double")).as("qty"))
          .groupBy(col("l_orderkey"))
          .agg(map_from_entries(sort_array(collect_list(
            struct(col("l_linenumber"), col("qty"))))).as("m"))
          .select(
            col("l_orderkey"),
            size(map_keys(col("m"))).cast("bigint").as("n_lines"),
            element_at(col("m"), 1).as("qty_line1"),
            aggregate(map_values(col("m")), lit(0.0), (a, x) => a + x)
              .as("qty_total")),
      Some("""SELECT l_orderkey,
             |  COUNT(DISTINCT l_linenumber) AS n_lines,
             |  SUM(CASE WHEN l_linenumber = 1
             |      THEN CAST(l_quantity AS DOUBLE) END) AS qty_line1,
             |  SUM(CAST(l_quantity AS DOUBLE)) AS qty_total
             |FROM lineitem GROUP BY l_orderkey""".stripMargin)),

    // ---- LATERAL correlated table subquery: top-2 orders per customer
    // segment sample. A different decorrelation path than q32's scalar
    // subquery — Catalyst rewrites the per-row LIMIT subquery into a
    // ranked window join; no nested-loop per-customer execution survives.
    Q(
      "q37_lateral",
      (s, d) => {
        Tables.customer(s, d).filter(col("c_custkey") % 100 === 0)
          .createOrReplaceTempView("cust_sample")
        Tables.orders(s, d).createOrReplaceTempView("orders_l")
        s.sql(
          """SELECT c.c_custkey, t.o_orderkey, t.o_totalprice
            |FROM cust_sample c,
            |LATERAL (
            |  SELECT o_orderkey, o_totalprice FROM orders_l
            |  WHERE o_custkey = c.c_custkey
            |  ORDER BY o_totalprice DESC, o_orderkey LIMIT 2) t""".stripMargin)
      },
      Some("""SELECT c.c_custkey, t.o_orderkey, t.o_totalprice
             |FROM (SELECT * FROM customer WHERE c_custkey % 100 = 0) c,
             |LATERAL (
             |  SELECT o_orderkey, o_totalprice FROM orders
             |  WHERE o_custkey = c.c_custkey
             |  ORDER BY o_totalprice DESC, o_orderkey LIMIT 2) t""".stripMargin)),

    // ---- TPC-H Q5 shape: 6-table local-supplier-volume join. The join
    // graph has a cycle (lineitem→supplier AND customer↔supplier nation
    // alignment) — the classic join-order stress. Dims broadcast; the two
    // fact joins shuffle on their keys.
    Q(
      "q38_local_volume",
      (s, d) => {
        val l = Tables.lineitem(s, d)
          .select("l_orderkey", "l_suppkey", "l_extendedprice", "l_discount")
        val o = Tables.orders(s, d).select("o_orderkey", "o_custkey")
        val c = Tables.customer(s, d).select("c_custkey", "c_nationkey")
        val su = Tables.supplier(s, d).select("s_suppkey", "s_nationkey")
        val n = Tables.nation(s, d)
        val r = Tables.region(s, d).filter(col("r_regionkey") % 2 === 0)
        // customer/supplier scale with the corpus (the dims-scaled
        // octave): size-based planning, broadcast only while they fit
        l.join(o, col("l_orderkey") === col("o_orderkey"))
          .join(c, col("o_custkey") === col("c_custkey"))
          .join(su, col("l_suppkey") === col("s_suppkey") &&
            col("c_nationkey") === col("s_nationkey"))
          .join(broadcast(n), col("s_nationkey") === col("n_nationkey"))
          .join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
          .groupBy(col("n_name"))
          .agg(moneySum(col("l_extendedprice") * (lit(1.0) - col("l_discount")), 4)
            .as("revenue"),
            count(lit(1)).as("n_items"))
      },
      Some(s"""SELECT n_name,
              |  ${Q.moneySum("l_extendedprice * (1.0 - l_discount)", 4)} AS revenue,
              |  COUNT(1) AS n_items
              |FROM lineitem
              |JOIN orders ON l_orderkey = o_orderkey
              |JOIN customer ON o_custkey = c_custkey
              |JOIN supplier ON l_suppkey = s_suppkey
              |  AND c_nationkey = s_nationkey
              |JOIN nation ON s_nationkey = n_nationkey
              |JOIN region ON n_regionkey = r_regionkey
              |WHERE r_regionkey % 2 = 0
              |GROUP BY n_name""".stripMargin)),

    // ---- TPC-H Q10 shape: returned-item revenue, top 20 customers.
    // Aggregate-then-top-k: TakeOrderedAndProject on the aggregated set,
    // never a global sort of the join output.
    Q(
      "q39_returned_items",
      (s, d) => {
        val l = Tables.lineitem(s, d).filter(col("l_returnflag") === "R")
          .select("l_orderkey", "l_extendedprice", "l_discount")
        val o = Tables.orders(s, d).select("o_orderkey", "o_custkey")
        val c = Tables.customer(s, d).select("c_custkey", "c_name", "c_nationkey")
        val n = Tables.nation(s, d).select("n_nationkey", "n_name")
        l.join(o, col("l_orderkey") === col("o_orderkey"))
          .join(c, col("o_custkey") === col("c_custkey")) // fact-scaled: no forced broadcast
          .join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
          .groupBy(col("c_custkey"), col("c_name"), col("n_name"))
          .agg(moneySum(col("l_extendedprice") * (lit(1.0) - col("l_discount")), 4)
            .as("revenue"))
          .orderBy(col("revenue").desc, col("c_custkey"))
          .limit(20)
      },
      Some(s"""SELECT c_custkey, c_name, n_name,
              |  ${Q.moneySum("l_extendedprice * (1.0 - l_discount)", 4)} AS revenue
              |FROM lineitem
              |JOIN orders ON l_orderkey = o_orderkey
              |JOIN customer ON o_custkey = c_custkey
              |JOIN nation ON c_nationkey = n_nationkey
              |WHERE l_returnflag = 'R'
              |GROUP BY 1, 2, 3
              |ORDER BY revenue DESC, c_custkey LIMIT 20""".stripMargin)),

    // ---- Multiset set ops: INTERSECT ALL / EXCEPT ALL preserve
    // duplicate multiplicity (q10 covers the distinct forms). Spark plans
    // these as a count-compare aggregate, not a dedup — different
    // operator, different semantics, both engines agree on multiplicity.
    Q(
      "q40_multiset_ops",
      (s, d) => {
        val a = Tables.lineitem(s, d).filter(col("l_quantity") >= 25)
          .select(col("l_suppkey"))
        val b = Tables.lineitem(s, d).filter(col("l_discount") > 0.05)
          .select(col("l_suppkey"))
        a.intersectAll(b).groupBy(col("l_suppkey"))
          .agg(count(lit(1)).as("n_inter"))
          .join(
            a.exceptAll(b).groupBy(col("l_suppkey"))
              .agg(count(lit(1)).as("n_except")),
            Seq("l_suppkey"), "full_outer")
          .select(col("l_suppkey"),
            coalesce(col("n_inter"), lit(0L)).as("n_inter"),
            coalesce(col("n_except"), lit(0L)).as("n_except"))
      },
      Some("""WITH a AS (SELECT l_suppkey FROM lineitem WHERE l_quantity >= 25),
             |b AS (SELECT l_suppkey FROM lineitem WHERE l_discount > 0.05),
             |i AS (SELECT l_suppkey, COUNT(1) AS n_inter FROM (
             |        SELECT l_suppkey FROM a INTERSECT ALL SELECT l_suppkey FROM b)
             |      GROUP BY 1),
             |e AS (SELECT l_suppkey, COUNT(1) AS n_except FROM (
             |        SELECT l_suppkey FROM a EXCEPT ALL SELECT l_suppkey FROM b)
             |      GROUP BY 1)
             |SELECT COALESCE(i.l_suppkey, e.l_suppkey) AS l_suppkey,
             |  COALESCE(n_inter, 0) AS n_inter, COALESCE(n_except, 0) AS n_except
             |FROM i FULL OUTER JOIN e ON i.l_suppkey = e.l_suppkey""".stripMargin)),

    // ---- TPC-H Q7 shape: the same dimension joined TWICE under aliases
    // (supplier nation × customer nation), cross-nation trade only.
    Q(
      "q41_nation_pairs",
      (s, d) => {
        val l = Tables.lineitem(s, d)
          .select("l_orderkey", "l_suppkey", "l_extendedprice", "l_discount")
        val o = Tables.orders(s, d).select("o_orderkey", "o_custkey")
        val c = Tables.customer(s, d).select("c_custkey", "c_nationkey")
        val su = Tables.supplier(s, d).select("s_suppkey", "s_nationkey")
        val sn = Tables.nation(s, d)
          .select(col("n_nationkey").as("sn_key"), col("n_name").as("supp_nation"))
        val cn = Tables.nation(s, d)
          .select(col("n_nationkey").as("cn_key"), col("n_name").as("cust_nation"))
        // customer/supplier scale with the corpus: size-based planning
        l.join(o, col("l_orderkey") === col("o_orderkey"))
          .join(c, col("o_custkey") === col("c_custkey"))
          .join(su, col("l_suppkey") === col("s_suppkey"))
          .join(broadcast(sn), col("s_nationkey") === col("sn_key"))
          .join(broadcast(cn), col("c_nationkey") === col("cn_key"))
          .filter(col("supp_nation") < col("cust_nation"))
          .groupBy(col("supp_nation"), col("cust_nation"))
          .agg(moneySum(col("l_extendedprice") * (lit(1.0) - col("l_discount")), 4)
            .as("revenue"),
            count(lit(1)).as("n_items"))
      },
      Some(s"""SELECT sn.n_name AS supp_nation, cn.n_name AS cust_nation,
              |  ${Q.moneySum("l_extendedprice * (1.0 - l_discount)", 4)} AS revenue,
              |  COUNT(1) AS n_items
              |FROM lineitem
              |JOIN orders ON l_orderkey = o_orderkey
              |JOIN customer ON o_custkey = c_custkey
              |JOIN supplier ON l_suppkey = s_suppkey
              |JOIN nation sn ON s_nationkey = sn.n_nationkey
              |JOIN nation cn ON c_nationkey = cn.n_nationkey
              |WHERE sn.n_name < cn.n_name
              |GROUP BY 1, 2""".stripMargin)),

    // ---- Schema-evolution union: two generations of a table with
    // different column sets combine by NAME (position-blind), missing
    // columns null-filled — the in-plan twin of the reader-level
    // mergeSchema evolution (SourceFormatsSpec).
    Q(
      "q42_union_by_name",
      (s, d) => {
        val v1 = Tables.orders(s, d).filter(col("o_orderkey") % 2 === 0)
          .select(col("o_orderkey"), col("o_totalprice"))
        val v2 = Tables.orders(s, d).filter(col("o_orderkey") % 2 === 1)
          .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
        v1.unionByName(v2, allowMissingColumns = true)
          .groupBy(coalesce(col("o_orderstatus"), lit("unknown")).as("status"))
          .agg(count(lit(1)).as("n"),
            moneySum(col("o_totalprice")).as("sum_price"))
      },
      Some(s"""SELECT COALESCE(o_orderstatus, 'unknown') AS status,
              |  COUNT(1) AS n, ${Q.moneySum("o_totalprice")} AS sum_price
              |FROM (
              |  SELECT o_orderkey, o_totalprice FROM orders WHERE o_orderkey % 2 = 0
              |  UNION ALL BY NAME
              |  SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders
              |  WHERE o_orderkey % 2 = 1)
              |GROUP BY 1""".stripMargin)),

    // ---- ClickHouse-named function surface (the reference's chsql
    // extension intent, kompactor.ts:154-162): the CH aliases registered
    // by GraftFunctions, exercised through spark.sql and verified against
    // a plain-SQL oracle computing the same semantics (incl. the CH
    // divergences: Monday-first toDayOfWeek, separator-first splitByChar,
    // 0-when-absent indexOf).
    Q(
      "q43_ch_aliases",
      (s, d) => {
        graft.functions.GraftFunctions.register(s)
        Tables.events(s, d)
          .withColumn("ts", timestamp_micros(expr("ts_ns div 1000")))
          .createOrReplaceTempView("events_ch")
        s.sql("""SELECT event_id,
                |  toInt64(toYYYYMM(toDate(ts))) AS yyyymm,
                |  toInt64(toYYYYMMDD(toDate(ts))) AS yyyymmdd,
                |  toInt64(toDayOfWeek(toDate(ts))) AS dow,
                |  toInt64(toHour(ts)) AS hh,
                |  toUnixTimestamp(toStartOfHour(ts)) AS hour_epoch,
                |  toString(user_id) AS uid_str,
                |  toInt64(lengthUTF8(event_type)) AS type_len,
                |  ifNull(JSONExtractString(props, 'missing'), 'none') AS fb,
                |  JSONExtractInt(props, 'k') AS k,
                |  toInt64(indexOf(
                |    splitByChar('_', toString(event_id) || '_' || event_type),
                |    event_type)) AS idx,
                |  notEmpty(event_type) AS ne,
                |  toInt64(intDiv(user_id, 7)) AS ud7,
                |  toInt64(modulo(user_id, 7)) AS um7
                |FROM events_ch""".stripMargin)
      },
      Some("""SELECT event_id,
             |  CAST(year(ts) * 100 + month(ts) AS BIGINT) AS yyyymm,
             |  CAST((year(ts) * 100 + month(ts)) * 100 + day(ts) AS BIGINT) AS yyyymmdd,
             |  CAST(isodow(CAST(ts AS DATE)) AS BIGINT) AS dow,
             |  CAST(hour(ts) AS BIGINT) AS hh,
             |  CAST(epoch(date_trunc('hour', ts)) AS BIGINT) AS hour_epoch,
             |  CAST(user_id AS VARCHAR) AS uid_str,
             |  CAST(length(event_type) AS BIGINT) AS type_len,
             |  COALESCE(json_extract_string(props, '$.missing'), 'none') AS fb,
             |  CAST(json_extract_string(props, '$.k') AS BIGINT) AS k,
             |  CAST(list_position(string_split(
             |    CAST(event_id AS VARCHAR) || '_' || event_type, '_'),
             |    event_type) AS BIGINT) AS idx,
             |  length(event_type) > 0 AS ne,
             |  user_id // 7 AS ud7,
             |  user_id % 7 AS um7
             |FROM events""".stripMargin)),

    // ---- DISTINCT COUNT OVER A ROLLING WINDOW: per user, how many
    // distinct event types in the last 10 events. Spark has no
    // count(DISTINCT) window aggregate — the composable form is
    // collect_list over the frame → array_distinct → size, which keeps
    // the frame buffer O(frame) per row (10 here) instead of a
    // per-(user, row) re-scan. Order is (ts_us, event_id): µs resolution
    // matches what DuckDB sees of the ns parquet column, event_id breaks
    // ties deterministically in both engines.
    Q(
      "q46_window_distinct",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val w = Window.partitionBy(col("user_id"))
          .orderBy(col("ts_us"), col("event_id"))
          .rowsBetween(-9, 0)
        Tables.events(s, d)
          .withColumn("ts_us", expr("ts_ns div 1000"))
          .select(col("event_id"), col("user_id"),
            size(array_distinct(collect_list(col("event_type")).over(w)))
              .cast("bigint").as("n_types_10"))
      },
      Some("""SELECT event_id, user_id,
             |  CAST(len(list_distinct(list(event_type) OVER (
             |    PARTITION BY user_id ORDER BY epoch_us(ts), event_id
             |    ROWS BETWEEN 9 PRECEDING AND CURRENT ROW))) AS BIGINT)
             |    AS n_types_10
             |FROM events""".stripMargin)),

    // ---- HISTOGRAM / BINNING: fixed-width value buckets per event type,
    // one hash-aggregate (map-side partials make this a classic
    // scale-flat shape). The bucket index is floor(value / width) in IEEE
    // double arithmetic — identical in both engines — rather than a
    // width_bucket builtin (DuckDB lacks it) or a histogram() map-agg
    // (map outputs can't be hash-compared).
    Q(
      "q47_histogram",
      (s, d) =>
        Tables.events(s, d)
          .groupBy(col("event_type"),
            floor(col("value") / 50d).cast("bigint").as("bucket"))
          .agg(count(lit(1)).as("n"),
            moneySum(col("value")).as("sum_v")),
      Some(s"""SELECT event_type,
              |  CAST(FLOOR(value / 50) AS BIGINT) AS bucket,
              |  COUNT(1) AS n, ${Q.moneySum("value")} AS sum_v
              |FROM events GROUP BY 1, 2""".stripMargin)))
}
