package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.{ReferencePipeline, Tables}
import graft.config.FieldMapping
import graft.operators.{Dedup, MappingProjection}

/** Core relational + reference-pipeline operator queries (SURVEY.md §2).
  *
  * Decimal-exact aggregation rule: doubles are cast to DECIMAL before SUM so
  * both engines do exact arithmetic in the same algebra, then the result is
  * cast back to DOUBLE (an exact conversion) — immune to summation-order
  * differences between Spark and DuckDB.
  */
object CoreQueries extends QueryPack {

  private def d2(c: Column): Column = c.cast("decimal(12,2)")
  private def one: Column = lit(1).cast("decimal(3,2)")

  /** q01 — TPC-H Q1-style pricing summary: scan → filter → hash agg with
    * partial (map-side) combine → tiny sort. One shuffle on the 2-col group
    * key; filter + column pruning push to the parquet scan.
    */
  private def q01(s: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(s, dir)
    li.filter(col("l_shipdate") <= lit("1998-09-02 00:00:00").cast("timestamp"))
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        sum(d2(col("l_quantity"))).cast("double").as("sum_qty"),
        sum(d2(col("l_extendedprice"))).cast("double").as("sum_base_price"),
        sum(d2(col("l_extendedprice")) * (one - col("l_discount").cast("decimal(4,2)")))
          .cast("double").as("sum_disc_price"),
        sum(d2(col("l_extendedprice")) * (one - col("l_discount").cast("decimal(4,2)"))
          * (one + col("l_tax").cast("decimal(4,2)"))).cast("double").as("sum_charge"),
        (sum(d2(col("l_quantity"))).cast("double") / count(lit(1))).as("avg_qty"),
        (sum(d2(col("l_extendedprice"))).cast("double") / count(lit(1))).as("avg_price"),
        (sum(col("l_discount").cast("decimal(4,2)")).cast("double") / count(lit(1))).as("avg_disc"),
        count(lit(1)).as("count_order"))
      .orderBy(col("l_returnflag"), col("l_linestatus"))
  }

  private val q01Sql =
    """SELECT l_returnflag, l_linestatus,
      | CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty,
      | CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS sum_base_price,
      | CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE) AS sum_disc_price,
      | CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(4,2))) * (CAST(1 AS DECIMAL(3,2)) + CAST(l_tax AS DECIMAL(4,2)))) AS DOUBLE) AS sum_charge,
      | CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) / COUNT(*) AS avg_qty,
      | CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) / COUNT(*) AS avg_price,
      | CAST(SUM(CAST(l_discount AS DECIMAL(4,2))) AS DOUBLE) / COUNT(*) AS avg_disc,
      | COUNT(*) AS count_order
      |FROM lineitem
      |WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
      |GROUP BY l_returnflag, l_linestatus
      |ORDER BY l_returnflag, l_linestatus""".stripMargin

  /** q02 — 4-way join → agg: lineitem⋈orders⋈customer⋈nation. nation (25
    * rows) is broadcast; at 100 TB the li⋈o join shuffles on orderkey and AQE
    * handles skew. Filter on o_orderstatus pushes below the join.
    */
  private def q02(s: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(s, dir)
    val o = Tables.orders(s, dir).filter(col("o_orderstatus") === "F")
    val c = Tables.customer(s, dir)
    val n = Tables.nation(s, dir)
    li.join(o, col("l_orderkey") === col("o_orderkey"))
      .join(c, col("o_custkey") === col("c_custkey"))
      .join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name"))
      .agg(
        sum(d2(col("l_extendedprice")) * (one - col("l_discount").cast("decimal(4,2)")))
          .cast("double").as("revenue"),
        count(lit(1)).as("n_items"))
      .orderBy(col("revenue").desc, col("n_name"))
  }

  private val q02Sql =
    """SELECT n_name,
      | CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE) AS revenue,
      | COUNT(*) AS n_items
      |FROM lineitem
      |JOIN orders ON l_orderkey = o_orderkey
      |JOIN customer ON o_custkey = c_custkey
      |JOIN nation ON c_nationkey = n_nationkey
      |WHERE o_orderstatus = 'F'
      |GROUP BY n_name
      |ORDER BY revenue DESC, n_name""".stripMargin

  /** q03 — selective filter + narrow projection; both must reach the scan
    * (PushedFilters + 6-col ReadSchema in explain).
    */
  private def q03(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir)
      .filter(col("l_shipdate") >= lit("2001-01-01 00:00:00").cast("timestamp")
        && col("l_quantity") >= 49)
      .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"),
        col("l_extendedprice"), col("l_discount"))
      .orderBy(col("l_orderkey"), col("l_linenumber"))

  private val q03Sql =
    """SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice, l_discount
      |FROM lineitem
      |WHERE l_shipdate >= TIMESTAMP '2001-01-01 00:00:00' AND l_quantity >= 49
      |ORDER BY l_orderkey, l_linenumber""".stripMargin

  /** q04 — semi-structured extraction: events.props is a JSON string; pull an
    * int field and aggregate per event_type (codegen'd JSON path, no UDF).
    */
  private def q04(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .groupBy(col("event_type"))
      .agg(
        count(lit(1)).as("n_events"),
        sum(get_json_object(col("props"), "$.k").cast("long")).as("sum_k"),
        sum(d2(col("value"))).cast("double").as("sum_value"))
      .orderBy(col("event_type"))

  private val q04Sql =
    """SELECT event_type, COUNT(*) AS n_events,
      | CAST(SUM(CAST(props->>'$.k' AS BIGINT)) AS BIGINT) AS sum_k,
      | CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS sum_value
      |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin

  /** q05 — ST1 batch analog: inject "late duplicates" (every 10th event
    * re-emitted 1 min later with a corrupted value), dedup keep-first per
    * event_id. The oracle proves first-occurrence-wins: any late duplicate
    * surviving would flip value/hash. Dedup.keepFirst is the same
    * ROW_NUMBER() = 1 as the oracle SQL, planned as one key shuffle between
    * a map-side partial WindowGroupLimit and the final one — the scalable
    * form.
    */
  private def q05(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
      .select(col("event_id"), col("ts"), col("user_id"), col("event_type"), col("value"))
    val dupes = ev.filter(pmod(col("event_id"), lit(10)) === 0)
      .select(col("event_id"), (col("ts") + expr("INTERVAL 1 MINUTE")).as("ts"),
        col("user_id"), col("event_type"), (col("value") * 2).as("value"))
    val injected = ev.unionAll(dupes)
    Dedup.keepFirst(injected, Seq("event_id"), col("ts"), col("value"))
      .select(col("event_id"), col("event_type"), col("value"))
      .orderBy(col("event_id"))
  }

  private val q05Sql =
    """WITH injected AS (
      |  SELECT event_id, ts, user_id, event_type, value FROM events
      |  UNION ALL
      |  SELECT event_id, ts + INTERVAL 1 MINUTE, user_id, event_type, value * 2
      |  FROM events WHERE event_id % 10 = 0
      |), ranked AS (
      |  SELECT *, ROW_NUMBER() OVER (PARTITION BY event_id ORDER BY ts, value) AS rn
      |  FROM injected
      |)
      |SELECT event_id, event_type, value FROM ranked WHERE rn = 1 ORDER BY event_id""".stripMargin

  /** q06 — P1 mapping projection: rename + cast per a reference-style
    * table_mapping (uuid-ish string keys, datetime round-trip). Narrow
    * projection, folds into the scan.
    */
  private def q06(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
      .withColumn("created_str", date_format(col("ts"), "yyyy-MM-dd HH:mm:ss"))
    val mapping = Seq(
      FieldMapping("event_id", "event_uid", "string"),
      FieldMapping("user_id", "user_uid", "string"),
      FieldMapping("event_type", "type_name", "string"),
      FieldMapping("created_str", "created_at", "datetime"),
      FieldMapping("value", "metric_value", "double"))
    MappingProjection(ev, mapping).orderBy(col("event_uid"))
  }

  private val q06Sql =
    """SELECT CAST(event_id AS VARCHAR) AS event_uid,
      | CAST(user_id AS VARCHAR) AS user_uid,
      | event_type AS type_name,
      | CAST(strftime(ts, '%Y-%m-%d %H:%M:%S') AS TIMESTAMP) AS created_at,
      | CAST(value AS DOUBLE) AS metric_value
      |FROM events ORDER BY event_uid""".stripMargin

  /** q07 — J2 anti-join: customers with no orders (the reference's resume
    * skip). Broadcast-able build side at small SF; shuffled hash anti-join
    * at scale.
    */
  private def q07(s: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(s, dir)
    val o = Tables.orders(s, dir).filter(col("o_totalprice") > 300000.0)
    c.join(o, col("c_custkey") === col("o_custkey"), "left_anti")
      .select(col("c_custkey"), col("c_name"), col("c_mktsegment"))
      .orderBy(col("c_custkey"))
  }

  private val q07Sql =
    """SELECT c_custkey, c_name, c_mktsegment FROM customer
      |WHERE c_custkey NOT IN (SELECT o_custkey FROM orders WHERE o_totalprice > 300000.0)
      |ORDER BY c_custkey""".stripMargin

  /** q08 — per-group top-3 ranking (orders per customer by totalprice) via
    * the partial-combinable TopKByScore aggregator: the shuffle carries ≤3
    * rows per (map partition, customer) instead of sorting all orders inside
    * each customer partition (interchangeability with ROW_NUMBER is pinned
    * by AggregatorSpec; the oracle stays the ROW_NUMBER formulation).
    */
  private def q08(s: SparkSession, dir: String): DataFrame = {
    val topk = graft.functions.TopKByScore(3)
    Tables.orders(s, dir)
      .groupBy(col("o_custkey"))
      .agg(topk(col("o_orderkey"), col("o_totalprice")).as("tk"))
      .select(col("o_custkey"), posexplode(col("tk")))
      .select(col("o_custkey"), col("col.id").as("o_orderkey"),
        col("col.score").as("o_totalprice"), (col("pos") + 1).cast("long").as("rk"))
      .orderBy(col("o_custkey"), col("rk"))
  }

  private val q08Sql =
    """SELECT o_custkey, o_orderkey, o_totalprice, rk FROM (
      |  SELECT o_custkey, o_orderkey, o_totalprice,
      |    ROW_NUMBER() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS rk
      |  FROM orders) t
      |WHERE rk <= 3 ORDER BY o_custkey, rk""".stripMargin

  /** q09 — semi-join: suppliers having recent shipments. */
  private def q09(s: SparkSession, dir: String): DataFrame = {
    val sup = Tables.supplier(s, dir)
    val li = Tables.lineitem(s, dir)
      .filter(col("l_shipdate") >= lit("2001-06-01 00:00:00").cast("timestamp"))
    sup.join(li, col("s_suppkey") === col("l_suppkey"), "left_semi")
      .select(col("s_suppkey"), col("s_name"), col("s_acctbal"))
      .orderBy(col("s_suppkey"))
  }

  private val q09Sql =
    """SELECT s_suppkey, s_name, s_acctbal FROM supplier
      |WHERE s_suppkey IN (SELECT l_suppkey FROM lineitem WHERE l_shipdate >= TIMESTAMP '2001-06-01 00:00:00')
      |ORDER BY s_suppkey""".stripMargin

  /** q10 — C1+C3: cartesian grid (region × nation) with the reference's even
    * sampling — indices int(i*step), step = total/k
    * (reference: src/load_test_generator.py:40-55).
    */
  private def q10(s: SparkSession, dir: String): DataFrame = {
    val k = 10
    val combos = Tables.region(s, dir).crossJoin(Tables.nation(s, dir))
      .select(col("r_regionkey"), col("n_nationkey"))
      .withColumn("idx",
        (row_number().over(Window.orderBy(col("r_regionkey"), col("n_nationkey"))) - 1).cast("long"))
    val total = combos.count()
    val picks = (0 until k).map(i => math.floor(i * total / k.toDouble).toLong)
    combos.filter(col("idx").isin(picks: _*)).orderBy(col("idx"))
  }

  private val q10Sql =
    """WITH combos AS (
      |  SELECT r_regionkey, n_nationkey,
      |    ROW_NUMBER() OVER (ORDER BY r_regionkey, n_nationkey) - 1 AS idx
      |  FROM region CROSS JOIN nation
      |), tot AS (SELECT COUNT(*) AS c FROM combos),
      |picks AS (SELECT CAST(FLOOR(i * c / 10.0) AS BIGINT) AS idx FROM range(10) t(i), tot)
      |SELECT r_regionkey, n_nationkey, idx FROM combos
      |WHERE idx IN (SELECT idx FROM picks) ORDER BY idx""".stripMargin

  /** q11 — C4 record split: total // n per process, remainder to process 0
    * (reference: src/utils/publish.py:45-54).
    */
  private def q11(s: SparkSession, dir: String): DataFrame = {
    val n = 7
    val total = Tables.events(s, dir).agg(count(lit(1)).as("total"))
    s.range(n).select(col("id").as("process_id"))
      .crossJoin(total)
      .select(col("process_id"),
        when(col("process_id") === 0,
          expr(s"total DIV $n") + pmod(col("total"), lit(n)))
          .otherwise(expr(s"total DIV $n")).cast("long").as("records"))
      .orderBy(col("process_id"))
  }

  private val q11Sql =
    """WITH t AS (SELECT COUNT(*) AS total FROM events)
      |SELECT i AS process_id,
      |  CAST(CASE WHEN i = 0 THEN total // 7 + total % 7 ELSE total // 7 END AS BIGINT) AS records
      |FROM t, range(7) r(i) ORDER BY i""".stripMargin

  /** q12 — the [[graft.ReferencePipeline]] end-to-end: 5000 generated
    * events with the first 500 re-emitted → keep-first dedup → sink mapping
    * → per-domain counts. The oracle regenerates the same md5-derived rows
    * in DuckDB; a dedup failure would inflate counts (the reference's
    * exact-count oracle, src/pipeline_test.py:21-23).
    */
  private def q12(s: SparkSession, dir: String): DataFrame =
    ReferencePipeline(s, 5000, 500)
      .groupBy(substring_index(col("user_email"), "@", -1).as("domain"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("domain"))

  private val q12Sql =
    """WITH g AS (
      |  SELECT i, CAST(('0x' || substr(md5('dom:42:' || i), 1, 8)) AS BIGINT) % 4 AS di
      |  FROM range(5000) t(i)
      |)
      |SELECT CASE di WHEN 0 THEN 'example.com' WHEN 1 THEN 'test.org'
      |            WHEN 2 THEN 'mail.net' ELSE 'demo.io' END AS domain,
      |       COUNT(*) AS n
      |FROM g GROUP BY 1 ORDER BY 1""".stripMargin

  /** q13 — cross-modality fusion: documents joined to their embedding rows
    * (doc_id = vec_id), aggregated per cluster label — "is cluster 3 the
    * low-quality cluster?", the text×vector analysis a curation pipeline
    * runs before dropping clusters. Equi-join on the shared id; quality is
    * integer-quantized for an order-independent mean.
    */
  private def q13(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.TextFunctions.tokens
    val ws = tokens(col("text"))
    val quality = (size(array_distinct(ws)).cast("double") / size(ws)) *
      least(lit(1.0), size(ws).cast("double") / 50.0)
    val docs = Tables.documents(s, dir)
      .select(col("doc_id"), round(quality * 1000000).cast("long").as("q6"))
    val emb = Tables.embeddings(s, dir)
      .select(col("vec_id"), col("label").cast("long").as("label"))
    docs.join(emb, col("doc_id") === col("vec_id"))
      .groupBy(col("label"))
      .agg(count(lit(1)).as("n_docs"),
        (sum(col("q6")).cast("double") / count(lit(1)) / 1000000.0)
          .as("mean_quality_r6"))
      .orderBy(col("label"))
  }

  private val q13Sql =
    """WITH q AS (SELECT doc_id,
      |  CAST(round(((CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
      |        / len(string_split(text, ' ')))
      |      * least(CAST(1.0 AS DOUBLE),
      |              CAST(len(string_split(text, ' ')) AS DOUBLE) / 50.0))
      |    * 1000000) AS BIGINT) AS q6
      | FROM documents)
      |SELECT CAST(e.label AS BIGINT) AS label, COUNT(*) AS n_docs,
      |  CAST(SUM(q.q6) AS DOUBLE) / COUNT(*) / 1000000.0 AS mean_quality_r6
      |FROM q JOIN embeddings e ON e.vec_id = q.doc_id
      |GROUP BY e.label ORDER BY label""".stripMargin

  /** q14 — TPC-H Q3-style shipping priority: 3-table join (segment-filtered
    * customers × open orders × not-yet-shipped items), revenue per order,
    * top 10. The limit+sort plans as TakeOrderedAndProject — per-partition
    * top-k then a 10-row driver merge, never a global sort of the join
    * output. Date/segment filters push into the scans; revenue is
    * decimal-exact then cast to double.
    */
  private def q14(s: SparkSession, dir: String): DataFrame = {
    val cut = lit("1998-07-01 00:00:00").cast("timestamp")
    val c = Tables.customer(s, dir).filter(col("c_mktsegment") === "BUILDING")
    val o = Tables.orders(s, dir).filter(col("o_orderdate") < cut)
    val li = Tables.lineitem(s, dir).filter(col("l_shipdate") > cut)
    li.join(o, col("l_orderkey") === col("o_orderkey"))
      .join(c, col("o_custkey") === col("c_custkey"))
      .groupBy(col("l_orderkey"), col("o_orderdate"), col("o_orderpriority"))
      .agg(sum(d2(col("l_extendedprice")) * (one - col("l_discount").cast("decimal(4,2)")))
        .cast("double").as("revenue"))
      .select(col("l_orderkey"), col("revenue"), col("o_orderdate"),
        col("o_orderpriority"))
      .orderBy(col("revenue").desc, col("l_orderkey"))
      .limit(10)
  }

  private val q14Sql =
    """SELECT l_orderkey,
      | CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE) AS revenue,
      | o_orderdate, o_orderpriority
      |FROM lineitem
      |JOIN orders ON l_orderkey = o_orderkey
      |JOIN customer ON o_custkey = c_custkey
      |WHERE c_mktsegment = 'BUILDING'
      |  AND o_orderdate < TIMESTAMP '1998-07-01'
      |  AND l_shipdate > TIMESTAMP '1998-07-01'
      |GROUP BY l_orderkey, o_orderdate, o_orderpriority
      |ORDER BY revenue DESC, l_orderkey LIMIT 10""".stripMargin

  /** q15 — TPC-H Q5-style local supplier volume: the 6-table star join
    * (customer × orders × lineitem × supplier × nation × region) with the
    * local-supplier constraint (customer and supplier share a nation).
    * nation/region are broadcast (tiny dims); the fact-side joins shuffle on
    * their keys once each. Revenue decimal-exact per q02's rule.
    */
  private def q15(s: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(s, dir)
      .filter(col("o_orderdate") >= lit("1996-01-01 00:00:00").cast("timestamp") &&
        col("o_orderdate") < lit("1999-01-01 00:00:00").cast("timestamp"))
    val joined = Tables.lineitem(s, dir)
      .join(o, col("l_orderkey") === col("o_orderkey"))
      .join(Tables.customer(s, dir), col("o_custkey") === col("c_custkey"))
      .join(Tables.supplier(s, dir),
        col("l_suppkey") === col("s_suppkey") &&
          col("c_nationkey") === col("s_nationkey"))
      .join(broadcast(Tables.nation(s, dir)),
        col("s_nationkey") === col("n_nationkey"))
      .join(broadcast(Tables.region(s, dir).filter(col("r_name") === "ASIA")),
        col("n_regionkey") === col("r_regionkey"))
    joined.groupBy(col("n_name"))
      .agg(sum(d2(col("l_extendedprice")) * (one - col("l_discount").cast("decimal(4,2)")))
        .cast("double").as("revenue"),
        count(lit(1)).as("n_items"))
      .orderBy(col("revenue").desc, col("n_name"))
  }

  private val q15Sql =
    """SELECT n_name,
      | CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE) AS revenue,
      | COUNT(*) AS n_items
      |FROM lineitem
      |JOIN orders ON l_orderkey = o_orderkey
      |JOIN customer ON o_custkey = c_custkey
      |JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
      |JOIN nation ON s_nationkey = n_nationkey
      |JOIN region ON n_regionkey = r_regionkey
      |WHERE r_name = 'ASIA'
      |  AND o_orderdate >= TIMESTAMP '1996-01-01'
      |  AND o_orderdate < TIMESTAMP '1999-01-01'
      |GROUP BY n_name
      |ORDER BY revenue DESC, n_name""".stripMargin

  /** q16 — TPC-H Q4-style order priority checking: orders in a quarter that
    * have AT LEAST ONE late lineitem, counted by priority. The existence
    * test is a left-semi join (Spark's EXISTS plan) — each order contributes
    * once no matter how many late items it has, and the probe side carries
    * only orderkeys, never the lineitem payload.
    */
  private def q16(s: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(s, dir)
      .filter(col("o_orderdate") >= lit("1997-01-01 00:00:00").cast("timestamp") &&
        col("o_orderdate") < lit("1997-04-01 00:00:00").cast("timestamp"))
    // "late" = shipped more than 60 days after the order date
    val late = Tables.lineitem(s, dir).select(col("l_orderkey"), col("l_shipdate"))
    o.join(late,
        col("o_orderkey") === col("l_orderkey") &&
          col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 60 DAYS"),
        "left_semi")
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n_orders"))
      .orderBy(col("o_orderpriority"))
  }

  private val q16Sql =
    """SELECT o_orderpriority, COUNT(*) AS n_orders
      |FROM orders o
      |WHERE o_orderdate >= TIMESTAMP '1997-01-01'
      |  AND o_orderdate < TIMESTAMP '1997-04-01'
      |  AND EXISTS (SELECT 1 FROM lineitem l
      |    WHERE l.l_orderkey = o.o_orderkey
      |      AND l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY)
      |GROUP BY o_orderpriority
      |ORDER BY o_orderpriority""".stripMargin

  /** q17 — TPC-H Q18-style large-volume customers: orders whose total
    * lineitem quantity exceeds a threshold, joined back to customer. The
    * aggregate-then-join shape matters at scale: the HAVING cut runs in the
    * partial-combined lineitem aggregation FIRST, so only the tiny set of
    * qualifying order totals (broadcast explicitly — provably small) meets
    * the orders/customer tables; lineitem payload never re-shuffles.
    */
  private def q17(s: SparkSession, dir: String): DataFrame = {
    val totals = Tables.lineitem(s, dir)
      .groupBy(col("l_orderkey"))
      .agg(sum(d2(col("l_quantity"))).cast("double").as("total_qty"))
      .filter(col("total_qty") > 250.0)
    Tables.orders(s, dir)
      .join(broadcast(totals), col("o_orderkey") === col("l_orderkey"))
      .join(Tables.customer(s, dir), col("o_custkey") === col("c_custkey"))
      .select(col("c_name"), col("c_custkey"), col("o_orderkey"),
        col("o_orderdate"), col("o_totalprice"), col("total_qty"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      .limit(100)
  }

  private val q17Sql =
    """WITH t AS (
      |  SELECT l_orderkey,
      |    CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS total_qty
      |  FROM lineitem GROUP BY l_orderkey
      |  HAVING total_qty > 250.0)
      |SELECT c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice, total_qty
      |FROM orders JOIN t ON o_orderkey = l_orderkey
      |JOIN customer ON o_custkey = c_custkey
      |ORDER BY o_totalprice DESC, o_orderkey LIMIT 100""".stripMargin

  /** q18 — TPC-H Q19-style disjunctive predicate revenue: lineitem × part on
    * the equi key with an OR-of-ANDs residual (brand × size × quantity
    * bands). Exercises Catalyst's disjunction handling: the common
    * `p_brand IN (...)` / size bound is extractable for scan pruning while
    * the full residual evaluates post-join, all inside whole-stage codegen.
    * Grouped by brand so the oracle compares a multi-row result.
    */
  private def q18(s: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(s, dir)
    val p = Tables.part(s, dir)
    val bands =
      (col("p_brand") === "Brand#12" && col("p_size").between(1, 15) &&
        col("l_quantity").between(1, 11)) ||
      (col("p_brand") === "Brand#23" && col("p_size").between(1, 25) &&
        col("l_quantity").between(10, 20)) ||
      (col("p_brand") === "Brand#34" && col("p_size").between(1, 35) &&
        col("l_quantity").between(20, 30))
    li.join(p, col("l_partkey") === col("p_partkey"))
      .filter(bands)
      .groupBy(col("p_brand"))
      .agg(
        sum(d2(col("l_extendedprice")) * (one - col("l_discount").cast("decimal(4,2)")))
          .cast("double").as("revenue"),
        count(lit(1)).as("n_items"))
      .orderBy(col("p_brand"))
  }

  private val q18Sql =
    """SELECT p_brand,
      | CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE) AS revenue,
      | COUNT(*) AS n_items
      |FROM lineitem JOIN part ON l_partkey = p_partkey
      |WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 15 AND l_quantity BETWEEN 1 AND 11)
      |   OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 25 AND l_quantity BETWEEN 10 AND 20)
      |   OR (p_brand = 'Brand#34' AND p_size BETWEEN 1 AND 35 AND l_quantity BETWEEN 20 AND 30)
      |GROUP BY p_brand
      |ORDER BY p_brand""".stripMargin

  /** q19 — TPC-H Q10-style returned-item report: revenue lost to returns per
    * customer in a quarter, top 20. The returnflag filter cuts lineitem to
    * ~1/3 BEFORE the joins (pushed to the scan), orders carries its date
    * filter likewise; nation is broadcast. The 4-col group key flows through
    * one shuffle; limit+sort plans as TakeOrderedAndProject.
    */
  private def q19(s: SparkSession, dir: String): DataFrame = {
    val lo = lit("1997-07-01 00:00:00").cast("timestamp")
    val hi = lit("1997-10-01 00:00:00").cast("timestamp")
    val o = Tables.orders(s, dir)
      .filter(col("o_orderdate") >= lo && col("o_orderdate") < hi)
    val li = Tables.lineitem(s, dir).filter(col("l_returnflag") === "R")
    li.join(o, col("l_orderkey") === col("o_orderkey"))
      .join(Tables.customer(s, dir), col("o_custkey") === col("c_custkey"))
      .join(broadcast(Tables.nation(s, dir)),
        col("c_nationkey") === col("n_nationkey"))
      .groupBy(col("c_custkey"), col("c_name"), col("c_acctbal"), col("n_name"))
      .agg(sum(d2(col("l_extendedprice")) * (one - col("l_discount").cast("decimal(4,2)")))
        .cast("double").as("revenue"))
      .select(col("c_custkey"), col("c_name"), col("revenue"), col("c_acctbal"),
        col("n_name"))
      .orderBy(col("revenue").desc, col("c_custkey"))
      .limit(20)
  }

  private val q19Sql =
    """SELECT c_custkey, c_name,
      | CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE) AS revenue,
      | c_acctbal, n_name
      |FROM lineitem
      |JOIN orders ON l_orderkey = o_orderkey
      |JOIN customer ON o_custkey = c_custkey
      |JOIN nation ON c_nationkey = n_nationkey
      |WHERE l_returnflag = 'R'
      |  AND o_orderdate >= TIMESTAMP '1997-07-01'
      |  AND o_orderdate < TIMESTAMP '1997-10-01'
      |GROUP BY c_custkey, c_name, c_acctbal, n_name
      |ORDER BY revenue DESC, c_custkey LIMIT 20""".stripMargin

  /** q20 — TPC-H Q21-style sole failing supplier: suppliers whose returned
    * line was the ONLY returned line in a finished multi-supplier order.
    * The exists/not-exists pair is the semi+anti self-join composition on
    * lineitem: both sides collapse to DISTINCT (orderkey, suppkey) pairs,
    * so the self-joins shuffle 16-byte keys, never lineitem payload.
    * The all-pairs and returned-pairs tables derive from ONE grouped scan
    * (a has-return flag beside the group key — the returned set is a
    * filter of the pair set, not a second lineitem pass), localCheckpoint'd
    * so the three probes read the materialized 16-byte pairs, and lineitem
    * is scanned exactly once however many probes consume it.
    */
  private def q20(s: SparkSession, dir: String): DataFrame = {
    // The semi+anti self-join pair is a PER-ORDER PREDICATE in disguise:
    // a returned pair survives iff its order has ≥ 2 suppliers and exactly
    // one returned supplier — and that one row is then the order's unique
    // returned pair. One second-level aggregation over the grouped scan
    // (n_supp, n_ret, the lone returned suppkey) replaces all three probe
    // joins, cutting the 16-byte-pair shuffles from six to two; the oracle
    // keeps the readable EXISTS/NOT-EXISTS form.
    // one exchange on l_orderkey serves BOTH aggregation levels (hash
    // partitioning on a subset of the grouping keys satisfies the
    // clustering requirement) — partial aggregation wouldn't reduce this
    // shuffle anyway, since (l_orderkey, l_suppkey) is nearly unique per
    // lineitem row
    val perOrder = Tables.lineitem(s, dir)
      .select(col("l_orderkey"), col("l_suppkey"),
        (col("l_returnflag") === "R").as("r"))
      .repartition(col("l_orderkey"))
      .groupBy(col("l_orderkey"), col("l_suppkey"))
      .agg(max(when(col("r"), 1).otherwise(0)).as("has_r"))
      .groupBy(col("l_orderkey"))
      .agg(count(lit(1)).as("n_supp"), sum(col("has_r")).as("n_ret"),
        max(when(col("has_r") === 1, col("l_suppkey"))).as("l_suppkey"))
      .filter(col("n_ret") === 1 && col("n_supp") >= 2)
    val finished = Tables.orders(s, dir)
      .filter(col("o_orderstatus") === "F").select(col("o_orderkey"))
    val sole = perOrder.join(finished,
      col("l_orderkey") === col("o_orderkey"), "left_semi")
    sole.join(Tables.supplier(s, dir), col("l_suppkey") === col("s_suppkey"))
      .groupBy(col("s_name"))
      .agg(count(lit(1)).as("numwait"))
      .orderBy(col("numwait").desc, col("s_name"))
      .limit(20)
  }

  private val q20Sql =
    """WITH pairs AS (SELECT DISTINCT l_orderkey, l_suppkey FROM lineitem),
      |ret AS (SELECT DISTINCT l_orderkey, l_suppkey FROM lineitem
      |        WHERE l_returnflag = 'R'),
      |cand AS (SELECT r.l_orderkey, r.l_suppkey FROM ret r
      |  WHERE EXISTS (SELECT 1 FROM orders o
      |          WHERE o.o_orderkey = r.l_orderkey AND o.o_orderstatus = 'F')
      |    AND EXISTS (SELECT 1 FROM pairs p
      |          WHERE p.l_orderkey = r.l_orderkey
      |            AND p.l_suppkey <> r.l_suppkey)
      |    AND NOT EXISTS (SELECT 1 FROM ret r2
      |          WHERE r2.l_orderkey = r.l_orderkey
      |            AND r2.l_suppkey <> r.l_suppkey))
      |SELECT s_name, COUNT(*) AS numwait
      |FROM cand JOIN supplier ON l_suppkey = s_suppkey
      |GROUP BY s_name
      |ORDER BY numwait DESC, s_name LIMIT 20""".stripMargin

  /** q21 — TPC-H Q13-style customer-order histogram: how many customers
    * placed 0, 1, 2, … urgent orders. The LEFT OUTER join preserves
    * customers with no qualifying orders (the 0-bucket — the one relational
    * shape semi/anti joins can't express: aggregation over preserved
    * nulls). The priority filter applies to the orders side BEFORE the
    * outer join (equivalent to an ON-clause filter for LEFT OUTER, so it
    * pushes to the scan); the first aggregation shuffles on c_custkey, the
    * second on the tiny c_count domain.
    */
  private def q21(s: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(s, dir).select(col("c_custkey"))
    val o = Tables.orders(s, dir)
      .filter(col("o_orderpriority") === "1-URGENT")
      .select(col("o_custkey"), col("o_orderkey"))
    c.join(o, col("c_custkey") === col("o_custkey"), "left_outer")
      .groupBy(col("c_custkey"))
      .agg(count(col("o_orderkey")).as("c_count"))
      .groupBy(col("c_count"))
      .agg(count(lit(1)).as("custdist"))
      .orderBy(col("custdist").desc, col("c_count").desc)
  }

  private val q21Sql =
    """SELECT c_count, COUNT(*) AS custdist
      |FROM (SELECT c_custkey, CAST(COUNT(o_orderkey) AS BIGINT) AS c_count
      |      FROM customer LEFT OUTER JOIN
      |        (SELECT o_custkey, o_orderkey FROM orders
      |         WHERE o_orderpriority = '1-URGENT') o
      |        ON c_custkey = o_custkey
      |      GROUP BY c_custkey) t
      |GROUP BY c_count ORDER BY custdist DESC, c_count DESC""".stripMargin

  /** q22 — TPC-H Q22-style untapped-balance report: per market segment,
    * the customers whose balance beats the all-positive-balance average but
    * who placed no urgent order. Exercises the correlated-scalar-subquery
    * shape: Spark plans the AVG as a 1-row aggregate broadcast (the
    * crossJoin is with that literal 1-row frame), then a broadcast-able
    * anti join against the urgent-order custkeys. The average is computed
    * as exact-decimal-sum ÷ count so both engines derive bit-identical
    * thresholds (see the pack scaladoc).
    */
  private def q22(s: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(s, dir)
    val avgPos = c.filter(col("c_acctbal") > 0.0)
      .agg((sum(d2(col("c_acctbal"))).cast("double") / count(lit(1)))
        .as("avg_bal"))
    val urgent = Tables.orders(s, dir)
      .filter(col("o_orderpriority") === "1-URGENT").select(col("o_custkey"))
    c.crossJoin(broadcast(avgPos))
      .filter(col("c_acctbal") > col("avg_bal"))
      .join(urgent, col("c_custkey") === col("o_custkey"), "left_anti")
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("numcust"),
        sum(d2(col("c_acctbal"))).cast("double").as("totacctbal"))
      .orderBy(col("c_mktsegment"))
  }

  private val q22Sql =
    """SELECT c_mktsegment, COUNT(*) AS numcust,
      |  CAST(SUM(CAST(c_acctbal AS DECIMAL(12,2))) AS DOUBLE) AS totacctbal
      |FROM customer
      |WHERE c_acctbal > (SELECT CAST(SUM(CAST(c_acctbal AS DECIMAL(12,2))) AS DOUBLE) / COUNT(*)
      |                   FROM customer WHERE c_acctbal > 0.0)
      |  AND NOT EXISTS (SELECT 1 FROM orders o
      |                  WHERE o.o_custkey = customer.c_custkey
      |                    AND o.o_orderpriority = '1-URGENT')
      |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin

  /** q23 — TPC-H Q2-style minimum-cost supplier: for each size-1 part, the
    * supplier(s) whose average sale price over lineitem is that part's
    * minimum (the reference shape's correlated MIN subquery, expressed as a
    * window MIN over the aggregated frame). Scale shape: the size-1 part
    * filter joins lineitem as a MAP-SIDE broadcast BEFORE the aggregation,
    * so only the qualifying ~1/50 of lineitem ever enters the (partkey,
    * suppkey) shuffle (aggregating first would shuffle every group only to
    * discard 98% of them at the part join); the windowed frame is
    * |qualifying pairs|, never lineitem; supplier is a broadcast. The
    * window's partkey shuffle moves only the tiny aggregated frame.
    */
  private def q23(s: SparkSession, dir: String): DataFrame = {
    val sized = Tables.part(s, dir).filter(col("p_size") === 1)
      .select(col("p_partkey"))
    val ps = Tables.lineitem(s, dir)
      .join(broadcast(sized), col("l_partkey") === col("p_partkey"))
      .groupBy(col("l_partkey"), col("l_suppkey"))
      .agg((sum(d2(col("l_extendedprice"))).cast("double") / count(lit(1)))
        .as("avg_price"))
    val w = Window.partitionBy(col("l_partkey"))
    ps.withColumn("min_price", min(col("avg_price")).over(w))
      .filter(col("avg_price") === col("min_price"))
      .join(broadcast(Tables.supplier(s, dir)),
        col("l_suppkey") === col("s_suppkey"))
      .select(col("l_partkey").as("p_partkey"), col("s_name"), col("avg_price"))
      .orderBy(col("p_partkey"), col("s_name"))
  }

  private val q23Sql =
    """WITH ps AS (
      |  SELECT l_partkey, l_suppkey,
      |    CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) / COUNT(*) AS avg_price
      |  FROM lineitem GROUP BY l_partkey, l_suppkey),
      |m AS (SELECT l_partkey, MIN(avg_price) AS min_price FROM ps GROUP BY l_partkey)
      |SELECT p.p_partkey, s.s_name, ps.avg_price
      |FROM ps
      |JOIN m ON ps.l_partkey = m.l_partkey AND ps.avg_price = m.min_price
      |JOIN part p ON p.p_partkey = ps.l_partkey AND p.p_size = 1
      |JOIN supplier s ON s.s_suppkey = ps.l_suppkey
      |ORDER BY p_partkey, s_name""".stripMargin

  /** q24 — TPC-H Q7-style volume shipping: bilateral trade between two
    * nations by ship year. The two nation joins are broadcasts applied on
    * the dimension side BEFORE touching the fact tables, and BOTH fact
    * sides are nation-cut before they meet: lineitem by broadcast(supp),
    * orders by broadcast(cust) — each surviving only the 2-of-25-nations
    * slice. The l_orderkey join of those two cut sides is the one
    * irreducible fact-fact exchange (at deployment scale, co-bucket both
    * tables on orderkey to delete it; at bench scale AQE broadcasts the cut
    * orders side); the only other shuffle is the final 3-column group key.
    */
  private def q24(s: SparkSession, dir: String): DataFrame = {
    val n = Tables.nation(s, dir)
    val supp = Tables.supplier(s, dir)
      .join(n, col("s_nationkey") === col("n_nationkey"))
      .filter(col("n_name").isin("NATION_1", "NATION_2"))
      .select(col("s_suppkey"), col("n_name").as("supp_nation"))
    val cust = Tables.customer(s, dir)
      .join(n, col("c_nationkey") === col("n_nationkey"))
      .filter(col("n_name").isin("NATION_1", "NATION_2"))
      .select(col("c_custkey"), col("n_name").as("cust_nation"))
    val ordersCut = Tables.orders(s, dir)
      .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
      .select(col("o_orderkey"), col("cust_nation"))
    Tables.lineitem(s, dir)
      .join(broadcast(supp), col("l_suppkey") === col("s_suppkey"))
      .join(ordersCut, col("l_orderkey") === col("o_orderkey"))
      .filter(col("supp_nation") =!= col("cust_nation"))
      .groupBy(col("supp_nation"), col("cust_nation"),
        year(col("l_shipdate")).as("l_year"))
      .agg(sum(d2(col("l_extendedprice")) *
          (one - col("l_discount").cast("decimal(4,2)")))
        .cast("double").as("revenue"))
      .orderBy(col("supp_nation"), col("cust_nation"), col("l_year"))
  }

  private val q24Sql =
    """SELECT supp_nation, cust_nation, l_year,
      |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE) AS revenue
      |FROM (
      |  SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
      |    EXTRACT(year FROM l_shipdate) AS l_year,
      |    l_extendedprice, l_discount
      |  FROM lineitem
      |  JOIN supplier ON l_suppkey = s_suppkey
      |  JOIN nation n1 ON s_nationkey = n1.n_nationkey
      |  JOIN orders ON l_orderkey = o_orderkey
      |  JOIN customer ON o_custkey = c_custkey
      |  JOIN nation n2 ON c_nationkey = n2.n_nationkey
      |  WHERE n1.n_name IN ('NATION_1', 'NATION_2')
      |    AND n2.n_name IN ('NATION_1', 'NATION_2')
      |    AND n1.n_name <> n2.n_name) t
      |GROUP BY supp_nation, cust_nation, l_year
      |ORDER BY supp_nation, cust_nation, l_year""".stripMargin

  /** q25 — TPC-H Q11-style important stock: parts whose sales value through
    * one nation's suppliers exceeds a fixed fraction of that nation's total.
    * The correlated scalar total is a 1-row aggregate broadcast (crossJoin
    * with a literal 1-row frame — the q22 pattern); the per-part agg is
    * map-side combined. Threshold compare is exact: BOTH sides stay exact
    * DECIMAL through every sum (the total is a DECIMAL sum of the per-part
    * DECIMAL sums — summing the per-part doubles would be accumulation-
    * order-dependent and could flip a part sitting near the 0.2% threshold
    * between engines or runs) and cast to double exactly once.
    */
  private def q25(s: SparkSession, dir: String): DataFrame = {
    val supp = Tables.supplier(s, dir)
      .join(Tables.nation(s, dir), col("s_nationkey") === col("n_nationkey"))
      .filter(col("n_name") === "NATION_3")
      .select(col("s_suppkey"))
    val valsDec = Tables.lineitem(s, dir)
      .join(broadcast(supp), col("l_suppkey") === col("s_suppkey"), "left_semi")
      .groupBy(col("l_partkey"))
      .agg(sum(d2(col("l_extendedprice"))).as("value_dec"))
    val total = valsDec.agg(sum(col("value_dec")).cast("double").as("total_value"))
    valsDec.crossJoin(broadcast(total))
      .select(col("l_partkey"), col("value_dec").cast("double").as("value"),
        col("total_value"))
      .filter(col("value") > col("total_value") * 0.002)
      .select(col("l_partkey"), col("value"))
      .orderBy(col("value").desc, col("l_partkey"))
  }

  private val q25Sql =
    """WITH vd AS (
      |  SELECT l_partkey,
      |    SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS value_dec
      |  FROM lineitem
      |  WHERE l_suppkey IN (
      |    SELECT s_suppkey FROM supplier JOIN nation ON s_nationkey = n_nationkey
      |    WHERE n_name = 'NATION_3')
      |  GROUP BY l_partkey)
      |SELECT l_partkey, CAST(value_dec AS DOUBLE) AS value FROM vd
      |WHERE CAST(value_dec AS DOUBLE) >
      |      CAST((SELECT SUM(value_dec) FROM vd) AS DOUBLE) * 0.002
      |ORDER BY value DESC, l_partkey""".stripMargin

  /** q26 — TPC-H Q8-style market share: one nation's share of revenue from
    * a region's customers, by order year. The conditional-aggregate-ratio
    * shape: SUM(CASE)/SUM in one pass — no second join or self-union.
    * Dimension chains (customer→nation→region, supplier→nation) collapse
    * to broadcasts before lineitem is touched; one shuffle on the year key.
    */
  private def q26(s: SparkSession, dir: String): DataFrame = {
    val n = Tables.nation(s, dir)
    val euroCust = Tables.customer(s, dir)
      .join(n, col("c_nationkey") === col("n_nationkey"))
      .join(Tables.region(s, dir), col("n_regionkey") === col("r_regionkey"))
      .filter(col("r_name") === "EUROPE")
      .select(col("c_custkey"))
    val supp = Tables.supplier(s, dir)
      .join(n, col("s_nationkey") === col("n_nationkey"))
      .select(col("s_suppkey"), col("n_name").as("supp_nation"))
    val rev = d2(col("l_extendedprice")) *
      (one - col("l_discount").cast("decimal(4,2)"))
    Tables.lineitem(s, dir)
      .join(Tables.orders(s, dir), col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(euroCust), col("o_custkey") === col("c_custkey"), "left_semi")
      .join(broadcast(supp), col("l_suppkey") === col("s_suppkey"))
      .groupBy(year(col("o_orderdate")).as("o_year"))
      .agg((sum(when(col("supp_nation") === "NATION_1", rev)
          .otherwise(lit(0).cast("decimal(12,2)"))).cast("double") /
        sum(rev).cast("double")).as("mkt_share"))
      .orderBy(col("o_year"))
  }

  private val q26Sql =
    """SELECT EXTRACT(year FROM o_orderdate) AS o_year,
      |  CAST(SUM(CASE WHEN n1.n_name = 'NATION_1'
      |    THEN CAST(l_extendedprice AS DECIMAL(12,2)) * (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(4,2)))
      |    ELSE CAST(0 AS DECIMAL(12,2)) END) AS DOUBLE)
      |  / CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE) AS mkt_share
      |FROM lineitem
      |JOIN orders ON l_orderkey = o_orderkey
      |JOIN supplier ON l_suppkey = s_suppkey
      |JOIN nation n1 ON s_nationkey = n1.n_nationkey
      |WHERE o_custkey IN (
      |  SELECT c_custkey FROM customer
      |  JOIN nation n2 ON c_nationkey = n2.n_nationkey
      |  JOIN region ON n2.n_regionkey = r_regionkey
      |  WHERE r_name = 'EUROPE')
      |GROUP BY o_year
      |ORDER BY o_year""".stripMargin

  /** q27 — TPC-H Q9-style product-type profit: per supplier nation per
    * order year, the summed profit on parts whose name contains 'red'.
    * The synthetic schema has no partsupp, so 0.6·p_retailprice·l_quantity
    * stands in for ps_supplycost·l_quantity — the shape is unchanged: an
    * exact-DECIMAL computed expression aggregated across a multi-way join.
    * Scale shape: the name-filtered part list and the supplier→nation chain
    * fold into broadcasts BEFORE lineitem is touched; the l_orderkey join
    * against the 2-column orders projection is the one fact-fact exchange
    * (co-bucket on orderkey at deployment scale); one shuffle for the
    * (nation, year) group key. Every term stays exact DECIMAL until the
    * single final double cast (0.6 is exact in DECIMAL(2,1)).
    */
  private def q27(s: SparkSession, dir: String): DataFrame = {
    val redParts = Tables.part(s, dir)
      .filter(col("p_name").contains("red"))
      .select(col("p_partkey"), col("p_retailprice"))
    val supp = Tables.supplier(s, dir)
      .join(Tables.nation(s, dir), col("s_nationkey") === col("n_nationkey"))
      .select(col("s_suppkey"), col("n_name").as("nation"))
    val profit = d2(col("l_extendedprice")) *
      (one - col("l_discount").cast("decimal(4,2)")) -
      d2(col("p_retailprice")) * col("l_quantity").cast("decimal(12,2)") *
        lit(0.6).cast("decimal(2,1)")
    Tables.lineitem(s, dir)
      .join(broadcast(redParts), col("l_partkey") === col("p_partkey"))
      .join(broadcast(supp), col("l_suppkey") === col("s_suppkey"))
      .join(Tables.orders(s, dir).select(col("o_orderkey"),
        year(col("o_orderdate")).as("o_year")),
        col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("nation"), col("o_year"))
      .agg(sum(profit).cast("double").as("sum_profit"))
      .orderBy(col("nation"), col("o_year").desc)
  }

  private val q27Sql =
    """SELECT nation, o_year, CAST(SUM(profit) AS DOUBLE) AS sum_profit
      |FROM (
      |  SELECT n_name AS nation, EXTRACT(year FROM o_orderdate) AS o_year,
      |    CAST(l_extendedprice AS DECIMAL(12,2))
      |      * (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(4,2)))
      |    - CAST(p_retailprice AS DECIMAL(12,2))
      |      * CAST(l_quantity AS DECIMAL(12,2)) * CAST(0.6 AS DECIMAL(2,1)) AS profit
      |  FROM lineitem
      |  JOIN part ON p_partkey = l_partkey AND p_name LIKE '%red%'
      |  JOIN supplier ON s_suppkey = l_suppkey
      |  JOIN nation ON s_nationkey = n_nationkey
      |  JOIN orders ON o_orderkey = l_orderkey) t
      |GROUP BY nation, o_year
      |ORDER BY nation, o_year DESC""".stripMargin

  /** q28 — TPC-H Q17-style small-quantity revenue: the average yearly
    * revenue that would be lost by refusing orders below 20% of a part's
    * average order quantity, for one brand. The correlated
    * `0.2·avg(l_quantity)` per part is the aggregate-then-broadcast shape
    * (q23's rule): per-part thresholds are computed FIRST in one
    * map-side-combined agg over the brand-semi-joined lineitem, then the
    * resulting |brand parts|-row frame broadcasts against lineitem — never
    * a correlated re-scan, and the threshold derives from an exact DECIMAL
    * sum ÷ count so both engines compare against bit-identical doubles.
    */
  private def q28(s: SparkSession, dir: String): DataFrame = {
    val brandParts = Tables.part(s, dir)
      .filter(col("p_brand") === "Brand#3").select(col("p_partkey"))
    val thresh = Tables.lineitem(s, dir)
      .join(broadcast(brandParts), col("l_partkey") === col("p_partkey"), "left_semi")
      .groupBy(col("l_partkey").as("t_partkey"))
      .agg((sum(col("l_quantity").cast("decimal(12,2)")).cast("double")
        / count(lit(1)) * 0.2).as("qty_thresh"))
    Tables.lineitem(s, dir)
      .join(broadcast(thresh), col("l_partkey") === col("t_partkey"))
      .filter(col("l_quantity") < col("qty_thresh"))
      .agg((sum(d2(col("l_extendedprice"))).cast("double") / 7.0)
        .as("avg_yearly"))
  }

  private val q28Sql =
    """WITH t AS (
      |  SELECT l_partkey,
      |    CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) / COUNT(*) * 0.2 AS qty_thresh
      |  FROM lineitem
      |  WHERE l_partkey IN (SELECT p_partkey FROM part WHERE p_brand = 'Brand#3')
      |  GROUP BY l_partkey)
      |SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) / 7.0 AS avg_yearly
      |FROM lineitem JOIN t ON lineitem.l_partkey = t.l_partkey
      |WHERE l_quantity < qty_thresh""".stripMargin

  /** q29 — TPC-H Q12-style priority counts by shipping class (adapted: the
    * synthetic schema has no l_shipmode/l_commitdate, so the return-flag
    * classes stand in for ship modes and the predicate is a one-year
    * shipdate window): per class, how many high-priority (1-URGENT/2-HIGH)
    * vs lower-priority orders shipped — the conditional two-way-count
    * shape: one pass, SUM(CASE) twice, no union and no second join. The
    * date range is a plain predicate so it pushes into the lineitem scan.
    */
  private def q29(s: SparkSession, dir: String): DataFrame = {
    val hi = col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    Tables.lineitem(s, dir)
      .filter(col("l_shipdate") >= lit("1997-01-01").cast("timestamp") &&
        col("l_shipdate") < lit("1998-01-01").cast("timestamp"))
      .select(col("l_orderkey"), col("l_returnflag"))
      .join(Tables.orders(s, dir).select(col("o_orderkey"), col("o_orderpriority")),
        col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("l_returnflag"))
      .agg(sum(when(hi, 1L).otherwise(0L)).as("high_line_count"),
        sum(when(!hi, 1L).otherwise(0L)).as("low_line_count"))
      .orderBy(col("l_returnflag"))
  }

  private val q29Sql =
    """SELECT l_returnflag,
      |  CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
      |    THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
      |  CAST(SUM(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
      |    THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
      |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |WHERE l_shipdate >= TIMESTAMP '1997-01-01'
      |  AND l_shipdate < TIMESTAMP '1998-01-01'
      |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin

  /** q30 — TPC-H Q6-style forecast revenue: one scan, zero joins — the
    * whole query is three pushable range predicates and a single exact-
    * DECIMAL product sum. Every predicate reaches the parquet scan
    * (PlanSpec-pinned): at 100 TB this query's cost is IO on the pruned
    * row groups, nothing else.
    */
  private def q30(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir)
      .filter(col("l_shipdate") >= lit("1997-01-01").cast("timestamp") &&
        col("l_shipdate") < lit("1998-01-01").cast("timestamp") &&
        col("l_discount") >= 0.02 && col("l_discount") <= 0.04 &&
        col("l_quantity") < 24)
      .agg(sum(d2(col("l_extendedprice")) * col("l_discount").cast("decimal(4,2)"))
        .cast("double").as("revenue"))

  private val q30Sql =
    """SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))
      |         * CAST(l_discount AS DECIMAL(4,2))) AS DOUBLE) AS revenue
      |FROM lineitem
      |WHERE l_shipdate >= TIMESTAMP '1997-01-01'
      |  AND l_shipdate < TIMESTAMP '1998-01-01'
      |  AND l_discount >= 0.02 AND l_discount <= 0.04
      |  AND l_quantity < 24""".stripMargin

  /** q31 — TPC-H Q14-style promotion share: the revenue fraction from one
    * part type in a shipdate year, as a conditional-aggregate ratio
    * (q26's SUM(CASE)/SUM shape) over the lineitem⋈broadcast(part) join —
    * one pass, no union, both sides exact DECIMAL until the final ratio.
    */
  private def q31(s: SparkSession, dir: String): DataFrame = {
    val rev = d2(col("l_extendedprice")) *
      (one - col("l_discount").cast("decimal(4,2)"))
    Tables.lineitem(s, dir)
      .filter(col("l_shipdate") >= lit("1998-01-01").cast("timestamp") &&
        col("l_shipdate") < lit("1999-01-01").cast("timestamp"))
      .join(broadcast(Tables.part(s, dir)
        .select(col("p_partkey"), col("p_type"))),
        col("l_partkey") === col("p_partkey"))
      .agg((sum(when(col("p_type") === "ECONOMY", rev)
          .otherwise(lit(0).cast("decimal(12,2)"))).cast("double") * 100.0 /
        sum(rev).cast("double")).as("promo_share_pct"))
  }

  private val q31Sql =
    """SELECT CAST(SUM(CASE WHEN p_type = 'ECONOMY'
      |    THEN CAST(l_extendedprice AS DECIMAL(12,2)) * (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(4,2)))
      |    ELSE CAST(0 AS DECIMAL(12,2)) END) AS DOUBLE) * 100.0
      |  / CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE) AS promo_share_pct
      |FROM lineitem JOIN part ON l_partkey = p_partkey
      |WHERE l_shipdate >= TIMESTAMP '1998-01-01'
      |  AND l_shipdate < TIMESTAMP '1999-01-01'""".stripMargin

  /** q32 — TPC-H Q15-style top supplier: the supplier(s) whose quarterly
    * revenue equals the maximum. The revenue "view" is one map-side-combined
    * agg; the correlated MAX is a 1-row aggregate broadcast (q22's scalar
    * pattern) compared in exact DECIMAL — so ties are exact, never a double
    * epsilon — and supplier names attach via broadcast at the end.
    */
  private def q32(s: SparkSession, dir: String): DataFrame = {
    val r = Tables.lineitem(s, dir)
      .filter(col("l_shipdate") >= lit("1997-01-01").cast("timestamp") &&
        col("l_shipdate") < lit("1997-04-01").cast("timestamp"))
      .groupBy(col("l_suppkey"))
      .agg(sum(d2(col("l_extendedprice")) *
        (one - col("l_discount").cast("decimal(4,2)"))).as("total_dec"))
    val mx = r.agg(max(col("total_dec")).as("max_dec"))
    r.crossJoin(broadcast(mx))
      .filter(col("total_dec") === col("max_dec"))
      .join(broadcast(Tables.supplier(s, dir)),
        col("l_suppkey") === col("s_suppkey"))
      .select(col("s_suppkey"), col("s_name"),
        col("total_dec").cast("double").as("total_revenue"))
      .orderBy(col("s_suppkey"))
  }

  private val q32Sql =
    """WITH r AS (
      |  SELECT l_suppkey,
      |    SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(4,2)))) AS total_dec
      |  FROM lineitem
      |  WHERE l_shipdate >= TIMESTAMP '1997-01-01'
      |    AND l_shipdate < TIMESTAMP '1997-04-01'
      |  GROUP BY l_suppkey)
      |SELECT s_suppkey, s_name, CAST(total_dec AS DOUBLE) AS total_revenue
      |FROM r JOIN supplier ON s_suppkey = l_suppkey
      |WHERE total_dec = (SELECT MAX(total_dec) FROM r)
      |ORDER BY s_suppkey""".stripMargin

  /** q33 — TPC-H Q16-style supplier-count report: distinct suppliers able
    * to ship each surviving (brand, type, size) combination — the
    * distinct-count-after-negated-filters shape (brand <>, type NOT LIKE,
    * size IN) no other query covers. The part cut broadcasts; lineitem
    * provides the (partkey, suppkey) capability pairs and collapses to
    * DISTINCT pairs map-side BEFORE the count, so the count's shuffle
    * carries pairs, never raw lineitem.
    */
  private def q33(s: SparkSession, dir: String): DataFrame = {
    val partCut = Tables.part(s, dir)
      .filter(col("p_brand") =!= "Brand#3" &&
        !col("p_type").startsWith("ECONOMY") &&
        col("p_size").isin(1, 2, 3, 4, 5))
      .select(col("p_partkey"), col("p_brand"), col("p_type"), col("p_size"))
    Tables.lineitem(s, dir)
      .select(col("l_partkey"), col("l_suppkey")).distinct()
      .join(broadcast(partCut), col("l_partkey") === col("p_partkey"))
      .groupBy(col("p_brand"), col("p_type"), col("p_size"))
      .agg(countDistinct(col("l_suppkey")).as("supplier_cnt"))
      .orderBy(col("supplier_cnt").desc, col("p_brand"), col("p_type"),
        col("p_size"))
  }

  private val q33Sql =
    """SELECT p_brand, p_type, p_size,
      |  CAST(COUNT(DISTINCT l_suppkey) AS BIGINT) AS supplier_cnt
      |FROM lineitem JOIN part ON p_partkey = l_partkey
      |WHERE p_brand <> 'Brand#3'
      |  AND p_type NOT LIKE 'ECONOMY%'
      |  AND p_size IN (1, 2, 3, 4, 5)
      |GROUP BY p_brand, p_type, p_size
      |ORDER BY supplier_cnt DESC, p_brand, p_type, p_size""".stripMargin

  /** q34 — TPC-H Q20-style excess inventory (the last of the 22 classic
    * shapes): suppliers of 'large…' parts whose shipped quantity of such a
    * part in 1997 exceeds half that part's total 1997 movement — the
    * nested correlated-semi shape (supplier IN (… part IN (…) AND qty >
    * 0.5·correlated sum)). The synthetic schema has no partsupp, so
    * per-(part, supplier) shipped quantity stands in for ps_availqty, and
    * Q20's final nation cut is elided — at the smallest verify scale it
    * empties the result, and an always-empty oracle row proves nothing;
    * the plan shape is Q20's regardless.
    *
    * Scale shape: the name-cut part list broadcasts; the (part, supplier)
    * and per-part aggregates are partial-combined off ONE scan of the
    * date-sliced lineitem (the per-part frame derives from the pair frame,
    * not a re-scan); the threshold compare joins pair→part aggregates on
    * partkey BEFORE touching supplier; the surviving supplier ids collapse
    * to a distinct semi key. Quantity sums stay exact DECIMAL; the
    * threshold factor 0.5 is a power of two, so the single double compare
    * is exact cross-engine.
    */
  private def q34(s: SparkSession, dir: String): DataFrame = {
    val largeParts = Tables.part(s, dir)
      .filter(col("p_name").startsWith("large"))
      .select(col("p_partkey"))
    val sliced = Tables.lineitem(s, dir)
      .filter(year(col("l_shipdate")) === 1997)
      .join(broadcast(largeParts), col("l_partkey") === col("p_partkey"), "left_semi")
      .select(col("l_partkey"), col("l_suppkey"),
        col("l_quantity").cast("decimal(12,2)").as("qty"))
      // one exchange on l_partkey serves the pair aggregate, the per-part
      // rollup AND the threshold self-join (hash partitioning on a subset
      // of the grouping/join keys satisfies all three distributions)
      .repartition(col("l_partkey"))
    val pairQty = sliced.groupBy(col("l_partkey"), col("l_suppkey"))
      .agg(sum(col("qty")).as("pair_qty"))
    val partQty = pairQty.groupBy(col("l_partkey"))
      .agg(sum(col("pair_qty")).as("part_qty"))
    val excess = pairQty.join(partQty, "l_partkey")
      .filter(col("pair_qty").cast("double") >
        col("part_qty").cast("double") * 0.5)
      .select(col("l_suppkey")).distinct()
    Tables.supplier(s, dir)
      .join(excess, col("s_suppkey") === col("l_suppkey"), "left_semi")
      .select(col("s_suppkey"), col("s_name"))
      .orderBy(col("s_name"))
  }

  private val q34Sql =
    """WITH sl AS (
      |  SELECT l_partkey, l_suppkey, CAST(l_quantity AS DECIMAL(12,2)) AS qty
      |  FROM lineitem
      |  WHERE EXTRACT(year FROM l_shipdate) = 1997
      |    AND l_partkey IN (SELECT p_partkey FROM part WHERE p_name LIKE 'large%')),
      |pq AS (SELECT l_partkey, l_suppkey, SUM(qty) AS pair_qty
      |       FROM sl GROUP BY l_partkey, l_suppkey),
      |tq AS (SELECT l_partkey, SUM(pair_qty) AS part_qty
      |       FROM pq GROUP BY l_partkey),
      |ex AS (SELECT DISTINCT l_suppkey FROM pq JOIN tq USING (l_partkey)
      |       WHERE CAST(pair_qty AS DOUBLE) > CAST(part_qty AS DOUBLE) * 0.5)
      |SELECT s_suppkey, s_name
      |FROM supplier
      |WHERE s_suppkey IN (SELECT l_suppkey FROM ex)
      |ORDER BY s_name""".stripMargin

  override def defs: Seq[QueryDef] = Seq(
    QueryDef("q01_pricing_summary", q01, Some(q01Sql)),
    QueryDef("q02_revenue_by_nation", q02, Some(q02Sql)),
    QueryDef("q03_filter_project", q03, Some(q03Sql)),
    QueryDef("q04_events_json_agg", q04, Some(q04Sql)),
    QueryDef("q05_dedup_keep_first", q05, Some(q05Sql)),
    QueryDef("q06_mapping_projection", q06, Some(q06Sql)),
    QueryDef("q07_anti_join", q07, Some(q07Sql)),
    QueryDef("q08_window_topn", q08, Some(q08Sql)),
    QueryDef("q09_semi_join", q09, Some(q09Sql)),
    QueryDef("q10_grid_even_sample", q10, Some(q10Sql)),
    QueryDef("q11_record_split", q11, Some(q11Sql)),
    QueryDef("q12_gen_dedup_pipeline", q12, Some(q12Sql)),
    QueryDef("q13_label_quality", q13, Some(q13Sql)),
    QueryDef("q14_shipping_priority", q14, Some(q14Sql)),
    QueryDef("q15_local_supplier_volume", q15, Some(q15Sql)),
    QueryDef("q16_priority_checking", q16, Some(q16Sql)),
    QueryDef("q17_large_volume_customer", q17, Some(q17Sql)),
    QueryDef("q18_disjunctive_revenue", q18, Some(q18Sql)),
    QueryDef("q19_returned_items", q19, Some(q19Sql)),
    QueryDef("q20_sole_failing_supplier", q20, Some(q20Sql)),
    QueryDef("q21_order_histogram", q21, Some(q21Sql)),
    QueryDef("q22_untapped_balance", q22, Some(q22Sql)),
    QueryDef("q23_min_cost_supplier", q23, Some(q23Sql)),
    QueryDef("q24_volume_shipping", q24, Some(q24Sql)),
    QueryDef("q25_important_stock", q25, Some(q25Sql)),
    QueryDef("q26_market_share", q26, Some(q26Sql)),
    QueryDef("q27_nation_profit", q27, Some(q27Sql)),
    QueryDef("q28_small_qty_revenue", q28, Some(q28Sql)),
    QueryDef("q29_priority_counts", q29, Some(q29Sql)),
    QueryDef("q30_forecast_revenue", q30, Some(q30Sql)),
    QueryDef("q31_promo_share", q31, Some(q31Sql)),
    QueryDef("q32_top_supplier", q32, Some(q32Sql)),
    QueryDef("q33_supplier_counts", q33, Some(q33Sql)),
    QueryDef("q34_excess_inventory", q34, Some(q34Sql)))
}
