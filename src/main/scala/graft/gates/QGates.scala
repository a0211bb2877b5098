package graft
package gates

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.sources.Tables
import graft.model.TestCatalog
import graft.ingest.Loader
import graft.operators.Rollups
import graft.query.PatternQuery
import graft.util._
import Shared.{decSum, ev, gateModelDir, gateModelSqlPath, runStreamOnce, sec,
  streamTable, t, tsUs}

/** kcidb core gates: load, merge, dump and purge; closures and pattern
  * queries; rollups; notifications; schema upgrades; joins and
  * warehouse housekeeping. */
object QGates extends Family {
  private val discPrice =
    "CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * " +
      "(1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE)"

  gate("q01_summary_agg") { (s, dir) =>
    t(s, dir, "lineitem")
      .filter(col("l_shipdate") <= lit("1998-09-02").cast("timestamp"))
      .groupBy("l_returnflag", "l_linestatus")
      .agg(
        moneySum(col("l_quantity")).as("sum_qty"),
        moneySum(col("l_extendedprice")).as("sum_base_price"),
        sum(dec(col("l_extendedprice")) * (lit(1) - dec(col("l_discount"))))
          .cast("double").as("sum_disc_price"),
        moneyAvg(col("l_quantity")).as("avg_qty"),
        count(lit(1)).as("count_order"))
      .orderBy("l_returnflag", "l_linestatus")
  }(
      s"""SELECT l_returnflag, l_linestatus,
         ${decSum("l_quantity")} AS sum_qty,
         ${decSum("l_extendedprice")} AS sum_base_price,
         $discPrice AS sum_disc_price,
         ${decSum("l_quantity")} / COUNT(*) AS avg_qty,
         COUNT(*) AS count_order
         FROM lineitem
         WHERE l_shipdate <= TIMESTAMP '1998-09-02'
         GROUP BY l_returnflag, l_linestatus
         ORDER BY l_returnflag, l_linestatus""")

  gate("q02_filter_project") { (s, dir) =>
    t(s, dir, "orders")
      .filter(col("o_orderstatus") === "F" && col("o_totalprice") > 250000)
      .select("o_orderkey", "o_custkey", "o_totalprice")
      .orderBy("o_orderkey")
  }(
      """SELECT o_orderkey, o_custkey, o_totalprice FROM orders
         WHERE o_orderstatus = 'F' AND o_totalprice > 250000
         ORDER BY o_orderkey""")

  gate("q03_hierarchy_join") { (s, dir) =>
    val c = t(s, dir, "customer").filter(col("c_mktsegment") === "BUILDING")
    val o = t(s, dir, "orders")
      .filter(col("o_orderdate") < lit("1997-06-01").cast("timestamp"))
    val l = t(s, dir, "lineitem")
      .filter(col("l_shipdate") > lit("1997-06-01").cast("timestamp"))
    l.join(o, col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(c), col("o_custkey") === col("c_custkey"))
      .groupBy(col("l_orderkey"), col("o_orderdate").cast("date").as("odate"))
      .agg(sum(dec(col("l_extendedprice")) * (lit(1) - dec(col("l_discount"))))
        .cast("double").as("revenue"))
      .orderBy(col("revenue").desc, col("l_orderkey").asc)
      .limit(10)
  }(
      s"""SELECT l_orderkey, CAST(o_orderdate AS DATE) AS odate,
         $discPrice AS revenue
         FROM lineitem
         JOIN orders ON l_orderkey = o_orderkey
         JOIN customer ON o_custkey = c_custkey
         WHERE c_mktsegment = 'BUILDING'
           AND o_orderdate < TIMESTAMP '1997-06-01'
           AND l_shipdate > TIMESTAMP '1997-06-01'
         GROUP BY l_orderkey, CAST(o_orderdate AS DATE)
         ORDER BY revenue DESC, l_orderkey ASC
         LIMIT 10""")

  gate("q04_children_closure") { (s, dir) =>
    import s.implicits._
    val roots = Seq(21L, 22L, 23L).toDF("c_custkey")
    val m = TestCatalog.catalog.childrenClosure(s, dir,
      Map("customer" -> roots))
    val cust = m("customer").select(
      lit("customer").as("object_type"),
      col("c_custkey").cast("string").as("id"),
      lit("").as("parent_id"))
    val ords = m("orders").select(
      lit("orders").as("object_type"),
      col("o_orderkey").cast("string").as("id"),
      col("o_custkey").cast("string").as("parent_id"))
    val lis = m("lineitem").select(
      lit("lineitem").as("object_type"),
      concat(col("l_orderkey").cast("string"), lit("_"),
        col("l_linenumber").cast("string")).as("id"),
      col("l_orderkey").cast("string").as("parent_id"))
    cust.union(ords).union(lis).orderBy("object_type", "id")
  }(
      """SELECT 'customer' AS object_type, CAST(c_custkey AS VARCHAR) AS id,
           '' AS parent_id
         FROM customer WHERE c_custkey IN (21, 22, 23)
         UNION ALL
         SELECT 'orders', CAST(o_orderkey AS VARCHAR),
           CAST(o_custkey AS VARCHAR)
         FROM orders WHERE o_custkey IN (21, 22, 23)
         UNION ALL
         SELECT 'lineitem',
           CAST(l_orderkey AS VARCHAR) || '_' || CAST(l_linenumber AS VARCHAR),
           CAST(l_orderkey AS VARCHAR)
         FROM lineitem WHERE l_orderkey IN
           (SELECT o_orderkey FROM orders WHERE o_custkey IN (21, 22, 23))
         ORDER BY object_type, id""")

  gate("q05_parents_closure") { (s, dir) =>
    import s.implicits._
    val roots = Seq(1L, 2L, 3L, 4L, 5L).toDF("o_orderkey")
    val m = TestCatalog.catalog.parentsClosure(s, dir, Map("orders" -> roots))
    def part(tn: String, id: Column): DataFrame =
      m(tn).select(lit(tn).as("object_type"), id.cast("string").as("id"))
    part("orders", col("o_orderkey"))
      .union(part("customer", col("c_custkey")))
      .union(part("nation", col("n_nationkey")))
      .union(part("region", col("r_regionkey")))
      .orderBy("object_type", "id")
  }(
      """WITH o AS (SELECT * FROM orders WHERE o_orderkey IN (1,2,3,4,5)),
         c AS (SELECT * FROM customer
               WHERE c_custkey IN (SELECT o_custkey FROM o)),
         n AS (SELECT * FROM nation
               WHERE n_nationkey IN (SELECT c_nationkey FROM c)),
         r AS (SELECT * FROM region
               WHERE r_regionkey IN (SELECT n_regionkey FROM n))
         SELECT 'orders' AS object_type, CAST(o_orderkey AS VARCHAR) AS id
           FROM o
         UNION ALL SELECT 'customer', CAST(c_custkey AS VARCHAR) FROM c
         UNION ALL SELECT 'nation', CAST(n_nationkey AS VARCHAR) FROM n
         UNION ALL SELECT 'region', CAST(r_regionkey AS VARCHAR) FROM r
         ORDER BY object_type, id""")

  gate("q06_load_upsert_merge") { (s, dir) =>
    val log = ev(s, dir)
      .withColumn("v", when(col("value") >= 50, col("value")))
      .withColumn("ts_sec", epochSec(col("ts")))
    Loader.upsertMerge(log, Seq("user_id", "event_type"),
        Seq(col("ts"), col("event_id")), Seq("v", "props"),
        maxFields = Seq("ts_sec")) // kcidb conflict_func MAX on _timestamp
      .orderBy("user_id", "event_type")
  }(
      s"""SELECT DISTINCT user_id, event_type,
         last_value(CASE WHEN value >= 50 THEN value END IGNORE NULLS)
           OVER w AS v,
         last_value(props IGNORE NULLS) OVER w AS props,
         MAX(${sec(tsUs)}) OVER w AS ts_sec
         FROM events
         WINDOW w AS (PARTITION BY user_id, event_type
                      ORDER BY $tsUs, event_id
                      ROWS BETWEEN UNBOUNDED PRECEDING
                      AND UNBOUNDED FOLLOWING)
         ORDER BY user_id, event_type""")

  gate("q07_merge_datasets") { (s, dir) =>
    val e = ev(s, dir).select("event_id", "user_id", "event_type", "value")
    val a = e.filter(col("user_id") < 20)
    val b = e.filter(col("user_id") >= 10 && col("user_id") < 30)
    Loader.mergeDatasets(Seq(a, b)).orderBy("event_id")
  }(
      """SELECT DISTINCT event_id, user_id, event_type, value FROM (
           SELECT event_id, user_id, event_type, value FROM events
             WHERE user_id < 20
           UNION ALL
           SELECT event_id, user_id, event_type, value FROM events
             WHERE user_id >= 10 AND user_id < 30
         ) ORDER BY event_id""")

  gate("q08_count_objects") { (s, dir) =>
    Tables.names.map { n =>
      t(s, dir, n).groupBy().agg(count(lit(1)).as("n"))
        .select(lit(n).as("object_type"), col("n"))
    }.reduce(_ union _).orderBy("object_type")
  }(
      graft.sources.Tables.names
        .map(n => s"SELECT '$n' AS object_type, COUNT(*) AS n FROM $n")
        .mkString("", " UNION ALL ", " ORDER BY object_type"))

  gate("q09_dump_window") { (s, dir) =>
    Loader.dumpWindow(ev(s, dir), col("ts"),
        lit("2024-01-10 00:00:00").cast("timestamp"),
        lit("2024-01-20 00:00:00").cast("timestamp"))
      .select(col("event_id"), col("user_id"), col("event_type"), col("value"),
        epochSec(col("ts")).as("ts_sec"))
      .orderBy("event_id")
  }(
      s"""SELECT event_id, user_id, event_type, value,
         ${sec(tsUs)} AS ts_sec
         FROM events
         WHERE $tsUs > TIMESTAMP '2024-01-10'
           AND $tsUs <= TIMESTAMP '2024-01-20'
         ORDER BY event_id""")

  /** Batched dump (dump_iter objects_per_report, db/abstract.py:192-244):
    * the q09 window chunked into 500-object reports keyed by the unique
    * event_id order. */
  gate("q31_dump_batched") { (s, dir) =>
    Loader.dumpBatched(
        ev(s, dir).select(col("event_id"), col("user_id"), col("event_type"),
          col("value"), col("ts")),
        col("ts"),
        lit("2024-01-10 00:00:00").cast("timestamp"),
        lit("2024-01-20 00:00:00").cast("timestamp"),
        orderKey = Seq(col("event_id")), batchSize = 500)
      .select(col("event_id"), col("user_id"), col("event_type"),
        col("value"), epochSec(col("ts")).as("ts_sec"), col("batch_id"))
      .orderBy("event_id")
  }(
      s"""SELECT event_id, user_id, event_type, value,
         ${sec(tsUs)} AS ts_sec,
         CAST((ROW_NUMBER() OVER (ORDER BY event_id) - 1) // 500 AS BIGINT)
           AS batch_id
         FROM events
         WHERE $tsUs > TIMESTAMP '2024-01-10'
           AND $tsUs <= TIMESTAMP '2024-01-20'
         ORDER BY event_id""")

  /** q31's batched dump with with_metadata=false (db/abstract.py:192-244):
    * ts still DRIVES the (after, until] window and the batching is
    * unchanged, but the metadata column is stripped from the projection —
    * the reference's `_timestamp` contract. q31 is the with-metadata way;
    * together they oracle-check the flag both ways. */
  gate("q34_dump_meta") { (s, dir) =>
    Loader.dumpBatched(
        ev(s, dir).select(col("event_id"), col("user_id"), col("event_type"),
          col("value"), col("ts")),
        col("ts"),
        lit("2024-01-10 00:00:00").cast("timestamp"),
        lit("2024-01-20 00:00:00").cast("timestamp"),
        orderKey = Seq(col("event_id")), batchSize = 500,
        metaCols = Seq("ts"), withMetadata = false)
      .orderBy("event_id")
  }(
      // q34 = q31 with with_metadata=false: the timestamp still drives the
      // window but leaves the projection.
      s"""SELECT event_id, user_id, event_type, value,
         CAST((ROW_NUMBER() OVER (ORDER BY event_id) - 1) // 500 AS BIGINT)
           AS batch_id
         FROM events
         WHERE $tsUs > TIMESTAMP '2024-01-10'
           AND $tsUs <= TIMESTAMP '2024-01-20'
         ORDER BY event_id""")

  gate("q10_purge_before") { (s, dir) =>
    Loader.purge(ev(s, dir), col("ts"),
        lit("2024-01-15 00:00:00").cast("timestamp"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"), min(epochSec(col("ts"))).as("min_ts_sec"))
      .orderBy("event_type")
  }(
      s"""SELECT event_type, COUNT(*) AS n, MIN(${sec(tsUs)}) AS min_ts_sec
         FROM events WHERE $tsUs >= TIMESTAMP '2024-01-15'
         GROUP BY event_type ORDER BY event_type""")

  gate("q11_first_last_modified") { (s, dir) =>
    ev(s, dir).groupBy("event_type")
      .agg(min(epochSec(col("ts"))).as("first_sec"),
        max(epochSec(col("ts"))).as("last_sec"),
        count(lit(1)).as("n"))
      .orderBy("event_type")
  }(
      s"""SELECT event_type, MIN(${sec(tsUs)}) AS first_sec,
         MAX(${sec(tsUs)}) AS last_sec, COUNT(*) AS n
         FROM events GROUP BY event_type ORDER BY event_type""")

  gate("q12_latest_version") { (s, dir) =>
    Rollups.latestPerKey(ev(s, dir), Seq("user_id"),
        Seq(col("ts"), col("event_id")))
      .select("user_id", "event_id", "event_type", "value")
      .orderBy("user_id")
  }(
      s"""SELECT user_id, event_id, event_type, value FROM events
         QUALIFY row_number() OVER (PARTITION BY user_id
           ORDER BY $tsUs DESC, event_id DESC) = 1
         ORDER BY user_id""")

  gate("q13_status_rollup") { (s, dir) =>
    val c = t(s, dir, "customer")
      .join(broadcast(t(s, dir, "nation")),
        col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(t(s, dir, "region")),
        col("n_regionkey") === col("r_regionkey"))
    c.rollup(col("r_name"), col("n_name"))
      .agg(moneySum(col("c_acctbal")).as("total_bal"),
        count(lit(1)).as("n_cust"))
      .select(coalesce(col("r_name"), lit("(all)")).as("region_name"),
        coalesce(col("n_name"), lit("(all)")).as("nation_name"),
        col("total_bal"), col("n_cust"))
      .orderBy("region_name", "nation_name")
  }(
      s"""SELECT COALESCE(r_name, '(all)') AS region_name,
         COALESCE(n_name, '(all)') AS nation_name,
         ${decSum("c_acctbal")} AS total_bal, COUNT(*) AS n_cust
         FROM customer
         JOIN nation ON c_nationkey = n_nationkey
         JOIN region ON n_regionkey = r_regionkey
         GROUP BY ROLLUP(r_name, n_name)
         ORDER BY region_name, nation_name""")

  gate("q14_status_pivot") { (s, dir) =>
    Rollups.statusPivot(t(s, dir, "orders"),
        col("o_orderpriority"), "o_orderpriority",
        col("o_orderstatus"), Seq("F" -> "n_f", "O" -> "n_o", "P" -> "n_p"))
      .orderBy("o_orderpriority")
  }(
      """SELECT o_orderpriority,
         COUNT(*) FILTER (WHERE o_orderstatus = 'F') AS n_f,
         COUNT(*) FILTER (WHERE o_orderstatus = 'O') AS n_o,
         COUNT(*) FILTER (WHERE o_orderstatus = 'P') AS n_p
         FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""")

  gate("q15_worst_status") { (s, dir) =>
    Rollups.worstStatus(t(s, dir, "lineitem"), Seq("l_orderkey"),
        col("l_returnflag"), Seq("R" -> 0, "A" -> 1, "N" -> 2))
      .orderBy("l_orderkey")
  }(
      """SELECT l_orderkey,
         CASE MIN(CASE l_returnflag WHEN 'R' THEN 0 WHEN 'A' THEN 1
                  WHEN 'N' THEN 2 END)
           WHEN 0 THEN 'R' WHEN 1 THEN 'A' WHEN 2 THEN 'N' END
           AS worst_status
         FROM lineitem GROUP BY l_orderkey ORDER BY l_orderkey""")

  gate("q16_pattern_query") { (s, dir) =>
    PatternQuery.run(s, dir, TestCatalog.catalog,
        ">customer[21;22;23]>orders>lineitem#")("lineitem")
      .select("l_orderkey", "l_linenumber", "l_partkey", "l_quantity")
      .orderBy("l_orderkey", "l_linenumber")
  }(
      """SELECT l_orderkey, l_linenumber, l_partkey, l_quantity
         FROM lineitem
         WHERE l_orderkey IN
           (SELECT o_orderkey FROM orders WHERE o_custkey IN (21, 22, 23))
         ORDER BY l_orderkey, l_linenumber""")

  gate("q17_branch_tips") { (s, dir) =>
    t(s, dir, "customer")
      .join(broadcast(t(s, dir, "nation")),
        col("c_nationkey") === col("n_nationkey"))
      .groupBy("n_name", "c_mktsegment")
      .agg(count(lit(1)).as("n"), moneySum(col("c_acctbal")).as("total_bal"))
      .orderBy(col("n").desc, col("n_name").asc, col("c_mktsegment").asc)
  }(
      s"""SELECT n_name, c_mktsegment, COUNT(*) AS n,
         ${decSum("c_acctbal")} AS total_bal
         FROM customer JOIN nation ON c_nationkey = n_nationkey
         GROUP BY n_name, c_mktsegment
         ORDER BY n DESC, n_name ASC, c_mktsegment ASC""")

  /** Catalog-driven validation (orm/data.py:89-123): every required-field,
    * format, and relation-orphan check is GENERATED from TestCatalog
    * metadata; only domain value rules are passed as extras. */
  gate("q18_validate") { (s, dir) =>
    TestCatalog.catalog.validate(s, dir,
      extra = Seq("customer_negative_acctbal" ->
        t(s, dir, "customer").filter(col("c_acctbal") < 0)))
  } {
      // Generated from the same catalog metadata as the Spark plan, so the
      // check inventory cannot drift between engine and oracle.
      val cat = graft.model.TestCatalog.catalog
      val nulls = for {
        t <- cat.types.values.toSeq; c <- t.required
      } yield s"SELECT '${t.name}_null_$c' AS check_name, " +
        s"COUNT(*) AS violations FROM ${t.name} WHERE $c IS NULL"
      val formats = for {
        t <- cat.types.values.toSeq; (c, re) <- t.formats
      } yield s"SELECT '${t.name}_format_$c', COUNT(*) FROM ${t.name} " +
        s"WHERE $c IS NOT NULL AND NOT regexp_matches($c, '$re')"
      val orphans = cat.relations.map { rel =>
        val cond = rel.refCols.zip(cat.types(rel.parent).idCols)
          .map { case (rc, ic) => s"${rel.parent}.$ic = ${rel.child}.$rc" }
          .mkString(" AND ")
        s"SELECT '${rel.child}_orphan_${rel.parent}', COUNT(*) " +
          s"FROM ${rel.child} WHERE NOT EXISTS " +
          s"(SELECT 1 FROM ${rel.parent} WHERE $cond)"
      }
      val extras = Seq("SELECT 'customer_negative_acctbal', COUNT(*) " +
        "FROM customer WHERE c_acctbal < 0")
      (nulls ++ formats ++ orphans ++ extras)
        .mkString("", " UNION ALL ", " ORDER BY check_name")
  }

  gate("q19_star_join_agg") { (s, dir) =>
    val l = t(s, dir, "lineitem")
    val o = t(s, dir, "orders").filter(
      col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
        col("o_orderdate") < lit("1998-01-01").cast("timestamp"))
    val c = t(s, dir, "customer")
    val su = t(s, dir, "supplier")
    val n = t(s, dir, "nation")
    val r = t(s, dir, "region").filter(col("r_name") === "ASIA")
    l.join(o, col("l_orderkey") === col("o_orderkey"))
      .join(c, col("o_custkey") === col("c_custkey"))
      .join(broadcast(su), col("l_suppkey") === col("s_suppkey") &&
        col("s_nationkey") === col("c_nationkey"))
      .join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
      .groupBy("n_name")
      .agg(sum(dec(col("l_extendedprice")) * (lit(1) - dec(col("l_discount"))))
        .cast("double").as("revenue"))
      .orderBy(col("revenue").desc, col("n_name").asc)
  }(
      s"""SELECT n_name, $discPrice AS revenue
         FROM lineitem
         JOIN orders ON l_orderkey = o_orderkey
         JOIN customer ON o_custkey = c_custkey
         JOIN supplier ON l_suppkey = s_suppkey
           AND s_nationkey = c_nationkey
         JOIN nation ON c_nationkey = n_nationkey
         JOIN region ON n_regionkey = r_regionkey
         WHERE r_name = 'ASIA'
           AND o_orderdate >= TIMESTAMP '1996-01-01'
           AND o_orderdate < TIMESTAMP '1998-01-01'
         GROUP BY n_name
         ORDER BY revenue DESC, n_name ASC""")

  gate("q20_semi_anti") { (s, dir) =>
    val c = t(s, dir, "customer")
    val o = t(s, dir, "orders")
    def cnt(kind: String, df: DataFrame): DataFrame =
      df.groupBy().agg(count(lit(1)).as("n"))
        .select(lit(kind).as("kind"), col("n"))
    cnt("with_orders",
        c.join(o, col("c_custkey") === col("o_custkey"), "left_semi"))
      .union(cnt("without_orders",
        c.join(o, col("c_custkey") === col("o_custkey"), "left_anti")))
      .orderBy("kind")
  }(
      """SELECT 'with_orders' AS kind, COUNT(*) AS n FROM customer
           WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
         UNION ALL
         SELECT 'without_orders', COUNT(*) FROM customer
           WHERE NOT EXISTS
             (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
         ORDER BY kind""")

  gate("q21_topk") { (s, dir) =>
    Rollups.topK(
      t(s, dir, "customer")
        .join(t(s, dir, "orders"), col("c_custkey") === col("o_custkey"))
        .groupBy("c_custkey", "c_name")
        .agg(moneySum(col("o_totalprice")).as("total_spend"),
          count(lit(1)).as("n_orders")),
      Seq(col("total_spend").desc, col("c_custkey").asc), 20)
  }(
      s"""SELECT c_custkey, c_name, ${decSum("o_totalprice")} AS total_spend,
         COUNT(*) AS n_orders
         FROM customer JOIN orders ON c_custkey = o_custkey
         GROUP BY c_custkey, c_name
         ORDER BY total_spend DESC, c_custkey ASC
         LIMIT 20""")

  /** q22's (l_orderkey, l_linenumber) seeds, shared with the spec that
    * asserts they exist in every /root/testdata/sf* lineitem. */
  private[graft] val q22SeedIds = Seq("1" -> "3", "3" -> "2", "8" -> "2",
    "12" -> "5", "13" -> "7")

  /** Ultimate parents (`<*$` + `%` placeholder): the kcidb "root objects of
    * these tests" query (orm/query.py STRING_DOC `>test%<*$`). From five
    * lineitems, the dead-end ancestor types are region (via the
    * customer/supplier spines) and part (side parent, childless upward). */
  gate("q22_ultimate_parents") { (s, dir) =>
    // Seed ids must exist in lineitem at every gate scale factor or the
    // <*$ traversal is vacuous — PropertySpec("q22 seed ids exist at every
    // generated scale factor") CHECKS this against the parquet itself.
    val seedIds = q22SeedIds
    val m = PatternQuery.run(s, dir, TestCatalog.catalog,
      ">lineitem%<*$",
      idLists = Seq(seedIds.map { case (ok, ln) => Seq(ok, ln) }))
    m("region").select(lit("region").as("object_type"),
        col("r_regionkey").cast("string").as("id"))
      .union(m("part").select(lit("part").as("object_type"),
        col("p_partkey").cast("string").as("id")))
      .orderBy("object_type", "id")
  }(
      """WITH li AS (SELECT * FROM lineitem
           WHERE (l_orderkey, l_linenumber)
             IN ((1,3),(3,2),(8,2),(12,5),(13,7))),
         o AS (SELECT * FROM orders
               WHERE o_orderkey IN (SELECT l_orderkey FROM li)),
         c AS (SELECT * FROM customer
               WHERE c_custkey IN (SELECT o_custkey FROM o)),
         s AS (SELECT * FROM supplier
               WHERE s_suppkey IN (SELECT l_suppkey FROM li)),
         n AS (SELECT * FROM nation
               WHERE n_nationkey IN (SELECT c_nationkey FROM c
                                     UNION SELECT s_nationkey FROM s)),
         r AS (SELECT * FROM region
               WHERE r_regionkey IN (SELECT n_regionkey FROM n))
         SELECT 'region' AS object_type, CAST(r_regionkey AS VARCHAR) AS id
           FROM r
         UNION ALL
         SELECT 'part', CAST(p_partkey AS VARCHAR) FROM part
           WHERE p_partkey IN (SELECT l_partkey FROM li)
         ORDER BY object_type, id""")

  /** Combined children+parents closure — the reference's main query entry
    * point `query(ids, children=True, parents=True)`
    * (/root/reference/kcidb/__init__.py:255-338). Pass order is faithful to
    * the SQL generator (sqlite/v04_00.py:614-682): ancestors first, then
    * descendants of the ACCUMULATED sets — so siblings under the matched
    * objects' ancestors are included (the whole family tree). part is never
    * reached: it only relates downward to lineitem, and no lineitem id is
    * in the upward pass. */
  gate("q29_full_closure") { (s, dir) =>
    import s.implicits._
    val roots = Seq(1L, 2L, 3L).toDF("o_orderkey")
    val m = TestCatalog.catalog.closure(s, dir, Map("orders" -> roots),
      parents = true, children = true)
    def part(tn: String, id: Column): DataFrame =
      m(tn).select(lit(tn).as("object_type"), id.cast("string").as("id"))
    part("region", col("r_regionkey"))
      .union(part("nation", col("n_nationkey")))
      .union(part("customer", col("c_custkey")))
      .union(part("supplier", col("s_suppkey")))
      .union(part("orders", col("o_orderkey")))
      .union(part("lineitem", concat(col("l_orderkey").cast("string"),
        lit("_"), col("l_linenumber").cast("string"))))
      .orderBy("object_type", "id")
  }(
      // Combined closure cascade: parents pass (proot→pcust→pnat→preg), then
      // children pass from the ACCUMULATED sets top-down (reference pass
      // order, sqlite/v04_00.py:614-682). UNION (not ALL) inside the CTEs =
      // the distinct merge of the Spark BFS.
      """WITH proot AS (SELECT * FROM orders WHERE o_orderkey IN (1,2,3)),
         pcust AS (SELECT * FROM customer
                   WHERE c_custkey IN (SELECT o_custkey FROM proot)),
         pnat AS (SELECT * FROM nation
                  WHERE n_nationkey IN (SELECT c_nationkey FROM pcust)),
         preg AS (SELECT * FROM region
                  WHERE r_regionkey IN (SELECT n_regionkey FROM pnat)),
         cnat AS (SELECT * FROM nation
                  WHERE n_regionkey IN (SELECT r_regionkey FROM preg)
                  UNION SELECT * FROM pnat),
         ccust AS (SELECT * FROM customer
                   WHERE c_nationkey IN (SELECT n_nationkey FROM cnat)
                   UNION SELECT * FROM pcust),
         csupp AS (SELECT * FROM supplier
                   WHERE s_nationkey IN (SELECT n_nationkey FROM cnat)),
         cord AS (SELECT * FROM orders
                  WHERE o_custkey IN (SELECT c_custkey FROM ccust)
                  UNION SELECT * FROM proot),
         cliids AS (SELECT l_orderkey, l_linenumber FROM lineitem
                    WHERE l_orderkey IN (SELECT o_orderkey FROM cord)
                    UNION SELECT l_orderkey, l_linenumber FROM lineitem
                    WHERE l_suppkey IN (SELECT s_suppkey FROM csupp)),
         -- width restored by id, as the reference does (FROM t INNER JOIN
         -- (…ids…) USING (id fields)): every row sharing a matched id
         -- tuple is returned, with its multiplicity
         cli AS (SELECT lineitem.l_orderkey, lineitem.l_linenumber
                 FROM lineitem JOIN cliids
                 USING (l_orderkey, l_linenumber))
         SELECT object_type, id FROM (
           SELECT 'region' AS object_type,
             CAST(r_regionkey AS VARCHAR) AS id FROM preg
           UNION ALL SELECT 'nation', CAST(n_nationkey AS VARCHAR) FROM cnat
           UNION ALL SELECT 'customer', CAST(c_custkey AS VARCHAR) FROM ccust
           UNION ALL SELECT 'supplier', CAST(s_suppkey AS VARCHAR) FROM csupp
           UNION ALL SELECT 'orders', CAST(o_orderkey AS VARCHAR) FROM cord
           UNION ALL SELECT 'lineitem',
             CAST(l_orderkey AS VARCHAR) || '_' ||
             CAST(l_linenumber AS VARCHAR) FROM cli
         ) ORDER BY object_type, id""")

  /** Multi-pattern union — `kcidb-query` with repeated patterns
    * (orm/__init__.py:841-851): three patterns (one via a `%` placeholder
    * list) whose per-type matches union; customers 21∩nation-1 and the
    * repeated customer-21 orders prove cross-pattern dedup. */
  gate("q30_multi_pattern") { (s, dir) =>
    val m = PatternQuery.runAll(s, dir, TestCatalog.catalog,
      Seq(">customer[21;22;23]>orders#",
        ">nation[1]>customer#",
        ">customer%>orders#"),
      idLists = Seq(Seq(Seq("21"), Seq("30"))))
    m("orders").select(lit("orders").as("object_type"),
        col("o_orderkey").cast("string").as("id"))
      .union(m("customer").select(lit("customer").as("object_type"),
        col("c_custkey").cast("string").as("id")))
      .orderBy("object_type", "id")
  }(
      // Union of the three patterns' matches; UNION (not ALL) = the
      // cross-pattern distinct merge of PatternQuery.runAll.
      """SELECT object_type, id FROM (
           SELECT 'orders' AS object_type, CAST(o_orderkey AS VARCHAR) AS id
           FROM orders WHERE o_custkey IN (21, 22, 23, 30)
           UNION
           SELECT 'customer', CAST(c_custkey AS VARCHAR)
           FROM customer WHERE c_nationkey = 1
         ) ORDER BY object_type, id""")

  /** All descendants (`>*#` — the downward twin of q22's `<*$`,
    * orm/query.py:459-481 `_expand` in the children direction): from three
    * customers, every object the children-direction wildcard expands into —
    * their orders and those orders' lineitems. `#` matches all types
    * TRAVERSED by the `*` step (the seed customers carry no match symbol,
    * so they stay out of the result, exactly like q22's seed lineitems). */
  gate("q36_all_descendants") { (s, dir) =>
    val m = PatternQuery.run(s, dir, TestCatalog.catalog,
      ">customer[21;22;23]>*#")
    m("orders").select(lit("orders").as("object_type"),
        col("o_orderkey").cast("string").as("id"))
      .union(m("lineitem").select(lit("lineitem").as("object_type"),
        concat(col("l_orderkey").cast("string"), lit("_"),
          col("l_linenumber").cast("string")).as("id")))
      .orderBy("object_type", "id")
  }(
      """WITH o AS (SELECT * FROM orders WHERE o_custkey IN (21, 22, 23))
         SELECT 'orders' AS object_type, CAST(o_orderkey AS VARCHAR) AS id
           FROM o
         UNION ALL
         SELECT 'lineitem', CAST(l_orderkey AS VARCHAR) || '_'
             || CAST(l_linenumber AS VARCHAR)
           FROM lineitem
           WHERE l_orderkey IN (SELECT o_orderkey FROM o)
         ORDER BY object_type, id""")

  /** Dot-path test-tree rollup (kcidb `Node`, oo/__init__.py:277-408): a
    * 3-level path synthesized from events (type.userbucket.eventbucket),
    * status from the measure; every node of the tree gets the worst status
    * and size of its subtree. */
  gate("q23_path_rollup") { (s, dir) =>
    val e = ev(s, dir)
    val path = concat(col("event_type"), lit(".u"),
      pmod(col("user_id"), lit(8)).cast("string"), lit(".e"),
      pmod(col("event_id"), lit(4)).cast("string"))
    val status = when(col("value") >= 80, "PASS")
      .when(col("value") >= 20, "SKIP").otherwise("FAIL")
    Rollups.pathRollup(e, path, status,
        Seq("FAIL" -> 0, "SKIP" -> 1, "PASS" -> 2))
      .orderBy("node_path")
  }(
      """WITH t AS (SELECT
           event_type || '.u' || CAST(user_id % 8 AS VARCHAR)
             || '.e' || CAST(event_id % 4 AS VARCHAR) AS path,
           CASE WHEN value >= 80 THEN 'PASS'
                WHEN value >= 20 THEN 'SKIP' ELSE 'FAIL' END AS status
           FROM events),
         p AS (SELECT
             array_to_string((string_split(path, '.'))[1:d.d], '.')
               AS node_path, status
           FROM t CROSS JOIN (VALUES (1), (2), (3)) d(d))
         SELECT node_path,
           CASE MIN(CASE status WHEN 'FAIL' THEN 0 WHEN 'SKIP' THEN 1
                    WHEN 'PASS' THEN 2 END)
             WHEN 0 THEN 'FAIL' WHEN 1 THEN 'SKIP' WHEN 2 THEN 'PASS' END
             AS worst_status,
           COUNT(*) AS n_tests
         FROM p GROUP BY node_path ORDER BY node_path""")

  /** q24's gate subscriptions, shared with the spec that asserts the
    * streaming spool (dedupStream) emits exactly this batch set. */
  private[graft] val q24Subscriptions = Seq(
    graft.monitor.Subscription("failed_big_orders", "orders",
      col("o_orderstatus") === "F" && col("o_totalprice") > 200000,
      Seq("o_orderkey"),
      subject = "Order {o_orderkey} failed ({o_orderpriority})",
      body = "Order {o_orderkey} by customer {o_custkey} with priority " +
        "{o_orderpriority} failed in status {o_orderstatus}."),
    graft.monitor.Subscription("negative_balance", "customer",
      col("c_acctbal") < -900, Seq("c_custkey"),
      subject = "Customer {c_name} balance went negative",
      body = "Customer {c_custkey} ({c_name}) of nation {c_nationkey}, " +
        "segment {c_mktsegment}, has a negative account balance."),
    graft.monitor.Subscription("returned_full_qty", "lineitem",
      col("l_returnflag") === "R" && col("l_quantity") >= 50,
      Seq("l_orderkey", "l_linenumber"),
      subject = "Full-quantity return on order {l_orderkey} " +
        "line {l_linenumber}",
      body = "Lineitem {l_orderkey}_{l_linenumber} of part {l_partkey} " +
        "came back with return flag {l_returnflag} in status " +
        "{l_linestatus}."))

  /** The oracle-side WHERE string for each q24 subscription, in
    * [[q24Subscriptions]] order. Parsed by BOTH engines: DuckDB runs it
    * in the oracle SQL and SubscriptionsSpec filters the same table with
    * `expr(...)` vs the Column predicate and asserts identical row sets —
    * so a predicate edited on only one side fails the suite instead of
    * drifting (the predicates stay ANSI-portable by this contract). */
  private[graft] val q24PredicateSql: Seq[String] = Seq(
    "o_orderstatus = 'F' AND o_totalprice > 200000",
    "c_acctbal < -900",
    "l_returnflag = 'R' AND l_quantity >= 50")

  // -- Notification-oracle generators (q24 + q40), built from the SAME
  // subscription constants the gate queries carry (shared-constant
  // discipline): literals quoted, {col} -> null-safe VARCHAR cast. Gate
  // templates are short and clean, so the subject clip/sanitize steps
  // are identity here (spec-covered).
  private def notifB64(e: String) =
    s"translate(to_base64(encode($e)), '/', '-')"

  /** The SQL form of Subscriptions.renderTemplate. */
  private def notifTpl(t: String): String = {
    val re = "\\{([A-Za-z_][A-Za-z0-9_]*)\\}".r
    val parts = Seq.newBuilder[String]
    var last = 0
    for (m <- re.findAllMatchIn(t)) {
      if (m.start > last)
        parts += s"'${t.substring(last, m.start).replace("'", "''")}'"
      parts += s"COALESCE(CAST(${m.group(1)} AS VARCHAR), '')"
      last = m.end
    }
    if (last < t.length)
      parts += s"'${t.substring(last).replace("'", "''")}'"
    val ps = parts.result()
    if (ps.isEmpty) "''" else ps.mkString(" || ")
  }

  /** One subscription's raw-match SELECT over `from` (the object table
    * for q24; a closure-restricted CTE for q40). */
  private def notifSub(s: graft.monitor.Subscription, idExpr: String,
                       where: String, from: String) =
    s"""SELECT '${s.name}' || ':' || '${s.objectType}' || ':' ||
          ${notifB64(idExpr)} || ':' || ${notifB64("'m0'")}
            AS notification_id,
        '${s.name}' AS subscription, '${s.objectType}' AS object_type,
        $idExpr AS object_id,
        ${notifTpl(s.subject)} AS subject,
        md5(${notifTpl(s.body)}) AS body_md5
        FROM $from WHERE $where"""

  /** Spool register-once over unioned raw matches: exactly one row per
    * notification id, the kept rendering the minimum (subject, body_md5)
    * struct — the same deterministic rule as
    * matchNotificationsRendered. */
  private def notifSpool(selects: Seq[String]): String =
    selects.mkString(
      """SELECT notification_id, subscription, object_type, object_id,
         (min(struct_pack(s := subject, b := body_md5))).s AS subject,
         (min(struct_pack(s := subject, b := body_md5))).b AS body_md5
         FROM (""",
      " UNION ALL ",
      """) GROUP BY notification_id, subscription, object_type,
         object_id ORDER BY notification_id""")

  private lazy val Seq(q24BigOrders, q24NegBal, q24Returned) =
    q24Subscriptions
  // WHERE strings come from the SAME constant the spec checks against
  // the Column predicates (q24PredicateSql) — no dual
  // hand-written predicate to drift.
  private lazy val Seq(q24BigOrdersW, q24NegBalW, q24ReturnedW) =
    q24PredicateSql

  /** Subscription → notification matching (kcidb monitor/__init__.py:7,
    * output.py:109): three subscriptions over the loaded object graph, each
    * a pushdown-able predicate; notification ids are the deterministic
    * spool dedup keys.
    *
    * q24 runs REAL micro-batch streaming through the rendered
    * notification spool — the reference's full monitor loop
    * (__init__.py:493-531 load → match → notify) as a streaming query:
    * all three object tables arrive as file-source streams, matching +
    * rendering are the stateless per-row projections of
    * [[graft.monitor.Subscriptions.matchRendered]] (they run unchanged
    * on streaming frames), and the spool's register-once guarantee is
    * per-id state (`dedupRenderedStream`, st03's machinery class).
    * Exact parity with the batch `matchNotificationsRendered` oracle:
    * the one-shot AvailableNow replay is a single micro-batch, so each
    * id's group carries every duplicate rendering and keeps the same
    * min (subject, body_md5) pair the batch min-of-struct keeps. */
  gate("q24_notifications") { (s, dir) =>
    import s.implicits._
    val rendered = graft.monitor.Subscriptions.matchRendered(
        name => streamTable(s, dir, name), q24Subscriptions)
      .as[graft.monitor.Subscriptions.NotifRendered]
    runStreamOnce(s,
        graft.monitor.Subscriptions.dedupRenderedStream(rendered).toDF(),
        org.apache.spark.sql.streaming.OutputMode.Append)
      .orderBy("notification_id")
  }(
      notifSpool(Seq(
        notifSub(q24BigOrders, "CAST(o_orderkey AS VARCHAR)",
          q24BigOrdersW, q24BigOrders.objectType),
        notifSub(q24NegBal, "CAST(c_custkey AS VARCHAR)",
          q24NegBalW, q24NegBal.objectType),
        notifSub(q24Returned,
          "CAST(l_orderkey AS VARCHAR) || ':' || CAST(l_linenumber AS VARCHAR)",
          q24ReturnedW, q24Returned.objectType))))

  /** Conditional/loop notification rendering — the reference's Jinja2
    * summary-with-children shape (templates/test.j2:11-52
    * `container_summary`: per-container status counts, a capped ordered
    * child list with an "..." overflow line gated on children existing,
    * and a sorted-distinct "By" line; checkout_description.txt.j2's
    * `max_list_len = 5`) rendered RELATIONALLY: one groupBy per
    * container (order ← checkout, lineitems ← tests), the loop as
    * [[graft.monitor.Subscriptions.cappedListAgg]] (collect → sort →
    * slice → array_join, codegen'd), the `{% if %}` as a `when` on the
    * child count, the subject through q24's `{col}` interpolation +
    * clip discipline. One shuffle total; body width is bounded by the
    * cap, never by fan-out. The DuckDB oracle re-renders the exact
    * string with string_agg over a row_number()-capped subquery. */
  gate("q47_notify_summary") { (s, dir) =>
    import graft.monitor.Subscriptions
    val ind = "        "
    val li = t(s, dir, "lineitem")
    val agg = li.groupBy(col("l_orderkey"))
      .agg(
        sum(when(col("l_linestatus") === "F", 1L).otherwise(0L)).as("n_f"),
        sum(when(col("l_linestatus") === "O", 1L).otherwise(0L)).as("n_o"),
        sum(when(col("l_returnflag") === "R", 1L).otherwise(0L)).as("n_r"),
        Subscriptions.cappedListAgg(
          concat(lit("line "), col("l_linenumber").cast("string"),
            lit(" part "), col("l_partkey").cast("string")),
          col("l_linenumber"), col("l_returnflag") === "R",
          maxListLen = 5, indent = ind).as("ret_list"),
        Subscriptions.distinctJoinAgg(col("l_suppkey"), ", ").as("by_line"))
    agg.select(
        col("l_orderkey").as("o_orderkey"),
        Subscriptions.renderSubject(
          "Order {l_orderkey}: {n_r} returned of {n_f}F/{n_o}O")
          .as("subject"),
        Subscriptions.renderBodyCol(concat(
          lit("ORDER "), col("l_orderkey").cast("string"),
          lit("\n    Status\n" + ind + "F: "), col("n_f").cast("string"),
          lit("  O: "), col("n_o").cast("string"),
          when(col("n_r") > 0,
            concat(lit("\n    Returns\n"), col("ret_list")))
            .otherwise(lit("")),
          lit("\n    By\n" + ind), col("by_line"))).as("body"))
      .orderBy("o_orderkey")
  }(
      // Jinja loop/conditional rendering (q47): the oracle re-renders the
      // EXACT body string — the capped child list via a row_number()-capped
      // string_agg (ties broken by the rendered line, matching the struct
      // sort), the {% if %} via CASE on the child count, the "By" line via
      // a distinct subquery (numeric order, as array_sort on longs).
      """WITH cnt AS (SELECT l_orderkey,
             CAST(SUM(CASE WHEN l_linestatus = 'F' THEN 1 ELSE 0 END)
               AS BIGINT) AS n_f,
             CAST(SUM(CASE WHEN l_linestatus = 'O' THEN 1 ELSE 0 END)
               AS BIGINT) AS n_o,
             CAST(SUM(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END)
               AS BIGINT) AS n_r
           FROM lineitem GROUP BY 1),
         ranked AS (SELECT l_orderkey,
             'line ' || l_linenumber || ' part ' || l_partkey AS ln,
             row_number() OVER (PARTITION BY l_orderkey
               ORDER BY l_linenumber,
                 ('line ' || l_linenumber || ' part ' || l_partkey)) AS rn
           FROM lineitem WHERE l_returnflag = 'R'),
         ret AS (SELECT l_orderkey,
             '        ' || string_agg(CASE WHEN rn <= 5 THEN ln END,
               chr(10) || '        ' ORDER BY rn)
               || CASE WHEN COUNT(*) > 5
                  THEN chr(10) || '        ...' ELSE '' END AS ret_list
           FROM ranked GROUP BY l_orderkey),
         sup AS (SELECT DISTINCT l_orderkey, l_suppkey FROM lineitem),
         byl AS (SELECT l_orderkey,
             string_agg(l_suppkey, ', ' ORDER BY l_suppkey) AS by_line
           FROM sup GROUP BY l_orderkey)
         SELECT c.l_orderkey AS o_orderkey,
           'Order ' || c.l_orderkey || ': ' || c.n_r || ' returned of '
             || c.n_f || 'F/' || c.n_o || 'O' AS subject,
           'ORDER ' || c.l_orderkey || chr(10) || '    Status' || chr(10)
             || '        F: ' || c.n_f || '  O: ' || c.n_o
             || CASE WHEN c.n_r > 0 THEN chr(10) || '    Returns'
                  || chr(10) || r.ret_list ELSE '' END
             || chr(10) || '    By' || chr(10) || '        ' || b.by_line
             AS body
         FROM cnt c
         LEFT JOIN ret r ON c.l_orderkey = r.l_orderkey
         JOIN byl b ON c.l_orderkey = b.l_orderkey
         ORDER BY o_orderkey""")

  /** Array-of-struct JSON extraction — the reference's `get-url-stats`
    * OBJECT_SPECS shape (get-url-stats:12-26: `output_files: [{url}]`
    * arrays of {name, url} objects next to scalar url fields, extracted
    * per dotted path, deduped on (path, url), then aggregated): the one
    * reference extraction pattern q26's scalar paths don't cover. The
    * JSON documents are CONSTRUCTED deterministically inside the query
    * (one per order, its lineitems as the files array — props carries
    * only scalar JSON in testdata), then round-tripped through the real
    * extraction operator: `from_json` with an array<struct> schema +
    * array-field explode — all codegen'd expressions, no UDF. The
    * DuckDB oracle computes the same aggregate RELATIONALLY (no JSON),
    * so a wrong parse/explode hash-mismatches: the round trip itself is
    * what's verified. */
  gate("q39_json_files") { (s, dir) =>
    val li = t(s, dir, "lineitem")
    val ext = element_at(array(lit("log"), lit("json"), lit("tar")),
      (col("l_linenumber") % 3 + 1).cast("int"))
    val fileUrl = concat(lit("https://files.example.org/"),
      col("l_orderkey").cast("string"), lit("/"),
      col("l_linenumber").cast("string"), lit("/part_"),
      col("l_partkey").cast("string"), lit("."), ext)
    val docs = li
      .select(col("l_orderkey"),
        struct(
          concat(lit("part_"), col("l_partkey").cast("string"), lit("."),
            ext).as("name"),
          fileUrl.as("url")).as("f"))
      .groupBy("l_orderkey")
      .agg(collect_list(col("f")).as("output_files"))
      .select(to_json(struct(
        col("l_orderkey").as("id"),
        concat(lit("https://cfg.example.org/"),
          col("l_orderkey").cast("string"), lit(".cfg")).as("config_url"),
        col("output_files"))).as("doc"))
    val parsed = docs.select(from_json(col("doc"),
      org.apache.spark.sql.types.DataType.fromDDL(
        "id BIGINT, config_url STRING, " +
          "output_files ARRAY<STRUCT<name: STRING, url: STRING>>"))
      .as("o"))
    // Single extraction pass: a union of two selects over `parsed` would
    // plan the whole doc-construction subtree TWICE (one scan + one
    // collect_list shuffle per branch — 2× the work at any scale), so
    // both dotted paths are emitted from one row-local projection and
    // one explode instead.
    parsed
      .select(explode(concat(
        transform(col("o.output_files.url"),
          u => struct(lit("orders.output_files.url").as("path"),
            u.as("url"))),
        array(struct(lit("orders.config_url").as("path"),
          col("o.config_url").as("url"))))).as("e"))
      .select(col("e.path").as("path"), col("e.url").as("url"))
      .distinct()
      .select(col("path"),
        regexp_extract(col("url"), "\\.([a-z0-9]+)$", 1).as("ext"),
        length(col("url")).as("len"))
      .groupBy("path", "ext")
      .agg(count(lit(1)).as("n_urls"),
        sum(col("len")).cast("bigint").as("total_len"))
      .orderBy("path", "ext")
  }(
      // q39's Spark side round-trips constructed JSON through
      // from_json + array explode; the oracle computes the same URL
      // aggregate RELATIONALLY, so a wrong parse/explode hash-mismatches.
      """WITH files AS (
           SELECT 'orders.output_files.url' AS path,
             'https://files.example.org/' || l_orderkey || '/' ||
             l_linenumber || '/part_' || l_partkey || '.' ||
             CASE CAST(l_linenumber % 3 AS INTEGER)
               WHEN 0 THEN 'log' WHEN 1 THEN 'json' ELSE 'tar' END AS url
           FROM lineitem
           UNION ALL
           SELECT DISTINCT 'orders.config_url',
             'https://cfg.example.org/' || l_orderkey || '.cfg'
           FROM lineitem),
         dedup AS (SELECT DISTINCT path, url FROM files)
         SELECT path, regexp_extract(url, '\.([a-z0-9]+)$', 1) AS ext,
           COUNT(*) AS n_urls,
           CAST(SUM(LENGTH(url)) AS BIGINT) AS total_len
         FROM dedup GROUP BY path, ext ORDER BY path, ext""")

  /** The events-table schema lineage used by q25 and its spec: v1.0 is the
    * raw legacy layout; v2.0 adds a derived `status` enum (kcidb v05's
    * valid→status migration, sqlite/v05_00.py:176-184); v2.1 adds `score`
    * with COALESCE carry-forward (a renamed measure keeping any value
    * already present). */
  private[graft] def eventsSchematic: graft.ingest.Schematic =
    new graft.ingest.Schematic("events", Seq(
      (1, 0) -> identity[DataFrame] _,
      (2, 0) -> ((df: DataFrame) => df.withColumn("status",
        when(col("event_type") === "error", "FAIL")
          .when(col("value") >= 50, "PASS").otherwise("SKIP"))),
      (2, 1) -> ((df: DataFrame) => df.withColumn("score",
        if (df.columns.contains("score"))
          coalesce(col("score"), col("value"))
        else col("value")))))

  /** Schema-version upgrade chain (kcidb db/schematic.py lineage): legacy
    * v1 rows upgrade through v2.0 → v2.1 and merge with natively-v2.1 data
    * (which carries its own score) — the COALESCE carry-forward keeps
    * native values and backfills upgraded ones. */
  gate("q25_schema_upgrade") { (s, dir) =>
    val e = ev(s, dir)
    val sch = eventsSchematic
    val legacy = e.filter(col("user_id") < 15)
      .select("event_id", "user_id", "event_type", "value")
    val native = e.filter(col("user_id") >= 15)
      .select(col("event_id"), col("user_id"), col("event_type"),
        col("value"),
        when(col("event_type") === "error", "FAIL")
          .when(col("value") >= 50, "PASS").otherwise("SKIP").as("status"),
        (col("value") * 2).as("score"))
    sch.upgradeToLatest(legacy, from = (1, 0))
      .unionByName(sch.upgradeToLatest(native, from = (2, 1)))
      .select("event_id", "user_id", "event_type", "status", "score")
      .orderBy("event_id")
  }(
      """SELECT event_id, user_id, event_type,
         CASE WHEN event_type = 'error' THEN 'FAIL'
              WHEN value >= 50 THEN 'PASS' ELSE 'SKIP' END AS status,
         CASE WHEN user_id >= 15 THEN value * 2 ELSE value END AS score
         FROM events ORDER BY event_id""")

  /** Freeform JSON field extraction + aggregation — kcidb objects carry
    * `misc` JSON blobs queried by path (orm data fields). get_json_object
    * stays inside codegen; at scale the JSON parse happens once per row in
    * the scan projection. */
  gate("q26_json_misc") { (s, dir) =>
    val k = get_json_object(col("props"), "$.k").cast("long")
    ev(s, dir).groupBy("event_type")
      .agg(sum(k).as("sum_k"),
        count(when(k > 50, lit(1))).as("n_high"))
      .orderBy("event_type")
  }(
      // DuckDB integer SUM returns HUGEINT (int128); cast back to BIGINT so
      // the driver's binary hash matches Spark's int64 output.
      """SELECT event_type,
         CAST(SUM(CAST(json_extract(props, '$.k') AS BIGINT)) AS BIGINT)
           AS sum_k,
         COUNT(*) FILTER
           (WHERE CAST(json_extract(props, '$.k') AS BIGINT) > 50) AS n_high
         FROM events GROUP BY event_type ORDER BY event_type""")

  /** As-of join: each purchase event picks up the latest preceding 'view'
    * event's value for the same user (point-in-time state lookup). One
    * shuffle on user_id via the union+window formulation — no range join.
    * Right rows deduped to one per (user, ts) so ties are well-defined in
    * both engines. */
  gate("q27_asof_join") { (s, dir) =>
    val e = ev(s, dir)
    val purchases = e.filter(col("event_type") === "purchase")
      .select("event_id", "user_id", "ts")
    val views = e.filter(col("event_type") === "view")
      .groupBy("user_id", "ts").agg(max(col("value")).as("view_value"))
    graft.operators.AsOf.asOfJoin(purchases, views, Seq("user_id"),
        leftTs = col("ts"), rightTs = col("ts"),
        payload = Seq("view_value"))
      .select(col("event_id"), col("user_id"), col("asof_view_value"))
      .orderBy("event_id")
  }(
      s"""WITH p AS (SELECT event_id, user_id, $tsUs AS ts FROM events
                     WHERE event_type = 'purchase'),
         v AS (SELECT user_id, $tsUs AS ts, MAX(value) AS view_value
               FROM events WHERE event_type = 'view' GROUP BY 1, 2)
         SELECT p.event_id, p.user_id, v.view_value AS asof_view_value
         FROM p ASOF LEFT JOIN v
           ON p.user_id = v.user_id AND p.ts >= v.ts
         ORDER BY p.event_id""")

  /** Banded range join: each click paired with every signup whose 1-hour
    * activation window contains it (cross-user concurrency analytic). The
    * bucket id is the equi-join key — never a BETWEEN nested loop. */
  gate("q28_range_join") { (s, dir) =>
    val e = ev(s, dir)
    val clicks = e.filter(col("event_type") === "click")
      .select(col("event_id").as("click_id"),
        epochSec(col("ts")).as("click_sec"))
    val signups = e.filter(col("event_type") === "signup")
      .select(col("event_id").as("signup_id"),
        epochSec(col("ts")).as("lo_sec"),
        (epochSec(col("ts")) + 3600).as("hi_sec"))
    graft.operators.RangeJoin.bandedRangeJoin(
        clicks, col("click_sec"), signups, col("lo_sec"), col("hi_sec"),
        bucketWidth = 3600)
      .groupBy("click_id")
      .agg(count(lit(1)).as("n_active_signups"))
      .orderBy("click_id")
  }(
      s"""WITH c AS (SELECT event_id AS click_id, ${sec(tsUs)} AS click_sec
                     FROM events WHERE event_type = 'click'),
         su AS (SELECT ${sec(tsUs)} AS lo_sec, ${sec(tsUs)} + 3600 AS hi_sec
                FROM events WHERE event_type = 'signup')
         SELECT click_id, COUNT(*) AS n_active_signups
         FROM c JOIN su ON click_sec >= lo_sec AND click_sec <= hi_sec
         GROUP BY click_id ORDER BY click_id""")

  /** Salted fact⋈dim join under key skew ([[graft.operators.SkewJoin]]):
    * the manual fallback when AQE skew splitting can't see the skew. The
    * oracle is the PLAIN join — salting must be result-invariant. */
  gate("q32_skew_join") { (s, dir) =>
    val facts = t(s, dir, "lineitem").select(
      col("l_suppkey").as("suppkey"),
      (dec(col("l_extendedprice")) * (lit(1) - dec(col("l_discount"))))
        .as("disc_price"))
    val dims = t(s, dir, "supplier")
      .select(col("s_suppkey").as("suppkey"), col("s_nationkey"))
    graft.operators.SkewJoin.saltedJoin(facts, dims, Seq("suppkey"),
        saltFactor = 8, saltCols = Seq("disc_price"))
      .join(broadcast(t(s, dir, "nation")),
        col("s_nationkey") === col("n_nationkey"))
      .groupBy("n_name")
      .agg(sum(col("disc_price")).cast("double").as("revenue"),
        count(lit(1)).as("n_items"))
      .orderBy("n_name")
  }(
      // Oracle is the PLAIN join — the salted formulation must be
      // result-invariant.
      s"""SELECT n_name,
         CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) *
           (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue,
         COUNT(*) AS n_items
         FROM lineitem
         JOIN supplier ON l_suppkey = s_suppkey
         JOIN nation ON s_nationkey = n_nationkey
         GROUP BY n_name ORDER BY n_name""")

  /** Recurring-join warehouse path (SURVEY §5 co-location): both fact
    * sides written bucketed+sorted by the join key, so the recurring
    * fact⋈fact join zips pre-shuffled buckets — WarehouseSpec asserts the
    * join contributes ZERO exchanges (the only one left is the final
    * aggregate's). Bucketing is physical layout, not semantics, so the
    * oracle is the same join over the plain parquet. The write happens
    * per call — the honest cost model of the one-time bucketing a
    * recurring ETL join amortizes. */
  gate("q35_bucketed_join") { (s, dir) =>
    graft.sources.Warehouse.writeBucketed(
      t(s, dir, "orders").select(col("o_orderkey"), col("o_orderstatus")),
      "wh_gate_orders", Seq("o_orderkey"), 8)
    graft.sources.Warehouse.writeBucketed(
      t(s, dir, "lineitem").select(col("l_orderkey"), col("l_extendedprice"),
        col("l_discount")),
      "wh_gate_lineitem", Seq("l_orderkey"), 8)
    s.table("wh_gate_lineitem")
      .join(s.table("wh_gate_orders"),
        col("l_orderkey") === col("o_orderkey"))
      .groupBy("o_orderstatus")
      .agg((sum(dec(col("l_extendedprice")) * (lit(1) - dec(col("l_discount")))))
        .cast("double").as("revenue"),
        count(lit(1)).as("n_items"))
      .orderBy("o_orderstatus")
  }(
      // Bucketing is layout, not semantics: q35's oracle is the plain join.
      s"""SELECT o_orderstatus,
         CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) *
           (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue,
         COUNT(*) AS n_items
         FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         GROUP BY o_orderstatus ORDER BY o_orderstatus""")

  /** Deliberately mixed valid/invalid catalog entries for q42 — the
    * rootIdCandidates discipline applied to the reference's test
    * catalog (tests.yaml shape: key → {title, home, description?}).
    * Covers every rule of kcidb/tests/schema.py: valid entries (with
    * and without description, non-https scheme), bad key characters,
    * empty key, key with spaces, missing/multi-line title (a TAB is a
    * control char), missing/malformed home, and a multi-violation row.
    * No null test_key: the driver's pandas row-sort cannot order
    * None/str mixes (the SURVEY §2 scalar-gate rule's sibling). */
  private[graft] val testCatalogEntries
      : Seq[(String, String, String, String)] = Seq(
    ("audit-suite", "Basic audit regression checks",
      "https://example.org/audit", null),
    ("boot", "Machine booted with the tested kernel",
      "https://example.org/boot", "Longer free-form description."),
    ("blk_tests", "Block layer and storage checks",
      "ftp://mirror.example.net/blk", null),
    ("perf.bench", "Dot is not a legal key character",
      "https://example.org/perf", null),
    ("", "Empty key", "https://example.org/empty", null),
    ("space key", "Space is not a legal key character",
      "https://example.org/space", null),
    ("no-title", null, "https://example.org/nt", null),
    ("tab_title", "line with a\ttab control char",
      "https://example.org/tab", null),
    ("no-home", "Entry without a home", null, null),
    ("bad-home", "Home is not a URI", "not a uri", null),
    ("rel-home", "Relative path home", "/usr/local/tests", null),
    ("bare-min", null, null, null))

  /** Deliberately mixed valid/invalid composite root-id candidates for
    * q33 — shared with the oracle SQL generator (the q33 oracle builds the
    * VALUES list from this constant, as t01 does with the language
    * profiles). Covers: valid+existing, valid shape but absent, wrong
    * arity both ways, unknown type, non-coercible parts, empty id. */
  private val rootIdCandidates: Seq[(String, String)] = Seq(
    ("customer", "21"),        // valid, exists
    ("customer", "920000021"), // valid shape, no such row
    ("customer", "21_3"),      // arity 2 against a 1-column id
    ("widget", "1"),           // unknown object type
    ("lineitem", "1_3"),       // valid composite, exists
    ("lineitem", "1"),         // arity 1 against a 2-column id
    ("lineitem", "1_x"),       // second part not castable
    ("orders", "abc"),         // not castable
    ("orders", "1"),           // valid, exists
    ("nation", ""))            // empty id: splits to one empty part

  /** query_ids_are_valid surfaced as data (db/abstract.py:245-281): each
    * candidate's catalog-driven validity verdict + an existence probe. */
  gate("q33_root_id_check") { (s, dir) =>
    import s.implicits._
    TestCatalog.catalog.checkRootIds(s, dir,
        rootIdCandidates.toDF("object_type", "id"))
      .orderBy("object_type", "id")
  } {
      val cat = graft.model.TestCatalog.catalog
      val sorted = cat.types.values.toSeq.sortBy(_.name)
      val cands = rootIdCandidates
        .map { case (t, i) => s"('$t', '$i')" }.mkString(", ")
      val typeList = sorted.map(t => s"'${t.name}'").mkString(", ")
      val shapeCase = sorted.map { t =>
        val casts = t.idCols.indices
          .map(i => s"TRY_CAST(parts[${i + 1}] AS BIGINT) IS NOT NULL")
          .mkString(" AND ")
        s"WHEN '${t.name}' THEN len(parts) = ${t.idCols.size} AND $casts"
      }.mkString(" ")
      val idUnion = sorted.map { t =>
        val idExpr = t.idCols.map(c => s"CAST($c AS VARCHAR)")
          .mkString(" || '_' || ")
        s"SELECT '${t.name}' AS object_type, $idExpr AS id FROM ${t.name}"
      }.mkString(" UNION ALL ")
      s"""WITH cand AS (SELECT * FROM (VALUES $cands) AS v(object_type, id)),
         p AS (SELECT object_type, id, string_split(id, '_') AS parts
               FROM cand),
         ids AS ($idUnion)
         SELECT object_type, id,
           object_type IN ($typeList) AS known_type,
           object_type IN ($typeList) AND
             COALESCE(CASE object_type $shapeCase END, FALSE) AS valid,
           EXISTS(SELECT 1 FROM ids i WHERE i.object_type = p.object_type
                  AND i.id = p.id) AS id_exists
         FROM p ORDER BY object_type, id"""
  }

  /** Test-catalog entry validation ([[graft.model.CatalogEntries]] —
    * the reference's `kcidb-tests-validate` CLI,
    * kcidb/tests/__init__.py:10 + tests/schema.py:6-42, the last named
    * reference entry point without a twin): the planted
    * [[testCatalogEntries]] exercise every schema rule, and the part
    * table derives a corpus-sized VALID entry block (unique
    * partkey-prefixed keys, sanitized names, synthetic homes) so the
    * validator runs over real data, not just the fixture. One codegen'd
    * scan, no shuffle before the output sort. */
  // q33: generated from the SAME catalog metadata and candidate list the
  // Spark side uses (TestCatalog / rootIdCandidates), the way
  // t01 embeds the language profiles. All testdata id columns are
  // integral, so part-coercibility is TRY_CAST … AS BIGINT here (Spark
  // casts to each id column's exact table type; verdicts agree on
  // integral ids).
  // q42: the planted-entry VALUES list is generated from the SAME
  // constant the gate frames (q33's discipline); the part-derived
  // block and every rule regex come from the shared Scala constants
  // (CatalogEntries.KeyRe/SingleLineRe/UriRe).
  gate("q42_catalog_validate") { (s, dir) =>
    import s.implicits._
    val planted = testCatalogEntries
      .toDF("test_key", "title", "home", "description")
    val derived = t(s, dir, "part").select(
      concat(lit("p"), col("p_partkey"), lit("-"),
        regexp_replace(lower(col("p_name")), "[^a-z0-9_-]+", "-"))
        .as("test_key"),
      col("p_name").as("title"),
      concat(lit("https://example.org/part/"), col("p_partkey"))
        .as("home"),
      lit(null).cast("string").as("description"))
    graft.model.CatalogEntries.validate(planted.unionByName(derived))
      .orderBy("test_key")
  } {
      import graft.model.CatalogEntries.{KeyRe, SingleLineRe, UriRe}
      def q(s: String) =
        if (s == null) "NULL"
        else "'" + s.replace("'", "''")
          .replace("\t", "' || chr(9) || '") + "'"
      val vals = testCatalogEntries
        .map { case (k, t, h, d) => s"(${q(k)}, ${q(t)}, ${q(h)}, ${q(d)})" }
        .mkString(", ")
      s"""WITH planted AS (SELECT * FROM (VALUES $vals)
               AS v(test_key, title, home, description)),
         derived AS (SELECT
               'p' || p_partkey || '-' ||
                 regexp_replace(lower(p_name), '[^a-z0-9_-]+', '-', 'g')
                 AS test_key,
               p_name AS title,
               'https://example.org/part/' || p_partkey AS home,
               CAST(NULL AS VARCHAR) AS description
             FROM part),
         e AS (SELECT * FROM planted UNION ALL SELECT * FROM derived),
         f AS (SELECT test_key,
             (test_key IS NULL
               OR NOT regexp_matches(test_key, '$KeyRe')) AS bad_key,
             title IS NULL AS missing_title,
             (title IS NOT NULL
               AND NOT regexp_matches(title, '$SingleLineRe'))
               AS multiline_title,
             home IS NULL AS missing_home,
             (home IS NOT NULL
               AND NOT regexp_matches(home, '$UriRe')) AS bad_home_uri
           FROM e)
         SELECT test_key,
           NOT (bad_key OR missing_title OR multiline_title
             OR missing_home OR bad_home_uri) AS valid,
           concat_ws(',',
             CASE WHEN bad_key THEN 'bad_key' END,
             CASE WHEN missing_title THEN 'missing_title' END,
             CASE WHEN multiline_title THEN 'multiline_title' END,
             CASE WHEN missing_home THEN 'missing_home' END,
             CASE WHEN bad_home_uri THEN 'bad_home_uri' END)
             AS violations
         FROM f ORDER BY test_key"""
  }

  /** Multiplexed load fan-out ([[graft.sources.Mux]]) — the reference's
    * mux driver (kcidb/db/mux.py:484-518 load-into-every-member,
    * 397-470 query-the-first), the last infrastructure surface SURVEY
    * §1 ranked as having any analytic twin: one batch (the q09 dump
    * window) loads into BOTH members in one materialization, m0 at the
    * latest events schema v2.1 and m1 at legacy v1.0 (mux.py:505's
    * per-member `io_schema.upgrade`), and the gate emits a per-member
    * audit — row count, key/value sums, and the version-dependent
    * score/status aggregates — that the DuckDB oracle recomputes from
    * `events` directly, proving every member received exactly the full
    * batch at exactly its version's shape. Version-dependent columns
    * use a -1 sentinel (not NULL) for the legacy member so the dump
    * stays pandas-sortable (the st05 r11 scalar-gate rule). */
  gate("q43_mux_load") { (s, dir) =>
    import graft.sources.Mux
    val base = gateModelDir(dir, "q43")
    val members = Seq(Mux.Member(s"$base/m0", (2, 1)),
      Mux.Member(s"$base/m1", (1, 0)))
    Mux.load(
      Loader.dumpWindow(ev(s, dir), col("ts"),
          lit("2024-01-10 00:00:00").cast("timestamp"),
          lit("2024-01-20 00:00:00").cast("timestamp"))
        .select(col("event_id"), col("user_id"), col("event_type"),
          col("value")),
      eventsSchematic, from = (1, 0), members, mode = "overwrite")
    val audits = members.zipWithIndex.map { case (m, i) =>
      // first member read through the query path (the reference serves
      // dumps/queries from drivers[0] only); replicas read directly
      val r = if (i == 0) Mux.query(s, members) else s.read.parquet(m.path)
      r.agg(
          count(lit(1)).as("n_rows"),
          sum(col("user_id")).as("sum_users"),
          sum(dec(col("value"))).cast("double").as("sum_value"),
          (if (r.columns.contains("score"))
            sum(dec(col("score"))).cast("double")
          else lit(-1.0)).as("sum_score"),
          (if (r.columns.contains("status"))
            count(when(col("status") === "FAIL", lit(1)))
          else lit(-1L)).as("n_fail"))
        .select(lit(s"m$i").as("member"),
          lit(s"${m.version._1}.${m.version._2}").as("version"),
          col("n_rows"), col("sum_users"), col("sum_value"),
          col("sum_score"), col("n_fail"))
    }
    audits.reduce(_.unionByName(_)).orderBy("member")
  }(
      // q43: every mux member must hold exactly the full dump window at
      // its own schema version — the oracle recomputes each member's
      // audit from `events` directly (v2.1's score backfills to value and
      // status is FAIL exactly on errors, per the eventsSchematic chain;
      // the legacy member reports the -1 sentinels).
      s"""WITH w AS (SELECT event_id, user_id, event_type, value
             FROM events
             WHERE $tsUs > TIMESTAMP '2024-01-10'
               AND $tsUs <= TIMESTAMP '2024-01-20'),
         agg AS (SELECT COUNT(*) AS n_rows,
               CAST(SUM(user_id) AS BIGINT) AS sum_users,
               ${decSum("value")} AS sum_value,
               CAST(COUNT(CASE WHEN event_type = 'error' THEN 1 END)
                 AS BIGINT) AS nf
             FROM w)
         SELECT m.member, m.version, a.n_rows, a.sum_users, a.sum_value,
           CASE WHEN m.version = '2.1' THEN a.sum_value
             ELSE -1.0 END AS sum_score,
           CAST(CASE WHEN m.version = '2.1' THEN a.nf
             ELSE -1 END AS BIGINT) AS n_fail
         FROM (VALUES ('m0', '2.1'), ('m1', '1.0'))
           AS m(member, version), agg a
         ORDER BY m.member""")

  /** q44's column/kind list for the orders table, shared with the SQL
    * oracle generator; the gate asserts it against Profiler.kinds so a
    * testdata schema drift fails loudly instead of desyncing the
    * oracle. */
  private val q44Cols: Seq[(String, String)] = Seq(
    ("o_orderkey", "num"), ("o_custkey", "num"), ("o_orderstatus", "str"),
    ("o_totalprice", "num"), ("o_orderdate", "ts"),
    ("o_orderpriority", "str"))

  /** Per-column table profile ([[graft.operators.Profiler]]) over
    * orders — the generic corpus-QA "describe" (t19's data card at
    * column granularity, kcidb-count extended below object level).
    * Gate mode is `exact = true` (per-column single-distinct branches,
    * unioned — never the multi-countDistinct Expand form — backing a
    * full DuckDB oracle); the 100 TB default swaps in
    * approx_count_distinct and the profile becomes one pure partial
    * aggregate (ProfilerSpec pins both modes' no-Expand plans and the
    * per-branch one-column scan pruning). */
  // q44: per-column profile of orders, one UNION ALL branch per
  // column generated from the SAME (name, kind) list the gate
  // asserts against Profiler.kinds (shared-constant discipline).
  // Sentinels (-1.0 / '') mirror the Profiler's no-NULL output rule.
  gate("q44_column_profile") { (s, dir) =>
    val orders = t(s, dir, "orders")
    require(graft.operators.Profiler.kinds(orders) == q44Cols,
      s"orders schema drifted: ${graft.operators.Profiler.kinds(orders)}")
    graft.operators.Profiler.profile(orders, exact = true)
      .orderBy("column")
  } {
      val branches = q44Cols.map { case (c, kind) =>
        val (numMin, numMax) = kind match {
          case "num" => (s"round(CAST(MIN($c) AS DOUBLE), 6)",
            s"round(CAST(MAX($c) AS DOUBLE), 6)")
          case "ts" =>
            (s"CAST(${sec(s"MIN(CAST($c AS TIMESTAMP))")} AS DOUBLE)",
              s"CAST(${sec(s"MAX(CAST($c AS TIMESTAMP))")} AS DOUBLE)")
          case _ => ("-1.0", "-1.0")
        }
        val (strMin, strMax) =
          if (kind == "str") (s"MIN($c)", s"MAX($c)") else ("''", "''")
        s"""SELECT '$c' AS "column", COUNT(*) AS n_rows,
           CAST(COUNT($c) AS BIGINT) AS n_nonnull,
           CAST(COUNT(DISTINCT $c) AS BIGINT) AS n_distinct,
           $numMin AS num_min, $numMax AS num_max,
           $strMin AS str_min, $strMax AS str_max FROM orders"""
      }
      branches.mkString("", " UNION ALL ", """ ORDER BY "column"""")
  }

  /** q45's base/delta boundary, shared with the spec (the oracle does
    * not need it: it recomputes the rollup from the FULL table, which
    * is exactly the incremental == full-recompute invariant). */
  private val q45Split = "2024-01-15 00:00:00"

  /** Incremental rollup maintenance (operators/Ivm — the reference's
    * recompute-per-query summaries, kcidb/__init__.py:284-301, made
    * incremental): the per-(event_type, day) mergeable state
    * (count / exact decimal sum / min / max) over events before
    * [[q45Split]] is PERSISTED (ModelStore "rollup_state", the r13
    * exported-model route), then the refresh merges that parquet state
    * with the delta's fresh partials — the base is read back as
    * |keys| state rows, never rescanned (IvmSpec pins the single
    * events scan in the merged plan). The DuckDB oracle recomputes the
    * rollup from the FULL events table, so a hash match proves the
    * incremental maintenance equals the full recompute bit-for-bit
    * (decimal sums make the merge exact; double sums would drift). */
  gate("q45_incr_rollup") { (s, dir) =>
    import graft.operators.Ivm
    val e = ev(s, dir)
    val split = lit(q45Split).cast("timestamp")
    def keyed(df: DataFrame): DataFrame =
      df.select(col("event_type"),
        date_format(col("ts"), "yyyy-MM-dd").as("day"), col("value"))
    val statePath = s"${gateModelDir(dir, "q45")}/rollup_state"
    // coalesce(1): |event_type|·|days| rows — bounded state artifact
    graft.sim.ModelStore.save(
      Ivm.rollupState(keyed(e.filter(col("ts") < split)),
        Seq(col("event_type"), col("day")), col("value")).coalesce(1),
      "rollup_state", statePath)
    val deltaState = Ivm.rollupState(keyed(e.filter(col("ts") >= split)),
      Seq(col("event_type"), col("day")), col("value"))
    Ivm.merge(s.read.parquet(statePath), deltaState,
        Seq("event_type", "day"))
      .select(col("event_type"), col("day"), col("n_rows"),
        col("sum_value").cast("double").as("sum_value"),
        col("min_value"), col("max_value"))
      .orderBy("event_type", "day")
  }(
      // q45: the incremental == full-recompute invariant — the gate
      // merges persisted base state with delta partials; the oracle
      // recomputes the same rollup from the FULL events table. Decimal
      // sums on both sides keep the equality exact.
      s"""SELECT event_type, strftime($tsUs, '%Y-%m-%d') AS day,
         COUNT(*) AS n_rows, ${decSum("value")} AS sum_value,
         MIN(value) AS min_value, MAX(value) AS max_value
         FROM events GROUP BY 1, 2 ORDER BY event_type, day""")

  /** Date-partitioned warehouse layout + partition PRUNING — the 100 TB
    * storage posture the reference's windowed dump/purge implies (a
    * time-partitioned events store where a day-window query must read
    * ONLY its partitions' files, not filter a full scan): the gate
    * materializes events as a `partitionBy(day)` parquet layout (the
    * fit-once warehouse write), then answers a 5-day window rollup from
    * it. PlanSpec pins the day bounds under `PartitionFilters` on the
    * scan — directory-level pruning, so at 100 TB the window's I/O is
    * proportional to the WINDOW, not the corpus. Day is re-emitted as
    * string (partition-column type inference reads it back as DATE) so
    * both engines hash the same text. */
  gate("q48_partitioned_dump") { (s, dir) =>
    val path = s"${gateModelDir(dir, "q48")}/events_by_day"
    ev(s, dir)
      .withColumn("day", date_format(col("ts"), "yyyy-MM-dd"))
      .write.mode("overwrite").partitionBy("day").parquet(path)
    s.read.parquet(path)
      .filter(col("day") >= "2024-01-10" && col("day") < "2024-01-15")
      .groupBy(col("day").cast("string").as("day"), col("event_type"))
      .agg(count(lit(1)).as("n_rows"),
        sum(col("value").cast("decimal(18,2)")).cast("double")
          .as("sum_value"),
        min(col("value")).as("min_value"),
        max(col("value")).as("max_value"))
      .orderBy("day", "event_type")
  }(
      // q48: the day-window rollup recomputed straight from events (the
      // partitioned LAYOUT is the gate's point — PlanSpec pins the
      // pruning; values must match the unpartitioned recompute exactly).
      s"""SELECT strftime($tsUs, '%Y-%m-%d') AS day, event_type,
           COUNT(*) AS n_rows, ${decSum("value")} AS sum_value,
           MIN(value) AS min_value, MAX(value) AS max_value
         FROM events
         WHERE strftime($tsUs, '%Y-%m-%d') >= '2024-01-10'
           AND strftime($tsUs, '%Y-%m-%d') < '2024-01-15'
         GROUP BY 1, 2 ORDER BY day, event_type""")

  /** Small-file compaction — the 100 TB housekeeping operator every
    * streaming-ingested warehouse needs: a tiny `maxRecordsPerFile`
    * cap on a many-task write produces the pathological
    * thousands-of-small-files layout, then ONE `repartition` on the
    * partition key rewrites each day in a single task → exactly one
    * file per day at the production cap. The gate emits the per-day
    * before/after file counts (via `input_file_name`), conserved row
    * counts (cross-checked against a direct events recompute) and the
    * exact-decimal value checksum, plus a `compact_ok` verdict. The
    * FULL DuckDB oracle re-derives every column from the SAME two
    * parquet trees (`read_parquet(..., filename=true,
    * hive_partitioning=true)`) and raw events — a compaction that
    * dropped, duplicated or re-bucketed a row breaks the hash. Scale
    * shape: the rewrite is one shuffle on the partition key; file
    * listing happens in the engines' scans, never a driver loop. Cost
    * class (measured, BENCHLOG r15/r17 octaves): file-count-linear —
    * the planted rows/256 fragmentation IS the fixture (a compactor
    * cannot touch N files in under O(N)), so data-linear at the fixed
    * fragment size is the intended contract, not a scaling defect.
    * Parallelism ceiling, stated: one-file-per-day compaction is
    * inherently one TASK per day (a single output file has a single
    * writer), so the rewrite parallelizes across days, not within
    * them — fine while a day fits one task's I/O budget. A 100 TB
    * day does not; the production variant salts within the day —
    * `.repartition(K, col("day"), pmod(hash(id), K))` with the same
    * `maxRecordsPerFile` cap — trading "exactly 1 file/day" for "K
    * bounded files/day" and K-way per-day writers. The gate keeps the
    * 1-file contract because THAT is what makes before/after
    * verifiable bit-for-bit in SQL; the salt changes only file
    * boundaries, which the day-level row/checksum conservation
    * columns do not observe. */
  // q49: every column re-derived from the SAME two parquet trees the
  // gate wrote (filename=true gives the physical file identity,
  // hive_partitioning the day) plus raw events for the expected rows
  // — identical verdict formula, so a conservation bug on either
  // side breaks the hash.
  gate("q49_compact") { (s, dir) =>
    val base = gateModelDir(dir, "q49")
    val smallPath = s"$base/events_small"
    val compactPath = s"$base/events_compact"
    val keyed = ev(s, dir)
      .withColumn("day", date_format(col("ts"), "yyyy-MM-dd"))
    // round-robin across 8 tasks guarantees every day fragments into
    // >= min(8, rows) files even at tiny sf; the 256-row cap adds the
    // per-file splitting a row-capped streaming sink produces
    keyed.repartition(8)
      .write.mode("overwrite").option("maxRecordsPerFile", 256)
      .partitionBy("day").parquet(smallPath)
    s.read.parquet(smallPath).repartition(col("day"))
      .write.mode("overwrite").option("maxRecordsPerFile", 1000000)
      .partitionBy("day").parquet(compactPath)
    def profile(path: String, tag: String) =
      s.read.parquet(path)
        // the _metadata.file_path column is the deterministic file
        // identity (input_file_name() is non-deterministic and
        // rejected inside aggregates)
        .select(col("day").cast("string").as("day"), col("value"),
          col("_metadata.file_path").as("__f"))
        .groupBy("day")
        .agg(countDistinct(col("__f")).as(s"n_files_$tag"),
          count(lit(1)).as(s"n_rows_$tag"),
          sum(col("value").cast("decimal(18,2)")).cast("double")
            .as(s"sum_$tag"))
    val expected = keyed.groupBy(col("day"))
      .agg(count(lit(1)).as("n_rows_expected"))
    profile(smallPath, "small")
      .join(profile(compactPath, "compact"), "day")
      .join(expected, "day")
      .select(col("day"), col("n_files_small"), col("n_files_compact"),
        col("n_rows_small").as("n_rows"), col("n_rows_expected"),
        col("sum_small").as("sum_value"),
        when(col("n_files_compact") === 1 &&
          col("n_files_compact") < col("n_files_small") &&
          col("n_rows_small") === col("n_rows_compact") &&
          col("n_rows_small") === col("n_rows_expected") &&
          col("sum_small") === col("sum_compact"), 1)
          .otherwise(0).as("compact_ok"))
      .orderBy("day")
  } {
      def leg(sub: String, tag: String) =
        s"""SELECT CAST(day AS VARCHAR) AS day,
           CAST(COUNT(DISTINCT filename) AS BIGINT) AS n_files_$tag,
           CAST(COUNT(*) AS BIGINT) AS n_rows_$tag,
           ${decSum("value")} AS sum_$tag
         FROM read_parquet(
           '${gateModelSqlPath("q49")}/$sub/*/*.parquet',
           filename=true, hive_partitioning=true)
         GROUP BY 1"""
      s"""WITH sm AS (${leg("events_small", "small")}),
         cp AS (${leg("events_compact", "compact")}),
         x AS (SELECT strftime($tsUs, '%Y-%m-%d') AS day,
             CAST(COUNT(*) AS BIGINT) AS n_rows_expected
           FROM events GROUP BY 1)
         SELECT sm.day, sm.n_files_small, cp.n_files_compact,
           sm.n_rows_small AS n_rows, x.n_rows_expected,
           sm.sum_small AS sum_value,
           CAST(CASE WHEN cp.n_files_compact = 1
             AND cp.n_files_compact < sm.n_files_small
             AND sm.n_rows_small = cp.n_rows_compact
             AND sm.n_rows_small = x.n_rows_expected
             AND sm.sum_small = cp.sum_compact
             THEN 1 ELSE 0 END AS INT) AS compact_ok
         FROM sm JOIN cp ON sm.day = cp.day JOIN x ON sm.day = x.day
         ORDER BY sm.day""" }

  // q50's probe point is max_u div 2 — derived from the data so the
  // gate holds at every sf (a fixed id sits outside sf0.001's range)

  /** Z-order clustering vs time clustering, measured as data-skipping
    * power — THE layout decision a 100 TB warehouse makes for
    * multi-dimensional pruning (Morton order; the Delta/Iceberg
    * OPTIMIZE ZORDER primitive): both (user, day) dimensions scale to
    * 16 bits by exact integer division, interleave bit-by-bit into the
    * Morton code, and the top 3 z-bits name 8 range buckets — each
    * bucket then bounds BOTH dimensions, where the time layout's
    * contiguous-day buckets bound only days. Per (layout, bucket):
    * rows, min/max of each dimension (exactly what parquet row-group
    * pruning reads), and whether a data-derived user point query
    * (max_u div 2) can skip the bucket; plus one summary row per
    * layout whose `probe_hit` is the HIT COUNT — z-order reads a
    * fraction of the buckets, time reads all of them. Everything is
    * closed-form integer arithmetic (`div`, shifts, masks), so the
    * FULL DuckDB oracle re-derives codes, buckets, ranges and verdicts
    * bit-for-bit. Scale shape: one scalar agg + two map-side-combined
    * groupBys over the scan; the Morton code is a codegen'd 32-term
    * shift-mask sum, no UDF. */
  // q50: Morton codes, buckets, ranges and verdicts re-derived with
  // the same integer shift/mask/div arithmetic — a bit-order or
  // scaling bug on either side breaks the hash.
  gate("q50_zorder_skip") { (s, dir) =>
    val e = ev(s, dir).select(col("user_id"),
      to_date(col("ts")).as("day"))
    val scalars = e.agg(min(col("day")).as("d0"),
      (datediff(max(col("day")), min(col("day"))) + 1).cast("long")
        .as("nd"),
      max(col("user_id")).as("max_u"))
    // 1-row totals zip — the p08/t05 declared scalar-broadcast class
    val base = e.crossJoin(broadcast(scalars))
      .select(col("user_id").as("u"),
        datediff(col("day"), col("d0")).cast("long").as("d"),
        col("nd"), col("max_u"))
    val uS = expr("(u * 65535) div max_u")
    // greatest(..,1): a single-day corpus (nd = 1) must degrade to one
    // day-lane, not a null z-code (Spark div null) vs a DuckDB error
    val dS = expr("(d * 65535) div greatest(nd - 1, 1L)")
    // u rides the ODD (higher) bit lanes so the code's top bits are
    // (u15, d15, u14): 8 buckets quarter the user range and halve the
    // day range — the probe dimension gets the finer cut
    val z = (0 until 16).map(i =>
      shiftright(uS, i).bitwiseAND(lit(1L)) * lit(1L << (2 * i + 1)) +
        shiftright(dS, i).bitwiseAND(lit(1L)) * lit(1L << (2 * i)))
      .reduce(_ + _)
    val keyed = base.select(col("u"), col("d"),
      shiftright(z, 29).as("zbucket"),
      least(lit(7L), expr("(d * 8) div nd")).as("tbucket"),
      expr("max_u div 2").as("probe_u"))
    def prof(bucketCol: String, layout: String) =
      keyed.groupBy(col(bucketCol).as("bucket"))
        .agg(count(lit(1)).as("n_rows"),
          min("u").as("min_u"), max("u").as("max_u"),
          min("d").as("min_d"), max("d").as("max_d"),
          min("probe_u").as("probe_u"))
        .select(lit(layout).as("layout"), col("bucket"), col("n_rows"),
          col("min_u"), col("max_u"), col("min_d"), col("max_d"),
          when(col("min_u") <= col("probe_u") &&
            col("max_u") >= col("probe_u"), 1L).otherwise(0L)
            .as("probe_hit"))
    // bounded |buckets|-row frame, memoized (the q46 discipline) so
    // the summary reads it instead of re-running the corpus counts
    val pts = prof("zbucket", "zorder").unionByName(prof("tbucket",
      "time")).localCheckpoint()
    val summary = pts.groupBy("layout")
      .agg(sum("n_rows").as("n_rows"), min("min_u").as("min_u"),
        max("max_u").as("max_u"), min("min_d").as("min_d"),
        max("max_d").as("max_d"), sum("probe_hit").as("probe_hit"))
      .select(col("layout"), lit(-1L).as("bucket"), col("n_rows"),
        col("min_u"), col("max_u"), col("min_d"), col("max_d"),
        col("probe_hit"))
    pts.unionByName(summary).orderBy("layout", "bucket")
  } {
      val probe = "(SELECT max_u // 2 FROM sc)"
      val zTerms = (0 until 16).map(i =>
        s"((us >> $i) & 1) * ${1L << (2 * i + 1)} + " +
          s"((ds >> $i) & 1) * ${1L << (2 * i)}").mkString(" + ")
      def leg(bucket: String, layout: String) =
        s"""SELECT '$layout' AS layout, $bucket AS bucket,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           MIN(u) AS min_u, MAX(u) AS max_u,
           MIN(d) AS min_d, MAX(d) AS max_d,
           CAST(CASE WHEN MIN(u) <= $probe AND MAX(u) >= $probe
             THEN 1 ELSE 0 END AS BIGINT) AS probe_hit
         FROM k2 GROUP BY $bucket"""
      s"""WITH sc AS (SELECT MIN(date_trunc('day', $tsUs)) AS d0,
             date_diff('day', MIN(date_trunc('day', $tsUs)),
               MAX(date_trunc('day', $tsUs))) + 1 AS nd,
             MAX(user_id) AS max_u
           FROM events),
         b AS (SELECT user_id AS u,
             date_diff('day', sc.d0, date_trunc('day', $tsUs)) AS d,
             sc.nd AS nd, sc.max_u AS max_u
           FROM events, sc),
         k AS (SELECT u, d, nd,
             (u * 65535) // max_u AS us,
             (d * 65535) // greatest(nd - 1, 1) AS ds
           FROM b),
         k2 AS (SELECT u, d,
             ($zTerms) >> 29 AS zbucket,
             LEAST(7, (d * 8) // nd) AS tbucket
           FROM k),
         pts AS (${leg("zbucket", "zorder")}
           UNION ALL ${leg("tbucket", "time")}),
         summ AS (SELECT layout, CAST(-1 AS BIGINT) AS bucket,
             CAST(SUM(n_rows) AS BIGINT) AS n_rows,
             MIN(min_u) AS min_u, MAX(max_u) AS max_u,
             MIN(min_d) AS min_d, MAX(max_d) AS max_d,
             CAST(SUM(probe_hit) AS BIGINT) AS probe_hit
           FROM pts GROUP BY layout)
         SELECT * FROM (SELECT * FROM pts UNION ALL SELECT * FROM summ)
         ORDER BY layout, bucket""" }

  /** Error-tolerant CSV ingestion — the messy-feed half of the source
    * family (q39 reads clean JSON; real interchange files carry rows
    * that don't parse): a CSV twin of orders is written with planted
    * type-mismatch rows (ids %37 break the decimal price, ids %41 the
    * bigint custkey), read back under PERMISSIVE mode with
    * `columnNameOfCorruptRecord`, and the gate rolls up per-status
    * counts + the exact-decimal price checksum of the GOOD rows plus
    * one `_corrupt` quarantine row — ingest never drops data
    * silently; bad rows are counted, not lost. The FULL DuckDB oracle
    * re-derives the classification from the plant rules over raw
    * orders — a parser that quarantined too much or too little breaks
    * the hash. Scale shape: text write + one schema-driven parse +
    * one map-side-combined rollup; the corrupt column is schema-level
    * (Catalyst's parser), no UDF, no driver loop. */
  gate("q51_csv_robust") { (s, dir) =>
    val path = s"${gateModelDir(dir, "q51")}/orders_csv"
    val o = t(s, dir, "orders").select(col("o_orderkey"),
      col("o_custkey"), col("o_orderstatus"),
      col("o_totalprice").cast("decimal(18,2)").as("p"),
      date_format(col("o_orderdate"), "yyyy-MM-dd").as("od"))
    val price = when(col("o_orderkey") % 37 === 0, lit("broken-price"))
      .otherwise(col("p").cast("string"))
    val cust = when(col("o_orderkey") % 41 === 0 &&
        col("o_orderkey") % 37 =!= 0, lit("x-cust"))
      .otherwise(col("o_custkey").cast("string"))
    o.select(concat_ws(",", col("o_orderkey").cast("string"), cust,
        col("o_orderstatus"), price, col("od")).as("value"))
      .write.mode("overwrite").text(path)
    val parsed = s.read
      .schema("k LONG, cust LONG, status STRING, price DECIMAL(18,2), " +
        "odate DATE, _corrupt STRING")
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt")
      .csv(path)
    // Reference EVERY typed column in the rollup: Spark's CSV parser
    // prunes unreferenced columns, and an unparsed column can't fail —
    // so pruning silently changes WHICH rows are quarantined (measured
    // r15: dropping `cust` from this projection halved the corrupt
    // set). PERMISSIVE is also partial-result: a quarantined row keeps
    // every field that did parse (n_cust/n_dated expose exactly that),
    // only the failing field is null.
    parsed.groupBy(coalesce(when(col("_corrupt").isNotNull,
        lit("_corrupt")), col("status")).as("status"))
      .agg(count(lit(1)).as("n_rows"),
        coalesce(sum(col("price")).cast("double"), lit(0.0))
          .as("sum_price"),
        count(col("cust")).as("n_cust"),
        count(col("odate")).as("n_dated"))
      .orderBy("status")
  }(
      // q51: the quarantine classification re-derived from the plant
      // rules over raw orders — the oracle never parses the CSV, it
      // asserts the parser classified EXACTLY the planted-bad rows.
      // PERMISSIVE is partial-result: a quarantined row keeps every
      // field that parsed, so the corrupt group still sums the %41-only
      // prices and counts the %37 custkeys — the oracle mirrors that,
      // not an all-null fiction.
      """WITH cls AS (SELECT
             CASE WHEN o_orderkey % 37 = 0 OR o_orderkey % 41 = 0
               THEN '_corrupt' ELSE o_orderstatus END AS status,
             CASE WHEN o_orderkey % 37 = 0 THEN NULL
               ELSE CAST(o_totalprice AS DECIMAL(18,2)) END AS p,
             CASE WHEN o_orderkey % 41 = 0 AND o_orderkey % 37 <> 0
               THEN NULL ELSE o_custkey END AS cust
           FROM orders)
         SELECT status, CAST(COUNT(*) AS BIGINT) AS n_rows,
           COALESCE(CAST(SUM(p) AS DOUBLE), 0.0) AS sum_price,
           CAST(COUNT(cust) AS BIGINT) AS n_cust,
           CAST(COUNT(*) AS BIGINT) AS n_dated
         FROM cls GROUP BY status ORDER BY status""")

  /** SCD type-2 order history per customer
    * ([[graft.operators.Scd.scd2]]): each customer's orders become
    * interval-versioned rows — version index, valid_from/valid_to
    * chain (open end '9999-12-31'), exactly one current row per key.
    * One shuffle on the key, per-key local sort; FULL DuckDB oracle
    * mirrors the window pair. */
  gate("q52_scd2") { (s, dir) =>
    val o = t(s, dir, "orders").select(col("o_custkey"),
      date_format(col("o_orderdate"), "yyyy-MM-dd").as("valid_from"),
      col("o_orderkey"), col("o_orderstatus"))
    graft.operators.Scd.scd2(o, "o_custkey", "valid_from",
        "o_orderkey", endMarker = "9999-12-31")
      .select(col("o_custkey"), col("version"), col("o_orderkey"),
        col("o_orderstatus"), col("valid_from"), col("valid_to"),
        col("is_current"))
      .orderBy("o_custkey", "version")
  }(
      // q52: the same window pair over the same (seq, tie) order — a
      // version-chain or open-end bug breaks the hash.
      """WITH v AS (SELECT o_custkey,
             CAST(ROW_NUMBER() OVER w AS BIGINT) AS version,
             o_orderkey, o_orderstatus,
             strftime(CAST(o_orderdate AS TIMESTAMP), '%Y-%m-%d')
               AS valid_from,
             COALESCE(LEAD(strftime(CAST(o_orderdate AS TIMESTAMP),
               '%Y-%m-%d')) OVER w, '9999-12-31') AS valid_to
           FROM orders
           WINDOW w AS (PARTITION BY o_custkey
             ORDER BY strftime(CAST(o_orderdate AS TIMESTAMP),
               '%Y-%m-%d'), o_orderkey))
         SELECT o_custkey, version, o_orderkey, o_orderstatus,
           valid_from, valid_to,
           CAST(CASE WHEN valid_to = '9999-12-31' THEN 1 ELSE 0 END
             AS BIGINT) AS is_current
         FROM v ORDER BY o_custkey, version""")

  /** Spool delivery bookkeeping ([[graft.monitor.Spool]]): the
    * reference notification spool's post/pick/ack/unpicked state
    * machine (monitor/spool/__init__.py:95-275) replayed over a
    * deterministic operation timeline planted on the events table —
    * event_id decides the op (0,1→post 2,3→pick mod 5; the residue-4
    * class splits mod 10 into 4→ack 9→delete, so re-created
    * incarnations are exercised too), the due lag (15-min steps mod 7)
    * and the tie order; pick leases run 1 h.
    * Output: each notification's final delivery state (lease, ack,
    * accepted/refused counters) plus the `unpicked(T)` re-delivery
    * flag at end-of-log T (1-row scalar zip, the declared p08/t05
    * class). FULL SQL oracle: a recursive CTE folds the identical
    * transitions per id in op order. */
  gate("q53_spool_deliver") { (s, dir) =>
    import s.implicits._
    val ops = ev(s, dir).select(
        col("user_id").as("id"), col("event_id").as("seq"),
        col("ts").cast("long").as("ts_sec"),
        when(col("event_id") % 5 <= 1, "post")
          .when(col("event_id") % 5 <= 3, "pick")
          .when(col("event_id") % 10 === 4, "ack")
          .otherwise("delete").as("op"),
        (col("ts").cast("long") + (col("event_id") % 7) * 900L)
          .as("due_sec"),
        lit(3600L).as("timeout_sec"))
      .as[graft.monitor.Spool.Op]
    val state = graft.monitor.Spool.replay(ops).toDF()
    val tEnd = ev(s, dir)
      .agg((max(col("ts").cast("long")) + 1L).as("t_end"))
    state.crossJoin(broadcast(tEnd))
      .select(col("id"), col("created_sec"), col("due_sec"),
        col("msg_rev"), col("picked_at_sec"), col("picked_until_sec"),
        col("acked_at_sec"), col("n_posts"), col("n_rejected_posts"),
        col("n_picks"), col("n_rejected_picks"),
        when(col("picked_until_sec") < col("t_end"), 1).otherwise(0)
          .as("free_at_end"))
      .orderBy("id")
  }(
      // q53: the spool delivery state machine re-folded per id by a
      // recursive CTE — each recursion step applies ONE op's transition
      // (post create/update/refuse, pick lease, ack seal) with the
      // identical lease/due comparisons as the gate's replay.
      s"""WITH RECURSIVE
         ops0 AS (SELECT user_id AS id, event_id AS seq,
             ${sec(tsUs)} AS ts_sec,
             CASE WHEN event_id % 5 <= 1 THEN 'post'
                  WHEN event_id % 5 <= 3 THEN 'pick'
                  WHEN event_id % 10 = 4 THEN 'ack'
                  ELSE 'delete' END AS op,
             ${sec(tsUs)} + (event_id % 7) * 900 AS due_sec,
             3600 AS timeout_sec
           FROM events),
         ops AS (SELECT *, ROW_NUMBER() OVER
             (PARTITION BY id ORDER BY ts_sec, seq) AS k FROM ops0),
         st AS (
           SELECT id, CAST(0 AS BIGINT) AS k, false AS ex,
               CAST(-1 AS BIGINT) AS created_sec,
               CAST(-1 AS BIGINT) AS due_sec,
               CAST(0 AS BIGINT) AS msg_rev,
               CAST(-1 AS BIGINT) AS picked_at_sec,
               CAST(-9999999999 AS BIGINT) AS picked_until_sec,
               CAST(-1 AS BIGINT) AS acked_at_sec,
               CAST(0 AS BIGINT) AS n_posts,
               CAST(0 AS BIGINT) AS n_rejected_posts,
               CAST(0 AS BIGINT) AS n_picks,
               CAST(0 AS BIGINT) AS n_rejected_picks
             FROM (SELECT DISTINCT id FROM ops)
           UNION ALL
           SELECT o.id, o.k,
               CASE WHEN o.op = 'delete' THEN false
                    ELSE st.ex OR o.op = 'post' END,
               CASE WHEN o.op = 'delete' THEN CAST(-1 AS BIGINT)
                    WHEN o.op = 'post' AND NOT st.ex
                    THEN o.ts_sec ELSE st.created_sec END,
               CASE WHEN o.op = 'delete' THEN CAST(-1 AS BIGINT)
                    WHEN o.op = 'post' AND (NOT st.ex
                      OR st.picked_until_sec <= o.ts_sec)
                    THEN greatest(o.due_sec, o.ts_sec)
                    ELSE st.due_sec END,
               CASE WHEN o.op = 'delete' THEN CAST(0 AS BIGINT)
                    WHEN o.op = 'post' AND (NOT st.ex
                      OR st.picked_until_sec <= o.ts_sec)
                    THEN st.msg_rev + 1 ELSE st.msg_rev END,
               CASE WHEN o.op = 'delete' THEN CAST(-1 AS BIGINT)
                    WHEN o.op = 'pick' AND st.ex
                      AND st.picked_until_sec <= o.ts_sec
                      AND st.due_sec <= o.ts_sec
                    THEN o.ts_sec ELSE st.picked_at_sec END,
               CASE WHEN o.op = 'delete'
                    THEN CAST(-9999999999 AS BIGINT)
                    WHEN o.op = 'pick' AND st.ex
                      AND st.picked_until_sec <= o.ts_sec
                      AND st.due_sec <= o.ts_sec
                    THEN o.ts_sec + o.timeout_sec
                    WHEN o.op = 'ack' AND st.ex THEN 9999999999
                    ELSE st.picked_until_sec END,
               CASE WHEN o.op = 'delete' THEN CAST(-1 AS BIGINT)
                    WHEN o.op = 'ack' AND st.ex
                    THEN o.ts_sec ELSE st.acked_at_sec END,
               CASE WHEN o.op = 'delete' THEN CAST(0 AS BIGINT)
                 ELSE st.n_posts + CASE WHEN o.op = 'post' AND (NOT st.ex
                     OR st.picked_until_sec <= o.ts_sec)
                   THEN 1 ELSE 0 END END,
               CASE WHEN o.op = 'delete' THEN CAST(0 AS BIGINT)
                 ELSE st.n_rejected_posts + CASE WHEN o.op = 'post'
                     AND st.ex AND st.picked_until_sec > o.ts_sec
                   THEN 1 ELSE 0 END END,
               CASE WHEN o.op = 'delete' THEN CAST(0 AS BIGINT)
                 ELSE st.n_picks + CASE WHEN o.op = 'pick' AND st.ex
                     AND st.picked_until_sec <= o.ts_sec
                     AND st.due_sec <= o.ts_sec
                   THEN 1 ELSE 0 END END,
               CASE WHEN o.op = 'delete' THEN CAST(0 AS BIGINT)
                 ELSE st.n_rejected_picks + CASE
                   WHEN (o.op = 'pick' AND NOT (st.ex
                       AND st.picked_until_sec <= o.ts_sec
                       AND st.due_sec <= o.ts_sec))
                     OR (o.op = 'ack' AND NOT st.ex)
                   THEN 1 ELSE 0 END END
           FROM st JOIN ops o ON o.id = st.id AND o.k = st.k + 1),
         fin AS (SELECT * FROM st QUALIFY
             ROW_NUMBER() OVER (PARTITION BY id ORDER BY k DESC) = 1),
         t AS (SELECT max(${sec(tsUs)}) + 1 AS t_end FROM events)
         SELECT id, created_sec, due_sec, msg_rev, picked_at_sec,
           picked_until_sec, acked_at_sec, n_posts, n_rejected_posts,
           n_picks, n_rejected_picks,
           CAST(CASE WHEN picked_until_sec < t_end THEN 1 ELSE 0 END
             AS INT) AS free_at_end
         FROM fin, t WHERE ex ORDER BY id""")

  /** Deliberately mixed issue-editor form submissions for q54 — the
    * q42 planted-fixture discipline on the issue_editor surface
    * (issue_editor/__init__.py:64-69 required-field 400 gate): valid
    * submissions with/without patterns and report_url, plus one row
    * missing each required field; shared with the oracle generator. */
  private val issueForms
      : Seq[(String, String, String, String, String, String)] = Seq(
    ("s1", "Alice", "alice@example.org", "boot failure on F orders",
      "code", "https://example.org/r/1"),
    ("s2", "Bob", "bob@example.org", "priority regression", "tool", ""),
    ("s3", "", "carol@example.org", "missing name", "harness", ""),
    ("s4", "Dan", "", "missing email", "code", ""),
    ("s5", "Eve", "eve@example.org", "", "tool", ""),
    ("s6", "Fay", "fay@example.org", "missing culprit", "", ""),
    ("s7", "Gus", "gus@example.org", "no pattern attached", "harness",
      ""),
    ("s8", "Hal", "hal@example.org", "cross-category match", "code",
      "https://example.org/r/8"))

  /** q54's form pattern triples (zip order = seq), covering the
    * reference's dict-assignment semantics: s2 repeats a field (last
    * value wins), s3 carries a pattern on an INVALID submission (built
    * but never matched — the 400 fires first), s8 spans two
    * categories. */
  private val issueTriples
      : Seq[(String, Int, String, String, String)] = Seq(
    ("s1", 1, "order", "o_orderstatus", "F"),
    ("s1", 2, "order", "o_orderpriority", "1-URGENT"),
    ("s2", 1, "order", "o_orderstatus", "O"),
    ("s2", 2, "order", "o_orderstatus", "P"),
    ("s3", 1, "order", "o_orderstatus", "F"),
    ("s8", 1, "order", "o_orderstatus", "F"),
    ("s8", 2, "order", "o_orderpriority", "5-LOW"),
    ("s8", 3, "customer", "c_mktsegment", "BUILDING"))

  /** Issue pattern-object assembly + automatch
    * ([[graft.model.IssuePatterns]]) — the reference issue_editor's
    * form→pattern_object builder and its automatching semantics
    * (issue_editor/__init__.py:33-60) as a gate: planted form rows
    * (shared fixtures above) assemble per-submission pattern objects
    * (last-wins fields, +"s" category pluralization, canonical sorted
    * flat form), invalid submissions are 400-gated, and each VALID
    * pattern category automatches the corpus — orders melted on
    * (o_orderstatus, o_orderpriority), customers on c_mktsegment —
    * emitting per-category match counts. FULL SQL oracle re-derives
    * everything from the same VALUES literals + the same melt. */
  // q54: the issue-editor pattern-object builder + automatch
  // re-derived from the SAME planted fixtures (issueForms
  // / issueTriples interpolate as VALUES — the shared-constant
  // discipline): arg_max = the gate's max_by last-wins, string_agg
  // ORDER BY = the gate's sorted ';'-join canonical form, and the
  // corpus melt + all-fields-match counting mirror the gate's joins.
  gate("q54_issue_patterns") { (s, dir) =>
    import s.implicits._
    val forms = issueForms.toDF("sub_id", "name", "email",
      "report_subject", "culprit_type", "report_url")
    val triples = issueTriples.toDF("sub_id", "seq", "category",
      "field", "value")
    val orders = t(s, dir, "orders")
    val objects = orders
      .select(lit("order").as("category"),
        col("o_orderkey").as("obj_id"),
        lit("o_orderstatus").as("field"),
        col("o_orderstatus").as("value"))
      .unionByName(orders
        .select(lit("order").as("category"),
          col("o_orderkey").as("obj_id"),
          lit("o_orderpriority").as("field"),
          col("o_orderpriority").as("value")))
      .unionByName(t(s, dir, "customer")
        .select(lit("customer").as("category"),
          col("c_custkey").as("obj_id"),
          lit("c_mktsegment").as("field"),
          col("c_mktsegment").as("value")))
    graft.model.IssuePatterns.assembleAndMatch(forms, triples, objects)
      .orderBy("kind", "sub_id", "category")
  } {
      val formsVals = issueForms.map { case
        (id, nm, em, subj, ct, url) =>
          s"('$id', '$nm', '$em', '$subj', '$ct', '$url')"
      }.mkString(",\n           ")
      val tripleVals = issueTriples.map { case
        (id, seq, cat, f, v) => s"('$id', $seq, '$cat', '$f', '$v')"
      }.mkString(",\n           ")
      s"""WITH forms(sub_id, name, email, report_subject, culprit_type,
             report_url) AS (VALUES
           $formsVals),
         triples(sub_id, seq, category, field, value) AS (VALUES
           $tripleVals),
         resolved AS (SELECT sub_id, category, field,
             arg_max(value, seq) AS value
           FROM triples GROUP BY 1, 2, 3),
         kv AS (SELECT sub_id, category,
             category || 's.' || field || '=' || value AS kv
           FROM resolved),
         pat AS (SELECT sub_id,
             string_agg(kv, ';' ORDER BY kv) AS pattern,
             CAST(COUNT(DISTINCT category) AS BIGINT) AS n_categories
           FROM kv GROUP BY 1),
         valid AS (SELECT sub_id FROM forms
           WHERE name <> '' AND email <> ''
             AND report_subject <> '' AND culprit_type <> ''),
         objects AS (
           SELECT 'order' AS category, CAST(o_orderkey AS BIGINT)
               AS obj_id, 'o_orderstatus' AS field,
               o_orderstatus AS value FROM orders
           UNION ALL
           SELECT 'order', CAST(o_orderkey AS BIGINT),
             'o_orderpriority', o_orderpriority FROM orders
           UNION ALL
           SELECT 'customer', CAST(c_custkey AS BIGINT),
             'c_mktsegment', c_mktsegment FROM customer),
         req AS (SELECT r.* FROM resolved r JOIN valid USING (sub_id)),
         nreq AS (SELECT sub_id, category,
             CAST(COUNT(*) AS BIGINT) AS n_req
           FROM req GROUP BY 1, 2),
         hits AS (SELECT q.sub_id, q.category, o.obj_id,
             CAST(COUNT(*) AS BIGINT) AS n_hit
           FROM objects o JOIN req q ON o.category = q.category
             AND o.field = q.field AND o.value = q.value
           GROUP BY 1, 2, 3),
         matched AS (SELECT h.sub_id, h.category,
             CAST(COUNT(*) AS BIGINT) AS n_match
           FROM hits h JOIN nreq n ON h.sub_id = n.sub_id
             AND h.category = n.category AND h.n_hit = n.n_req
           GROUP BY 1, 2)
         SELECT kind, sub_id, category, valid, culprit_code,
           culprit_tool, culprit_harness, n_categories, n_match,
           pattern
         FROM (
           SELECT 'issue' AS kind, f.sub_id, '' AS category,
             CAST(CASE WHEN name <> '' AND email <> ''
               AND report_subject <> '' AND culprit_type <> ''
               THEN 1 ELSE 0 END AS INT) AS valid,
             CAST(CASE WHEN culprit_type = 'code' THEN 1 ELSE 0 END
               AS INT) AS culprit_code,
             CAST(CASE WHEN culprit_type = 'tool' THEN 1 ELSE 0 END
               AS INT) AS culprit_tool,
             CAST(CASE WHEN culprit_type = 'harness' THEN 1 ELSE 0 END
               AS INT) AS culprit_harness,
             COALESCE(p.n_categories, 0) AS n_categories,
             CAST(-1 AS BIGINT) AS n_match,
             COALESCE(p.pattern, '') AS pattern
           FROM forms f LEFT JOIN pat p USING (sub_id)
           UNION ALL
           SELECT 'match', n.sub_id, n.category, CAST(1 AS INT),
             CAST(-1 AS INT), CAST(-1 AS INT), CAST(-1 AS INT),
             CAST(-1 AS BIGINT), COALESCE(m.n_match, 0), ''
           FROM nreq n LEFT JOIN matched m ON n.sub_id = m.sub_id
             AND n.category = m.category)
         ORDER BY kind, sub_id, category""" }

  /** Gap-based sessionization (30-min gap, per-user numbering) - the
    * shared oracle of the q37 batch gate and its st06 streaming twin
    * (exact parity on a one-shot in-order replay). */
  private[gates] val sessionizeSql: String =
    s"""WITH e AS (SELECT user_id, event_id, ${sec(tsUs)} AS ts_sec
                     FROM events),
         f AS (SELECT user_id, event_id, ts_sec,
               CASE WHEN ts_sec - lag(ts_sec) OVER w <= 1800
                 THEN 0 ELSE 1 END AS new_s
               FROM e
               WINDOW w AS (PARTITION BY user_id
                            ORDER BY ts_sec, event_id)),
         s AS (SELECT user_id, ts_sec,
               CAST(SUM(new_s) OVER (PARTITION BY user_id
                                ORDER BY ts_sec, event_id) AS BIGINT)
                 AS session_idx
               FROM f)
         SELECT user_id, session_idx, COUNT(*) AS n_events,
           MIN(ts_sec) AS start_sec, MAX(ts_sec) AS end_sec,
           MAX(ts_sec) - MIN(ts_sec) AS duration_sec
         FROM s GROUP BY user_id, session_idx
         ORDER BY user_id, session_idx"""

  /** Gap-based sessionization over the event stream (30-min gap) — the
    * canonical behavioral-analytics rollup. Both window passes share one
    * user_id partitioning (a single shuffle, per-key local sort — never a
    * global sort); see operators/Sessionize. */
  gate("q37_sessionize") { (s, dir) =>
    val e = ev(s, dir).select(col("user_id"), col("event_id"),
      graft.util.epochSec(col("ts")).as("ts_sec"))
    graft.operators.Sessionize.sessionize(
        e, "user_id", "ts_sec", "event_id", gapSec = 1800)
      .orderBy("user_id", "session_idx")
  }(sessionizeSql)

  /** `Pattern.from_io` + the reference's ingest expansion `<*#`
    * (orm/query.py:788-851; kcidb/__init__.py:493-531): a simulated
    * just-loaded batch — an orders date window plus a lineitem
    * ship-date window, the dump-window shape a feed delivers — derives
    * its per-type roots ([[graft.model.Catalog.rootsFromBatch]]) and
    * the matched set is the loaded objects PLUS all their ancestors
    * ([[graft.model.Catalog.ingestClosure]]), the exact object set the
    * reference generates notifications over after each load. Output is
    * q29's (object_type, id) ledger shape. */
  gate("q38_ingest_patterns") { (s, dir) =>
    val batch = Map(
      "orders" -> t(s, dir, "orders")
        .filter(col("o_orderdate").between("1995-01-01", "1995-01-31")),
      "lineitem" -> t(s, dir, "lineitem")
        .filter(col("l_shipdate").between("1996-06-01", "1996-06-15")))
    val m = TestCatalog.catalog.ingestClosure(s, dir, batch)
    def part(tn: String, id: Column): DataFrame =
      m(tn).select(lit(tn).as("object_type"), id.cast("string").as("id"))
    part("region", col("r_regionkey"))
      .union(part("nation", col("n_nationkey")))
      .union(part("customer", col("c_custkey")))
      .union(part("supplier", col("s_suppkey")))
      .union(part("part", col("p_partkey")))
      .union(part("orders", col("o_orderkey")))
      .union(part("lineitem", concat(col("l_orderkey").cast("string"),
        lit("_"), col("l_linenumber").cast("string"))))
      .orderBy("object_type", "id")
  }(
      """WITH lo AS (SELECT o_orderkey, o_custkey FROM orders
                     WHERE o_orderdate BETWEEN TIMESTAMP '1995-01-01'
                                           AND TIMESTAMP '1995-01-31'),
         ll AS (SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey
                FROM lineitem
                WHERE l_shipdate BETWEEN TIMESTAMP '1996-06-01'
                                     AND TIMESTAMP '1996-06-15'),
         -- pattern roots are ID sets: the parents pass traverses the
         -- DATABASE rows matching those ids (all of them — testdata has
         -- duplicate lineitem id tuples whose other columns differ),
         -- not the batch rows themselves
         lrows AS (SELECT lineitem.l_orderkey, lineitem.l_linenumber,
                     lineitem.l_partkey, lineitem.l_suppkey
                   FROM lineitem
                   JOIN (SELECT DISTINCT l_orderkey, l_linenumber FROM ll) s
                   USING (l_orderkey, l_linenumber)),
         -- parents pass, leaves first: loaded objects plus all ancestors
         ord AS (SELECT o_orderkey FROM lo
                 UNION SELECT l_orderkey FROM lrows),
         prt AS (SELECT DISTINCT l_partkey FROM lrows),
         supp AS (SELECT DISTINCT l_suppkey FROM lrows),
         cust AS (SELECT DISTINCT o_custkey FROM orders
                  WHERE o_orderkey IN (SELECT o_orderkey FROM ord)),
         nat AS (SELECT c_nationkey AS nk FROM customer
                 WHERE c_custkey IN (SELECT o_custkey FROM cust)
                 UNION SELECT s_nationkey FROM supplier
                 WHERE s_suppkey IN (SELECT l_suppkey FROM supp)),
         reg AS (SELECT DISTINCT n_regionkey AS rk FROM nation
                 WHERE n_nationkey IN (SELECT nk FROM nat))
         SELECT object_type, id FROM (
           SELECT 'region' AS object_type,
             CAST(rk AS VARCHAR) AS id FROM reg
           UNION ALL SELECT 'nation', CAST(n_nationkey AS VARCHAR)
             FROM nation WHERE n_nationkey IN (SELECT nk FROM nat)
           UNION ALL SELECT 'customer', CAST(c_custkey AS VARCHAR)
             FROM customer WHERE c_custkey IN (SELECT o_custkey FROM cust)
           UNION ALL SELECT 'supplier', CAST(s_suppkey AS VARCHAR)
             FROM supplier WHERE s_suppkey IN (SELECT l_suppkey FROM supp)
           UNION ALL SELECT 'part', CAST(p_partkey AS VARCHAR)
             FROM part WHERE p_partkey IN (SELECT l_partkey FROM prt)
           UNION ALL SELECT 'orders', CAST(o_orderkey AS VARCHAR)
             FROM orders WHERE o_orderkey IN (SELECT o_orderkey FROM ord)
           UNION ALL SELECT 'lineitem',
             CAST(l_orderkey AS VARCHAR) || '_' ||
             CAST(l_linenumber AS VARCHAR) FROM lrows
         ) ORDER BY object_type, id""")

  /** The reference's FULL post-load loop as one gate query
    * (kcidb/__init__.py:493-531: load → from_io roots → `<*#` closure →
    * match → render → spool): q38's ingest closure (loaded batch windows
    * + ALL their ancestors, Catalog.ingestClosure) feeds q24's rendered
    * subscription spool — the subscriptions run over the CLOSURE frames,
    * not the raw tables, so the notification scope is exactly the
    * objects the load touched. Composes two already-verified operators;
    * the oracle re-derives the same composition in SQL from the shared
    * subscription constants. */
  gate("q40_ingest_notify") { (s, dir) =>
    val batch = Map(
      "orders" -> t(s, dir, "orders")
        .filter(col("o_orderdate").between("1995-01-01", "1995-01-31")),
      "lineitem" -> t(s, dir, "lineitem")
        .filter(col("l_shipdate").between("1996-06-01", "1996-06-15")))
    val m = TestCatalog.catalog.ingestClosure(s, dir, batch)
    graft.monitor.Subscriptions.matchNotificationsRendered(
        tn => m(tn), q24Subscriptions)
      .orderBy("notification_id")
  }(
      // q40 = q38's ingest closure feeding q24's rendered spool — the
      // reference's full post-load loop in one statement: the closure CTEs
      // restrict each watched object table to loaded objects + ancestors,
      // then the shared notification generators run over THOSE rows.
      ("""WITH lo AS (SELECT o_orderkey, o_custkey FROM orders
                      WHERE o_orderdate BETWEEN TIMESTAMP '1995-01-01'
                                            AND TIMESTAMP '1995-01-31'),
         ll AS (SELECT DISTINCT l_orderkey, l_linenumber FROM lineitem
                WHERE l_shipdate BETWEEN TIMESTAMP '1996-06-01'
                                     AND TIMESTAMP '1996-06-15'),
         -- closure lineitem rows: DATABASE rows matching the batch ids
         -- (duplicate id tuples all surface, as in q38)
         li_rows AS (SELECT lineitem.* FROM lineitem
                     JOIN ll USING (l_orderkey, l_linenumber)),
         ordk AS (SELECT o_orderkey FROM lo
                  UNION SELECT l_orderkey FROM li_rows),
         o_rows AS (SELECT * FROM orders WHERE o_orderkey IN
                    (SELECT o_orderkey FROM ordk)),
         c_rows AS (SELECT * FROM customer WHERE c_custkey IN
                    (SELECT o_custkey FROM orders WHERE o_orderkey IN
                     (SELECT o_orderkey FROM ordk)))
         """ + notifSpool(Seq(
           notifSub(q24BigOrders, "CAST(o_orderkey AS VARCHAR)",
             q24BigOrdersW, "o_rows"),
           notifSub(q24NegBal, "CAST(c_custkey AS VARCHAR)",
             q24NegBalW, "c_rows"),
           notifSub(q24Returned,
             "CAST(l_orderkey AS VARCHAR) || ':' || CAST(l_linenumber AS VARCHAR)",
             q24ReturnedW, "li_rows")))))

  /** Trailing-window rate anomaly — the shared oracle of the q41 batch
    * gate and its st08 streaming twin (exact parity on a one-shot
    * in-order replay: days close in day order, so the trailing deque
    * reproduces the batch ROWS frame). The z arithmetic repeats the
    * Spark side's stated double-op order over integer window sums —
    * mean = s/k, var = (ss - s·mean)/(k-1), z = (n - mean)/sqrt(var). */
  private[gates] val rateAnomalySql: String =
    s"""WITH daily AS (SELECT event_type AS series,
           strftime(date_trunc('day', $tsUs), '%Y-%m-%d') AS day,
           COUNT(*) AS n
         FROM events GROUP BY 1, 2),
       w AS (SELECT series, day, n,
           CAST(COUNT(n) OVER tw AS BIGINT) AS k_trail,
           CAST(SUM(n) OVER tw AS BIGINT) AS s_trail,
           CAST(SUM(n * n) OVER tw AS BIGINT) AS ss_trail
         FROM daily
         WINDOW tw AS (PARTITION BY series ORDER BY day
           ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING)),
       z AS (SELECT series, day, n, k_trail,
           CASE WHEN k_trail >= 1 THEN round(
             CAST(s_trail AS DOUBLE) / CAST(k_trail AS DOUBLE), 6)
           END AS trail_mean,
           CASE WHEN k_trail >= 2 AND
               (CAST(ss_trail AS DOUBLE) - CAST(s_trail AS DOUBLE) *
                 (CAST(s_trail AS DOUBLE) / CAST(k_trail AS DOUBLE))) /
               (CAST(k_trail AS DOUBLE) - 1.0) > 0
             THEN round((CAST(n AS DOUBLE) -
                 CAST(s_trail AS DOUBLE) / CAST(k_trail AS DOUBLE)) /
               sqrt((CAST(ss_trail AS DOUBLE) - CAST(s_trail AS DOUBLE) *
                   (CAST(s_trail AS DOUBLE) / CAST(k_trail AS DOUBLE))) /
                 (CAST(k_trail AS DOUBLE) - 1.0)), 6)
           END AS z
         FROM w)
       SELECT series, day, n, k_trail, trail_mean, z,
         CAST(CASE WHEN z IS NOT NULL AND abs(z) > 2.0
              THEN 1 ELSE 0 END AS INT) AS anomaly
       FROM z ORDER BY series, day"""

  /** Trailing-window rate anomaly over the event stream
    * (operators/Series.rateAnomaly): per (event_type, day) counts scored
    * against the previous 7 observed days' mean/variance — the volume
    * alerting a monitoring deployment runs on submission rates. The
    * corpus collapses to the bounded (series, day) frame BEFORE any
    * window, and the z arithmetic is a stated chain of double ops over
    * integer window sums, so the full DuckDB oracle reproduces every
    * score bit-for-bit. */
  // q41: the z arithmetic repeats the Spark side's stated double-op
  // order over integer window sums — mean = s/k, var = (ss - s·mean)/
  // (k-1), z = (n - mean)/sqrt(var) — so scores match bit-for-bit.
  gate("q41_rate_anomaly") { (s, dir) =>
    graft.operators.Series.rateAnomaly(ev(s, dir), col("event_type"),
        col("ts"))
      .orderBy("series", "day")
  }(rateAnomalySql)

  /** Keyed snapshot diff (operators/SnapshotDiff): two versions of the
    * orders table are synthesized by deterministic residue classes
    * (the t21/q39 fixture discipline — adds, removes, single- and
    * multi-field changes all planted), then ONE co-partitioned
    * full-outer join classifies every key and names the changed
    * fields; the gate reduces to per-status and per-field counts so
    * the FULL DuckDB oracle re-derives synthesis and classification
    * (IS DISTINCT FROM mirrors the null-safe <=> compare). */
  gate("q46_snapshot_diff") { (s, dir) =>
    import graft.operators.SnapshotDiff
    val o = t(s, dir, "orders")
    val k = col("o_orderkey")
    val snapA = o.filter(k % 10 =!= 0)
    val snapB = o.filter(k % 7 =!= 3)
      .withColumn("o_custkey",
        col("o_custkey") + when(k % 5 === 0, lit(1000L)).otherwise(lit(0L)))
      .withColumn("o_orderpriority",
        concat(col("o_orderpriority"),
          when(k % 3 === 1, lit("+r2")).otherwise(lit(""))))
    val d = SnapshotDiff.diff(snapA, snapB, Seq("o_orderkey"),
      Seq("o_custkey", "o_orderstatus", "o_orderpriority"))
    // one pass over the join: reduce to the tiny (status, field-set)
    // grain first and checkpoint-memoize it (the q40/q43 discipline),
    // so the two report branches don't each re-execute the full-outer
    // join — ≤ |statuses|·2^|cols| rows survive
    val pre = d.groupBy("status", "changed_fields")
      .agg(count(lit(1)).as("n_rows")).localCheckpoint()
    val byStatus = pre.groupBy("status").agg(sum("n_rows").as("n"))
      .select(lit("status").as("kind"), col("status").as("name"), col("n"))
    val byField = pre.select(explode(col("changed_fields")).as("name"),
        col("n_rows"))
      .groupBy("name").agg(sum("n_rows").as("n"))
      .select(lit("field").as("kind"), col("name"), col("n"))
    byStatus.unionByName(byField).orderBy("kind", "name")
  }(
      // q46: snapshot synthesis + full-outer classification re-derived;
      // IS DISTINCT FROM mirrors SnapshotDiff's null-safe <=>.
      s"""WITH a AS (SELECT o_orderkey AS k, o_custkey, o_orderstatus,
             o_orderpriority
           FROM orders WHERE o_orderkey % 10 <> 0),
         b AS (SELECT o_orderkey AS k,
             o_custkey + CASE WHEN o_orderkey % 5 = 0
               THEN 1000 ELSE 0 END AS o_custkey,
             o_orderstatus,
             o_orderpriority || CASE WHEN o_orderkey % 3 = 1
               THEN '+r2' ELSE '' END AS o_orderpriority
           FROM orders WHERE o_orderkey % 7 <> 3),
         j AS (SELECT a.k IS NOT NULL AS ina, b.k IS NOT NULL AS inb,
             a.o_custkey IS DISTINCT FROM b.o_custkey AS c1,
             a.o_orderstatus IS DISTINCT FROM b.o_orderstatus AS c2,
             a.o_orderpriority IS DISTINCT FROM b.o_orderpriority AS c3
           FROM a FULL OUTER JOIN b ON a.k = b.k),
         st AS (SELECT 'status' AS kind,
             CASE WHEN NOT ina THEN 'added'
                  WHEN NOT inb THEN 'removed'
                  WHEN c1 OR c2 OR c3 THEN 'changed'
                  ELSE 'unchanged' END AS name, COUNT(*) AS n
           FROM j GROUP BY 2),
         fd AS (
           SELECT 'field' AS kind, 'o_custkey' AS name,
             CAST(SUM(CASE WHEN ina AND inb AND c1 THEN 1 ELSE 0 END)
               AS BIGINT) AS n
             FROM j
           UNION ALL SELECT 'field', 'o_orderstatus',
             CAST(SUM(CASE WHEN ina AND inb AND c2 THEN 1 ELSE 0 END)
               AS BIGINT) FROM j
           UNION ALL SELECT 'field', 'o_orderpriority',
             CAST(SUM(CASE WHEN ina AND inb AND c3 THEN 1 ELSE 0 END)
               AS BIGINT) FROM j)
         SELECT kind, name, CAST(n AS BIGINT) AS n FROM
           (SELECT * FROM st UNION ALL
            SELECT * FROM fd WHERE n > 0)
         ORDER BY kind, name""")
}
