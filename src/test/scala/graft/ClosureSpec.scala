package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.model.TestCatalog
import graft.sources.Tables

/** Closure semantics vs direct joins, on sf0.001. */
class ClosureSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._
  private val dir = TestSpark.sf
  private val cat = TestCatalog.catalog

  test("childrenClosure matches direct join chain") {
    val roots = Seq(21L).toDF("c_custkey")
    val m = cat.childrenClosure(spark, dir, Map("customer" -> roots))
    assert(m.keySet == Set("customer", "orders", "lineitem"))

    val orders = Tables(spark, dir, "orders")
    val li = Tables(spark, dir, "lineitem")
    val expOrders = orders.filter(col("o_custkey") === 21).count()
    val expLi = li.join(orders.filter(col("o_custkey") === 21),
      col("l_orderkey") === col("o_orderkey"), "left_semi").count()
    assert(m("customer").count() == 1)
    assert(m("orders").count() == expOrders)
    assert(m("lineitem").count() == expLi)
  }

  test("parentsClosure walks every parent relation (incl. side parents)") {
    val roots = Seq((1L, 3L)).toDF("l_orderkey", "l_linenumber")
    val m = cat.parentsClosure(spark, dir, Map("lineitem" -> roots))
    // lineitem's parents: orders (spine) + part + supplier (side), then
    // customer -> nation -> region up the spine.
    assert(m.keySet == Set("lineitem", "orders", "part", "supplier",
      "customer", "nation", "region"))
    assert(m("lineitem").count() == 1)
    assert(m("orders").count() == 1)
    assert(m("customer").count() == 1)
    assert(m("part").count() == 1)
    assert(m("supplier").count() == 1)
    // nation is reached twice: through the customer spine AND through the
    // supplier side parent — expect the distinct union of both nations.
    val li = Tables(spark, dir, "lineitem")
      .filter(col("l_orderkey") === 1 && col("l_linenumber") === 3)
      .head
    val custNation = Tables(spark, dir, "orders")
      .filter(col("o_orderkey") === 1)
      .join(Tables(spark, dir, "customer"),
        col("o_custkey") === col("c_custkey"))
      .head.getAs[Number]("c_nationkey").longValue
    val suppNation = Tables(spark, dir, "supplier")
      .filter(col("s_suppkey") === li.getAs[Number]("l_suppkey").longValue)
      .head.getAs[Number]("s_nationkey").longValue
    assert(m("nation").count() == Set(custNation, suppNation).size)
    assert(m("region").count() >= 1)
  }

  test("only root id lists carry a broadcast hint, never derived frontiers") {
    import org.apache.spark.sql.catalyst.plans.logical.ResolvedHint
    import org.apache.spark.sql.execution.datasources.LogicalRelation
    // A hint is legitimate iff its subtree is the caller-supplied root id
    // list (a local relation) — a hint wrapping any table-derived frontier
    // (contains a parquet scan) would force-broadcast unbounded data.
    def assertHintsAreRootOnly(df: org.apache.spark.sql.DataFrame): Unit =
      df.queryExecution.analyzed.collect { case h: ResolvedHint => h }
        .foreach { h =>
          val scans = h.child.collect { case r: LogicalRelation => r }
          assert(scans.isEmpty,
            s"broadcast hint wraps a derived frontier:\n${h.treeString}")
        }
    val m = cat.childrenClosure(spark, dir,
      Map("customer" -> Seq(21L).toDF("c_custkey")))
    m.values.foreach(assertHintsAreRootOnly)
    val pm = cat.parentsClosure(spark, dir,
      Map("lineitem" -> Seq((1L, 3L)).toDF("l_orderkey", "l_linenumber")))
    pm.values.foreach(assertHintsAreRootOnly)
  }

  test("closure with both flags = parents pass, then children from the " +
      "accumulated sets (reference cascade)") {
    val roots = Seq(1L).toDF("o_orderkey")
    val m = cat.closure(spark, dir, Map("orders" -> roots),
      parents = true, children = true)
    // part is unreachable: it only relates downward to lineitem, and no
    // lineitem is matched before the children pass.
    assert(m.keySet == Set("orders", "customer", "nation", "region",
      "supplier", "lineitem"))

    def tb(n: String) = Tables(spark, dir, n)
    def semi(df: org.apache.spark.sql.DataFrame,
             keys: org.apache.spark.sql.DataFrame, k: String) =
      df.join(keys.distinct(), Seq(k), "left_semi")
    // Upward pass from order 1…
    val pcust = semi(tb("customer"),
      tb("orders").filter(col("o_orderkey") === 1)
        .select(col("o_custkey").as("c_custkey")), "c_custkey")
    val pnat = semi(tb("nation"),
      pcust.select(col("c_nationkey").as("n_nationkey")), "n_nationkey")
    val preg = semi(tb("region"),
      pnat.select(col("n_regionkey").as("r_regionkey")), "r_regionkey")
    // …then downward from the ACCUMULATED sets (cnat ⊇ pnat by
    // construction: every ancestor nation's region is in preg).
    val cnat = semi(tb("nation"),
      preg.select(col("r_regionkey").as("n_regionkey")), "n_regionkey")
    val ccust = semi(tb("customer"),
      cnat.select(col("n_nationkey").as("c_nationkey")), "c_nationkey")
    val csupp = semi(tb("supplier"),
      cnat.select(col("n_nationkey").as("s_nationkey")), "s_nationkey")
    val cord = semi(tb("orders"),
      ccust.select(col("c_custkey").as("o_custkey")), "o_custkey")
    // Closures accumulate IDs and restore width by id at the end, as the
    // reference does (FROM t INNER JOIN (…ids…) USING (id fields)) —
    // (l_orderkey, l_linenumber) is not unique in the testdata, so every
    // row sharing a matched id tuple comes back, with its multiplicity.
    val cliIds = semi(tb("lineitem"),
        cord.select(col("o_orderkey").as("l_orderkey")), "l_orderkey")
      .select("l_orderkey", "l_linenumber")
      .union(semi(tb("lineitem"),
          csupp.select(col("s_suppkey").as("l_suppkey")), "l_suppkey")
        .select("l_orderkey", "l_linenumber"))
      .distinct()
    val cli = tb("lineitem")
      .join(cliIds, Seq("l_orderkey", "l_linenumber"), "left_semi")
    assert(m("region").count() == preg.count())
    assert(m("nation").count() == cnat.count())
    assert(m("customer").count() == ccust.count())
    assert(m("supplier").count() == csupp.count())
    assert(m("orders").count() == cord.count())
    assert(m("lineitem").count() == cli.count())
    // The distinguishing reference behavior: descendants of the matched
    // object's ANCESTORS are included, so sibling orders appear.
    assert(m("orders").count() > 1,
      "children pass must expand from the accumulated (ancestor) sets")
  }

  test("single-direction closure flags reduce to the dedicated closures") {
    val roots = Seq(1L, 2L).toDF("o_orderkey")
    val c1 = cat.closure(spark, dir, Map("orders" -> roots),
      parents = false, children = true)
    val c2 = cat.childrenClosure(spark, dir, Map("orders" -> roots))
    assert(c1.keySet == c2.keySet)
    for (tn <- c1.keySet) assert(c1(tn).count() == c2(tn).count())
    val p1 = cat.closure(spark, dir, Map("orders" -> roots),
      parents = true, children = false)
    val p2 = cat.parentsClosure(spark, dir, Map("orders" -> roots))
    assert(p1.keySet == p2.keySet)
    for (tn <- p1.keySet) assert(p1(tn).count() == p2(tn).count())
  }

  test("closures generalize to a synthetic diamond catalog") {
    // The multi-path diamond exercises cross-relation dedup in both
    // directions on a schema that is NOT the testdata's.
    val tmp = DiamondCatalog.write()
    val dia = DiamondCatalog.catalog
    def idSet(df: org.apache.spark.sql.DataFrame) =
      df.select(df.columns.head).collect().map(_.getLong(0)).toSet
    val down = dia.childrenClosure(spark, tmp,
      Map("ta" -> Seq(1L).toDF("a_id")))
    assert(idSet(down("tb")) == Set(10L) && idSet(down("tc")) == Set(20L))
    assert(idSet(down("td")) == Set(30L, 31L, 32L),
      "D must union both incoming paths, deduped")
    assert(down("td").count() == 3, "no double-counting through the diamond")
    val up = dia.parentsClosure(spark, tmp,
      Map("td" -> Seq(30L).toDF("d_id")))
    assert(idSet(up("tb")) == Set(10L) && idSet(up("tc")) == Set(20L))
    assert(idSet(up("ta")) == Set(1L) && up("ta").count() == 1,
      "A reached via B and C must dedup to one row")
    val both = dia.closure(spark, tmp, Map("tb" -> Seq(11L).toDF("b_id")),
      parents = true, children = true)
    assert(idSet(both("ta")) == Set(2L))
    assert(idSet(both("tb")) == Set(11L))
    assert(idSet(both("tc")) == Set(21L), "sibling C under ancestor A=2")
    assert(idSet(both("td")) == Set(31L, 32L),
      "descendants via OWN spine and via the ancestor's other spine")
  }

  /** A synthetic catalog, tg ← tp ← tc, written to a fresh temp dir. The
    * child tc has a composite (bigint, int) id with a duplicated tuple
    * (1, 1), a null ref, and a tuple (3, 1) whose two rows hold different
    * refs; tp has a duplicated id, an id (12) whose two rows hold different
    * refs, a null ref and a null-id row; tg has a duplicated and a null
    * id. No ref may reach a null id, and a null ref reaches nothing. */
  private lazy val dupNull: (String, graft.model.Catalog) = {
    import graft.model.{Catalog, GraftRelation, GraftType}
    val tmp = java.nio.file.Files
      .createTempDirectory("graft-dupnull").toString
    Seq[(java.lang.Long, String)]((100L, "g0"), (100L, "g1"), (101L, "g2"),
        (null, "gnull"))
      .toDF("g_id", "g_name").write.parquet(s"$tmp/tg.parquet")
    Seq[(java.lang.Long, java.lang.Long, String)]((10L, 100L, "p0"),
        (10L, 100L, "p1"), (11L, null, "p2"), (12L, 101L, "p3"),
        (null, 101L, "pnull"), (12L, 100L, "p4"))
      .toDF("p_id", "p_g", "p_name").write.parquet(s"$tmp/tp.parquet")
    Seq[(Long, Int, java.lang.Long, String)]((1L, 1, 10L, "c0"),
        (1L, 1, 10L, "c1"), (1L, 2, null, "c2"), (2L, 1, 11L, "c3"),
        (3L, 1, 12L, "c4"), (3L, 1, 10L, "c5"))
      .toDF("c_a", "c_b", "c_p", "c_name").write.parquet(s"$tmp/tc.parquet")
    tmp -> new Catalog(
      types = Map(
        "tg" -> GraftType("tg", Seq("g_id")),
        "tp" -> GraftType("tp", Seq("p_id"), metaCols = Seq("p_name")),
        "tc" -> GraftType("tc", Seq("c_a", "c_b"))),
      relations = Seq(
        GraftRelation("tg", "tp", Seq("p_g")),
        GraftRelation("tp", "tc", Seq("c_p"))))
  }

  private def rows(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.collect().map(_.toString).toSeq.sorted

  test("parentsClosure keeps every duplicate-id row and follows no null " +
      "ref: equal to a join chain on a synthetic catalog") {
    val (tmp, syn) = dupNull
    val roots = Seq((1L, 1), (1L, 2), (2L, 1)).toDF("c_a", "c_b")
    val m = syn.parentsClosure(spark, tmp, Map("tc" -> roots))
    def tb(n: String) = spark.read.parquet(s"$tmp/$n.parquet")
    val expC = tb("tc").join(roots, Seq("c_a", "c_b"), "left_semi")
    val expP = tb("tp").join(expC, col("p_id") === col("c_p"), "left_semi")
    val expG = tb("tg").join(expP, col("g_id") === col("p_g"), "left_semi")
    assert(m.keySet == Set("tc", "tp", "tg"))
    for ((tn, exp) <- Seq("tc" -> expC, "tp" -> expP, "tg" -> expG)) {
      assert(m(tn).columns.toSeq == exp.columns.toSeq, tn)
      assert(rows(m(tn)) == rows(exp), s"$tn differs from the join chain")
    }
    assert(rows(m("tc").select("c_name")) == Seq("[c0]", "[c1]", "[c2]", "[c3]"))
    assert(rows(m("tp").select("p_name")) == Seq("[p0]", "[p1]", "[p2]"))
    assert(rows(m("tg").select("g_name")) == Seq("[g0]", "[g1]"))
    val noMeta = syn.parentsClosure(spark, tmp, Map("tc" -> roots),
      withMetadata = false)
    assert(noMeta("tp").columns.toSeq == Seq("p_id", "p_g"))
    assert(rows(noMeta("tp")) == rows(expP.drop("p_name")))
  }

  test("parentsClosure runs at most one job per reached type, and " +
      "collecting its local frames runs none") {
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
    def jobsOf(body: => Unit): Long =
      graft.util.RunMetrics.measure(spark)(body)._2.jobs
    def walk(): Map[String, DataFrame] = cat.parentsClosure(spark, dir,
      Map("lineitem" -> Seq((1L, 3L)).toDF("l_orderkey", "l_linenumber")))
    walk() // loads every table once; a first parquet load infers its schema
    var m = Map.empty[String, DataFrame]
    val jobs = jobsOf { m = walk() }
    assert(m.size == 7)
    // The root list is a local relation, so collecting it runs no job.
    assert(jobs <= m.size, s"$jobs jobs for ${m.size} reached types")
    assert(m.values.forall(_.queryExecution.analyzed
      .isInstanceOf[LocalRelation]))
    assert(jobsOf(m.values.foreach(_.collect())) == 0)
  }

  test("childrenClosure and the both-flags closure keep every duplicate-id " +
      "row and follow no null ref: equal to a semi-join chain on a " +
      "synthetic catalog, walked and distributed") {
    import org.apache.spark.sql.DataFrame
    val (tmp, syn) = dupNull
    def tb(n: String) = spark.read.parquet(s"$tmp/$n.parquet")
    val (gId, pId, cId) = (Seq("g_id"), Seq("p_id"), Seq("c_a", "c_b"))
    // Every row of `t` whose id tuple is in `ids`, in declared order.
    def byId(t: String, idCols: Seq[String], ids: DataFrame): DataFrame =
      tb(t).join(ids.toDF(idCols: _*).distinct(), idCols, "left_semi")
        .select(tb(t).columns.map(col).toSeq: _*)
    // The id tuples, nulls dropped, of `t`'s rows whose ref is in `refIds`.
    def down(t: String, idCols: Seq[String], ref: String,
             refIds: DataFrame): DataFrame =
      tb(t).join(refIds.toDF("__r"), col(ref) === col("__r"), "left_semi")
        .select(idCols.map(col): _*).na.drop()
    def check(m: Map[String, DataFrame], exp: Map[String, DataFrame]): Unit = {
      assert(m.keySet == exp.keySet)
      for ((tn, e) <- exp) {
        assert(m(tn).columns.toSeq == e.columns.toSeq, tn)
        assert(rows(m(tn)) == rows(e), s"$tn differs from the semi-join chain")
      }
    }
    // Children of g 100: p 10 and 12 by ref, so p3 returns by id although
    // its ref is 101; c (1, 1) and (3, 1) by ref, so c4 returns by id.
    val g = Seq(100L).toDF("g_id")
    val pDown = down("tp", pId, "p_g", g)
    val children = Map("tg" -> byId("tg", gId, g),
      "tp" -> byId("tp", pId, pDown),
      "tc" -> byId("tc", cId, down("tc", cId, "c_p", pDown)))
    // Both flags from c (3, 1): up to p 10 and 12 and to g 100 and 101,
    // then down from those accumulated sets.
    val c = Seq((3L, 1)).toDF("c_a", "c_b")
    val pUp = byId("tc", cId, c).select("c_p").na.drop()
    val gUp = byId("tp", pId, pUp).select("p_g").na.drop()
    val pAll = down("tp", pId, "p_g", gUp).union(pUp)
    val family = Map("tg" -> byId("tg", gId, gUp),
      "tp" -> byId("tp", pId, pAll),
      "tc" -> byId("tc", cId, down("tc", cId, "c_p", pAll).union(c)))
    assert(rows(children("tp").select("p_name")) ==
      Seq("[p0]", "[p1]", "[p3]", "[p4]"))
    assert(rows(children("tc").select("c_name")) ==
      Seq("[c0]", "[c1]", "[c4]", "[c5]"))
    assert(rows(family("tg").select("g_name")) == Seq("[g0]", "[g1]", "[g2]"))
    for (t <- Seq("10MB", "-1")) TestSpark.withThreshold(t) {
      check(syn.childrenClosure(spark, tmp, Map("tg" -> g)), children)
      check(syn.closure(spark, tmp, Map("tc" -> c), parents = true,
        children = true), family)
    }
  }

  test("a children walk past the budget hands over to reach with the same " +
      "rows") {
    import org.apache.spark.sql.catalyst.plans.logical.Join
    val roots = Map("customer" -> Seq(21L).toDF("c_custkey"))
    def joins(m: Map[String, org.apache.spark.sql.DataFrame]): Boolean =
      m.values.exists(_.queryExecution.analyzed.collectFirst {
        case j: Join => j }.nonEmpty)
    val walked = cat.childrenClosure(spark, dir, roots)
    assert(walked("orders").count() > 1)
    assert(!joins(walked))
    // a budget of one bigint id: the root fits, the customer's orders do not
    TestSpark.withThreshold("8") {
      val handed = cat.childrenClosure(spark, dir, roots)
      assert(joins(handed), "expected reach's width-restoring semi-joins")
      assert(handed.keySet == walked.keySet)
      for (tn <- walked.keySet) assert(rows(handed(tn)) == rows(walked(tn)), tn)
    }
  }

  test("invalid root-id maps are rejected up front (query_ids_are_valid)") {
    // unknown type name
    val e1 = intercept[IllegalArgumentException] {
      cat.childrenClosure(spark, dir,
        Map("widget" -> Seq(1L).toDF("w_id")))
    }
    assert(e1.getMessage.contains("unknown object type 'widget'"))
    // id-tuple arity: lineitem needs (l_orderkey, l_linenumber)
    val e2 = intercept[IllegalArgumentException] {
      cat.parentsClosure(spark, dir,
        Map("lineitem" -> Seq(1L).toDF("l_orderkey")))
    }
    assert(e2.getMessage.contains("l_linenumber"))
    // value type: an array column cannot cast to the table's bigint id
    val e3 = intercept[IllegalArgumentException] {
      cat.childrenClosure(spark, dir,
        Map("customer" -> Seq(Seq(21L)).toDF("c_custkey")))
    }
    assert(e3.getMessage.contains("not castable"))
    // a valid map reports no violations (string ids are coercible)
    assert(cat.rootIdViolations(spark, dir,
      Map("customer" -> Seq("21").toDF("c_custkey"))).isEmpty)
  }

  test("closure with_metadata=false drops declared metadata columns") {
    val roots = Map("orders" -> Seq(1L).toDF("o_orderkey"))
    val noMeta = cat.closure(spark, dir, roots,
      parents = false, children = true, withMetadata = false)
    assert(!noMeta("orders").columns.contains("o_orderdate"))
    assert(!noMeta("lineitem").columns.contains("l_shipdate"))
    val withMeta = cat.closure(spark, dir, roots,
      parents = false, children = true)
    assert(withMeta("orders").columns.contains("o_orderdate"),
      "metadata included by default, as the reference dumps it")
    // same objects either way — the flag is a projection, not a filter
    for (tn <- noMeta.keySet)
      assert(noMeta(tn).count() == withMeta(tn).count())
  }

  test("closures of empty roots are empty") {
    val roots = Seq.empty[Long].toDF("c_custkey")
    val m = cat.childrenClosure(spark, dir, Map("customer" -> roots))
    assert(m.values.forall(_.count() == 0))
  }

  test("rootsFromBatch: distinct id tuples per type; unknown types fail") {
    val li = Tables(spark, dir, "lineitem").filter(col("l_orderkey") <= 3L)
    // duplicated rows in the batch (a re-delivered load) still yield one
    // root per id tuple, projected to exactly the type's id columns
    val roots = cat.rootsFromBatch(Map("lineitem" -> li.union(li)))
    assert(roots.keySet == Set("lineitem"))
    assert(roots("lineitem").columns.toSeq ==
      Seq("l_orderkey", "l_linenumber"))
    // testdata carries duplicate lineitem id tuples (kcidb retains
    // duplicate-id rows), so the root count is the DISTINCT tuple count
    assert(roots("lineitem").count() ==
      li.select("l_orderkey", "l_linenumber").distinct().count())
    assert(roots("lineitem").count() <= li.count())
    val e = intercept[IllegalArgumentException] {
      cat.rootsFromBatch(Map("widgets" -> li))
    }
    assert(e.getMessage.contains("widgets"))
  }

  test("rootsFromBatch max_objs guard: over-cap batches are refused, " +
      "at-cap batches pass, zero means no limit (from_io's default)") {
    val li = Tables(spark, dir, "lineitem").filter(col("l_orderkey") <= 3L)
    val distinctIds = li.select("l_orderkey", "l_linenumber")
      .distinct().count().toInt
    // a cap below the distinct tuple count refuses, naming the type
    val e = intercept[IllegalArgumentException] {
      cat.rootsFromBatch(Map("lineitem" -> li), maxObjs = distinctIds - 1)
    }
    assert(e.getMessage.contains("lineitem") &&
      e.getMessage.contains(s"max_objs=${distinctIds - 1}"))
    // duplicate DELIVERIES don't count against the cap — the bound is on
    // distinct id tuples, as from_io slices the deduplicated id set
    val atCap = cat.rootsFromBatch(
      Map("lineitem" -> li.union(li)), maxObjs = distinctIds)
    assert(atCap("lineitem").count() == distinctIds)
    // zero = unlimited (the reference default); negative caps are invalid
    assert(cat.rootsFromBatch(Map("lineitem" -> li), maxObjs = 0)
      .contains("lineitem"))
    intercept[IllegalArgumentException] {
      cat.rootsFromBatch(Map("lineitem" -> li), maxObjs = -1)
    }
    // the guard composes through the ingest entry point too
    intercept[IllegalArgumentException] {
      cat.ingestClosure(spark, dir, Map("lineitem" -> li), maxObjs = 1)
    }
  }

  test("ingestClosure = from_io roots + <*#: loaded objects and all " +
      "their ancestors") {
    val loaded = Tables(spark, dir, "orders")
      .filter(col("o_orderkey") <= 5L)
    val viaIngest = cat.ingestClosure(spark, dir, Map("orders" -> loaded))
    val explicit = cat.parentsClosure(spark, dir,
      Map("orders" -> loaded.select("o_orderkey")))
    assert(viaIngest.keySet == explicit.keySet)
    for (tn <- viaIngest.keySet)
      assert(viaIngest(tn).collect().toSet == explicit(tn).collect().toSet,
        s"ingestClosure diverges from explicit parents closure for $tn")
    // the loaded objects themselves are matched (the `#` in `<*#`) …
    val gotOrders = viaIngest("orders").select("o_orderkey")
      .collect().map(_.getLong(0)).toSet
    val loadedIds = loaded.select("o_orderkey")
      .collect().map(_.getLong(0)).toSet
    assert(loadedIds.subsetOf(gotOrders))
    // … and so are their ancestors, up to the root type
    val custs = Tables(spark, dir, "orders")
      .filter(col("o_orderkey") <= 5L)
      .select("o_custkey").collect().map(_.getLong(0)).toSet
    assert(viaIngest("customer").select("c_custkey")
      .collect().map(_.getLong(0)).toSet == custs)
    assert(viaIngest("region").count() > 0)
    // nothing travels DOWNWARD from a loaded order: lineitem was not in
    // the batch and the parents pass never reaches it
    assert(!viaIngest.contains("lineitem"))
  }

  test("CatalogEntries.validate: every schema rule fires on the planted " +
      "fixture; extra columns are refused (additionalProperties: false)") {
    import spark.implicits._
    val got = graft.model.CatalogEntries.validate(
        graft.gates.QGates.testCatalogEntries
          .toDF("test_key", "title", "home", "description"))
      .collect()
      .map(r => r.getString(0) -> (r.getBoolean(1), r.getString(2)))
      .toMap
    assert(got("audit-suite") == (true, ""))
    assert(got("boot") == (true, ""))
    assert(got("blk_tests") == (true, "")) // non-https scheme is a URI
    assert(got("perf.bench") == (false, "bad_key"))
    assert(got("") == (false, "bad_key"))
    assert(got("space key") == (false, "bad_key"))
    assert(got("no-title") == (false, "missing_title"))
    assert(got("tab_title") == (false, "multiline_title"))
    assert(got("no-home") == (false, "missing_home"))
    assert(got("bad-home") == (false, "bad_home_uri"))
    assert(got("rel-home") == (false, "bad_home_uri"))
    assert(got("bare-min") == (false, "missing_title,missing_home"))
    val e = intercept[IllegalArgumentException] {
      graft.model.CatalogEntries.validate(
        Seq(("k", "t", "h", "d", "x"))
          .toDF("test_key", "title", "home", "description", "extra"))
    }
    assert(e.getMessage.contains("additionalProperties"))
  }
}
