package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.query.PatternQuery
import graft.query.PatternQuery.{IdList, NoSpec, Placeholder, Step}
import graft.model.TestCatalog
import graft.sources.Tables

class PatternQuerySpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  private val dir = TestSpark.sf
  private val cat = TestCatalog.catalog

  test("parse: steps, id specs, match markers") {
    val steps = PatternQuery.parse(">customer[21;22]>orders>lineitem#")
    assert(steps == Seq(
      Step(child = true, "customer",
        IdList(Seq(Seq("21"), Seq("22"))), None),
      Step(child = true, "orders", NoSpec, None),
      Step(child = true, "lineitem", NoSpec, Some('#'))))
  }

  test("parse: composite ids, wildcard, '$' marker") {
    val steps = PatternQuery.parse(">lineitem[5,1;6,2]<*$")
    assert(steps.head.spec == IdList(Seq(Seq("5", "1"), Seq("6", "2"))))
    assert(steps(1) == Step(child = false, "*", NoSpec, Some('$')))
  }

  test("parse: '%' placeholder and quoted id fields with escapes") {
    val steps = PatternQuery.parse(""">customer%>orders["a;b", "c\"d\\e"]#""")
    assert(steps.head.spec == Placeholder)
    assert(steps(1).spec == IdList(Seq(Seq("a;b", "c\"d\\e"))))
  }

  test("parse: whitespace tolerated as in the reference ABNF") {
    val steps = PatternQuery.parse(" > customer [ 21 ; 22 ] # ")
    assert(steps == Seq(Step(child = true, "customer",
      IdList(Seq(Seq("21"), Seq("22"))), Some('#'))))
  }

  test("parse: rejects garbage") {
    intercept[IllegalArgumentException](PatternQuery.parse(">customer[1] junk"))
    intercept[IllegalArgumentException](PatternQuery.parse(""))
    intercept[IllegalArgumentException](
      PatternQuery.parse(">customer[\"unterminated]#"))
  }

  test("run: child chain equals direct semi-join") {
    val res = PatternQuery.run(spark, dir, cat, ">customer[21]>orders#")
    val exp = Tables(spark, dir, "orders").filter(col("o_custkey") === 21)
    assert(res.keySet == Set("orders"))
    assert(res("orders").count() == exp.count())
    assert(res("orders").join(exp, Seq("o_orderkey"), "left_anti").count() == 0)
  }

  test("run: '#' on multiple steps accumulates all matched types") {
    val res = PatternQuery.run(spark, dir, cat, ">customer[21]#>orders#")
    assert(res.keySet == Set("customer", "orders"))
    assert(res("customer").count() == 1)
  }

  test("run: '<*#' matches all ancestors but not the base itself") {
    val res = PatternQuery.run(spark, dir, cat, ">lineitem[1,3]<*#")
    assert(res.keySet == Set("orders", "part", "supplier", "customer",
      "nation", "region"))
    for (t <- Seq("orders", "part", "supplier", "customer"))
      assert(res(t).count() == 1, s"$t")
    // nation/region are reached via both the customer spine and the
    // supplier side parent; 1 or 2 rows depending on the data.
    for (t <- Seq("nation", "region"))
      assert(res(t).count() >= 1 && res(t).count() <= 2, s"$t")
  }

  test("run: '<*$' matches only the ultimate parents (dead-end types)") {
    val res = PatternQuery.run(spark, dir, cat, ">lineitem[1,3]<*$")
    // parents of lineitem: orders -> customer -> nation -> region (spine),
    // part (no parents), supplier -> nation -> region. Dead ends: region,
    // part — NOT orders/customer/nation/supplier.
    assert(res.keySet == Set("region", "part"), res.keySet)
    assert(res("part").count() == 1)
    assert(res("region").count() >= 1)
  }

  test("run: '$' frontier chains — '<*$>*#' descends from the roots") {
    val res = PatternQuery.run(spark, dir, cat, ">orders[1]<*$>*#")
    // orders' ancestors: customer -> nation -> region; the dead end region
    // is matched by '$' and is the frontier of '>*#', which matches every
    // type below it. part has no parent, so nothing descends into it.
    assert(res.keySet == Set("region", "nation", "customer", "supplier",
      "orders", "lineitem"))
    def tb(n: String) = Tables(spark, dir, n)
    // a using-column join moves the key first; keep the declared order
    def semi(df: DataFrame, keys: DataFrame, k: String) =
      df.join(keys, Seq(k), "left_semi").select(df.columns.map(col): _*)
    // The direct join chain down from order 1's region.
    val region = semi(tb("region"), tb("orders")
        .filter(col("o_orderkey") === 1)
        .join(tb("customer"), col("o_custkey") === col("c_custkey"))
        .join(tb("nation"), col("c_nationkey") === col("n_nationkey"))
        .select(col("n_regionkey").as("r_regionkey")), "r_regionkey")
    val nation = semi(tb("nation"),
      region.select(col("r_regionkey").as("n_regionkey")), "n_regionkey")
    val customer = semi(tb("customer"),
      nation.select(col("n_nationkey").as("c_nationkey")), "c_nationkey")
    val supplier = semi(tb("supplier"),
      nation.select(col("n_nationkey").as("s_nationkey")), "s_nationkey")
    val orders = semi(tb("orders"),
      customer.select(col("c_custkey").as("o_custkey")), "o_custkey")
    // lineitems below the orders or the suppliers, restored by id tuple
    val li = tb("lineitem")
    val liIds = semi(li, orders.select(col("o_orderkey").as("l_orderkey")),
        "l_orderkey").select("l_orderkey", "l_linenumber")
      .union(semi(li, supplier.select(col("s_suppkey").as("l_suppkey")),
        "l_suppkey").select("l_orderkey", "l_linenumber"))
    val lineitem = li.join(liIds.distinct(), Seq("l_orderkey", "l_linenumber"),
      "left_semi").select(li.columns.map(col): _*)
    assert(region.count() == 1)
    for ((tn, exp) <- Seq("region" -> region, "nation" -> nation,
        "customer" -> customer, "supplier" -> supplier, "orders" -> orders,
        "lineitem" -> lineitem)) {
      assert(res(tn).count() == exp.count(), tn)
      assert(res(tn).exceptAll(exp).isEmpty && exp.exceptAll(res(tn)).isEmpty,
        s"$tn differs from the join chain")
    }
  }

  test("run: '%' consumes out-of-band id lists in order") {
    val res = PatternQuery.run(spark, dir, cat, ">customer%>orders#",
      idLists = Seq(Seq(Seq("21"))))
    val exp = Tables(spark, dir, "orders").filter(col("o_custkey") === 21)
    assert(res("orders").count() == exp.count())
    intercept[IllegalArgumentException](
      PatternQuery.run(spark, dir, cat, ">customer%>orders#"))
  }

  test("run: '>*$' from root matches childless types only") {
    val res = PatternQuery.run(spark, dir, cat, ">*$")
    // lineitem is the only type with no child relations
    assert(res.keySet == Set("lineitem"))
  }

  test("run: an id whose field count differs from the type's id columns " +
      "is rejected (query_ids_are_valid)") {
    // lineitem's id is (l_orderkey, l_linenumber); orders' is o_orderkey
    for (p <- Seq(">lineitem[1]#", ">lineitem[1,3,9]#", ">orders[1,1]#",
        ">*[999999]$"))
      intercept[IllegalArgumentException](PatternQuery.run(spark, dir, cat, p))
    assert(PatternQuery.run(spark, dir, cat, ">lineitem[1,3]#")("lineitem")
      .count() == 1)
  }

  test("run: '*' steps on the diamond catalog equal a BFS over the edges") {
    val dia = DiamondCatalog.catalog
    val ddir = DiamondCatalog.write()
    // Every (parent, child) edge of the object graph, on the driver.
    val edges: Seq[((String, Long), (String, Long))] =
      dia.relations.flatMap { rel =>
        val idCol = dia.types(rel.child).idCols.head
        Tables(spark, ddir, rel.child).select(idCol, rel.refCols.head)
          .collect().toSeq
          .map(r => (rel.parent, r.getLong(1)) -> (rel.child, r.getLong(0)))
      }
    // Objects reached from the roots through one or more edges.
    def bfs(roots: Set[(String, Long)], down: Boolean): Set[(String, Long)] = {
      val next = edges.map { case (p, c) => if (down) p -> c else c -> p }
        .groupMap(_._1)(_._2)
      var seen = Set.empty[(String, Long)]
      var cur = roots
      while (cur.nonEmpty) {
        val n = cur.flatMap(next.getOrElse(_, Nil))
        cur = n -- seen
        seen ++= n
      }
      seen
    }
    def deadEnd(tn: String, down: Boolean) =
      (if (down) dia.childrenOf(tn) else dia.parentsOf(tn)).isEmpty
    for ((root, ids, down) <- Seq(("ta", Seq(1L), true),
        ("ta", Seq(1L, 2L), true), ("td", Seq(30L, 32L), false),
        ("tb", Seq(11L), false), ("td", Seq(30L), true),
        ("ta", Seq(2L), false)); m <- Seq('#', '$')) {
      val roots = ids.map(root -> _).toSet
      val reached = bfs(roots, down)
      val exp = (if (m == '#') reached
                 else (roots ++ reached).filter(o => deadEnd(o._1, down)))
        .groupMap(_._1)(_._2).view.mapValues(_.toSet).toMap
      val p = s">$root[${ids.mkString(";")}]${if (down) '>' else '<'}*$m"
      val got = PatternQuery.run(spark, ddir, dia, p).map { case (tn, df) =>
        tn -> df.select(dia.types(tn).idCols.head).collect()
          .map(_.getLong(0)).toSet
      }
      assert(got == exp, p)
    }
  }

  test("run: unrelated hop fails loudly") {
    intercept[IllegalArgumentException](
      PatternQuery.run(spark, dir, cat, ">region>lineitem#"))
  }

  test("run: matches materialize by ID — duplicate-id-tuple rows all " +
      "return (reference id-join semantics)") {
    // supplier-keyed hop selects a SUBSET of a duplicate (l_orderkey,
    // l_linenumber) group; materialization by id must pull the whole group
    // back, exactly like FROM lineitem INNER JOIN (…ids…) USING (ids).
    val li = Tables(spark, dir, "lineitem")
    val res = PatternQuery.run(spark, dir, cat, ">supplier[1]>lineitem#")
    val hopRows = li.filter(col("l_suppkey") === 1)
    val expected = li.join(
      hopRows.select("l_orderkey", "l_linenumber").distinct(),
      Seq("l_orderkey", "l_linenumber"), "left_semi")
    assert(res("lineitem").count() == expected.count())
    assert(expected.count() >= hopRows.count(),
      "id-space materialization is a superset of the hop's own rows")
  }

  test("runAll: unions per-type matches across patterns, with dedup") {
    val patterns = Seq(">customer[21;22]>orders#", ">customer[21]>orders#",
      ">nation[1]>customer#")
    val m = PatternQuery.runAll(spark, dir, cat, patterns)
    assert(m.keySet == Set("orders", "customer"))
    val manual = patterns.map(PatternQuery.run(spark, dir, cat, _))
    def manualUnion(tn: String) =
      manual.flatMap(_.get(tn)).reduce(_ union _).distinct()
    assert(m("orders").count() == manualUnion("orders").count())
    assert(m("customer").count() == manualUnion("customer").count())
    // pattern 2 is a subset of pattern 1 — dedup means no double-counting
    assert(m("orders").count() ==
      PatternQuery.run(spark, dir, cat, ">customer[21;22]>orders#")(
        "orders").count())
  }

  test("runAll: '%' placeholders consume id lists in pattern order") {
    val m = PatternQuery.runAll(spark, dir, cat,
      Seq(">customer%#", ">customer%#"),
      idLists = Seq(Seq(Seq("21")), Seq(Seq("22"))))
    assert(m("customer").count() == 2)
    val keys = m("customer").select("c_custkey")
      .collect().map(_.getLong(0)).toSet
    assert(keys == Set(21L, 22L))
    intercept[IllegalArgumentException](
      PatternQuery.runAll(spark, dir, cat,
        Seq(">customer%#", ">customer%#"), idLists = Seq(Seq(Seq("21")))))
  }

  // --------------------------------------------------- grammar fuzzing --

  /** The reference grammar transliterated to a Java regex — every
    * character class copied from orm/query.py's verbose patterns
    * (compiled there with re.ASCII; Java \s is already exactly the
    * ASCII %x09-0d / %x20 set). Acceptance = fullmatch of 1*pattern,
    * the parse loop's repeated anchored match. */
  private val refAcceptor: java.util.regex.Pattern = {
    val unquoted = "[0-9A-Za-z_:/.?%+-]+"
    val quoted = "\"(?:[\\x5d-\\x7e\\x20-\\x21\\x23-\\x5b]|\\\\[\"\\\\])*\""
    val idField = s"(?:$unquoted|$quoted)"
    val id = s"$idField(?:\\s*,\\s*$idField)*"
    val idList = s"$id(?:\\s*;\\s*$id)*"
    val specIdList = s"\\[\\s*(?:$idList\\s*)?\\]"
    val spec = s"(?:%|$specIdList)"
    val pat = "\\s*[<>]\\s*(?:[a-z0-9_]+|[*])\\s*" +
      s"(?:$spec)?\\s*(?:[#$$])?\\s*"
    java.util.regex.Pattern.compile(s"(?:$pat)+")
  }

  private def oursAccepts(s: String): Boolean =
    try { PatternQuery.parse(s); true }
    catch { case _: IllegalArgumentException => false }

  test("fuzz parity: parse accepts exactly the reference grammar's set") {
    val rnd = new scala.util.Random(20260815L)
    // grammar-adjacent alphabet plus the ASCII-strictness landmines:
    // Unicode digit (U+0663), Unicode line separator (U+2028), Latin-1
    // letter, control char, DEL
    val chars = "<>*#$%[];,\"\\ \t\nabz09_:/.?+-AZé٣ "
    def randValid(): String = {
      val sb = new StringBuilder
      def ws() = if (rnd.nextInt(3) == 0)
        sb += " \t\n\r"(rnd.nextInt(4))
      def field() =
        if (rnd.nextBoolean())
          sb ++= Seq("a1", "red:107", "x.y/z?p%2B", "A-B+c")(rnd.nextInt(4))
        else sb ++= Seq("\"\"", "\"a b\"", "\"q\\\"x\"", "\"\\\\s]\" ",
          "\"[;,]\"")(rnd.nextInt(5)).trim
      for (_ <- 0 to rnd.nextInt(3)) {
        ws(); sb += "<>"(rnd.nextInt(2)); ws()
        if (rnd.nextInt(4) == 0) sb += '*'
        else sb ++= Seq("a", "build", "test_9", "0x")(rnd.nextInt(4))
        ws()
        rnd.nextInt(3) match {
          case 0 => sb += '%'
          case 1 =>
            sb += '['; ws()
            if (rnd.nextInt(4) > 0) {
              field()
              for (_ <- 0 until rnd.nextInt(3)) {
                ws(); sb += ",;"(rnd.nextInt(2)); ws(); field()
              }
            }
            ws(); sb += ']'
          case _ =>
        }
        ws()
        if (rnd.nextBoolean()) sb += "#$"(rnd.nextInt(2))
        ws()
      }
      sb.result()
    }
    var valids = 0
    for (trial <- 0 until 4000) {
      val s = trial % 4 match {
        case 0 => randValid()
        case 1 => // mutate a valid string at one position
          val v = randValid()
          if (v.isEmpty) v
          else {
            val i = rnd.nextInt(v.length)
            rnd.nextInt(3) match {
              case 0 => v.substring(0, i) + chars(rnd.nextInt(chars.length)) +
                v.substring(i)
              case 1 => v.substring(0, i) + v.substring(
                math.min(i + 1, v.length))
              case _ => v.updated(i, chars(rnd.nextInt(chars.length)))
            }
          }
        case _ => // raw noise over the landmine alphabet
          (0 until 1 + rnd.nextInt(12))
            .map(_ => chars(rnd.nextInt(chars.length))).mkString
      }
      if (s.nonEmpty) { // "" is vacuous 0*pattern either way; doc'd below
        val ref = refAcceptor.matcher(s).matches()
        val ours = oursAccepts(s)
        assert(ours == ref,
          s"acceptance divergence on " +
            s"${s.map(c => f"\\u${c.toInt}%04x").mkString}" +
            s" (rendered: $s): ours=$ours reference=$ref")
        if (ref) valids += 1
      }
    }
    assert(valids > 800, s"generator degenerated: only $valids accepted")
    // the reference's parse LOOP vacuously accepts "" (its documented
    // ABNF requires 1*pattern); we keep the documented grammar and
    // fail loudly — pinned so the deviation is deliberate
    assert(!oursAccepts(""))
  }

  test("fuzz structure: accepted strings decompose into the regex's groups") {
    val one = java.util.regex.Pattern.compile(
      "\\s*(?<relation>[<>])\\s*(?<type>[a-z0-9_]+|[*])\\s*" +
        "(?<spec>%|\\[[^\\]]*\\])?\\s*(?<match>[#$])?\\s*")
    val samples = Seq(">build%#", "  < a [x;y,\"q\\\"z\"] $ >*#",
      ">test[redhat:1077834_0; redhat:1077834_1]<build#",
      ">revision[c763deac7ff, 932e2d61add]#>*#", ">*$", "<*",
      ">a[]#", "> a % $ < b")
    for (s <- samples; if oursAccepts(s)) {
      val steps = PatternQuery.parse(s)
      val m = one.matcher(s)
      var pos = 0
      var k = 0
      while (pos < s.length) {
        assert(m.find(pos) && m.start == pos, s"regex stalls in $s at $pos")
        val st = steps(k)
        assert((m.group("relation") == ">") == st.child, s"$s step $k rel")
        assert(m.group("type") == st.typeName, s"$s step $k type")
        val specKind = Option(m.group("spec")).map(_.charAt(0))
        st.spec match {
          case Placeholder => assert(specKind.contains('%'), s"$s step $k")
          case IdList(_) => assert(specKind.contains('['), s"$s step $k")
          case NoSpec => assert(specKind.isEmpty, s"$s step $k")
        }
        assert(Option(m.group("match")).map(_.charAt(0)) == st.matchChar,
          s"$s step $k match")
        pos = m.end
        k += 1
      }
      assert(k == steps.length, s"$s: step count ${steps.length} != $k")
    }
  }
}
