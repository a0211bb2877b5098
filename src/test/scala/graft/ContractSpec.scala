package graft

import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** Guards on the driver contract itself: the gate list, the oracle SQL
  * it renders, and the ledger and entry points around it. */
class ContractSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  /** Not SQL-expressible even via exported models; the driver records a
    * rows-only check and the specs + oracle_check audits assert
    * semantics. (r13 drained the ANN family: s02-s04/s07-s09/st05 now
    * export their fitted models — codebooks, centroids, SRP planes — as
    * parquet the oracle reads back, making everything downstream
    * SQL-derivable, and d02/d03/d13 export their shingle/token hash
    * dictionaries the same way. s13, m08 and d08 flipped too: s13's
    * profile re-derives from the two exported centroid fits, m08's
    * pairing from the exported aHash frame, d08's greedy rule from its
    * exported k-means fit. r17 drained the last three: k01/k02/st09
    * now route their sketch estimates through ModelStore exports the
    * oracle reads back — exact anchors recomputed in both engines,
    * estimate bytes shared — so the set is EMPTY: every gate carries a
    * full SQL oracle.
    *
    * Independence caveat (ADVICE r17), so no future reader drops the
    * audits believing the SQL hash covers everything: for k01/k02/st09
    * the ESTIMATE columns (ndv_hll, p50/p90/p99) are self-certified —
    * the oracle reads back the gate's own exported estimate bytes, and
    * only the exact anchor columns are cross-engine recomputed. The
    * independent checks on those estimates are the driver-side audits
    * (tools/oracle_check.py k01_audit/k02_audit/st09_audit: HLL within
    * 5·rsd of an exact DuckDB recount, quantiles inside the rank
    * window) plus the in-tree error-contract gates (k07/k08/st14).
    * Keep those audits alive as long as these gates exist. */
  private val declaredRowsOnly = Set.empty[String]

  test("gate names are unique across families") {
    // A Gate carries its plan and its SQL together, so neither map can
    // miss the other's key; but both maps are built with toMap, which
    // would silently drop one of two gates sharing a name.
    val names = gates.Gate.all.map(_.name)
    val dups = names.diff(names.distinct)
    assert(dups.isEmpty, s"gate names registered twice: ${dups.distinct}")
  }

  test("gate key set and every rendered oracle SQL match the pinned " +
      "digest") {
    // Pins what Verify dumps to oracle_sql.json, so moving a gate's plan
    // or SQL between files cannot change a byte of it. The run id and the
    // absolute model root differ per JVM and checkout: both are replaced
    // by placeholders. A constant read before its object is initialized
    // would render as `null` and move the digest.
    val prop = "graft.gate.sfTag"
    val saved = sys.props.get(prop)
    sys.props(prop) = "sf0.01"
    val sql =
      try SparkEntry.oracleSql
      finally saved match {
        case Some(v) => sys.props(prop) = v
        case None => sys.props -= prop
      }
    val root = java.util.regex.Pattern.quote(
      new java.io.File("target/gate_models").getAbsolutePath)
    val runPath = s"$root/sf0\\.01/[^/]+/".r
    val keys = SparkEntry.queries.keySet.toSeq.sorted
    val md = java.security.MessageDigest.getInstance("SHA-256")
    def put(s: String): Unit =
      md.update((s + "\u0000").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    keys.foreach(put)
    for ((name, text) <- sql.toSeq.sortBy(_._1)) {
      put(name)
      put(runPath.replaceAllIn(text, "<MODELS>/sf0.01/<RUN>/"))
    }
    val digest = md.digest().map("%02x".format(_)).mkString
    assert(keys.size == 182 && sql.size == 182)
    assert(sql.values.count(runPath.findFirstIn(_).isDefined) >= 10)
    assert(digest ==
      "d8842420c0d8be260fdd64c5f473ef2688881b0f7fb669a2d3637b8a7e1f27d9")
  }

  test("flagship entry returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("SURVEY §2 ledger matches SparkEntry.queries exactly") {
    // Every coverage row's key (3rd cell of a table row) must name a gate
    // query, and every gate query must have a row — pins the ledger so a
    // shipped operator can't stay undocumented (round-6/7 audit finding).
    val keyPattern = "^(q|d|s|t|m|p|k|e|g|st)\\d+\\w*_\\w+$".r
    val src = scala.io.Source.fromFile("SURVEY.md")(scala.io.Codec.UTF8)
    val surveyKeys =
      try src.getLines().filter(_.startsWith("|")).flatMap { l =>
        l.split("\\|").map(_.trim).lift(2)
          .filter(keyPattern.pattern.matcher(_).matches)
      }.toSet
      finally src.close()
    assert(surveyKeys == SparkEntry.queries.keySet,
      s"undocumented queries: ${SparkEntry.queries.keySet -- surveyKeys}; " +
        s"stale SURVEY rows: ${surveyKeys -- SparkEntry.queries.keySet}")
  }

  test("SURVEY §2 oracle column matches the declared rows-only set") {
    // 4th cell of each row is `sql` or `rows`; the `rows` set must equal
    // declaredRowsOnly exactly, so the ledger can't claim an oracle a
    // query doesn't have (or vice versa).
    val keyPattern = "^(q|d|s|t|m|p|k|e|g|st)\\d+\\w*_\\w+$".r
    val src = scala.io.Source.fromFile("SURVEY.md")(scala.io.Codec.UTF8)
    val surveyRowsOnly =
      try src.getLines().filter(_.startsWith("|")).flatMap { l =>
        val cells = l.split("\\|").map(_.trim)
        for {
          k <- cells.lift(2) if keyPattern.pattern.matcher(k).matches
          o <- cells.lift(4) if o == "rows"
        } yield k
      }.toSet
      finally src.close()
    assert(surveyRowsOnly == declaredRowsOnly,
      s"SURVEY claims rows-only but oracle exists: " +
        s"${surveyRowsOnly -- declaredRowsOnly}; " +
        s"oracle-less but marked sql: ${declaredRowsOnly -- surveyRowsOnly}")
  }

  test("every oracle SUM is CAST-wrapped (DuckDB HUGEINT hash trap)") {
    // DuckDB widens integer SUM (plain or windowed) to HUGEINT; the
    // driver's hasher distinguishes it from Spark's BIGINT even when
    // every value matches (the round-8 q37 failure). Rule: every SUM( in
    // the rendered oracle SQL (what Verify writes to oracle_sql.json)
    // sits directly inside a CAST( — the type is always pinned
    // explicitly.
    val sumRe = "(?i)\\bSUM\\(".r
    val bad = SparkEntry.oracleSql.toSeq.sortBy(_._1).flatMap {
      case (name, text) =>
        val n = sumRe.findAllMatchIn(text).count { m =>
          !(m.start >= 5 &&
            text.substring(m.start - 5, m.start).equalsIgnoreCase("CAST("))
        }
        if (n > 0) Some(s"$name ($n)") else None
    }
    assert(bad.isEmpty,
      s"uncast SUM( in the oracle SQL of ${bad.mkString(", ")} — " +
        "wrap in CAST(SUM(...) AS <type>) to pin the oracle's result type")
  }

  test("entry points and the environment they read are exactly the " +
      "declared sets") {
    // A main nobody runs, or a knob nobody sets, is code no gate,
    // workload or user path exercises: adding one must edit this test.
    val files = {
      val walk = java.nio.file.Files.walk(java.nio.file.Paths.get("src/main"))
      try walk.iterator().asScala.filter(_.toString.endsWith(".scala"))
        .toList finally walk.close()
    }
    // code lines only: scaladoc and line comments may name anything
    val code = files.map { f =>
      val src = scala.io.Source.fromFile(f.toFile)(scala.io.Codec.UTF8)
      val text = try src.mkString finally src.close()
      f -> text.split("\n").filterNot { l =>
        val t = l.trim
        t.startsWith("*") || t.startsWith("/*") || t.startsWith("//")
      }.mkString("\n")
    }
    val objRe = "\\bobject\\s+(\\w+)".r
    val mains = code.flatMap { case (_, text) =>
      val objs = objRe.findAllMatchIn(text).map(m => m.start -> m.group(1))
        .toList
      "\\bdef\\s+main\\s*\\(|\\bextends\\s+App\\b".r.findAllMatchIn(text)
        .map(m => objs.takeWhile(_._1 < m.start).last._2)
    }.toSet
    assert(mains == Set("Bench", "Verify", "Cli", "ScaleUp"))
    // environment variables and system properties; the JVM's own
    // (java.io.tmpdir, ...) are not knobs
    val readRe = ("(?s)(?:sys\\.env|sys\\.props|System\\.getenv|" +
      "System\\.getProperty)\\s*(?:\\.\\s*(?:get|getOrElse|contains|apply)" +
      "\\s*)?\\(\\s*\"([^\"]+)\"").r
    val knobs = code.flatMap { case (_, text) =>
      readRe.findAllMatchIn(text).map(_.group(1))
    }.toSet.filterNot(_.startsWith("java."))
    assert(knobs == Set("SPARK_GRAFT_CPUS", "SPARK_GRAFT_SF_DIR",
      "SPARK_GRAFT_ONLY", "GRAFT_ST_CKPT_DIR", "graft.gate.runId",
      "graft.gate.sfTag"))
    // Spark conf keys of graft's own, read through the session conf
    val confKeys = code.flatMap { case (_, text) =>
      "\"(spark\\.graft\\.[^\"]*)\"".r.findAllMatchIn(text).map(_.group(1))
    }.toSet
    assert(confKeys == Set("spark.graft.ohaAutoRaise"))
    // every read goes through a literal name the set above can see
    val dynamic = code.flatMap { case (f, text) =>
      "(?:sys\\.env|sys\\.props|System\\.getenv|System\\.getProperty)\\b".r
        .findAllMatchIn(text)
        .filterNot(m => readRe.findPrefixOf(text.substring(m.start)).isDefined)
        .map(m => s"${f.getFileName}:${text.substring(0, m.start)
          .count(_ == '\n') + 1}")
    }
    assert(dynamic.isEmpty, s"non-literal env/property reads: $dynamic")
  }

  test("every query plans against the test scale factor") {
    // Analysis errors (bad column, unresolved function) surface here even
    // for queries whose execution the oracle gate would catch later.
    for ((name, fn) <- SparkEntry.queries)
      withClue(name)(fn(spark, TestSpark.sf).queryExecution.analyzed)
  }
}
