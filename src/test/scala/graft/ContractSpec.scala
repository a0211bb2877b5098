package graft

import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** Guards on the driver contract itself: the correctness gate only checks
  * queries that exist in BOTH maps, so a typo'd key would silently drop a
  * query from the gate instead of failing it. */
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

  test("every query has an oracle or is a declared rows-only check") {
    val missing = SparkEntry.queries.keySet -- SparkEntry.oracleSql.keySet
    assert(missing == declaredRowsOnly,
      s"undeclared oracle gaps: ${missing -- declaredRowsOnly}; " +
        s"stale rows-only declarations: ${declaredRowsOnly -- missing}")
  }

  test("no oracle SQL without a matching query") {
    val orphans = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(orphans.isEmpty, s"oracle entries with no query: $orphans")
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
    // OracleSql.scala sits directly inside a CAST( — the type is always
    // pinned explicitly.
    val src = scala.io.Source
      .fromFile("src/main/scala/graft/OracleSql.scala")(scala.io.Codec.UTF8)
    val text = try src.mkString finally src.close()
    val sumRe = "(?i)\\bSUM\\(".r
    val bad = sumRe.findAllMatchIn(text).filterNot { m =>
      m.start >= 5 &&
        text.substring(m.start - 5, m.start).equalsIgnoreCase("CAST(")
    }.map(m => text.substring(0, m.start).count(_ == '\n') + 1).toList
    assert(bad.isEmpty,
      s"uncast SUM( in OracleSql.scala at line(s) ${bad.mkString(",")} — " +
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
    assert(mains ==
      Set("Bench", "Verify", "Cli", "RunOne", "PlanDump", "ScaleUp"))
    // environment variables and system properties; the JVM's own
    // (java.io.tmpdir, ...) are not knobs
    val readRe = ("(?s)(?:sys\\.env|sys\\.props|System\\.getenv|" +
      "System\\.getProperty)\\s*(?:\\.\\s*(?:get|getOrElse|contains|apply)" +
      "\\s*)?\\(\\s*\"([^\"]+)\"").r
    val knobs = code.flatMap { case (_, text) =>
      readRe.findAllMatchIn(text).map(_.group(1))
    }.toSet.filterNot(_.startsWith("java."))
    assert(knobs == Set("SPARK_GRAFT_CPUS", "SPARK_GRAFT_SF_DIR",
      "SPARK_GRAFT_ONLY", "GRAFT_STREAM_STATE", "GRAFT_ST_CKPT_DIR",
      "graft.gate.runId", "graft.gate.sfTag"))
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
