package graft
package gates

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One gate: an operator's Spark plan and the DuckDB SQL its output must
  * hash-match. Determinism rules (SURVEY.md §4): decimal-exact sums
  * surfaced as doubles, no raw timestamps in outputs, explicit ORDER BY
  * everywhere, aliases identical between Spark and SQL.
  *
  * The SQL is rendered on every call, never frozen: the exported-model
  * oracles embed [[Shared.gateModelSqlPath]], which reads the
  * `graft.gate.sfTag` property and the run id. A string frozen at first
  * touch would point a JVM that renders before Verify pins the tag (or
  * verifies two sf dirs) at the wrong sf's models, failing only as a
  * confusing hash mismatch. */
final class Gate(val name: String,
    val build: (SparkSession, String) => DataFrame, sql: => String) {
  def oracleSql: String = sql
}

object Gate {
  /** Every gate: one per operator in SURVEY.md §2. */
  lazy val all: Seq[Gate] = Seq(QGates, DGates, EGates, GGates, KGates,
    MGates, PGates, SGates, StGates, TGates).flatMap(_.gates)
}

/** A family object registers its gates, each a build over
  * `(session, sf dir)` and its oracle SQL, as it initializes. */
abstract class Family {
  private val registered = scala.collection.mutable.ArrayBuffer.empty[Gate]
  protected def gate(name: String)(
      build: (SparkSession, String) => DataFrame)(sql: => String): Unit =
    registered += new Gate(name, build, sql)
  def gates: Seq[Gate] = registered.toSeq
}
