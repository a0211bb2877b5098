package graft.query

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.model.Catalog

/** The kcidb ORM pattern query language, planned as Spark semi-joins.
  *
  * Grammar (faithful to /root/reference/kcidb/orm/query.py:626-720
  * STRING_DOC ABNF):
  *
  *   pattern  = relation type [spec] [match]
  *   relation = ">" (children) | "<" (parents)
  *   type     = name | "*"   ("*" traverses recursively; it REFERENCES only
  *                            the furthest reached types, plus bases with no
  *                            relations in the traversal direction)
  *   spec     = "%"          (placeholder: consumes one ID list from the
  *                            separately-supplied list of ID lists)
  *            | "[" id_list "]"  (inline; id fields may be quoted with
  *                                double quotes, backslash-escaping \" and \\)
  *   match    = "#" (match objects of all types TRAVERSED by this spec)
  *            | "$" (match objects of the types REFERENCED by this spec)
  *
  * For a named type, traversed == referenced, so `#` and `$` agree. For
  * `*`, `#` matches everything expanded into, while `$` matches only the
  * dead ends — types with no further relations in the traversal direction
  * (`>test[...]<*$` = the ultimate parents). The next step's frontier is
  * always the REFERENCED set (reference: orm/query.py:459-481 `_expand`).
  *
  * This object holds the pattern language only: parsing, id-list
  * resolution and the `#`/`$`/frontier rules. Hops and `*` steps run on
  * [[graft.model.Catalog]]'s id-space traversal: a named step is one
  * `Catalog.hop` per frontier relation into that type, a `*` step is one
  * `Catalog.reach` pass over the relation DAG. Each hop is one frontier
  * semi-join: no driver iteration over rows, so a pattern over 100 TB is a
  * fixed number of key-bounded shuffles. Only caller-supplied ID lists are
  * bounded; frontiers carry no broadcast hint (AQE decides from runtime
  * size).
  */
object PatternQuery {

  sealed trait Spec
  /** No ID restriction. */
  case object NoSpec extends Spec
  /** `%`: take the next caller-supplied ID list. */
  case object Placeholder extends Spec
  /** Inline `[a,b;c,d]` list; each inner Seq is one composite ID. */
  final case class IdList(ids: Seq[Seq[String]]) extends Spec

  final case class Step(child: Boolean, typeName: String,
                        spec: Spec, matchChar: Option[Char])

  // ------------------------------------------------------------- parser --

  private val unquotedIdChar: Char => Boolean = c =>
    c.isLetterOrDigit && c < 128 || "_:/.?%+-".contains(c)

  /** Hand-rolled scanner: regexes cannot honor quoted `]`/`;` inside ID
    * fields. Mirrors the reference ABNF including backslash escapes. */
  def parse(pattern: String): Seq[Step] = {
    var i = 0
    val n = pattern.length
    // ASCII whitespace ONLY (%x09-0d / %x20) — the reference compiles
    // its grammar with re.ASCII, so U+2028-class Unicode whitespace is
    // INVALID there and must be invalid here (r15 fuzz-parity finding)
    def ws(): Unit = while (i < n && (pattern(i) == ' ' ||
      (pattern(i) >= '\t' && pattern(i) <= '\r'))) i += 1
    def fail(msg: String): Nothing =
      throw new IllegalArgumentException(
        s"$msg at position $i in pattern: $pattern")

    def idField(): String = {
      if (i < n && pattern(i) == '"') {
        i += 1
        val sb = new StringBuilder
        while (i < n && pattern(i) != '"') {
          if (pattern(i) == '\\') {
            i += 1
            if (i >= n || (pattern(i) != '"' && pattern(i) != '\\'))
              fail("invalid escape in quoted ID field")
          } else if (pattern(i) < ' ' || pattern(i) > '~')
            // quoted fields admit PRINTABLE ASCII only (ABNF %x20-21 /
            // %x23-5b / %x5d-7e) — control chars and non-ASCII are
            // invalid in the reference's re.ASCII grammar
            fail("non-printable-ASCII character in quoted ID field")
          sb += pattern(i); i += 1
        }
        if (i >= n) fail("unterminated quoted ID field")
        i += 1
        sb.result()
      } else {
        val start = i
        while (i < n && unquotedIdChar(pattern(i))) i += 1
        if (i == start) fail("empty ID field")
        pattern.substring(start, i)
      }
    }

    def idList(): Seq[Seq[String]] = {
      val ids = Seq.newBuilder[Seq[String]]
      var more = true
      while (more) {
        val fields = Seq.newBuilder[String]
        fields += idField()
        ws()
        while (i < n && pattern(i) == ',') { i += 1; ws(); fields += idField(); ws() }
        ids += fields.result()
        if (i < n && pattern(i) == ';') { i += 1; ws() } else more = false
      }
      ids.result()
    }

    val steps = Seq.newBuilder[Step]
    ws()
    if (i >= n) fail("empty pattern")
    while (i < n) {
      val child = pattern(i) match {
        case '>' => true
        case '<' => false
        case _ => fail("expected '>' or '<'")
      }
      i += 1; ws()
      val typeName =
        if (i < n && pattern(i) == '*') { i += 1; "*" }
        else {
          val start = i
          // [a-z0-9_] ASCII-only: Char.isDigit would admit Unicode
          // digits (U+0663-class) the re.ASCII reference rejects
          while (i < n && (pattern(i) >= 'a' && pattern(i) <= 'z' ||
            pattern(i) >= '0' && pattern(i) <= '9' ||
            pattern(i) == '_')) i += 1
          if (i == start) fail("expected type name or '*'")
          pattern.substring(start, i)
        }
      ws()
      val spec: Spec =
        if (i < n && pattern(i) == '%') { i += 1; Placeholder }
        else if (i < n && pattern(i) == '[') {
          i += 1; ws()
          val ids = if (i < n && pattern(i) == ']') Seq.empty else idList()
          ws()
          if (i >= n || pattern(i) != ']') fail("expected ']'")
          i += 1
          IdList(ids)
        } else NoSpec
      ws()
      val matchChar =
        if (i < n && (pattern(i) == '#' || pattern(i) == '$')) {
          val c = pattern(i); i += 1; Some(c)
        } else None
      ws()
      steps += Step(child, typeName, spec, matchChar)
    }
    steps.result()
  }

  // ----------------------------------------------------------- planner --

  /** Execute a pattern against the catalog; returns matched rows per type
    * (every row sharing a matched id tuple, with its multiplicity — the
    * reference's final `FROM t INNER JOIN (…ids…) USING (id fields)`).
    * This is [[runAll]] of one pattern.
    *
    * Scale shape (that of [[graft.model.Catalog]], whose hops and
    * topological pass it runs on): the traversal runs in ID SPACE —
    * frontiers and match accumulators are narrow id-tuple frames, each hop
    * scans only (idCols ∪ refCols) of the relation's child table (column
    * pruning reaches the parquet scan), and ONE width-restoring semi-join
    * per matched type runs at the end. Full rows never cross a shuffle. A
    * `*` step checkpoints each type it reaches, so, like
    * `Catalog.childrenClosure`, it runs its checkpoint jobs inside this
    * call.
    *
    * @param idLists out-of-band ID lists consumed, in order, by `%` specs
    *                (reference: `obj_str_id_set_list` in orm/query.py parse).
    */
  def run(spark: SparkSession, dir: String, catalog: Catalog,
          pattern: String,
          idLists: Seq[Seq[Seq[String]]] = Seq.empty): Map[String, DataFrame] =
    runAll(spark, dir, catalog, Seq(pattern), idLists)

  /** Multi-pattern union — `kcidb-query` accepts repeated pattern strings
    * whose matches accumulate into one set
    * (/root/reference/kcidb/orm/__init__.py:841-851 `pattern_set |=
    * Pattern.parse(...)`; CLI wiring kcidb/__init__.py:370-387). Each
    * pattern runs independently; per-type matches union with distinct in
    * id space, and width is restored once at the end. All patterns share
    * one table memo.
    *
    * `%` placeholders consume `idLists` in PATTERN order (pattern 1's
    * placeholders first, then pattern 2's, …) — the concatenation of the
    * per-parse `obj_str_id_set_list`s of the reference. */
  def runAll(spark: SparkSession, dir: String, catalog: Catalog,
             patterns: Seq[String],
             idLists: Seq[Seq[Seq[String]]] = Seq.empty)
      : Map[String, DataFrame] = {
    val tbl = catalog.tableCache(spark, dir)
    var remaining = idLists
    var acc: Map[String, DataFrame] = Map.empty
    for (p <- patterns) {
      val steps = parse(p)
      val need = steps.count(_.spec == Placeholder)
      require(remaining.size >= need,
        s"not enough ID lists for '%' placeholders in: $p")
      val (mine, rest) = remaining.splitAt(need)
      remaining = rest
      for ((tn, df) <- runIds(catalog, tbl, steps, mine))
        acc = merged(acc, tn, df)
    }
    catalog.materialize(tbl, acc)
  }

  private def merged(acc: Map[String, DataFrame], tn: String,
                     df: DataFrame): Map[String, DataFrame] =
    acc.updated(tn, acc.get(tn).fold(df)(_.union(df).distinct()))

  /** The id-space planner behind [[runAll]]: matched id tuples per type
    * for one parsed pattern, whose `%` specs take `idLists` in order. */
  private def runIds(catalog: Catalog, tbl: String => DataFrame,
                     steps: Seq[Step],
                     idLists: Seq[Seq[Seq[String]]]): Map[String, DataFrame] = {
    val lists = idLists.iterator
    var frontier: Map[String, DataFrame] = Map.empty // referenced ids/type
    var results: Map[String, DataFrame] = Map.empty

    /** DISTINCT id tuples of a whole table. */
    def allIds(tn: String): DataFrame =
      tbl(tn).select(catalog.types(tn).idCols.map(col): _*).distinct()

    for (step <- steps) {
      val ids = step.spec match {
        case NoSpec => None
        case IdList(l) => Some(l)
        case Placeholder => Some(lists.next())
      }
      // the step's id filter, applied to every id set it expands into
      def keep(tn: String, df: DataFrame): DataFrame = ids.fold(df) { l =>
        val idCols = catalog.types(tn).idCols
        df.filter(l.map { idVals =>
          idCols.zip(idVals).map { case (c, v) =>
            col(c).cast("string") === lit(v)
          }.reduce(_ && _)
        }.reduceOption(_ || _).getOrElse(lit(false)))
      }
      def relsOf(tn: String) =
        if (step.child) catalog.childrenOf(tn) else catalog.parentsOf(tn)
      val root = frontier.isEmpty
      require(!root || step.child, "first pattern step must use '>'")

      // (traversed, referenced): the match targets of '#' and of '$'; the
      // referenced set is also the next step's frontier
      val (traversed, referenced) =
        if (step.typeName == "*") {
          // Recursive traversal. Referenced = types with no relations in
          // the traversal direction (including frontier types that cannot
          // expand at all — reference orm/query.py:466-472 `unused_set`).
          // A root '*' starts from every catalog type's id set, id-filtered.
          val base =
            if (!root) frontier
            else catalog.types.keys.map(tn => tn -> keep(tn, allIds(tn))).toMap
          val (all, reached) = catalog.reach(tbl, base, step.child, keep)
          (if (root) all else reached,
           all.filter { case (tn, _) => relsOf(tn).isEmpty })
        } else {
          val df =
            if (root) {
              require(catalog.types.contains(step.typeName),
                s"unknown type ${step.typeName}")
              keep(step.typeName, allIds(step.typeName))
            } else {
              val hops = for {
                (tn, from) <- frontier.toSeq
                rel <- relsOf(tn)
                if (if (step.child) rel.child else rel.parent) == step.typeName
              } yield catalog.hop(tbl, rel, from, step.child)
              require(hops.nonEmpty,
                s"no relation to type ${step.typeName} from frontier")
              keep(step.typeName,
                if (hops.sizeIs == 1) hops.head
                else hops.reduce(_ union _).distinct())
            }
          (Map(step.typeName -> df), Map(step.typeName -> df))
        }

      frontier = referenced
      val toMatch = step.matchChar match {
        case Some('#') => traversed
        case Some('$') => referenced
        case _ => Map.empty[String, DataFrame]
      }
      for ((tn, df) <- toMatch) results = merged(results, tn, df)
    }
    results
  }
}
