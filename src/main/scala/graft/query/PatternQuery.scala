package graft.query

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructField, StructType}
import graft.model.{Catalog, GraftRelation}

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
  * [[graft.model.Catalog]]'s id-space traversal. A pattern that starts
  * from an id list holds its frontier on the driver: a named step is a
  * `Catalog.walk` over the frontier's relations into that type, a `*` step
  * a walk over the relation DAG, each one filtered scan per reached type,
  * for as long as every reached id set fits the session's broadcast
  * budget. Any other frontier runs distributed: a named step is one
  * `Catalog.hop` per frontier relation, a `*` step one `Catalog.reach`
  * pass, each hop one frontier semi-join, so a pattern over 100 TB is a
  * fixed number of key-bounded shuffles. Frontiers carry no broadcast hint
  * (AQE decides from runtime size).
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
    * Scale shape (that of [[graft.model.Catalog]], whose traversals it runs
    * on): the traversal runs in ID SPACE — frontiers and match
    * accumulators are id tuples, each hop reads only (idCols ∪ refCols) of
    * the relation's child table going down (column pruning reaches the
    * parquet scan), and width is restored once per matched type at the
    * end. A pattern that starts from an id list walks on the driver while
    * its frontier fits the budget, so its scans run inside this call; a
    * distributed `*` step checkpoints each type it reaches, so it too runs
    * its checkpoint jobs here.
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
    var acc = Matches()
    for (p <- patterns) {
      val steps = parse(p)
      val need = steps.count(_.spec == Placeholder)
      require(remaining.size >= need,
        s"not enough ID lists for '%' placeholders in: $p")
      val (mine, rest) = remaining.splitAt(need)
      remaining = rest
      acc = runIds(catalog, tbl, steps, mine, acc)
    }
    // Width is restored by id: from the rows a walk collected for exactly
    // the matched set, else by a filtered scan; any frame takes the
    // width-restoring semi-join.
    val held = acc.held.map { case (tn, set) =>
      tn -> acc.rows.get(tn).collect { case (`set`, df) => df }
        .getOrElse(catalog.rowsById(tbl, tn, set))
    }
    held ++ catalog.materialize(tbl, acc.frames.map { case (tn, df) =>
      tn -> acc.held.get(tn).fold(df)(set =>
        df.union(catalog.localIds(tbl, Map(tn -> set))(tn)).distinct())
    })
  }

  /** Matched ids per type: sets held on the driver, frames from steps that
    * ran distributed, and the rows a walk found for a held set. */
  private final case class Matches(
      held: Map[String, Set[Row]] = Map.empty,
      frames: Map[String, DataFrame] = Map.empty,
      rows: Map[String, (Set[Row], DataFrame)] = Map.empty) {
    def add(ids: Ids): Matches = ids match {
      case Held(m) => copy(held = m.foldLeft(held) { case (h, (tn, s)) =>
        h.updated(tn, h.getOrElse(tn, Set.empty[Row]) ++ s) })
      case Frames(m) => copy(frames = m.foldLeft(frames) {
        case (f, (tn, df)) =>
          f.updated(tn, f.get(tn).fold(df)(_.union(df).distinct()))
      })
    }
  }

  /** Id tuples per type: held on the driver, or distributed frames. */
  private sealed trait Ids { def m: Map[String, Any] }
  private final case class Held(m: Map[String, Set[Row]]) extends Ids
  private final case class Frames(m: Map[String, DataFrame]) extends Ids

  /** The id-space planner behind [[runAll]]: adds one parsed pattern's
    * matches to `acc`, its `%` specs taking `idLists` in order.
    *
    * A pattern whose first step names a type and an id list finds that
    * type's ids with one scan ([[Catalog.idsWhere]]) and holds them on the
    * driver. While the frontier is held, named hops and `*` steps run on
    * [[Catalog.walk]]; once a scan passes the budget, that step and the
    * rest of the pattern take [[Catalog.hop]] and [[Catalog.reach]] from
    * frames. */
  private def runIds(catalog: Catalog, tbl: String => DataFrame,
                     steps: Seq[Step], idLists: Seq[Seq[Seq[String]]],
                     acc: Matches): Matches = {
    val lists = idLists.iterator
    var frontier: Ids = Frames(Map.empty) // referenced ids per type
    var out = acc

    /** DISTINCT id tuples of a whole table. */
    def allIds(tn: String): DataFrame =
      tbl(tn).select(catalog.types(tn).idCols.map(col): _*).distinct()

    for (step <- steps) {
      val ids = step.spec match {
        case NoSpec => None
        case IdList(l) => Some(l)
        case Placeholder => Some(lists.next())
      }
      // The step's id filter over the columns that hold a `tn` id tuple,
      // applied to every id set the step expands into: each id column's
      // string form equals the id's field. An id must name every id
      // column of the type (kcidb's query_ids_are_valid).
      def keep(tn: String, cols: Seq[Column]): Column = ids.fold(lit(true)) {
        l =>
          val idCols = catalog.types(tn).idCols
          for (id <- l)
            require(id.size == idCols.size,
              s"id [${id.mkString(",")}] has ${id.size} field(s) but " +
                s"type $tn has ${idCols.size} id column(s): " +
                idCols.mkString(", "))
          Catalog.tupleIn(cols, StructType(idCols.map(StructField(_,
            StringType))), l.map(Row.fromSeq).toSet)
      }
      def kept(tn: String, df: DataFrame): DataFrame =
        df.filter(keep(tn, catalog.types(tn).idCols.map(col)))
      def relsOf(tn: String) =
        if (step.child) catalog.childrenOf(tn) else catalog.parentsOf(tn)
      def deadEnds[T](m: Map[String, T]) = m.filter(kv => relsOf(kv._1).isEmpty)
      val root = frontier.m.isEmpty
      require(!root || step.child, "first pattern step must use '>'")
      val star = step.typeName == "*"
      require(star || catalog.types.contains(step.typeName),
        s"unknown type ${step.typeName}")
      // the relations a named step crosses from the frontier
      def source(rel: GraftRelation) = if (step.child) rel.parent else rel.child
      val into = if (star) Nil else for {
        tn <- frontier.m.keys.toSeq
        rel <- relsOf(tn)
        if (if (step.child) rel.child else rel.parent) == step.typeName
      } yield rel
      require(root || star || into.nonEmpty,
        s"no relation to type ${step.typeName} from frontier")

      // (traversed, referenced): the match targets of '#' and of '$'; the
      // referenced set is also the next step's frontier
      def viaFrames(from: Map[String, DataFrame]): (Ids, Ids) =
        if (star) {
          // Recursive traversal. Referenced = types with no relations in
          // the traversal direction (including frontier types that cannot
          // expand at all — reference orm/query.py:466-472 `unused_set`).
          // A root '*' starts from every catalog type's id set, id-filtered.
          val base =
            if (!root) from
            else catalog.types.keys.map(tn => tn -> kept(tn, allIds(tn))).toMap
          val (all, reached) = catalog.reach(tbl, base, step.child, kept)
          (Frames(if (root) all else reached), Frames(deadEnds(all)))
        } else {
          val df =
            if (root) kept(step.typeName, allIds(step.typeName))
            else {
              val hops = into.map(rel =>
                catalog.hop(tbl, rel, from(source(rel)), step.child))
              kept(step.typeName,
                if (hops.sizeIs == 1) hops.head
                else hops.reduce(_ union _).distinct())
            }
          (Frames(Map(step.typeName -> df)), Frames(Map(step.typeName -> df)))
        }
      def viaWalk(from: Map[String, Set[Row]]): Option[(Ids, Ids)] =
        catalog.walk(tbl,
            if (star) from
            else from.filter(kv => into.exists(source(_) == kv._1)),
            step.child, rels = if (star) catalog.relations else into,
            keep = keep)
          .map { w =>
            out = out.copy(rows = out.rows ++ w.rows.map {
              case (tn, df) => tn -> (w.ids(tn), df) })
            if (star) (Held(w.reached), Held(deadEnds(w.ids)))
            else {
              val m = Held(Map(step.typeName -> w.reached(step.typeName)))
              (m, m)
            }
          }

      val (traversed, referenced) = frontier match {
        case _ if root && !star && ids.nonEmpty =>
          val tn = step.typeName
          catalog.idsWhere(tbl, tn, keep(tn, catalog.types(tn).idCols.map(col)))
            .map(s => (Held(Map(tn -> s)), Held(Map(tn -> s))))
            .getOrElse(viaFrames(Map.empty))
        case Held(h) if !root =>
          viaWalk(h).getOrElse(viaFrames(catalog.localIds(tbl, h)))
        case Held(_) => viaFrames(Map.empty)
        case Frames(f) => viaFrames(f)
      }

      frontier = referenced
      step.matchChar match {
        case Some('#') => out = out.add(traversed)
        case Some('$') => out = out.add(referenced)
        case _ =>
      }
    }
    out
  }
}
