package graft.model

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.{GraftColumnBridge => B}
import org.apache.spark.sql.catalyst.CatalystTypeConverters
import org.apache.spark.sql.catalyst.expressions.InSet
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import scala.jdk.CollectionConverters._

/** A typed object graph: the Spark-native analog of kcidb's ORM schema
  * (/root/reference/kcidb/orm/data.py:11-254 — `Type`, `Relation`, `Schema`).
  *
  * kcidb organizes report objects (checkout → build → test, issue →
  * issue_version → incident) into a parent/child graph keyed by ID fields,
  * and drives ID-closure queries and the pattern query language off that
  * graph. graft generalizes the same registry over any star/snowflake
  * schema: each `GraftType` names a table and its ID columns; each
  * `GraftRelation` says which child columns reference the parent's ID.
  *
  * This class alone knows how an id set crosses a relation ([[hop]]) and
  * how the fixpoint over the relation DAG is computed ([[reach]], one
  * topological pass); the children closures and PatternQuery's hops and
  * `*` steps run on them. A hop is a semi-join in ID space (never
  * row-at-a-time), so a closure step at 100 TB is one shuffle bounded by
  * the frontier, and Catalyst can broadcast small frontiers: a parent's
  * fan-out is unbounded. [[reach]] checkpoints each type it reaches, so a
  * children closure or a `*` step runs its checkpoint jobs inside the
  * call. Parents traversal is bounded instead. Every relation is
  * many-to-one, so a parent id set is never larger than the child rows it
  * is read from, and the whole parents closure is bounded by its roots,
  * which must already fit on the driver. So the parents direction walks
  * on the driver: one filtered scan per reached type, collected, and the
  * result returned as local frames.
  */
/** @param required columns that must be non-null (kcidb JSON-schema
  *                 `required` fields, orm/data.py:89-123)
  * @param formats  (column, anchored regex) shape constraints (kcidb id/
  *                 origin format rules)
  * @param metaCols metadata columns — included in query/dump output only
  *                 when the caller asks for metadata, like the reference's
  *                 `metadata_expr` columns (`_timestamp`,
  *                 db/sql/schema.py:37-64, db/abstract.py:192-315) */
final case class GraftType(name: String, idCols: Seq[String],
                           required: Seq[String] = Seq.empty,
                           formats: Seq[(String, String)] = Seq.empty,
                           metaCols: Seq[String] = Seq.empty)

/** `refCols` are columns OF THE CHILD that hold the parent's ID values, in
  * the same order as the parent's `idCols` — exactly kcidb's
  * `Relation.ref_fields` (orm/data.py:14-32). */
final case class GraftRelation(parent: String, child: String, refCols: Seq[String])

final class Catalog(
    val types: Map[String, GraftType],
    val relations: Seq[GraftRelation]) {

  val childrenOf: Map[String, Seq[GraftRelation]] =
    relations.groupBy(_.parent).withDefaultValue(Seq.empty)
  val parentsOf: Map[String, Seq[GraftRelation]] =
    relations.groupBy(_.child).withDefaultValue(Seq.empty)

  def load(spark: SparkSession, dir: String, typeName: String): DataFrame =
    graft.sources.Tables(spark, dir, typeName)

  /** Structural root-id validation — the analog of the reference's
    * `query_ids_are_valid` (/root/reference/kcidb/db/abstract.py:245-281),
    * which every `query_iter` call asserts before executing
    * (abstract.py:310). A root map is valid iff every key names a catalog
    * type, every frame carries all of that type's id columns (the id-tuple
    * arity check), and each id column's Spark type is castable to the
    * table's id column type (the value-type check). Returns the violation
    * list; empty = valid. Metadata-only — no job runs. */
  def rootIdViolations(spark: SparkSession, dir: String,
                       roots: Map[String, DataFrame]): Seq[String] =
    rootIdViolationsWith(tableCache(spark, dir), roots)

  private def rootIdViolationsWith(tbl: String => DataFrame,
                                   roots: Map[String, DataFrame])
      : Seq[String] =
    roots.toSeq.sortBy(_._1).flatMap { case (tn, df) =>
      types.get(tn) match {
        case None => Seq(s"unknown object type '$tn'")
        case Some(t) =>
          val missing = t.idCols.filterNot(df.columns.contains)
          if (missing.nonEmpty)
            Seq(s"root ids for '$tn' lack id column(s) " +
              missing.mkString("(", ", ", ")") +
              s" — expected arity ${t.idCols.size}")
          else {
            val tblSchema = tbl(tn).schema
            t.idCols.flatMap { c =>
              val from = df.schema(df.schema.fieldIndex(c)).dataType
              val to = tblSchema(tblSchema.fieldIndex(c)).dataType
              if (org.apache.spark.sql.catalyst.expressions.Cast
                  .canCast(from, to)) None
              else Some(s"root id column '$tn.$c' is ${from.simpleString}, " +
                s"not castable to the table's ${to.simpleString}")
            }
          }
      }
    }

  /** Data-driven root-id check over COMPOSITE id strings (the repo's
    * '_'-joined id-tuple encoding, cf. q29's output): for each candidate
    * (object_type, id) row, catalog-generated validity columns —
    * `known_type` (the name names a type), `valid` (known AND the id
    * splits into exactly arity parts AND every part try-casts to that id
    * column's table type: the reference's tuple-arity + value-type rules
    * as data instead of assertions), and `id_exists` (the id matches a
    * row — beyond the reference, which never probes existence).
    *
    * Scale shape: the validity columns are pure per-row expressions (one
    * CASE chain over catalog metadata, codegen'd, zero shuffles); the
    * existence probe SEMI-JOINS each type's id projection (the scan reads
    * ONLY the id columns — pruned to parquet) against the broadcast
    * candidate set, so at most |candidates| rows survive any table and
    * nothing corpus-sized is ever distinct-shuffled. The broadcast hint
    * is on the caller-supplied bounded candidate list — the §5 rule. */
  def checkRootIds(spark: SparkSession, dir: String,
                   cands: DataFrame): DataFrame = {
    val sorted = types.values.toSeq.sortBy(_.name)
    val known = col("object_type").isin(types.keys.toSeq: _*)
    // One load per type (the tableCache memo), shared by the shape check
    // (schema) and the existence probe (scan): each spark.read re-infers
    // the parquet schema from footers, and the doubled footer pass was the
    // dominant cost of this metadata-heavy query (measured 1.1-1.8 s of
    // frame BUILD vs 0.5 s of execution at sf0.1).
    val tbl = tableCache(spark, dir)
    def perType(f: GraftType => Column): Column =
      sorted.foldLeft(lit(null).cast("boolean")) { (acc, t) =>
        when(col("object_type") === t.name, f(t)).otherwise(acc)
      }
    val shapeOk = perType { t =>
      val schema = tbl(t.name).schema
      val parts = t.idCols.zipWithIndex.map { case (c, i) =>
        val dt = schema(schema.fieldIndex(c)).dataType.sql
        expr(s"try_cast(try_element_at(split(id, '_'), ${i + 1}) AS $dt)")
          .isNotNull
      }
      (size(split(col("id"), "_")) === t.idCols.size) && parts.reduce(_ && _)
    }
    val candKeys = broadcast(cands.select("object_type", "id"))
    val hits = sorted.map { t =>
        tbl(t.name).select(
            lit(t.name).as("object_type"),
            concat_ws("_", t.idCols.map(c => col(c).cast("string")): _*)
              .as("id"))
          .join(candKeys.filter(col("object_type") === t.name),
            Seq("object_type", "id"), "left_semi")
      }.reduce(_ union _)
      .distinct() // ≤ |candidates| rows by construction
      .withColumn("__hit", lit(true))
    cands
      .withColumn("known_type", known)
      .withColumn("valid", known && coalesce(shapeOk, lit(false)))
      .join(hits, Seq("object_type", "id"), "left")
      .select(col("object_type"), col("id"), col("known_type"), col("valid"),
        coalesce(col("__hit"), lit(false)).as("id_exists"))
  }

  /** Caller-supplied root ID lists → broadcast-hinted distinct id frames.
    * Only these bounded inputs ever carry a broadcast hint; derived
    * frontiers are data-dependent and unbounded at scale, so their
    * semi-joins carry no hint and AQE picks broadcast vs shuffle from the
    * runtime size. Precondition: [[rootIdViolations]] must be empty (the
    * reference asserts the same on every query, abstract.py:310) — an
    * invalid map fails HERE with the full violation list instead of as a
    * bare Map-key error inside plan construction. */
  private def rootIds(tbl: String => DataFrame,
                      roots: Map[String, DataFrame]): Map[String, DataFrame] = {
    val errs = rootIdViolationsWith(tbl, roots)
    require(errs.isEmpty, s"invalid root ids: ${errs.mkString("; ")}")
    roots.map { case (tn, ids) =>
      // localCheckpoint: a root id frame feeds every outgoing hop of
      // reach AND materialize's width-restoring semi-join —
      // without it each consumer re-runs the frame's scan and distinct
      // exchange. eager = false does NOT make it free: under AQE the
      // checkpoint calls physicalPlan.execute(), which runs every shuffle
      // and broadcast stage of the frame here, at call time, so a
      // children closure runs jobs before its caller's first action
      // (the jobs perfbench's model.closure_jobs counts inside the
      // closure call itself).
      tn -> broadcast(ids.select(types(tn).idCols.map(col): _*).distinct()
        .localCheckpoint(eager = false))
    }
  }

  /** Per-query-construction table memo: every `spark.read` re-infers the
    * parquet schema from footers, and the closure chain (root validation →
    * id expansion → width-restoring materialize) touched the same tables
    * up to four times each — the build phase of the closure queries was
    * footer-dominated (the q33 finding, measured 1.1-1.8 s vs 0.5 s of
    * execution). One memo per top-level call keeps a query's view of each
    * table to ONE load — also one consistent file-listing snapshot. */
  private[graft] def tableCache(spark: SparkSession,
                                dir: String): String => DataFrame = {
    val m = scala.collection.mutable.Map.empty[String, DataFrame]
    tn => m.getOrElseUpdate(tn, load(spark, dir, tn))
  }

  /** Matched id sets → full rows, one width-restoring semi-join per
    * reached type (rows with duplicate id tuples are all retained, as in
    * the reference's final `FROM t INNER JOIN (…ids…) USING (id)`).
    * Output is re-projected to the table's declared column order:
    * using-column joins move key columns to the front, and callers may
    * union the returned frames POSITIONALLY — a silently misaligned
    * union would produce garbage rows that survive distinct().
    * `withMetadata = false` drops each type's declared [[GraftType.metaCols]]
    * from the output (query_iter's with_metadata flag,
    * db/abstract.py:283-315) — the scan then never READS them either
    * (column pruning reaches parquet). */
  private[graft] def materialize(tbl: String => DataFrame,
                                 ids: Map[String, DataFrame],
                                 withMetadata: Boolean = true)
      : Map[String, DataFrame] =
    ids.map { case (tn, idDf) =>
      val t = tbl(tn)
      val full = t.join(idDf, types(tn).idCols, "left_semi")
        .select(t.columns.map(col).toSeq: _*)
      tn -> (if (withMetadata) full else full.drop(types(tn).metaCols: _*))
    }

  /** Types in propagation order for one traversal direction (down:
    * parents before children; up: the reverse). The relation graph is
    * a DAG; Kahn's algorithm with a sorted tie-break keeps it
    * deterministic. */
  private def topoOrder(down: Boolean): Seq[String] = {
    val out: Map[String, Seq[String]] =
      (if (down) relations.groupBy(_.parent).view.mapValues(_.map(_.child))
       else relations.groupBy(_.child).view.mapValues(_.map(_.parent)))
        .toMap.withDefaultValue(Seq.empty)
    val indeg = scala.collection.mutable.Map.from(types.keys.map(_ -> 0))
    for (t <- types.keys; u <- out(t)) indeg(u) += 1
    val ready = scala.collection.mutable.PriorityQueue(
      types.keys.filter(indeg(_) == 0).toSeq: _*)(Ordering[String].reverse)
    val order = Seq.newBuilder[String]
    while (ready.nonEmpty) {
      val t = ready.dequeue(); order += t
      for (u <- out(t)) { indeg(u) -= 1; if (indeg(u) == 0) ready += u }
    }
    order.result()
  }

  /** One relation crossed in ID SPACE, in either direction: `from` holds
    * ids of the relation's parent type (`down`) or of its child type, and
    * the result holds the DISTINCT ids reached on the other side, in that
    * type's id column order. Both directions read the relation's CHILD
    * table, which holds the (child id, parent ref) mapping, and scan only
    * (idCols ∪ refCols) of it: column pruning reaches the parquet scan.
    * Going down, the narrow side's refs are renamed `__ref_*`, so a child
    * column named like a parent id can never make the join condition
    * ambiguous, and `from` stays a direct join child: a broadcast hint on
    * a root frame stays on its join. No hint is added here: a derived
    * frame is unbounded, and AQE picks the strategy from its runtime size.
    */
  private[graft] def hop(tbl: String => DataFrame, rel: GraftRelation,
                         from: DataFrame, down: Boolean): DataFrame = {
    val cIds = types(rel.child).idCols
    val pIds = types(rel.parent).idCols
    if (down) {
      val narrow = tbl(rel.child).select(cIds.map(col) ++
        rel.refCols.map(rc => col(rc).as(s"__ref_$rc")): _*)
      val cond = rel.refCols.zip(pIds)
        .map { case (rc, ic) => narrow(s"__ref_$rc") === from(ic) }
        .reduce(_ && _)
      narrow.join(from, cond, "left_semi")
        .select(cIds.map(col): _*).distinct()
    } else
      tbl(rel.child).select((cIds ++ rel.refCols).distinct.map(col): _*)
        .join(from, cIds, "left_semi")
        .select(rel.refCols.zip(pIds)
          .map { case (rc, ic) => col(rc).as(ic) }: _*)
        .distinct()
  }

  /** Expansion in ID SPACE: one pass over the types in topological order
    * for the direction — the reference's add_children recursion
    * (sqlite/v04_00.py:644-682) and the pattern language's `*` step
    * (orm/query.py:459-481 `_expand`). Each type's ids are final when it
    * is visited: its `start` ids, plus `keep` applied to the union of one
    * [[hop]] per incoming relation from an already-final type. On a DAG
    * this single pass IS the fixpoint; a breadth-first loop would expand
    * a type once per path into it.
    *
    * Returns (ids, reached) per type. `ids` holds start ∪ reached, and is
    * checkpointed for every reached type; `reached` holds the ids that
    * came in through a relation, for every type some relation led into
    * (for a start type, the unchecked union of its hops).
    *
    * Scale shape: every accumulated/shuffled frame is a NARROW id tuple —
    * full-width rows never cross a shuffle, and [[materialize]] restores
    * width with one final semi-join per type. Each hop is one key-bounded
    * shuffle; nothing is row-at-a-time. */
  private[graft] def reach(tbl: String => DataFrame,
                           start: Map[String, DataFrame], down: Boolean,
                           keep: (String, DataFrame) => DataFrame =
                             (_, df) => df)
      : (Map[String, DataFrame], Map[String, DataFrame]) = {
    var ids = start
    var reached = Map.empty[String, DataFrame]
    for (tn <- topoOrder(down)) {
      val incoming = (if (down) parentsOf(tn) else childrenOf(tn))
        .flatMap { rel =>
          ids.get(if (down) rel.parent else rel.child)
            .map(hop(tbl, rel, _, down))
        }
      if (incoming.nonEmpty) {
        val in = keep(tn, incoming.reduce(_ union _))
        val own = start.get(tn).map(_.select(types(tn).idCols.map(col): _*))
        // localCheckpoint (the repo's iterative-frame discipline, cf.
        // Ivf / connectedComponents): a type's final id frame feeds every
        // outgoing relation AND the width-restoring materialize — without
        // materialization each consumer re-executes the whole upstream
        // derivation chain, multiplying scans along every DAG path.
        // eager = false is not free: under AQE the checkpoint calls
        // physicalPlan.execute(), which runs every shuffle and broadcast
        // stage of the chain here, at call time. The checkpoints stay
        // anyway: without them perfbench's lookup family requests (a
        // parents walk, then this pass) slowed from 2.5 s to 8.1 s on 4
        // cores.
        val all = (if (own.isEmpty && incoming.sizeIs == 1) in
                   else (own.toSeq :+ in).reduce(_ union _).distinct())
          .localCheckpoint(eager = false)
        ids = ids.updated(tn, all)
        reached = reached.updated(tn, if (own.isEmpty) all else in)
      }
    }
    (ids, reached)
  }

  /** The parents closure as a walk on the driver (the reference's
    * add_parents recursion, sqlite/v04_00.py:614-643; [[parentsClosure]]
    * says why it fits there). The walk visits the types children-first;
    * each type's id set is final when it is visited, so ONE scan of its
    * table, filtered to that set, is collected as the type's rows. Each
    * parent's id set is then read off those rows' refCols; a null ref
    * reaches no parent, as in an equi-join.
    *
    * The rows keep [[materialize]]'s contract: every row whose id tuple is
    * in the set, duplicates included, in declared column order, with
    * `metaCols` dropped (and never read) when `withMetadata = false`.
    * Returns, per reached type, its distinct id tuples in the table's id
    * column types, and its rows as a local frame. One job per reached
    * type with a non-empty id set, plus whatever collecting the roots
    * runs; a local root list runs none. */
  private def walkParents(spark: SparkSession, tbl: String => DataFrame,
                          roots: Map[String, DataFrame],
                          withMetadata: Boolean)
      : (Map[String, Set[Row]], Map[String, DataFrame]) = {
    val errs = rootIdViolationsWith(tbl, roots)
    require(errs.isEmpty, s"invalid root ids: ${errs.mkString("; ")}")
    val ids = scala.collection.mutable.Map.from(roots.map { case (tn, df) =>
      tn -> df.select(idSchema(tbl, tn).map(f =>
          col(f.name).cast(f.dataType)): _*)
        .collect().iterator.filterNot(_.anyNull).toSet
    })
    val frames = Map.newBuilder[String, DataFrame]
    for (tn <- topoOrder(down = false); set <- ids.get(tn)) {
      val t = tbl(tn)
      val out = t.columns.toSeq
        .filter(c => withMetadata || !types(tn).metaCols.contains(c))
      val rels = parentsOf(tn)
      // Each parent's ref tuple, cast to that parent's id column types so
      // it compares equal to the parent's own id tuples.
      val refs = rels.map(rel => struct(rel.refCols.zip(idSchema(tbl,
        rel.parent)).map { case (rc, f) => col(rc).cast(f.dataType) }: _*))
      val rows =
        if (set.isEmpty) Array.empty[Row]
        else t.filter(idIn(tbl, tn, set))
          .select(out.map(col) ++ refs: _*).collect()
      for ((rel, k) <- rels.zipWithIndex)
        ids(rel.parent) = ids.getOrElse(rel.parent, Set.empty[Row]) ++
          rows.iterator.map(_.getStruct(out.size + k)).filterNot(_.anyNull)
      frames += tn -> spark.createDataFrame(
        rows.toSeq.map(r => Row.fromSeq(r.toSeq.take(out.size))).asJava,
        StructType(out.map(t.schema(_))))
    }
    (ids.toMap, frames.result())
  }

  private def idSchema(tbl: String => DataFrame, tn: String): StructType =
    StructType(types(tn).idCols.map(tbl(tn).schema(_)))

  /** `tn`'s id tuple is in `ids` — an `InSet` over the id-column struct.
    * Its values live in a reference object, not in the generated Java, so
    * each request's ids compile no new code: Spark inlines an `In` list
    * of 10 or fewer values, and an `InSet` over int keys becomes a switch
    * over them. */
  private def idIn(tbl: String => DataFrame, tn: String,
                   ids: Set[Row]): Column = {
    val toCatalyst =
      CatalystTypeConverters.createToCatalystConverter(idSchema(tbl, tn))
    B.column(InSet(B.expression(struct(types(tn).idCols.map(col): _*)),
      ids.map(toCatalyst)))
  }

  /** Children closure (kcidb db query with children=True,
    * /root/reference/kcidb/db/sqlite/v04_00.py:644-682): starting from
    * per-type root ID sets, repeatedly semi-join child tables on the
    * parent-reference columns. Returns every reached type's matched rows. */
  def childrenClosure(
      spark: SparkSession, dir: String,
      roots: Map[String, DataFrame],
      withMetadata: Boolean = true): Map[String, DataFrame] = {
    val tbl = tableCache(spark, dir)
    materialize(tbl, reach(tbl, rootIds(tbl, roots), down = true)._1,
      withMetadata)
  }

  /** The full `query(ids, children=…, parents=…)` entry point
    * (/root/reference/kcidb/__init__.py:255-338). Pass order is faithful
    * to the reference SQL generator (sqlite/v04_00.py:614-682): the
    * parents pass runs FIRST, and the children pass then expands downward
    * from the ACCUMULATED per-type sets — so with both flags, descendants
    * of the matched objects' ancestors are included (the whole family
    * tree), exactly as `kcidb-query -c -p` returns it. The parents pass is
    * [[parentsClosure]]'s driver walk; the children pass starts from the
    * walk's id sets as broadcast local roots. With one flag set this
    * degenerates to exactly [[childrenClosure]] / [[parentsClosure]]. */
  def closure(spark: SparkSession, dir: String,
              roots: Map[String, DataFrame],
              parents: Boolean, children: Boolean,
              withMetadata: Boolean = true): Map[String, DataFrame] = {
    val tbl = tableCache(spark, dir)
    if (!parents) {
      val ids = rootIds(tbl, roots)
      materialize(tbl, if (children) reach(tbl, ids, down = true)._1 else ids,
        withMetadata)
    } else {
      val (ids, frames) = walkParents(spark, tbl, roots, withMetadata)
      if (!children) frames
      else materialize(tbl, reach(tbl, ids.map { case (tn, set) =>
          tn -> broadcast(spark.createDataFrame(set.toSeq.asJava,
            idSchema(tbl, tn)))
        }, down = true)._1, withMetadata)
    }
  }

  /** Constraint validation, generated from catalog metadata — the Spark
    * form of kcidb's per-type JSON-schema validation
    * (/root/reference/kcidb/orm/data.py:89-123): required-field
    * nullability, value-shape regexes, and one referential-integrity check
    * per declared relation (orphan children). Every check is a
    * scan-pushdown-able filter + count; `extra` adds caller-specific value
    * rules. Returns (check_name, violations) sorted by name. */
  def validate(spark: SparkSession, dir: String,
               extra: Seq[(String, DataFrame)] = Seq.empty): DataFrame = {
    val tbl = tableCache(spark, dir)
    def cnt(name: String, df: DataFrame): DataFrame =
      df.groupBy().agg(count(lit(1)).as("violations"))
        .select(lit(name).as("check_name"), col("violations"))
    // All of a type's null + format checks fuse into ONE scan: a single
    // no-group aggregate of conditional counts, explode(map(...)) back to
    // (check_name, violations) rows.
    val typeChecks = types.values.toSeq.flatMap { t =>
      val checks: Seq[(String, Column)] =
        t.required.map(c =>
          s"${t.name}_null_$c" -> count(when(col(c).isNull, 1))) ++
        t.formats.map { case (c, re) =>
          s"${t.name}_format_$c" ->
            count(when(col(c).isNotNull && !col(c).rlike(re), 1))
        }
      if (checks.isEmpty) None
      else {
        val aliased = checks.zipWithIndex
          .map { case ((_, c), i) => c.as(s"__c$i") }
        val kvs = checks.zipWithIndex.flatMap { case ((n, _), i) =>
          Seq(lit(n), col(s"__c$i"))
        }
        Some(tbl(t.name)
          .agg(aliased.head, aliased.tail: _*)
          .select(explode(map(kvs: _*)).as(Seq("check_name", "violations"))))
      }
    }
    // Referential integrity stays one anti-join per relation: exact under
    // duplicate parent ids, and each join is independently shuffle-bounded.
    // Both sides project to just the key columns before the join — the
    // anti-join only needs the refs, so nothing wider ever crosses a shuffle.
    val orphanChecks = relations.map { rel =>
      val child = tbl(rel.child)
        .select(rel.refCols.map(col): _*)
      val parent = tbl(rel.parent)
        .select(types(rel.parent).idCols.map(col): _*)
      val cond = rel.refCols.zip(types(rel.parent).idCols)
        .map { case (rc, ic) => child(rc) === parent(ic) }
        .reduce(_ && _)
      cnt(s"${rel.child}_orphan_${rel.parent}",
        child.join(parent, cond, "left_anti"))
    }
    (typeChecks ++ orphanChecks ++ extra.map { case (n, df) => cnt(n, df) })
      .reduce(_ union _)
      .orderBy("check_name")
  }

  /** Parents closure (children=False counterpart, sqlite/v04_00.py:614-643).
    * Every relation is many-to-one, so each reached type's id set is no
    * larger than the child rows it came from, and the whole closure is
    * bounded by the roots, which must fit on the driver anyway. So this
    * call walks on the driver: it runs its jobs EAGERLY, one filtered scan
    * per reached type, and returns local frames, whose collection runs no
    * further job. */
  def parentsClosure(
      spark: SparkSession, dir: String,
      roots: Map[String, DataFrame],
      withMetadata: Boolean = true): Map[String, DataFrame] =
    walkParents(spark, tableCache(spark, dir), roots, withMetadata)._2

  /** `Pattern.from_io` analog (reference kcidb/orm/query.py:788-851):
    * derive per-type ROOT-ID frames from a just-loaded I/O batch — each
    * type's roots are the distinct id tuples of its loaded rows, exactly
    * the pattern set from_io builds over an I/O object list. Types absent
    * from the batch contribute no roots (from_io skips empty lists);
    * unknown type names fail loudly here, mirroring the reference's
    * OO-types ⊇ I/O-types assertion. The returned map plugs directly
    * into [[closure]]/[[childrenClosure]]/[[parentsClosure]] — or use
    * [[ingestClosure]] for the reference's own ingest expansion.
    *
    * `maxObjs` is the reference's `max_objs` parameter (query.py:797,
    * `isliced(obj_list, max_objs)` at :841): there it bounds how many
    * object IDs one pattern's driver-side id set may carry (SQL IN-list
    * limits); here the roots are collected to the driver by the parents
    * walk, or take the broadcast hint in the children direction
    * ([[rootIds]]'s bounded-input contract), so the analog is an
    * admission cap — a type whose batch carries more than `maxObjs`
    * distinct id tuples is REFUSED up front with the full offender list,
    * instead of OOMing the driver or executors. Zero
    * (the reference's default) means no limit and stays fully lazy; a
    * positive cap runs one `limit(maxObjs+1)`-bounded count per type, so
    * the guard's own cost never exceeds the cap it enforces. */
  def rootsFromBatch(batch: Map[String, DataFrame],
                     maxObjs: Int = 0): Map[String, DataFrame] = {
    require(maxObjs >= 0, s"maxObjs must be >= 0, got $maxObjs")
    val unknown = batch.keys.filterNot(types.contains).toSeq.sorted
    require(unknown.isEmpty,
      s"unknown object types in batch: ${unknown.mkString(", ")}")
    val roots = batch.map { case (tn, df) =>
      tn -> df.select(types(tn).idCols.map(col): _*).distinct()
    }
    if (maxObjs > 0) {
      val over = roots.toSeq.sortBy(_._1).flatMap { case (tn, ids) =>
        // limit() bounds the probe: the count job stops materializing the
        // distinct at maxObjs+1 rows regardless of the batch's true size.
        val n = ids.limit(maxObjs + 1).count()
        if (n > maxObjs) Some(s"'$tn' exceeds max_objs=$maxObjs root ids")
        else None
      }
      require(over.isEmpty,
        s"bounded ingest refused: ${over.mkString("; ")}")
    }
    roots
  }

  /** The reference ingest-notification expansion (kcidb/__init__.py:
    * 493-531): every `Pattern.from_io` pattern is re-parsed with `<*#`
    * appended, so the matched set is the loaded objects PLUS all their
    * ancestors — i.e. the parents closure from the batch-derived roots.
    * Feeding the result to [[graft.monitor.Subscriptions]] closes the
    * load → query → notify loop. Scale shape is [[parentsClosure]]'s:
    * the closure is bounded by the batch's distinct id tuples (every
    * relation is many-to-one), its jobs run eagerly in this call, and the
    * returned frames are local. */
  def ingestClosure(spark: SparkSession, dir: String,
                    batch: Map[String, DataFrame],
                    withMetadata: Boolean = true,
                    maxObjs: Int = 0): Map[String, DataFrame] = {
    // rootsFromBatch checks the batch. The walk then collects the plain
    // id projections, not their distinct() frames, and dedupes them on
    // the driver: one job per loaded type instead of a shuffle and two.
    rootsFromBatch(batch, maxObjs)
    parentsClosure(spark, dir, batch.map { case (tn, df) =>
      tn -> df.select(types(tn).idCols.map(col): _*)
    }, withMetadata)
  }
}

/** Catalog-ENTRY validation — the reference's test-catalog checker
  * (kcidb/tests/schema.py:6-42 JSON schema, kcidb/tests/__init__.py:10
  * `validate_main` / the `kcidb-tests-validate` CLI) re-expressed over a
  * DataFrame of entries: the catalog is a keyed map of
  * {title, home, description?} records, and validation checks each
  * key's shape, the required single-line title, and the required
  * URI-shaped home. One codegen'd scan, no shuffle — per-row rule
  * evaluation composed from `rlike` columns, so a 10⁹-entry catalog
  * validates at scan speed. */
object CatalogEntries {

  /** schema.py's patternProperties key rule. */
  private[graft] val KeyRe = "^[a-zA-Z0-9_-]+$"
  /** schema.py's single-line title rule (no control characters). */
  private[graft] val SingleLineRe = "^[^\\x00-\\x1f]*$"
  /** The documented stand-in for jsonschema's `format: uri` — scheme
    * `://` non-space remainder (the reference's format checker is
    * similarly shallow; reachability is its separate --urls mode, out
    * of analytic scope). */
  private[graft] val UriRe = "^[a-z][a-z0-9+.-]*://[^ \\t]+$"

  /** Per-entry verdict: (test_key, valid, violations) with violations a
    * comma-joined stable list from {bad_key, missing_title,
    * multiline_title, missing_home, bad_home_uri}. The frame must carry
    * EXACTLY (test_key, title, home, description) — extra columns are
    * refused loudly, the `additionalProperties: false` analog. */
  def validate(entries: DataFrame): DataFrame = {
    val want = Set("test_key", "title", "home", "description")
    require(entries.columns.toSet == want,
      s"catalog entries must carry exactly ${want.toSeq.sorted.mkString(",")}" +
        s", got ${entries.columns.sorted.mkString(",")} " +
        "(additionalProperties: false — kcidb/tests/schema.py:40)")
    val rules: Seq[(String, Column)] = Seq(
      "bad_key" ->
        (col("test_key").isNull || !col("test_key").rlike(KeyRe)),
      "missing_title" -> col("title").isNull,
      "multiline_title" ->
        (col("title").isNotNull && !col("title").rlike(SingleLineRe)),
      "missing_home" -> col("home").isNull,
      "bad_home_uri" ->
        (col("home").isNotNull && !col("home").rlike(UriRe)))
    val viol = filter(
      array(rules.map { case (n, c) => when(c, lit(n)) }: _*),
      x => x.isNotNull)
    entries.select(col("test_key"),
      (size(viol) === 0).as("valid"),
      concat_ws(",", viol).as("violations"))
  }
}

/** The testdata star schema as a graft catalog. The hierarchy mirrors
  * kcidb's: region→nation→customer→orders→lineitem is the
  * revision→checkout→build→test spine; part/supplier are side parents of
  * lineitem the way issue_version is a side parent of incident. */
object TestCatalog {
  val catalog = new Catalog(
    types = Map(
      "region"   -> GraftType("region", Seq("r_regionkey"),
        required = Seq("r_regionkey", "r_name")),
      "nation"   -> GraftType("nation", Seq("n_nationkey"),
        required = Seq("n_nationkey", "n_name"),
        formats = Seq("n_name" -> "^NATION_[0-9]+$")),
      "customer" -> GraftType("customer", Seq("c_custkey"),
        required = Seq("c_custkey", "c_name"),
        formats = Seq("c_name" -> "^Customer#[0-9]{9}$")),
      "supplier" -> GraftType("supplier", Seq("s_suppkey"),
        required = Seq("s_suppkey", "s_name"),
        formats = Seq("s_name" -> "^Supplier#[0-9]{9}$")),
      "part"     -> GraftType("part", Seq("p_partkey"),
        required = Seq("p_partkey", "p_name")),
      // The date columns play kcidb's `_timestamp`: row-arrival metadata
      // that drives dump windows but is stripped from with_metadata=false
      // output (db/abstract.py:192-315).
      "orders"   -> GraftType("orders", Seq("o_orderkey"),
        required = Seq("o_orderkey", "o_custkey", "o_orderdate"),
        formats = Seq("o_orderpriority" -> "^[1-5]-[A-Z ]+$"),
        metaCols = Seq("o_orderdate")),
      "lineitem" -> GraftType("lineitem", Seq("l_orderkey", "l_linenumber"),
        required = Seq("l_orderkey", "l_linenumber"),
        formats = Seq("l_returnflag" -> "^[RAN]$"),
        metaCols = Seq("l_shipdate"))
    ),
    relations = Seq(
      GraftRelation("region", "nation", Seq("n_regionkey")),
      GraftRelation("nation", "customer", Seq("c_nationkey")),
      GraftRelation("nation", "supplier", Seq("s_nationkey")),
      GraftRelation("customer", "orders", Seq("o_custkey")),
      GraftRelation("orders", "lineitem", Seq("l_orderkey")),
      GraftRelation("part", "lineitem", Seq("l_partkey")),
      GraftRelation("supplier", "lineitem", Seq("l_suppkey"))
    )
  )
}
