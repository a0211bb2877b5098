package graft.model

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.{GraftColumnBridge => B}
import org.apache.spark.network.util.JavaUtils
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
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
  * This class alone knows how an id set crosses a relation and how the
  * fixpoint over the relation DAG is computed: one topological pass, run
  * one of two ways. [[walk]] runs it on the driver for request-sized id
  * sets: one `InSet`-filtered scan per reached type, collected. Every
  * relation is many-to-one, so a parent id set is never larger than the
  * child rows it is read from, and the whole parents closure is bounded by
  * its roots, which must already fit on the driver: going up always walks.
  * A parent's fan-out is unbounded, so going down the walk holds at most
  * the session's broadcast budget of ids per type; past it the pass runs
  * distributed, as [[reach]] over [[hop]]s. A hop is a semi-join in ID
  * space (never row-at-a-time), so a closure step at 100 TB is one shuffle
  * bounded by the frontier. [[reach]] checkpoints each type it reaches, so
  * it runs its checkpoint jobs inside the call. The closures and
  * PatternQuery's hops and `*` steps run on these.
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

  /** Caller-supplied root ID lists → per-type sets of id tuples on the
    * driver, typed to the table's id columns, with every tuple that holds a
    * null dropped (a null id matches nothing in an equi-join). A local list
    * is collected without a job. Precondition: [[rootIdViolations]] must
    * be empty (the reference asserts the same on every query,
    * abstract.py:310) — an invalid map fails HERE with the full violation
    * list instead of as a bare Map-key error inside plan construction. */
  private def rootIds(tbl: String => DataFrame,
                      roots: Map[String, DataFrame]): Map[String, Set[Row]] = {
    val errs = rootIdViolationsWith(tbl, roots)
    require(errs.isEmpty, s"invalid root ids: ${errs.mkString("; ")}")
    roots.map { case (tn, df) =>
      tn -> df.select(idSchema(tbl, tn).map(f =>
          col(f.name).cast(f.dataType)): _*)
        .collect().iterator.filterNot(_.anyNull).toSet
    }
  }

  /** Id sets held on the driver as local frames: where [[reach]] starts
    * when a [[walk]] gives up. A local frame's size is exact to Catalyst,
    * so it needs no broadcast hint, and being local it needs no
    * checkpoint. */
  private[graft] def localIds(tbl: String => DataFrame,
                              sets: Map[String, Set[Row]])
      : Map[String, DataFrame] =
    sets.map { case (tn, set) =>
      tn -> tbl(tn).sparkSession.createDataFrame(set.toSeq.asJava,
        idSchema(tbl, tn))
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
    * ambiguous. No hint is added here: a derived frame is unbounded, and
    * AQE picks the strategy from its runtime size.
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
        // anyway: when perfbench's lookup family requests (a parents
        // walk, then this pass) ran here, dropping them slowed a request
        // from 2.5 s to 8.1 s on 4 cores. Request-sized traversals now run
        // on [[walk]]; this pass serves frontiers past the walk's budget and
        // frontiers that were never held on the driver.
        val all = (if (own.isEmpty && incoming.sizeIs == 1) in
                   else (own.toSeq :+ in).reduce(_ union _).distinct())
          .localCheckpoint(eager = false)
        ids = ids.updated(tn, all)
        reached = reached.updated(tn, if (own.isEmpty) all else in)
      }
    }
    (ids, reached)
  }

  /** [[reach]]'s twin on the driver, in either direction (the
    * reference's add_parents / add_children recursions,
    * sqlite/v04_00.py:614-682, and the pattern language's hops and `*`
    * steps). It crosses `rels` in topological order, so each type's ids
    * are final when it is visited. `keep` filters every id tuple that
    * comes in through a relation, over the columns that hold it: the
    * type's id columns going down, the child's ref columns going up. Null
    * id tuples are dropped: they match nothing in an equi-join.
    *
    * Up: one scan per type, filtered to its ids, collects its rows and
    * refs, and each parent's ids are read off the refs. Going up never
    * outgrows the start (every relation is many-to-one): no budget.
    *
    * Down: a type reached by a relation runs one scan of (idCols ∪
    * refCols) for the rows whose refs are in a parent's set, and collects
    * their id tuples; its rows are then a lazy re-scan by id, since id
    * tuples need not be unique. When every incoming ref lies inside the
    * id columns, a row matches iff its id tuple does, so that one scan
    * collects the rows. Past the budget of [[collectWithin]] the walk
    * gives up with None, and the caller runs [[reach]] from `start`.
    *
    * Rows keep [[materialize]]'s contract (every row whose id tuple is in
    * the set, declared column order, `metaCols` dropped and never read
    * without metadata), and every filter is a [[Catalog.tupleIn]], so no
    * request compiles new code. Ids and `reached` are as [[reach]] defines
    * them: a type is present iff it started with ids or a crossed
    * relation led into it from a type that had them. */
  private[graft] def walk(tbl: String => DataFrame,
                          start: Map[String, Set[Row]], down: Boolean,
                          withMetadata: Boolean = true,
                          rels: Seq[GraftRelation] = relations,
                          keep: (String, Seq[Column]) => Column =
                            (_, _) => lit(true))
      : Option[Walked] = {
    val ids = scala.collection.mutable.Map.from(start)
    val reached = scala.collection.mutable.Map.empty[String, Set[Row]]
    val rows = scala.collection.mutable.Map.empty[String, DataFrame]
    val order = topoOrder(down).iterator
    var within = true
    while (within && order.hasNext) {
      val tn = order.next()
      val t = tbl(tn)
      val idc = types(tn).idCols
      val out = outCols(t, tn, withMetadata)
      def local(rs: Seq[Row]): DataFrame = t.sparkSession.createDataFrame(
        rs.map(r => Row.fromSeq(r.toSeq.take(out.size))).asJava,
        StructType(out.map(t.schema(_))))
      val ins = if (!down) Nil
        else rels.filter(r => r.child == tn && ids.contains(r.parent))
      if (ins.nonEmpty) {
        val live = ins.filter(r => ids(r.parent).nonEmpty)
        val hit = live.map(r => Catalog.tupleIn(r.refCols.map(col),
            idSchema(tbl, r.parent), ids(r.parent))).reduceOption(_ || _)
          .map(_ && keep(tn, idc.map(col)) && idc.map(col(_).isNotNull)
            .reduce(_ && _))
        val own = start.getOrElse(tn, Set.empty[Row])
        val got = hit.fold(Option(Set.empty[Row])) { h =>
          if (!live.forall(_.refCols.forall(idc.contains)))
            idsWhere(tbl, tn, h)
          else
            collectWithin(t.filter(idIn(tbl, tn, own) || h).select(
                out.map(col) :+ struct(idc.map(col): _*).as("__id") :+
                  h.as("__hit"): _*))
              .map { rs =>
                rows(tn) = local(rs)
                rs.filter(_.getBoolean(out.size + 1))
                  .map(_.getStruct(out.size)).toSet
              }
        }
        got match {
          case Some(in) => reached(tn) = in; ids(tn) = own ++ in
          case None => within = false
        }
      }
      for (set <- ids.get(tn) if within) {
        if (down) rows.getOrElseUpdate(tn, rowsById(tbl, tn, set, withMetadata))
        else {
          val outs = rels.filter(_.child == tn)
          // Each parent's ref tuple, cast to that parent's id column types
          // so it compares equal to the parent's own id tuples; null where
          // `keep` refuses it. Named: Spark fails to name an InSet itself.
          val refs = outs.zipWithIndex.map { case (rel, k) =>
            when(keep(rel.parent, rel.refCols.map(col)),
              struct(rel.refCols.zip(idSchema(tbl, rel.parent)).map {
                case (rc, f) => col(rc).cast(f.dataType) }: _*)).as(s"__ref$k")
          }
          val rs =
            if (set.isEmpty) Array.empty[Row]
            else t.filter(idIn(tbl, tn, set))
              .select(out.map(col) ++ refs: _*).collect()
          for ((rel, k) <- outs.zipWithIndex) {
            val in = rs.iterator.map(_.getStruct(out.size + k))
              .filter(r => r != null && !r.anyNull).toSet
            reached(rel.parent) = reached.getOrElse(rel.parent, Set.empty) ++ in
            ids(rel.parent) = ids.getOrElse(rel.parent, Set.empty) ++ in
          }
          rows(tn) = local(rs.toSeq)
        }
      }
    }
    Option.when(within)(Walked(ids.toMap, reached.toMap, rows.toMap))
  }

  /** The rows of `df` if it has no more than the session's broadcast
    * budget holds: `spark.sql.autoBroadcastJoinThreshold` bytes over the
    * row's `defaultSize`, the size Spark itself collects to the driver to
    * build a broadcast side. None past that, and always when the threshold
    * is negative (broadcasts off). One job whatever the partition count:
    * each task returns at most budget + 1 rows, and the driver stops
    * keeping them once the budget is passed. (`limit()` would not do:
    * its collect runs a growing series of jobs.) */
  private def collectWithin(df: DataFrame): Option[Seq[Row]] = {
    val spark = df.sparkSession
    val conf = spark.conf.get("spark.sql.autoBroadcastJoinThreshold").trim
    if (conf.startsWith("-")) None
    else {
      val cap = (JavaUtils.byteStringAsBytes(conf) / df.schema.defaultSize)
        .min(Int.MaxValue - 1).toInt
      val kept = scala.collection.mutable.ArrayBuffer.empty[InternalRow]
      spark.sparkContext.runJob(df.queryExecution.toRdd,
        (it: Iterator[InternalRow]) => it.take(cap + 1).map(_.copy()).toArray,
        (_: Int, part: Array[InternalRow]) =>
          if (kept.size <= cap) kept ++= part)
      val toRow = CatalystTypeConverters.createToScalaConverter(df.schema)
      Option.when(kept.size <= cap)(kept.map(toRow(_).asInstanceOf[Row]).toSeq)
    }
  }

  /** `tn`'s id tuples that satisfy `pred`, distinct, if they fit the
    * budget ([[collectWithin]]): one scan. */
  private[graft] def idsWhere(tbl: String => DataFrame, tn: String,
                              pred: Column): Option[Set[Row]] =
    collectWithin(tbl(tn).filter(pred)
      .select(types(tn).idCols.map(col): _*)).map(_.toSet)

  /** Every row of `tn` whose id tuple is in `set`, lazily: one filtered
    * scan when collected, none for an empty set. */
  private[graft] def rowsById(tbl: String => DataFrame, tn: String,
                              set: Set[Row],
                              withMetadata: Boolean = true): DataFrame = {
    val t = tbl(tn)
    t.filter(idIn(tbl, tn, set))
      .select(outCols(t, tn, withMetadata).map(col): _*)
  }

  private def outCols(t: DataFrame, tn: String,
                      withMetadata: Boolean): Seq[String] =
    t.columns.toSeq
      .filter(c => withMetadata || !types(tn).metaCols.contains(c))

  private def idSchema(tbl: String => DataFrame, tn: String): StructType =
    StructType(types(tn).idCols.map(tbl(tn).schema(_)))

  /** `tn`'s id tuple is in `ids`. */
  private def idIn(tbl: String => DataFrame, tn: String,
                   ids: Set[Row]): Column =
    Catalog.tupleIn(types(tn).idCols.map(col), idSchema(tbl, tn), ids)

  /** Children closure (kcidb db query with children=True,
    * /root/reference/kcidb/db/sqlite/v04_00.py:644-682): starting from
    * per-type root ID sets, repeatedly semi-join child tables on the
    * parent-reference columns. Returns every reached type's matched rows.
    * It is [[closure]] with `children` alone. */
  def childrenClosure(
      spark: SparkSession, dir: String,
      roots: Map[String, DataFrame],
      withMetadata: Boolean = true): Map[String, DataFrame] =
    closure(spark, dir, roots, parents = false, children = true,
      withMetadata)

  /** The full `query(ids, children=…, parents=…)` entry point
    * (/root/reference/kcidb/__init__.py:255-338). Pass order is faithful
    * to the reference SQL generator (sqlite/v04_00.py:614-682): the
    * parents pass runs FIRST, and the children pass then expands downward
    * from the ACCUMULATED per-type sets — so with both flags, descendants
    * of the matched objects' ancestors are included (the whole family
    * tree), exactly as `kcidb-query -c -p` returns it. With one flag set
    * this degenerates to exactly [[childrenClosure]] / [[parentsClosure]].
    *
    * Both passes are [[walk]]s from the roots' id sets, collected once.
    * The parents pass always walks; its jobs run in this call, and its
    * frames are local. The children pass walks while every reached type's
    * ids fit the budget, and its rows are lazy filtered scans (or local
    * frames, where the walk collected them); past the budget it becomes
    * [[reach]] plus [[materialize]] from the same sets. */
  def closure(spark: SparkSession, dir: String,
              roots: Map[String, DataFrame],
              parents: Boolean, children: Boolean,
              withMetadata: Boolean = true): Map[String, DataFrame] = {
    val tbl = tableCache(spark, dir)
    val start = rootIds(tbl, roots)
    // an up walk never gives up (see walk)
    lazy val up = walk(tbl, start, down = false, withMetadata).get
    if (!children)
      if (parents) up.rows
      else walk(tbl, start, down = true, withMetadata, rels = Nil).get.rows
    else {
      val from = if (parents) up.ids else start
      walk(tbl, from, down = true, withMetadata) match {
        // a type the children pass added nothing to keeps its local frame
        case Some(w) if parents => w.rows ++ up.rows.filter {
          case (tn, _) => w.ids(tn) == up.ids(tn) }
        case Some(w) => w.rows
        case None => materialize(tbl,
          reach(tbl, localIds(tbl, from), down = true)._1, withMetadata)
      }
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
    * call walks up on the driver ([[walk]]): it runs its jobs EAGERLY, one
    * filtered scan per reached type, and returns local frames, whose
    * collection runs no further job. It is [[closure]] with `parents`
    * alone. */
  def parentsClosure(
      spark: SparkSession, dir: String,
      roots: Map[String, DataFrame],
      withMetadata: Boolean = true): Map[String, DataFrame] =
    closure(spark, dir, roots, parents = true, children = false,
      withMetadata)

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
    * limits); here every closure collects its roots to the driver
    * ([[rootIds]]), so the analog is an admission cap — a type whose
    * batch carries more than `maxObjs` distinct id tuples is REFUSED up
    * front with the full offender list, instead of OOMing the driver or
    * executors. Zero
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

object Catalog {
  /** The tuple of `cols`, cast to `schema`'s types, is in `tuples` (rows
    * of `schema`): an `InSet` over a struct of them, false for no tuples.
    * The values live in a reference object, not in the generated Java, so
    * each request's values compile no new code: Spark inlines an `In` list
    * of 10 or fewer values, and an `InSet` over a bare int column becomes a
    * switch over them. */
  private[graft] def tupleIn(cols: Seq[Column], schema: StructType,
                             tuples: Set[Row]): Column =
    if (tuples.isEmpty) lit(false)
    else {
      val toCatalyst = CatalystTypeConverters.createToCatalystConverter(schema)
      B.column(InSet(B.expression(struct(cols.zip(schema).map {
        case (c, f) => c.cast(f.dataType) }: _*)), tuples.map(toCatalyst)))
    }
}

/** What a [[Catalog.walk]] reached, per type: its final id tuples, the
  * ones that came in through a relation, and its rows. */
private[graft] final case class Walked(ids: Map[String, Set[Row]],
                                       reached: Map[String, Set[Row]],
                                       rows: Map[String, DataFrame])

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
