package graftbench

import java.io.File
import java.util.{ArrayList => JList, LinkedHashMap => JMap}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.JsonNode
import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.dedup.Dedup
import graft.ingest.Loader
import graft.model.{Catalog, GraftRelation, GraftType, TestCatalog}
import graft.monitor.{Subscription, Subscriptions}
import graft.monitor.Subscriptions.NotifRendered
import graft.operators.Rollups
import graft.pack.Pack
import graft.query.PatternQuery
import graft.sources.{Reports, Tables}
import graft.text.TextOps

/** Helpers shared by the workloads. */
private object Common {
  /** Plans, then collects, a returned frame: the two spans every result
    * passes through on its way to the caller. */
  def fetch(tr: Tracer, df: DataFrame): Array[Row] = {
    tr.span("spark.plan")(df.queryExecution.executedPlan)
    tr.span("result.collect")(df.collect())
  }

  /** The key each result row is summed under in its digest. */
  def key(table: String, r: Row): Long = {
    def l(c: String) = r.getAs[Any](c).asInstanceOf[Number].longValue
    table match {
      case "region" => l("r_regionkey")
      case "nation" => l("n_nationkey")
      case "customer" => l("c_custkey")
      case "supplier" => l("s_suppkey")
      case "orders" => l("o_orderkey")
      case "lineitem" => l("l_orderkey") * 8 + l("l_linenumber")
      case "rollup" =>
        l("l_orderkey") * 4 + "RAN".indexOf(r.getAs[String]("worst_status"))
    }
  }

  /** {table: [rows, key sum, columns]} — order-independent. */
  def digest(res: Map[String, Array[Row]]): JMap[String, AnyRef] = {
    val m = new JMap[String, AnyRef]()
    res.toSeq.sortBy(_._1).foreach { case (t, rows) =>
      m.put(t, Main.jlist(Seq(Long.box(rows.length.toLong),
        Long.box(rows.map(key(t, _)).sum),
        Long.box(rows.headOption.fold(0L)(_.length.toLong)))))
    }
    m
  }

  /** SHA-256 of the lines in sorted order: an order-independent digest. */
  def sha256(lines: Seq[String]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    lines.sorted.foreach(s => md.update((s + "\n").getBytes("UTF-8")))
    md.digest().map("%02x".format(_)).mkString
  }

  /** A field as the reference writes it: doubles to four decimals. */
  def text(v: Any): String = v match {
    case null => "null"
    case d: Double => String.format(java.util.Locale.ROOT, "%.4f", Double.box(d))
    case x => x.toString
  }

  def ids(spark: SparkSession, c: String, xs: Seq[Long]): DataFrame = {
    import spark.implicits._
    xs.toDF(c)
  }
}

/** The kcidb read path: ID closures, pattern queries and a status rollup,
  * each result collected to the driver. */
final class Lookup(spark: SparkSession, tr: Tracer, cfg: JsonNode)
    extends Workload {
  private val db = cfg.get("db").asText()
  private val cat = TestCatalog.catalog
  private val reqs = cfg.get("requests")
  private val warm = cfg.get("warmup")

  private def run(req: JsonNode): OpResult = {
    val ids = Main.longs(req.get("ids"))
    val idText = ids.mkString(";")
    def pattern(p: String): Map[String, DataFrame] = {
      tr.span("query.parse")(PatternQuery.parse(p))
      tr.span("query.pattern")(PatternQuery.run(spark, db, cat, p))
    }
    val frames: Map[String, DataFrame] = req.get("kind").asText() match {
      case "children" => tr.span("model.closure")(cat.childrenClosure(
        spark, db, Map("customer" -> Common.ids(spark, "c_custkey", ids))))
      case "parents" => tr.span("model.closure")(cat.parentsClosure(
        spark, db, Map("orders" -> Common.ids(spark, "o_orderkey", ids))))
      case "family" => tr.span("model.closure")(cat.closure(
        spark, db, Map("orders" -> Common.ids(spark, "o_orderkey", ids)),
        parents = true, children = true))
      case "pattern_down" => pattern(s">customer[$idText]>orders>lineitem#")
      case "pattern_up" => pattern(s">orders[$idText]<*#")
      case "rollup" =>
        val li = pattern(s">customer[$idText]>orders>lineitem#")("lineitem")
        Map("rollup" -> tr.span("operators.rollup")(Rollups.worstStatus(
          li, Seq("l_orderkey"), col("l_returnflag"),
          Seq("R" -> 0, "A" -> 1, "N" -> 2))))
    }
    last = frames.map { case (t, df) => t -> Common.fetch(tr, df) }
    OpResult(last.values.map(_.length.toLong).sum, new JMap[String, AnyRef]())
  }

  private var last: Map[String, Array[Row]] = Map.empty

  def warmup(): Unit = warm.elements().asScala.foreach(run)
  def op(i: Int): OpResult = run(reqs.get(i % reqs.size()))
  /** Requests come in decks of one per kind; a run measures whole decks so
    * every run sees the same mix. */
  override def mixSize: Int = warm.size()

  override def afterOp(i: Int, out: JMap[String, AnyRef]): Unit =
    out.put("digest", Common.digest(last))
}

/** kcidb's load → match → notify loop: each report is read, upserted into
  * one parquet warehouse rewritten in place, expanded to its ingest closure,
  * matched against subscriptions and delivered once through a streaming
  * spool whose state lives across reports. */
final class IngestNotify(spark: SparkSession, tr: Tracer, cfg: JsonNode)
    extends Workload {
  import spark.implicits._

  private val db = cfg.get("db").asText()
  private val wh = cfg.get("warehouse").asText()
  private val reports = cfg.get("reports")
  private val cat = TestCatalog.catalog
  private val keys = Map("orders" -> Seq("o_orderkey"),
    "lineitem" -> Seq("l_orderkey", "l_linenumber"))
  /** The warehouse as a catalog of its own: orders and their lineitems. */
  private val whCat = new Catalog(
    Map("orders" -> GraftType("orders", keys("orders")),
      "lineitem" -> GraftType("lineitem", keys("lineitem"))),
    Seq(GraftRelation("orders", "lineitem", Seq("l_orderkey"))))

  private val subs: Seq[Subscription] = Seq(
    Subscription("failed_big_orders", "orders",
      col("o_orderstatus") === "F" && col("o_totalprice") > 400000,
      Seq("o_orderkey"),
      subject = "Order {o_orderkey} failed ({o_orderpriority})",
      body = "Order {o_orderkey} of customer {o_custkey} is in status " +
        "{o_orderstatus}."),
    Subscription("negative_balance", "customer",
      col("c_acctbal") < -500, Seq("c_custkey"),
      subject = "Customer {c_name} balance went negative",
      body = "Customer {c_custkey} of nation {c_nationkey}, segment " +
        "{c_mktsegment}."),
    Subscription("returned_full_qty", "lineitem",
      col("l_returnflag") === "R" && col("l_quantity") >= 45,
      Seq("l_orderkey", "l_linenumber"),
      subject = "Return on order {l_orderkey} line {l_linenumber}",
      body = "Lineitem {l_orderkey}_{l_linenumber} of part {l_partkey} " +
        "came back ({l_linestatus})."))

  private implicit val sqlCtx: org.apache.spark.sql.SQLContext =
    spark.sqlContext
  private val input = MemoryStream[NotifRendered]
  private val delivered = new JList[NotifRendered]()
  private val query: StreamingQuery =
    Subscriptions.dedupRenderedStream(input.toDS())
      .writeStream
      .foreachBatch { (ds: Dataset[NotifRendered], _: Long) =>
        val rows = ds.collect()
        delivered.synchronized(rows.foreach(delivered.add))
      }
      .option("checkpointLocation", cfg.get("work").asText() + "/spool")
      .outputMode("append")
      .start()
  private var lastBatch = -1L
  private val progress = new JList[AnyRef]()
  private var next = 0

  /** Loader.upsertMerge of the warehouse table and the report's records,
    * written to a sibling directory and swapped in (the Warehouse idiom
    * for rewriting a directory in place). Returns the bytes written. */
  private def upsert(t: String, incoming: DataFrame, seq: Int): Long = {
    val path = s"$wh/$t.parquet"
    val cur = spark.read.parquet(path)
    val inc = incoming.select(cur.schema.fields.toSeq.map(f =>
      col(f.name).cast(f.dataType).as(f.name)): _*)
    val fields = cur.columns.filterNot(keys(t).contains).toSeq
    val merged = Loader.upsertMerge(
      cur.withColumn("_seq", lit(0))
        .unionByName(inc.withColumn("_seq", lit(seq))),
      keys(t), Seq(col("_seq")), fields)
      .select(cur.columns.toSeq.map(col): _*)
    val tmp = new File(s"$wh/.$t.tmp")
    merged.write.mode("overwrite").parquet(tmp.getPath)
    rmTree(new File(path))
    require(tmp.renameTo(new File(path)), s"could not swap $tmp into $path")
    new File(path).listFiles().filter(_.getName.endsWith(".parquet"))
      .map(_.length).sum
  }

  private def rmTree(f: File): Unit = {
    Option(f.listFiles).foreach(_.foreach(rmTree))
    f.delete()
  }

  private def load(r: Int): OpResult = {
    val rep = reports.get(r)
    val report = tr.span("sources.report_read")(Reports.read(
      spark, rep.get("path").asText(), Seq("orders", "lineitem")))
    val written = tr.span("ingest.upsert")(
      Seq("orders", "lineitem").map(t => upsert(t, report.tables(t), r + 1))
        .sum)
    val closure = tr.span("model.ingest_closure")(
      cat.ingestClosure(spark, db, report.tables))
    val matched = tr.span("monitor.match") {
      Common.fetch(tr, Subscriptions.matchNotificationsRendered(
        closure, subs)).map(row => NotifRendered(row.getString(0),
        row.getString(1), row.getString(2), row.getString(3),
        row.getString(4), row.getString(5)))
    }
    val before = delivered.size
    tr.span("streaming.deliver") {
      input.addData(matched.toSeq)
      query.processAllAvailable()
    }
    val out = new JMap[String, AnyRef]()
    out.put("report", Int.box(r))
    out.put("written_bytes", Long.box(written))
    lastMatched = matched
    deliveredBefore = before
    OpResult(rep.get("rows").asLong(), out)
  }

  private var lastMatched: Array[NotifRendered] = Array.empty
  private var deliveredBefore = 0

  /** Streaming progress of the micro-batches run since the last call. */
  private def drainProgress(op: Int): Unit =
    query.recentProgress.filter(_.batchId > lastBatch).foreach { p =>
      lastBatch = p.batchId
      val m = new JMap[String, AnyRef]()
      m.put("op", Int.box(op))
      m.put("batch", Long.box(p.batchId))
      p.durationMs.asScala.foreach { case (k, v) => m.put(k, v) }
      val st = p.stateOperators
      m.put("state_commit_ms", Long.box(st.map(_.commitTimeMs).sum))
      m.put("state_rows", Long.box(st.map(_.numRowsTotal).sum))
      m.put("state_mem_bytes", Long.box(st.map(_.memoryUsedBytes).sum))
      progress.add(m)
    }

  /** Bookkeeping after a report, outside its time: records what it matched
    * and delivered and a digest of the warehouse, then reads a just-loaded
    * order back through a Catalog over the warehouse, timing the read. */
  private def check(op: Int, out: JMap[String, AnyRef]): Unit = {
    out.put("matched", Main.jlist(lastMatched.toSeq.map(n =>
      s"${n.notification_id}|${n.subject}|${n.body_md5}").sorted))
    out.put("delivered", Main.jlist(delivered.asScala.drop(deliveredBefore)
      .map(_.notification_id).sorted))
    val rep = reports.get(out.get("report").asInstanceOf[Integer].intValue)
    out.put("wh", warehouseDigest())
    val id = rep.get("readback").asLong()
    val t0 = System.nanoTime()
    try {
      val m = whCat.childrenClosure(spark, wh,
        Map("orders" -> Common.ids(spark, "o_orderkey", Seq(id))))
      val o = m("orders").collect()
      val lines = m("lineitem").count()
      out.put("readback", Main.jlist(Seq(Long.box(id),
        Main.jlist(o.toSeq.map(r => Main.jlist(r.toSeq.map(v =>
          if (v == null) null else v.toString)))),
        Long.box(lines))))
    } catch {
      case e: Exception => out.put("readback_error", Main.errorText(e))
    }
    out.put("readback_ns", Long.box(System.nanoTime() - t0))
    drainProgress(op)
  }

  /** {table: [rows, key sum, sha-256 of its rows]}, each row written as
    * `column=value` pairs in column-name order, nulls included. */
  private def warehouseDigest(): JMap[String, AnyRef] = {
    val m = new JMap[String, AnyRef]()
    Seq("orders", "lineitem").foreach { t =>
      val df = spark.read.parquet(s"$wh/$t.parquet")
      val cols = df.columns.sorted.toSeq
      val rows = df.select(cols.map(col): _*).collect()
      m.put(t, Main.jlist(Seq(Long.box(rows.length.toLong),
        Long.box(rows.map(Common.key(t, _)).sum),
        Common.sha256(rows.toSeq.map(r => cols.indices
          .map(i => s"${cols(i)}=${Common.text(r.get(i))}")
          .mkString("\t"))))))
    }
    m
  }

  /** The warm-up report's outputs, checked like a timed report's. Its
    * readback is the session's first read of the warehouse. */
  private var warmupOut: JMap[String, AnyRef] = _

  def warmup(): Unit = {
    warmupOut = load(0).outputs
    check(-1, warmupOut)
    next = 1
  }

  override def hasNext: Boolean = next < reports.size()

  def op(i: Int): OpResult = {
    val r = next
    next += 1
    load(r)
  }

  override def afterOp(i: Int, out: JMap[String, AnyRef]): Unit =
    check(i, out)

  override def finish(out: JMap[String, AnyRef]): Unit = {
    out.put("warmup", warmupOut)
    out.put("stream_progress", progress)
    query.stop()
  }
}

/** The LLM-data batch path: exact dedup, a quality floor, MinHash near-dup
  * pairs, their connected components, soft-dedup weights and sequence
  * packing, as repeated passes over one corpus. Each stage's output is
  * materialized once, as a pipeline user would, so it is computed inside
  * the stage that owns it. */
final class CorpusDedup(spark: SparkSession, tr: Tracer, cfg: JsonNode)
    extends Workload {
  private val dir = cfg.get("corpus_dir").asText()
  private val docs = Tables(spark, dir, "documents")
  /** The quality floor. The generator's low-quality documents score below
    * 0.56 and every other document at least 0.8. */
  private val minQuality = 0.6
  private var firstRows: Array[Row] = _
  private var firstPairs: Array[Row] = _
  private var firstDigest = ""

  private def pass(): (Array[Row], DataFrame) = {
    val keep = tr.span("dedup.exact")(docs
      .select(col("doc_id"), Dedup.fingerprint(col("text")).as("fp"))
      .groupBy("fp").agg(min(col("doc_id")).as("doc_id"))
      .select("doc_id").localCheckpoint())
    val kept = tr.span("text.filter")(docs.join(keep, Seq("doc_id"))
      .filter(TextOps.qualityScore(col("text")) >= minQuality)
      .localCheckpoint())
    val pairs = tr.span("dedup.minhash")(Dedup.minhashNearDupsAuto(
      kept, "doc_id", "text", k = 64, nBands = 16, threshold = 0.5)
      .localCheckpoint())
    val clusters = tr.span("dedup.cc")(
      Dedup.connectedComponents(pairs, "id_a", "id_b"))
    val weights = tr.span("dedup.weights")(
      Dedup.dedupWeights(kept, "doc_id", clusters).localCheckpoint())
    val packed = tr.span("pack.pack")(Pack.packSequences(
      kept.join(weights, Seq("doc_id")), "doc_id",
      TextOps.wordCount(col("text")), pmod(col("doc_id"), lit(8)), 256L)
      .select("doc_id", "cluster_id", "cluster_size", "weight", "n_tokens",
        "bucket", "tok_offset", "seq_first", "seq_last"))
    (Common.fetch(tr, packed), pairs)
  }

  private def digest(rows: Array[Row]): String =
    Common.sha256(rows.toSeq.map(_.mkString(",")))

  private var nDocs = 0L

  def warmup(): Unit = {
    nDocs = docs.count()
    val (rows, pairs) = pass()
    firstRows = rows
    firstPairs = pairs.collect()
    firstDigest = digest(rows)
  }

  private var last: (Array[Row], DataFrame) = _

  def op(i: Int): OpResult = {
    last = pass()
    OpResult(nDocs, new JMap[String, AnyRef]())
  }

  override def afterOp(i: Int, out: JMap[String, AnyRef]): Unit = {
    out.put("pairs", Long.box(last._2.count()))
    out.put("digest", digest(last._1))
  }

  override def finish(out: JMap[String, AnyRef]): Unit = {
    out.put("first_digest", firstDigest)
    out.put("first_rows", Main.jlist(firstRows.toSeq.map(r =>
      Main.jlist(r.toSeq.map(_.asInstanceOf[AnyRef])))))
    out.put("first_pairs", Main.jlist(firstPairs.toSeq.map(r =>
      Main.jlist(r.toSeq.map(_.asInstanceOf[AnyRef])))))
  }
}
