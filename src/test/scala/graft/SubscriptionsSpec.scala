package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.monitor.{Subscription, Subscriptions}
import graft.monitor.Subscriptions.Notif

class SubscriptionsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private val subs = Seq(
    Subscription("errors", "events", col("kind") === "error", Seq("user")),
    Subscription("big", "events", col("value") > 100, Seq("user", "kind")))

  private def eventsDf(rows: (Long, String, Double)*) =
    rows.toDF("user", "kind", "value")

  test("matchNotifications: one row per (object, subscription), deduped") {
    val df = eventsDf((1L, "error", 1.0), (1L, "error", 2.0),
      (2L, "error", 200.0), (3L, "click", 5.0))
    val got = Subscriptions.matchNotifications(_ => df, subs)
      .orderBy("notification_id").collect()
      .map(r => (r.getString(1), r.getString(3))).toSeq
    // user 1 matched 'errors' twice -> ONE notification (spool semantics);
    // user 2 matches both subscriptions (distinct ids)
    assert(got == Seq(("big", "2:error"), ("errors", "1"), ("errors", "2")))
  }

  test("notification id is deterministic and scheme-shaped") {
    val df = eventsDf((1L, "error", 1.0))
    val id = Subscriptions.matchNotifications(_ => df, subs.take(1))
      .head.getString(0)
    // subscription ":" type ":" b64(obj_id) ":" b64(message_id)
    val b64_1 = java.util.Base64.getEncoder.encodeToString("1".getBytes)
    val b64_m0 = java.util.Base64.getEncoder.encodeToString("m0".getBytes)
    assert(id == s"errors:events:$b64_1:$b64_m0")
  }

  test("subscriptions compose over rolled-up objects (kcidb revision shape)") {
    // kcidb match functions see OO objects with rollups (e.g.
    // revision.builds_status == "FAIL", mainline.py:19); graft composes the
    // same by matching over a rollup frame instead of a raw table.
    val builds = Seq(
      ("c1", "FAIL"), ("c1", "PASS"),
      ("c2", "PASS"), ("c2", "PASS"),
      ("c3", "ERROR")
    ).toDF("checkout_id", "status")
    val rolled = graft.operators.Rollups.worstStatus(
      builds, Seq("checkout_id"), col("status"),
      Seq("FAIL" -> 0, "ERROR" -> 1, "PASS" -> 2))
    val got = Subscriptions.matchNotifications(
        _ => rolled,
        Seq(Subscription("failed_builds", "checkout",
          col("worst_status") === "FAIL", Seq("checkout_id"))))
      .collect().map(_.getString(3)).toSeq
    assert(got == Seq("c1"), "only the checkout whose WORST build failed")
  }

  test("dedupStream: exactly-once per notification id across micro-batches") {
    implicit val sql = spark.sqlContext
    val input = MemoryStream[Notif]
    val ckpt = java.nio.file.Files
      .createTempDirectory("graft-sub-ckpt").toString
    val q = Subscriptions.dedupStream(input.toDS)
      .writeStream.format("memory").queryName("notif_stream")
      .option("checkpointLocation", ckpt)
      .outputMode("append").start()
    def n(id: String) = Notif(id, "errors", "events", id)
    try {
      // batch 1: id A twice in one batch -> one row
      input.addData(Seq(n("A"), n("A"), n("B")))
      q.processAllAvailable()
      // batch 2: id A again (must not re-emit), new id C
      input.addData(Seq(n("A"), n("C")))
      q.processAllAvailable()
      val got = spark.table("notif_stream")
        .orderBy("notification_id").collect()
        .map(_.getString(0)).toSeq
      assert(got == Seq("A", "B", "C"))
    } finally q.stop()
  }

  test("q24 gate parity: streaming spool equals batch spool at test SF") {
    implicit val sql = spark.sqlContext
    import graft.sources.Tables
    val load = (n: String) => Tables(spark, TestSpark.sf, n)
    val batch = Subscriptions
      .matchNotifications(load, gates.QGates.q24Subscriptions)
      .collect().map(_.getString(0)).toSet
    assert(batch.nonEmpty, "gate subscriptions must match real rows")
    // Replay the RAW (pre-dedup) match set through the streaming spool in
    // three micro-batches, with an overlap chunk so cross-batch dedup is
    // actually exercised on gate data.
    val raw = Subscriptions.matchRaw(load, gates.QGates.q24Subscriptions)
      .as[Subscriptions.Notif](
        org.apache.spark.sql.Encoders.product[Subscriptions.Notif])
      .collect().toSeq
    val chunks = raw.grouped((raw.size + 1) / 2).toSeq :+ raw.take(20)
    val input = MemoryStream[Notif]
    val ckpt = java.nio.file.Files
      .createTempDirectory("graft-sub3-ckpt").toString
    val q = Subscriptions.dedupStream(input.toDS)
      .writeStream.format("memory").queryName("q24_stream")
      .option("checkpointLocation", ckpt)
      .outputMode("append").start()
    try {
      for (chunk <- chunks) {
        input.addData(chunk)
        q.processAllAvailable()
      }
      val streamed = spark.table("q24_stream")
        .collect().map(_.getString(0)).toSet
      assert(streamed == batch,
        s"stream/batch diverge: ${(streamed diff batch).take(3)} / " +
          s"${(batch diff streamed).take(3)}")
    } finally q.stop()
  }

  test("q24 oracle WHERE strings match the Column predicates row-for-row") {
    // The oracle SQL builds its WHERE clauses from
    // gates.QGates.q24PredicateSql; this pins each string to the gate's
    // Column predicate by filtering the SAME table both ways (the string
    // through Spark's own parser) and comparing id sets — a predicate
    // edited on only one side diverges here instead of drifting quietly.
    import graft.sources.Tables
    assert(gates.QGates.q24PredicateSql.size ==
      gates.QGates.q24Subscriptions.size)
    for ((sub, where) <- gates.QGates.q24Subscriptions
        .zip(gates.QGates.q24PredicateSql)) {
      val df = Tables(spark, TestSpark.sf, sub.objectType)
      val ids = (f: org.apache.spark.sql.Column) =>
        df.filter(f)
          .select(concat_ws(":", sub.idCols.map(c => col(c).cast("string")): _*))
          .collect().map(_.getString(0)).toSet
      assert(ids(sub.predicate) == ids(expr(where)),
        s"${sub.name}: Column predicate and oracle WHERE diverge")
    }
  }

  test("renderTemplate: interpolation, null fields render empty") {
    import spark.implicits._
    val df = Seq((1L, Option("Widget")), (2L, Option.empty[String]))
      .toDF("id", "name")
    val got = df.select(col("id"),
        Subscriptions.renderTemplate("item {id}: {name}!").as("r"))
      .orderBy("id").collect().map(_.getString(1)).toSeq
    assert(got == Seq("item 1: Widget!", "item 2: !"))
    // no placeholders and empty templates are pure literals
    assert(df.select(Subscriptions.renderTemplate("plain"))
      .head.getString(0) == "plain")
    assert(df.select(Subscriptions.renderTemplate(""))
      .head.getString(0) == "")
  }

  test("renderSubject sanitizes and clips per the reference discipline") {
    import spark.implicits._
    val df = Seq((1L, "badsubject"), (2L, "x" * 300))
      .toDF("id", "s")
    // control characters -> replacement glyph (output.py:197-202)
    assert(df.filter(col("id") === 1L)
      .select(Subscriptions.renderSubject("{s}")).head.getString(0)
      == "bad⯑subject⯑")
    // over-long -> 254 chars + scissors = 256 (output.py:190-195)
    val long = df.filter(col("id") === 2L)
      .select(Subscriptions.renderSubject("{s}")).head.getString(0)
    assert(long.length == 256 && long.endsWith("✂️"))
    assert(long.startsWith("x" * 254))
    // bodies keep control chars and clip only at 64 KiB
    assert(df.filter(col("id") === 2L)
      .select(Subscriptions.renderBody("{s}")).head.getString(0)
      == "x" * 300)
    assert(df.filter(col("id") === 1L)
      .select(Subscriptions.renderBody("{s}")).head.getString(0)
      == "badsubject")
  }

  test("matchRendered: base columns match matchRaw; digest is the real md5") {
    import graft.sources.Tables
    val load = (n: String) => Tables(spark, TestSpark.sf, n)
    val rendered = Subscriptions
      .matchNotificationsRendered(load, gates.QGates.q24Subscriptions)
    val baseCols = Seq("notification_id", "subscription", "object_type",
      "object_id")
    assert(rendered.select(baseCols.map(col): _*).collect().toSet ==
      Subscriptions.matchNotifications(load, gates.QGates.q24Subscriptions)
        .collect().toSet)
    // ground-truth one subscription end-to-end: render locally from the
    // raw orders rows and md5 the body in the JVM (negative_balance
    // matches no customer at sf0.001, so the orders sub is the probe)
    val want = Tables(spark, TestSpark.sf, "orders")
      .filter(col("o_orderstatus") === "F" && col("o_totalprice") > 200000)
      .select("o_orderkey", "o_custkey", "o_orderpriority",
        "o_orderstatus")
      .collect().map { r =>
        val body = s"Order ${r.getLong(0)} by customer ${r.getLong(1)} " +
          s"with priority ${r.getString(2)} failed in status " +
          s"${r.getString(3)}."
        val md = java.security.MessageDigest.getInstance("MD5")
          .digest(body.getBytes("UTF-8"))
          .map("%02x".format(_)).mkString
        (r.getLong(0).toString,
          s"Order ${r.getLong(0)} failed (${r.getString(2)})", md)
      }.toSet
    assert(want.nonEmpty)
    val got = rendered.filter(col("subscription") === "failed_big_orders")
      .select("object_id", "subject", "body_md5")
      .collect().map(r => (r.getString(0), r.getString(1), r.getString(2)))
      .toSet
    assert(got == want)
  }

  test("streaming match + dedup composes (filter works on a stream)") {
    implicit val sql = spark.sqlContext
    val input = MemoryStream[(Long, String, Double)]
    val ckpt = java.nio.file.Files
      .createTempDirectory("graft-sub2-ckpt").toString
    // matchRaw (stateless) composes with the stateful stream spool
    val matched = Subscriptions.matchRaw(
      _ => input.toDF.toDF("user", "kind", "value"), subs.take(1))
    val deduped = Subscriptions.dedupStream(
      matched.as[Notif](org.apache.spark.sql.Encoders.product[Notif]))
    val q = deduped.writeStream.format("memory").queryName("match_stream")
      .option("checkpointLocation", ckpt)
      .outputMode("append").start()
    try {
      input.addData(Seq((1L, "error", 1.0), (2L, "click", 2.0)))
      q.processAllAvailable()
      input.addData(Seq((1L, "error", 9.0), (3L, "error", 3.0)))
      q.processAllAvailable()
      val got = spark.table("match_stream")
        .orderBy("object_id").collect().map(_.getString(3)).toSeq
      assert(got == Seq("1", "3"), "user 1 must notify once, user 3 once")
    } finally q.stop()
  }

  test("the reference ingest loop end to end: load → from_io roots → " +
      "<*# closure → match → render → spool-dedup") {
    // kcidb/__init__.py:493-531: after each load, notifications are
    // generated over the loaded objects PLUS all their ancestors. This
    // wires graft's pieces exactly as a consumer would: a simulated
    // loaded batch, Catalog.ingestClosure, and the rendered spool over
    // the CLOSURE frames (not the raw tables).
    import graft.sources.Tables
    val dir = TestSpark.sf
    val cat = graft.model.TestCatalog.catalog
    val loaded = Tables(spark, dir, "orders")
      .filter(col("o_orderkey") <= 5L)
    val matched = cat.ingestClosure(spark, dir, Map("orders" -> loaded))
    val loopSubs = Seq(
      // ancestor-type subscription: fires only because <*# pulls the
      // loaded orders' customers into the matched set
      Subscription("cust_watch", "customer", col("c_custkey") >= 0L,
        Seq("c_custkey"), subject = "customer {c_name}",
        body = "customer {c_custkey} touched by load"),
      Subscription("order_watch", "orders", col("o_orderkey") >= 0L,
        Seq("o_orderkey"), subject = "order {o_orderkey}",
        body = "order {o_orderkey} loaded"))
    val notifs = Subscriptions.matchNotificationsRendered(
      tn => matched(tn), loopSubs).collect()
    // exactly-once per notification id (the spool invariant)
    assert(notifs.map(_.getString(0)).distinct.length == notifs.length)
    // order notifications = exactly the loaded window, nothing else —
    // the subscription predicate matches EVERY order, so the scope came
    // from the closure
    val loadedIds = loaded.select("o_orderkey")
      .collect().map(_.getLong(0).toString).toSet
    val orderIds = notifs.filter(_.getString(2) == "orders")
      .map(_.getString(3)).toSet
    assert(orderIds == loadedIds,
      s"order notifications must cover exactly the loaded window: " +
        s"got $orderIds want $loadedIds")
    // customer notifications = exactly the loaded orders' ancestors
    val custIds = Tables(spark, dir, "orders")
      .filter(col("o_orderkey") <= 5L).select("o_custkey")
      .distinct().collect().map(_.getLong(0).toString).toSet
    val gotCusts = notifs.filter(_.getString(2) == "customer")
      .map(_.getString(3)).toSet
    assert(gotCusts == custIds,
      s"ancestor notifications must be the loaded orders' customers: " +
        s"got $gotCusts want $custIds")
    // rendered subjects carry the interpolated object fields
    val subj = notifs.filter(_.getString(2) == "customer")
      .map(_.getString(4))
    assert(subj.forall(_.startsWith("customer Customer#")),
      s"subject must interpolate c_name: ${subj.take(2).toSeq}")
  }

  test("cappedListAgg: Jinja loop semantics — order, tiebreak, cap, overflow, if") {
    import spark.implicits._
    // container 1: 7 included children (cap 3 → overflow line);
    // container 2: 2 included, 1 excluded (no overflow, if-filter);
    // container 3: zero included (empty list body);
    // duplicate order keys in container 1 pin the line-string tiebreak.
    val rows = Seq(
      (1L, 5L, "e"), (1L, 2L, "b"), (1L, 2L, "a"), (1L, 1L, "x"),
      (1L, 9L, "g"), (1L, 7L, "f"), (1L, 3L, "c"),
      (2L, 2L, "keep2"), (2L, 1L, "keep1"), (2L, 3L, "SKIP"),
      (3L, 1L, "SKIP")).toDF("k", "o", "l")
    val got = rows.groupBy("k").agg(
        graft.monitor.Subscriptions.cappedListAgg(
          col("l"), col("o"), col("l") =!= "SKIP",
          maxListLen = 3, indent = "  ").as("list"),
        graft.monitor.Subscriptions.distinctJoinAgg(col("o"), ", ")
          .as("by"))
      .collect().map(r => r.getLong(0) -> (r.getString(1), r.getString(2)))
      .toMap
    // sorted by (o, l): (1,x) (2,a) (2,b) | cap | ... overflow
    assert(got(1L)._1 == "  x\n  a\n  b\n  ...")
    assert(got(1L)._2 == "1, 2, 3, 5, 7, 9")
    // under the cap: no overflow marker; excluded child absent
    assert(got(2L)._1 == "  keep1\n  keep2")
    // nothing included: bare indent (caller's {% if %} guards emission)
    assert(got(3L)._1 == "  ")
  }
}
