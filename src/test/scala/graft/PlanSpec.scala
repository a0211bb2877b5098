package graft

import org.scalatest.funsuite.AnyFunSuite

/** Physical-plan shape assertions: the properties that make these plans
  * survive a 100 TB scale-up (broadcasts where intended, filter/column
  * pushdown to the parquet scan, top-k without a global sort, no
  * accidental nested-loop joins). */
class PlanSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  private val dir = TestSpark.sf

  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, dir).queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))

  test("q19 star join broadcasts every dimension") {
    val p = plan("q19_star_join_agg")
    val n = "BroadcastHashJoin".r.findAllIn(p).size
    assert(n >= 3, s"expected >=3 broadcast joins, got $n in:\n$p")
    assert(!p.contains("CartesianProduct"))
  }

  test("q02 pushes filter and prunes columns at the parquet scan") {
    val p = plan("q02_filter_project")
    assert(p.contains("PushedFilters: ["), p)
    assert(p.contains("o_orderstatus"), "status filter must reach the scan")
    // pruned read schema: no unrelated orders columns materialized
    assert(!p.contains("o_comment"), "scan must not read unprojected columns")
  }

  test("q21 top-k plans as TakeOrderedAndProject (no global sort)") {
    val p = plan("q21_topk")
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("near-dup joins are equi-joins, never nested loops") {
    for (q <- Seq("d02_dedup_minhash", "d03_dedup_simhash",
        "d04_ngram_jaccard", "d05_embed_neardup", "s02_knn_lsh")) {
      val p = plan(q)
      assert(!p.contains("CartesianProduct"), s"$q has a cartesian product")
      assert(!p.contains("BroadcastNestedLoopJoin"),
        s"$q has a nested-loop join")
    }
  }

  test("q23/q24 are partial-aggregatable with no joins gone cartesian") {
    val p23 = plan("q23_path_rollup")
    assert(p23.contains("partial"), "path rollup must map-side combine")
    assert(!p23.contains("Window"), "path rollup needs no window")
    val p24 = plan("q24_notifications")
    assert(!p24.contains("CartesianProduct") &&
      !p24.contains("BroadcastNestedLoopJoin"), p24)
  }

  test("KNN ranking is a bounded aggregate, not a per-probe window") {
    for (q <- Seq("s01_knn_brute", "s02_knn_lsh", "s03_knn_ivf")) {
      val p = plan(q)
      assert(!p.contains("Window"),
        s"$q must not rank via a window (all candidates of a probe would " +
          s"shuffle to one partition):\n$p")
      assert(p.contains("top_k_by_score"), s"$q must use the top-k aggregate")
      assert(p.contains("partial_top_k_by_score") || p.contains("partial"),
        s"$q top-k aggregate must be partial (map-side combine)")
    }
  }

  test("no query plan contains a cartesian product or an unintended NLJ") {
    // Declared exceptions, all joins against bounded broadcast relations:
    // s01 scores the bounded probe set against the corpus on a non-equi
    // condition (the exact baseline by definition); s03/d08 assign rows to
    // their nearest of c centroids (a c-row broadcast table); t05 zips two
    // single-row scalar aggregates (the canonical combine plan); s05
    // composes bruteForceKnn over a probe set bounded by CONSTRUCTION
    // (`vec_id < 100` is <=100 rows at any corpus size — s01's class);
    // s06 scores every row against the #labels-row checkpointed centroid
    // frame (s03/d08's c-row broadcast class, previously masked by s05
    // failing this sweep first).
    // t10 zips in the 1-row corpus-count frame (t05's scalar class).
    // t11 zips in the 1-row train-vocabulary frame (same scalar class).
    // s07 joins the m·ksub-row broadcast codebook (s03's c-row class)
    // and streams the bounded probe set's LUTs against the CODE table
    // (s01's bounded-probe class, 4·d/m× cheaper to read).
    // s09 is s08's composition queried from PERSISTED models — the same
    // m·ksub codebook / c-row centroid broadcast classes, loaded via
    // ModelStore (checkpointed, size-bounded by the fit knobs).
    // t14 zips in the 1-row corpus-totals frame (t05's scalar class; the
    // B-row weight table itself joins on the equi bucket key).
    // s11 zips in the 1-row per-dim [lo,hi] envelope frame (same class).
    // p08 zips in the 1-row token-budget totals frame (same class).
    // s13 scores the corpus against c-row broadcast centroid/candidate
    // frames (s03/d08's class — the init's candidate set is bounded by
    // rounds·l rows) and zips two 1-row profile aggregates (t05's
    // scalar class).
    // p11 composes p09's expansion, inheriting its 1-row budget-totals
    // zip (the same declared scalar class).
    // k05 pair-joins the |sources|-row bottom-k sketch frames on
    // source_a < source_b (s03's bounded-broadcast class: the frame is
    // |groups| rows of k strings at ANY corpus size).
    val bnljAllowed = Set("s01_knn_brute", "s03_knn_ivf", "t05_corpus_stats",
      "d08_semantic_dedup", "s05_knn_classify", "s06_class_centroids",
      "t10_tfidf_terms", "t11_lm_score", "s07_knn_pq", "s08_knn_ivfpq",
      "s09_incr_encode", "t14_dsir_weights", "s11_sq8_encode",
      "p08_token_budget", "p09_mixture_expand", "s12_sq8_recall",
      "s13_kmeanspp_init", "p11_training_order", "k05_bottomk_overlap",
      // t23 zips two 1-row totals frames (N1, N2) — the p08 scalar class
      "t23_pmi_collocations",
      // k06's total row zips the 1-row est fold with the 1-row
      // checkpointed (tau, exact_total) frame — the same scalar class
      "k06_priority_sample",
      // p13 zips in the 1-row sqrt-weight normalizer fold (the p08
      // scalar class)
      "p13_temperature_mix",
      // q53 zips the 1-row end-of-log timestamp into the state table
      // for the unpicked(T) flag (the p08 scalar class)
      "q53_spool_deliver",
      // g01 zips the 1-row node-count frame into the rank seed and the
      // 1-row dangling-mass fold into each power-iteration round (the
      // p08 scalar class — 11 scalar zips, all 1-row broadcasts)
      "g01_pagerank",
      // g02 zips the two 1-row L1 normalizers into each HITS round
      // (the same scalar class)
      "g02_hits",
      // g03 zips the 1-row seed-count frame and per-round dangling
      // mass, g01's class
      "g03_trustrank")
    for ((name, fn) <- SparkEntry.queries) {
      val p = fn(spark, dir).queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
      assert(!p.contains("CartesianProduct"), s"$name has a cartesian join")
      if (!bnljAllowed(name))
        assert(!p.contains("BroadcastNestedLoopJoin"),
          s"$name has an unintended nested-loop join")
    }
  }

  test("t12/p05 are pure scan-stage operators: zero exchanges") {
    // The redaction and chunking OPERATORS (pre-orderBy) must stay
    // entirely in the scan stage — one row-local project/explode, no
    // shuffle anywhere. The gate's orderBy adds a range exchange for the
    // dump, which is presentation, not operator work.
    import org.apache.spark.sql.functions._
    val docs = graft.sources.Tables(spark, dir, "documents")
    for ((name, df) <- Seq(
        "piiRedact" -> graft.text.TextOps.piiRedact(docs, "doc_id", "text"),
        "chunkWindows" -> graft.pack.Pack.chunkWindows(docs, "doc_id",
          "text", chunkSize = 64, overlap = 8))) {
      val p = df.queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
      assert(!p.contains("Exchange"), s"$name must not shuffle:\n$p")
    }
  }

  test("t11 LM scoring: partial-aggregated counts, no broadcast of a " +
      "corpus-sized side") {
    val p = plan("t11_lm_score")
    assert(p.contains("partial"), "model counts must map-side combine")
    assert(!p.contains("CartesianProduct"))
    // the only BNLJ is the 1-row vocab scalar zip (declared class);
    // count tree lines ("... Cross BuildX"), not the detail-section
    // repeats of the node label
    assert("BroadcastNestedLoopJoin Cross".r.findAllIn(p).size <= 1, p)
  }

  test("t09 heavy hitters: partial count + TakeOrderedAndProject") {
    val p = plan("t09_top_tokens")
    assert(p.contains("TakeOrderedAndProject"),
      s"global top-25 must not full-sort:\n$p")
    assert(p.contains("partial"), "token counts must map-side combine")
  }

  test("t07 quota ranks via the partial top-k aggregate, not a window") {
    val p = plan("t07_quality_quota")
    assert(!p.contains("Window"),
      s"per-source quota must not rank through a window:\n$p")
    assert(p.contains("top_k_by_score"), p)
    assert(p.contains("partial"), "quota aggregate must map-side combine")
  }

  test("n-gram membership ops (d09/d10) are semi-joins + partial aggs") {
    for (q <- Seq("d09_contamination", "d10_dup_spans")) {
      val p = plan(q)
      assert(!p.contains("Window"), s"$q must not use a window:\n$p")
      assert(!p.contains("CartesianProduct") &&
        !p.contains("BroadcastNestedLoopJoin"), s"$q joins must be equi")
      assert(p.contains("LeftSemi"), s"$q membership must be a semi join")
      assert(p.contains("partial"), s"$q counts must map-side combine")
    }
  }

  test("s04 graph ranking is the bounded aggregate; pair dedup is narrow") {
    val p = plan("s04_knn_graph")
    assert(!p.contains("Window"), p)
    assert(p.contains("top_k_by_score") && p.contains("partial"), p)
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("no similarity/dedup operator force-broadcasts a parquet-derived " +
      "frame (generalizes ClosureSpec's root-ids-only rule)") {
    import org.apache.spark.sql.catalyst.plans.logical.ResolvedHint
    import org.apache.spark.sql.execution.datasources.LogicalRelation
    // A broadcast hint is legitimate only on frames bounded by
    // CONSTRUCTION — local probe-id relations or the c-row centroid table
    // (localCheckpoint'd, so it shows as LogicalRDD, not a parquet scan).
    // A hint whose subtree still contains a parquet scan is a frame whose
    // size is corpus-PROPORTIONAL (e.g. `filter(id % 20 === 0)` keeps 5%)
    // and would OOM a 100 TB cluster. Declared exception: s01_knn_brute,
    // the exact baseline whose contract IS a bounded caller-supplied probe
    // set streamed against the corpus (its scale paths are s02/s03/s04).
    // s05_knn_classify shares that contract: its probe frame is
    // `emb.filter(vec_id < 100)` — <=100 rows at ANY corpus size (bounded
    // by the predicate, not proportional to it), the same class as s01.
    // s07_knn_pq broadcasts per-probe LUTs built over the same
    // predicate-bounded probe frame (`vec_id < 5`) — s01's class; its
    // corpus-sized side is the CODE table, never broadcast. s09 is s08
    // queried from persisted models: the model frames themselves are
    // checkpointed (no parquet scan under those hints) and the only
    // parquet under a hint is the same predicate-bounded probe frame.
    // s11_sq8_encode hints its fit frame: ONE row of two d-length
    // arrays (aggregate to zero keys) — bounded by dimensionality, not
    // corpus, the same class as s07's m·ksub-row codebook.
    // s12_sq8_recall composes s11's fit zip with s01's bounded probe
    // broadcast (vec_id < 5 on both the float and code sides).
    val exempt = Set("s01_knn_brute", "s05_knn_classify", "s07_knn_pq",
      "s08_knn_ivfpq", "s09_incr_encode", "s11_sq8_encode",
      "s12_sq8_recall",
      // st14 broadcasts its exported ndv_stream_profile — a bounded
      // per-(series, day) model frame (k08's hll_profile pattern; k*
      // gates are outside this sweep's s*/d* prefix net by name).
      // st09 joined the same class in r17: its promoted gate reads the
      // SAME bounded exported profile back and broadcasts it against
      // the batch recount (|series|·|days| rows — group-cardinality-
      // bounded, never corpus-proportional)
      "st14_ndv_contract", "st09_sketch_stream")
    val simQueries = SparkEntry.queries.keys
      .filter(n => n.startsWith("d") || n.startsWith("s"))
      .filterNot(exempt)
    for (name <- simQueries) {
      val hints = SparkEntry.queries(name)(spark, dir)
        .queryExecution.analyzed.collect { case h: ResolvedHint => h }
      hints.foreach { h =>
        // shuffle_hash / shuffle_merge on a parquet frame are the SAFE
        // strategies (both partition-parallel; shuffle_hash is the fix
        // for sorting a huge streamed side) — everything else that can
        // name a parquet frame (broadcast, shuffle_replicate_nl) ships
        // one corpus-proportional side whole to every consumer and is
        // exactly the blow-up this audit guards against
        val safe = Set("shuffle_hash", "merge") // strategy toString names
        if (h.hints.strategy.exists(st =>
            !safe.contains(st.toString.toLowerCase))) {
          val scans = h.child.collect { case r: LogicalRelation => r }
          assert(scans.isEmpty,
            s"$name broadcast-hints a parquet-derived frame:\n${h.treeString}")
        }
      }
    }
  }

  test("q06/q12 merge via partial aggregates — no per-key sort or window") {
    for (q <- Seq("q06_load_upsert_merge", "q12_latest_version")) {
      val p = plan(q)
      assert(!p.contains("Window"),
        s"$q must not merge through a window (per-key sort):\n$p")
      assert(p.contains("partial"),
        s"$q merge aggregate must map-side combine:\n$p")
    }
  }

  test("q40 plans each object table scan at most once, and in fact none: " +
      "the ingest closure is collected on the driver into local frames") {
    import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
    val q = SparkEntry.queries("q40_ingest_notify")(spark, dir)
    val p = q.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    // A second scan of any table would mean a subscription branch
    // re-derived closure state (the per-branch recompute class VERDICT
    // r11 flagged). Since the parents walk (Catalog.walkParents) runs its
    // scans eagerly and returns local frames, the final plan reads no
    // object-table parquet at all.
    for (tbl <- Seq("orders", "customer", "lineitem", "nation", "region",
        "part", "supplier")) {
      val n = s"$tbl\\.parquet".r.findAllIn(p).size
      assert(n <= 1, s"$tbl scanned $n times in q40's final plan:\n$p")
      assert(n == 0, s"$tbl scanned in q40's final plan:\n$p")
    }
    // and the closure frames are local relations: every leaf of the plan
    val leaves = q.queryExecution.analyzed.collectLeaves()
    assert(leaves.nonEmpty && leaves.forall(_.isInstanceOf[LocalRelation]),
      s"expected only local closure frames under q40:\n$p")
  }

  test("aggregations are partial (map-side combine) in q01") {
    val p = plan("q01_summary_agg")
    assert(p.contains("partial"), "expect partial aggregation before shuffle")
  }

  test("round-16 operators keep their declared plan shapes") {
    def exch(p: String): Int = "Exchange \\(\\d".r.findAllIn(p).size
    // q53 spool replay: the per-id fold is ONE MapGroups behind its
    // groupByKey exchange; the only other exchanges are the 1-row
    // end-of-log scalar's and the dump sort's — never a shuffled join
    // or a window over the log
    val q53p = plan("q53_spool_deliver")
    assert(q53p.contains("MapGroups"), s"q53 must fold per id:\n$q53p")
    assert(exch(q53p) <= 4,
      s"q53: id shuffle + scalar agg + its broadcast + sort:\n$q53p")
    assert(!q53p.contains("SortMergeJoin") && !q53p.contains("Window"),
      q53p)
    // st14 contract: exported profile joins as a BROADCAST (bounded
    // per-(series, day) frame — the k07/k08 shape), never shuffled
    val st14p = plan("st14_ndv_contract")
    assert(st14p.contains("BroadcastHashJoin") &&
      !st14p.contains("SortMergeJoin"), st14p)
    assert(exch(st14p) <= 4,
      s"st14: agg + model broadcast + sort only:\n$st14p")
  }

  test("round-15 operators keep their declared plan shapes") {
    def exch(p: String): Int = "Exchange \\(\\d".r.findAllIn(p).size
    def joins(p: String): Int = "Join \\(\\d".r.findAllIn(p).size
    // m13/m14 codec gates: demux → decode → sums is ROW-LOCAL
    // (mapPartitions over each doc's own payload) — no join anywhere,
    // the only exchange is the presentation sort
    for (g <- Seq("m13_mp4_frames", "m14_mkv_frames")) {
      val p = plan(g)
      assert(joins(p) == 0, s"$g must be join-free:\n$p")
      assert(exch(p) <= 1, s"$g: only the dump sort may exchange:\n$p")
      assert(!p.contains("Window"), s"$g must not window:\n$p")
    }
    // q47 loop rendering: ONE groupBy shuffle + the presentation sort;
    // the capped child list is an aggregate, never a window or a join
    val q47p = plan("q47_notify_summary")
    assert(joins(q47p) == 0 && !q47p.contains("Window"), q47p)
    assert(exch(q47p) <= 2,
      s"q47 renders in one aggregation pass + dump sort:\n$q47p")
    // k07 contract check: the estimate frame joins as a BROADCAST
    // (bounded: |series|x3 rows), never a shuffled join; one aggregate
    // exchange + the dump sort remain
    val k07p = plan("k07_quantile_contract")
    assert(k07p.contains("BroadcastHashJoin") &&
      !k07p.contains("SortMergeJoin"), k07p)
    assert(exch(k07p) <= 3, s"k07: agg + sort only:\n$k07p")
    // t24/m15/m16: row-local scan-stage operators — join/window-free,
    // no explode (t24's per-line work lives inside array lambdas), the
    // only exchange is the presentation sort
    for (g <- Seq("t24_gopher_rules", "m15_tiff_meta", "m16_flac_meta",
        "m17_mp3_meta", "m18_zip_listing")) {
      val p = plan(g)
      assert(joins(p) == 0, s"$g must be join-free:\n$p")
      assert(exch(p) <= 1, s"$g: only the dump sort may exchange:\n$p")
      assert(!p.contains("Window") && !p.contains("Generate"),
        s"$g must not window or explode:\n$p")
    }
    // q48: the day window must prune at the DIRECTORY level — the
    // bounds live in PartitionFilters on the scan (I/O proportional to
    // the window), never as a post-scan data Filter over a full read
    val q48p = plan("q48_partitioned_dump")
    val pf = q48p.linesIterator
      .filter(_.contains("PartitionFilters: ")).mkString("\n")
    assert(pf.contains("2024-01-10") && pf.contains("2024-01-15"),
      s"q48 day bounds must be partition filters:\n$q48p")
  }

  test("round-13 operators keep their declared plan shapes") {
    def exch13(p: String): Int = "Exchange \\(\\d".r.findAllIn(p).size
    // q42 catalog validation is scan-speed: per-row rlike rules fused
    // into one projection over the planted-union-derived scan — no
    // window, no join, only the presentation sort exchanges
    val q42p = plan("q42_catalog_validate")
    assert(!q42p.contains("Window") && !"Join \\(\\d".r
      .findAllIn(q42p).hasNext, q42p)
    assert(exch13(q42p) <= 1,
      s"catalog validation must only exchange for the dump sort:\n$q42p")
    // p12 composed pipeline: exactly the stages' own shuffles — the
    // fingerprint dedup aggregate, the per-source quota window, the
    // per-bucket pack window, the dump sort (+ the keep-set broadcast);
    // and Catalyst PUSHES the quality filter beneath the dedup join
    // onto the corpus scan (the no-materialization composition claim,
    // visible in the plan: the scan-side Filter carries the quality
    // chain)
    val p12p = plan("p12_pipeline_e2e")
    assert("Window \\(\\d".r.findAllIn(p12p).size == 2, p12p)
    assert(exch13(p12p) <= 5, s"pipeline shuffles exactly per stage:\n$p12p")
    assert(p12p.contains("BroadcastHashJoin"), p12p)
  }

  test("round-12 operators keep their declared plan shapes") {
    import org.apache.spark.sql.functions._
    val docs = graft.sources.Tables(spark, dir, "documents")
    def shape(df: org.apache.spark.sql.DataFrame): String =
      df.queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    // d14 segmentation is one row-local projection: zero exchanges
    val seg = shape(graft.dedup.Dedup.cdcSegment(docs, "doc_id", "text"))
    assert(!seg.contains("Exchange"), s"cdcSegment must not shuffle:\n$seg")
    assert(!seg.contains("Window"), seg)
    // m10 scene cuts: demux→decode→delta fused in the typed map — the
    // operator body adds no exchange beyond the gate's presentation sort
    // count tree-line nodes ("Exchange (6)"), not the detail-section
    // repeats of the node label
    def exchanges(p: String): Int = "Exchange \\(\\d".r.findAllIn(p).size
    val m10p = plan("m10_scene_cuts")
    assert(!m10p.contains("Window"), m10p)
    assert(exchanges(m10p) <= 1,
      s"scene cuts must only exchange for the dump sort:\n$m10p")
    // p10 packing: exactly the bucket shuffle (plus the dump sort);
    // greedy state lives in flatMapGroups, never a window
    val p10p = plan("p10_pack_greedy")
    assert(!p10p.contains("Window"), p10p)
    assert(exchanges(p10p) <= 2,
      s"packing must shuffle only on the bucket key:\n$p10p")
    // t15: partial (map-side combined) aggregation + bounded top-k
    val t15p = plan("t15_bpe_merges")
    assert(t15p.contains("partial"), t15p)
    assert(t15p.contains("TakeOrderedAndProject"), t15p)
    assert(!t15p.contains("Window"), t15p)
    // s11/s12: no window anywhere (SQ8 ranks via the top-k aggregate)
    for (q <- Seq("s11_sq8_encode", "s12_sq8_recall")) {
      val p = plan(q)
      assert(!p.contains("Window"), s"$q must not rank via a window:\n$p")
    }
    assert(plan("s12_sq8_recall").contains("top_k_by_score"))
  }

  test("whole-stage codegen covers the q01 pipeline") {
    // AQE only annotates codegen stages in the final (executed) plan.
    val df = SparkEntry.queries("q01_summary_agg")(spark, dir)
    df.collect()
    val p = df.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    // codegen'd operators carry the '*' marker in the final AQE plan
    assert(p.contains("* HashAggregate") && p.contains("* Filter"), p)
  }
}
