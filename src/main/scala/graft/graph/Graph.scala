package graft.graph

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Link-graph analytics for crawl-quality weighting — the graph signal
  * a large-scale training-data pipeline derives over its URL/document
  * link structure (Page et al. 1999; CommonCrawl publishes exactly this
  * class of ranks for host-level quality weighting). The reference's
  * analytics are per-object rollups over a TREE (kcidb's
  * checkout→build→test hierarchy, kcidb/orm/__init__.py); a crawl
  * corpus needs the general-graph analog, so this family is a scale
  * addition in SURVEY §2's sense, not a port.
  *
  * Design rule — FIXED-POINT power iteration: ranks live as integer
  * micro-units (`unit` = 10^12 by default) and every step is integer
  * div/mod/sum. Consequences that matter at 100 TB:
  *   - per-target in-sums are plain integer SUMs — order-insensitive,
  *     partitioning-invariant, map-side combined; NO ordered fold, NO
  *     collect_list of a corpus-sized group (a double-rank PageRank
  *     would need one to stay deterministic);
  *   - the dangling-mass total is one integer SUM over the dangling
  *     nodes (a 1-row frame), redistributed by integer division —
  *     again order-free;
  *   - the oracle states the identical integer arithmetic, so a hash
  *     mismatch is a real bug, never float noise.
  * The floor divisions leak ≤ 1 micro-unit per node per step of
  * probability mass (bounded, deterministic, documented) — PageRank
  * consumers rank by the score, and the ORDER is what the fixed point
  * preserves.
  *
  * Scale shape: each iteration is one equi-join of the edge list with
  * the rank frame (shuffle on src — or a co-partitioned zip when both
  * sides are bucketed by node) plus one map-side-combined groupBy on
  * dst; K iterations = K such rounds, the standard distributed
  * PageRank schedule. The rank frame is localCheckpoint'd per round so
  * the plan stays K-shallow instead of exponentially nested.
  */
object Graph {

  /** Deterministic synthetic out-links: `outDeg` md5-coin targets per
    * node over a CONTIGUOUS id space — the fixture generator for graph
    * gates (the Binary.makeZip discipline: the corpus supplies no link
    * column, so the gate plants one both engines can re-derive).
    * Requires ids to be contiguous (max−min+1 = n) and raises loudly
    * otherwise — the modulo draw must land on a real node. */
  def hashLinks(nodes: DataFrame, seed: String, outDeg: Int): DataFrame = {
    require(outDeg > 0, s"hashLinks: outDeg must be positive: $outDeg")
    require(nodes.columns.contains("node"),
      s"hashLinks: need a 'node' column (has: ${nodes.columns.mkString(", ")})")
    val stats = nodes.agg(count(lit(1)).as("n"), min("node").as("lo"),
      max("node").as("hi"))
    // 1-row scalar zip (the p08 declared class)
    nodes.crossJoin(broadcast(stats))
      .withColumn("n", when(col("hi") - col("lo") + 1 === col("n"),
        col("n")).otherwise(raise_error(concat(
          lit("Graph.hashLinks: node ids must be contiguous (min "),
          col("lo"), lit(", max "), col("hi"), lit(", n "), col("n"),
          lit(")")))))
      .select(col("node").as("src"), col("lo"), col("n"),
        explode(sequence(lit(0), lit(outDeg - 1))).as("j"))
      .select(col("src"),
        (col("lo") + pmod(graft.pack.Pack.integerDraw(seed,
          concat(col("j").cast("string"), lit("|"),
            col("src").cast("string"))), col("n"))).as("dst"))
  }

  /** Fixed-point PageRank (see the object doc for the integer
    * contract): `iters` synchronous power-iteration rounds at damping
    * `dampNum/dampDen` (default 17/20 = 0.85), rank unit = `unit`
    * micro-units. Per round, with N = |nodes|, D = Σ ranks of
    * out-degree-0 nodes:
    *
    *   r'(v) = ((dampDen−dampNum)·unit) div (dampDen·N)
    *         + (dampNum·(Σ_{u→v} r(u) div outdeg(u) + D div N))
    *           div dampDen
    *
    * Output: (node, in_deg, r, rank) — r the integer micro-units,
    * rank = r/unit as one exact-cast division. Every column is
    * integer-derived, so the FULL SQL oracle replays all `iters`
    * rounds bit-for-bit. Self-links and parallel edges are legal and
    * kept (a crawl graph has both). */
  def pageRank(nodes: DataFrame, edges: DataFrame, iters: Int,
      dampNum: Int = 17, dampDen: Int = 20,
      unit: Long = 1000000000000L): DataFrame = {
    require(iters > 0 && iters <= 50, s"pageRank: bad iters $iters")
    require(dampNum > 0 && dampNum < dampDen,
      s"pageRank: damping must be in (0,1): $dampNum/$dampDen")
    require(unit >= 1000000L,
      s"pageRank: unit too coarse for div arithmetic: $unit")
    for (c <- Seq("src", "dst"))
      require(edges.columns.contains(c),
        s"pageRank: edges need '$c' (has: ${edges.columns.mkString(", ")})")
    val nd = nodes.select(col("node").cast("long").as("node"))
    val e = edges.select(col("src").cast("long").as("src"),
      col("dst").cast("long").as("dst"))
    val deg = e.groupBy("src").agg(count(lit(1)).as("outdeg"))
    // outdeg rides the edge list once; per-round joins stay (edge ⋈
    // rank) only
    val ewd = e.join(deg, "src").localCheckpoint()
    val nTotal = nd.agg(count(lit(1)).as("n_nodes"))
    // 1-row scalar zip (the p08 declared class). r19: the DANGLING
    // membership (out-degree 0) is a fixed node property — computed
    // once here as a flag riding the rank frame, so each round's
    // dangling-mass total is a filter+sum over the already-checkpointed
    // ranks instead of re-deriving deg (a full edge groupBy) and
    // anti-joining against it EVERY round. Same node set, same integer
    // sum — bit-identical dmass.
    var ranks = nd.crossJoin(broadcast(nTotal))
      .join(deg.select(col("src").as("node"), lit(false).as("dang")),
        Seq("node"), "left")
      .select(col("node"), col("n_nodes"),
        coalesce(col("dang"), lit(true)).as("dang"),
        expr(s"${unit}L div n_nodes").as("r"))
      .localCheckpoint()
    for (_ <- 1 to iters) {
      val contribs = ewd.join(ranks.select("node", "r"),
          ewd("src") === col("node"))
        .select(col("dst"), expr("r div outdeg").as("c"))
        .groupBy(col("dst").as("node"))
        .agg(sum("c").as("in_sum"))
      val dangling = ranks.filter(col("dang"))
        .agg(coalesce(sum("r"), lit(0L)).as("dmass"))
      // two 1-row scalar zips (n_nodes already rides the rank frame)
      val next = ranks.select("node", "n_nodes", "dang")
        .crossJoin(broadcast(dangling))
        .join(contribs, Seq("node"), "left")
        .select(col("node"), col("n_nodes"), col("dang"),
          expr(s"((${dampDen - dampNum}L * ${unit}L) div " +
            s"(${dampDen}L * n_nodes)) + ((${dampNum}L * " +
            s"(coalesce(in_sum, 0L) + (dmass div n_nodes))) div " +
            s"${dampDen}L)").as("r"))
      ranks = next.localCheckpoint()
    }
    val indeg = e.groupBy(col("dst").as("node"))
      .agg(count(lit(1)).as("in_deg"))
    ranks.join(indeg, Seq("node"), "left")
      .select(col("node"), coalesce(col("in_deg"), lit(0L)).as("in_deg"),
        col("r"),
        (col("r").cast("double") / lit(unit.toDouble)).as("rank"))
  }

  /** Fixed-point PERSONALIZED PageRank / TrustRank (Gyöngyi, Garcia-
    * Molina & Pedersen 2004, "Combating Web Spam with TrustRank" —
    * the seeded variant that answers the curation question [[pageRank]]
    * cannot: not "what is globally central" but "what is reachable
    * from sources we TRUST"; the standard crawl-frontier and
    * spam-demotion weight): identical integer micro-unit machinery,
    * but the teleport mass — and, per the personalization, the
    * dangling mass — flows ONLY to the `seed` nodes:
    *
    *   r'(v) = (dampNum·Σ_{u→v} r(u) div outdeg(u)) div dampDen
    *         + [v ∈ S]·(((dampDen−dampNum)·unit + dampNum·D)
    *                    div (dampDen·|S|))
    *
    * with D the dangling-rank total. Every step is div/mod/sum (the
    * [[pageRank]] order-free contract verbatim); an empty seed set
    * raises loudly. Output: (node, is_seed, r, rank) — non-seed nodes
    * unreachable from any seed read exactly 0 (trust does not leak),
    * the spec-pinned TrustRank property. */
  def personalizedPageRank(nodes: DataFrame, edges: DataFrame,
      seed: org.apache.spark.sql.Column, iters: Int,
      dampNum: Int = 17, dampDen: Int = 20,
      unit: Long = 1000000000000L): DataFrame = {
    require(iters > 0 && iters <= 50, s"personalizedPageRank: bad iters")
    require(dampNum > 0 && dampNum < dampDen,
      s"personalizedPageRank: damping must be in (0,1)")
    require(unit >= 1000000L, s"personalizedPageRank: unit too coarse")
    for (c <- Seq("src", "dst"))
      require(edges.columns.contains(c),
        s"personalizedPageRank: edges need '$c'")
    val nd = nodes.select(col("node").cast("long").as("node"),
      when(seed.cast("boolean"), 1L).otherwise(0L).as("is_seed"))
    val e = edges.select(col("src").cast("long").as("src"),
      col("dst").cast("long").as("dst"))
    val deg = e.groupBy("src").agg(count(lit(1)).as("outdeg"))
    val ewd = e.join(deg, "src").localCheckpoint()
    val nSeeds = nd.agg(sum("is_seed").as("n_seeds"))
      .select(when(col("n_seeds") > 0, col("n_seeds"))
        .otherwise(raise_error(lit(
          "Graph.personalizedPageRank: empty seed set — trust has " +
            "nowhere to start"))).as("n_seeds"))
    // 1-row scalar zip (the p08 declared class); trust starts AT the
    // seeds: r0 = unit div |S| on seeds, 0 elsewhere. r19: the dangling
    // flag rides the rank frame ([[pageRank]]'s change) — per-round
    // dmass is a filter+sum, never a deg re-derivation + anti-join.
    var ranks = nd.crossJoin(broadcast(nSeeds))
      .join(deg.select(col("src").as("node"), lit(false).as("dang")),
        Seq("node"), "left")
      .select(col("node"), col("is_seed"), col("n_seeds"),
        coalesce(col("dang"), lit(true)).as("dang"),
        expr(s"case when is_seed = 1 then ${unit}L div n_seeds " +
          "else 0L end").as("r"))
      .localCheckpoint()
    for (_ <- 1 to iters) {
      val contribs = ewd.join(ranks.select("node", "r"),
          ewd("src") === col("node"))
        .select(col("dst"), expr("r div outdeg").as("c"))
        .groupBy(col("dst").as("node"))
        .agg(sum("c").as("in_sum"))
      val dangling = ranks.filter(col("dang"))
        .agg(coalesce(sum("r"), lit(0L)).as("dmass"))
      ranks = ranks.select("node", "is_seed", "n_seeds", "dang")
        .crossJoin(broadcast(dangling))
        .join(contribs, Seq("node"), "left")
        .select(col("node"), col("is_seed"), col("n_seeds"), col("dang"),
          expr(s"((${dampNum}L * coalesce(in_sum, 0L)) div " +
            s"${dampDen}L) + (case when is_seed = 1 then " +
            s"((${dampDen - dampNum}L * ${unit}L) + " +
            s"(${dampNum}L * dmass)) div (${dampDen}L * n_seeds) " +
            "else 0L end)").as("r"))
        .localCheckpoint()
    }
    ranks.select(col("node"), col("is_seed"), col("r"),
      (col("r").cast("double") / lit(unit.toDouble)).as("rank"))
  }

  /** Fixed-point HITS (Kleinberg 1999 — hubs and authorities; the
    * companion link signal to [[pageRank]]: a crawl pipeline seeds new
    * fetches from strong HUBS and weights content by strong
    * AUTHORITIES, two different things PageRank conflates): `iters`
    * synchronous rounds of the mutual recursion with L1 normalization
    * kept in INTEGER micro-units —
    *
    *   a_raw(v) = Σ_{u→v} h(u)     a(v) = (a_raw·unit) div Σ a_raw
    *   h_raw(u) = Σ_{u→v} a(v)     h(u) = (h_raw·unit) div Σ h_raw
    *
    * L1 (not the textbook L2) because a sum-normalizer stays in
    * integer arithmetic end-to-end — same fixed points up to scaling
    * (power iteration is norm-agnostic), same ORDER of nodes, and the
    * partitioning-invariance argument of [[pageRank]] carries over
    * verbatim: plain integer SUMs, two 1-row normalizer zips per
    * round, zero ordered folds. The ·unit products run in
    * decimal(38,0) (a_raw can reach |V|·unit, past int64 when
    * multiplied up) and come back to int64 via integral division —
    * the oracle states the identical HUGEINT `//`.
    *
    * A graph with zero edges has no fixed point to normalize toward
    * and raises loudly. Output: (node, a, h, auth, hub) — integer
    * micro-units plus the two exact-cast divisions. */
  def hits(nodes: DataFrame, edges: DataFrame, iters: Int,
      unit: Long = 1000000000000L): DataFrame = {
    require(iters > 0 && iters <= 50, s"hits: bad iters $iters")
    require(unit >= 1000000L, s"hits: unit too coarse: $unit")
    for (c <- Seq("src", "dst"))
      require(edges.columns.contains(c),
        s"hits: edges need '$c' (has: ${edges.columns.mkString(", ")})")
    // r19: nd is consumed twice per round (both normalizations join it)
    // — checkpoint lazily so the node scan runs once, not 2·iters times.
    val nd = nodes.select(col("node").cast("long").as("node"))
      .localCheckpoint(eager = false)
    val e = edges.select(col("src").cast("long").as("src"),
      col("dst").cast("long").as("dst")).localCheckpoint()
    val nTotal = nd.agg(count(lit(1)).as("n_nodes"))
    // 1-row scalar zip (the p08 declared class)
    var hub = nd.crossJoin(broadcast(nTotal))
      .select(col("node"), expr(s"${unit}L div n_nodes").as("h"))
      .localCheckpoint()
    var auth: DataFrame = null
    // r19: `raw` feeds BOTH the 1-row normalizer and the width-restoring
    // join — lazily checkpointed so the edge-join + groupBy executes
    // once per half-round instead of twice. The half-round frames stay
    // EAGER: a lazy normalize chain defers its broadcast normalizer
    // builds into nested RDD materialization, which measured SLOWER
    // than the two plain jobs it fused (r19 probe).
    def normalize(raw0: DataFrame, c: String): DataFrame = {
      val raw = raw0.localCheckpoint(eager = false)
      // Σ raw as a loud 1-row normalizer (zero edges -> no signal)
      val s = raw.agg(sum(c).as("s"))
        .select(when(col("s") > 0, col("s")).otherwise(raise_error(lit(
          s"Graph.hits: the $c mass is zero — the graph has no " +
            "edges to rank"))).as("s"))
      val normed = nd.join(raw, Seq("node"), "left")
        .crossJoin(broadcast(s))
        .select(col("node"),
          expr(s"(cast(coalesce($c, 0L) as decimal(38,0)) * " +
            s"${unit}L) div s").as(c))
      normed.localCheckpoint()
    }
    for (_ <- 1 to iters) {
      val aRaw = e.join(hub, e("src") === hub("node"))
        .groupBy(e("dst").as("node")).agg(sum("h").as("a"))
      auth = normalize(aRaw, "a")
      val hRaw = e.join(auth, e("dst") === auth("node"))
        .groupBy(e("src").as("node")).agg(sum("a").as("h"))
      hub = normalize(hRaw, "h")
    }
    auth.join(hub, "node")
      .select(col("node"), col("a"), col("h"),
        (col("a").cast("double") / lit(unit.toDouble)).as("auth"),
        (col("h").cast("double") / lit(unit.toDouble)).as("hub"))
  }
}
