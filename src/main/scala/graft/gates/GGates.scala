package graft
package gates

import org.apache.spark.sql.functions._
import Shared.t

/** Link-graph gates: PageRank, HITS and TrustRank over a planted
  * crawl graph. */
object GGates extends Family {
  /** g01's knobs, shared with the oracle SQL generator: 10 power
    * iterations at damping 17/20 = 0.85 over 3 md5-coin out-links per
    * document, ranks in 10^12 micro-units. */
  private val g01Iters = 10
  private val g01OutDeg = 3
  private val g01Seed = "graft-pr"
  private val g01DampNum = 17
  private val g01DampDen = 20
  private val g01Unit = 1000000000000L

  /** Fixed-point PageRank over a planted crawl graph
    * (graph/Graph.pageRank — the link-graph quality weight a crawl
    * pipeline derives per document/host; Page et al. 1999): nodes =
    * doc_ids, edges = [[graft.graph.Graph.hashLinks]]' 3 deterministic
    * md5 out-links per node (the makeZip planted-fixture discipline),
    * 10 integer power-iteration rounds — every step div/mod/sum on
    * micro-unit ranks, so in-sums are plain order-free integer SUMs
    * and the FULL DuckDB oracle replays all 10 rounds bit-for-bit. */
  // g01: fixed-point PageRank replayed round-for-round — the same
  // planted md5 edges, the same integer div/mod/sum arithmetic
  // (DuckDB's // is the BIGINT floor division twinning Spark's div
  // on the all-positive ranks), all iterations UNROLLED as chained
  // CTEs (deterministic fixed iteration count — no recursion needed).
  gate("g01_pagerank") { (s, dir) =>
    val nodes = t(s, dir, "documents").select(col("doc_id").as("node"))
    val edges = graft.graph.Graph.hashLinks(nodes, g01Seed, g01OutDeg)
    graft.graph.Graph.pageRank(nodes, edges, iters = g01Iters,
        dampNum = g01DampNum, dampDen = g01DampDen, unit = g01Unit)
      .orderBy("node")
  } {
      val u = g01Unit
      val num = g01DampNum
      val den = g01DampDen
      val seed = g01Seed
      val iters = g01Iters
      val sb = new StringBuilder
      sb ++= s"""WITH nodes AS MATERIALIZED (SELECT doc_id AS node FROM documents),
         nn AS MATERIALIZED (SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST(MIN(doc_id) AS BIGINT) AS lo FROM documents),
         edges AS MATERIALIZED (SELECT node AS src,
             lo + (CAST(concat('0x', substr(md5('$seed' ||
               CAST(j AS VARCHAR) || '|' || CAST(node AS VARCHAR)),
               1, 15)) AS BIGINT) % n) AS dst
           FROM nodes, nn, unnest(generate_series(0,
             ${g01OutDeg - 1})) AS t(j)),
         deg AS (SELECT src, CAST(COUNT(*) AS BIGINT) AS outdeg
           FROM edges GROUP BY 1),
         r0 AS MATERIALIZED (SELECT node, $u // n AS r FROM nodes, nn)"""
      for (i <- 1 to iters) {
        sb ++= s""",
         c$i AS MATERIALIZED (SELECT e.dst AS node,
             CAST(SUM(r.r // d.outdeg) AS BIGINT) AS in_sum
           FROM edges e JOIN r${i - 1} r ON e.src = r.node
           JOIN deg d ON e.src = d.src GROUP BY 1),
         d$i AS MATERIALIZED (SELECT COALESCE(CAST(SUM(r.r) AS BIGINT), 0) AS dmass
           FROM r${i - 1} r LEFT JOIN deg dg ON r.node = dg.src
           WHERE dg.src IS NULL),
         r$i AS MATERIALIZED (SELECT nd.node,
             ((${den - num} * $u) // ($den * nn.n)) +
             (($num * (COALESCE(c.in_sum, 0) + (dm.dmass // nn.n)))
               // $den) AS r
           FROM nodes nd CROSS JOIN nn CROSS JOIN d$i dm
           LEFT JOIN c$i c ON nd.node = c.node)"""
      }
      sb ++= s""",
         indeg AS MATERIALIZED (SELECT dst AS node,
             CAST(COUNT(*) AS BIGINT) AS in_deg FROM edges GROUP BY 1)
         SELECT n.node, COALESCE(i.in_deg, 0) AS in_deg, r.r AS r,
           CAST(r.r AS DOUBLE) / CAST($u AS DOUBLE) AS rank
         FROM nodes n JOIN r$iters r ON n.node = r.node
         LEFT JOIN indeg i ON n.node = i.node
         ORDER BY n.node"""
      sb.toString
  }

  /** g02's iteration knob, shared with the oracle SQL generator. */
  private val g02Iters = 8

  /** Fixed-point HITS hubs/authorities (graph/Graph.hits, Kleinberg
    * 1999) over the SAME planted crawl graph as g01 — the seed-vs-
    * content split PageRank conflates: 8 rounds of the mutual
    * recursion with integer L1 normalization (same fixed points as
    * the textbook L2 up to scale, but every step stays order-free
    * integer arithmetic; ·unit products run in decimal(38,0)); FULL
    * DuckDB oracle unrolls all rounds with identical HUGEINT //
    * arithmetic. */
  // g02: fixed-point HITS replayed round-for-round over g01's edge
  // fixture — integer L1 normalization, the ·unit products in
  // HUGEINT twinning the gate's decimal(38,0), // the integral
  // division, all rounds unrolled as chained CTEs.
  gate("g02_hits") { (s, dir) =>
    val nodes = t(s, dir, "documents").select(col("doc_id").as("node"))
    val edges = graft.graph.Graph.hashLinks(nodes, g01Seed, g01OutDeg)
    graft.graph.Graph.hits(nodes, edges, iters = g02Iters,
        unit = g01Unit)
      .orderBy("node")
  } {
      val u = g01Unit
      val seed = g01Seed
      val iters = g02Iters
      val sb = new StringBuilder
      sb ++= s"""WITH nodes AS MATERIALIZED (SELECT doc_id AS node FROM documents),
         nn AS MATERIALIZED (SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST(MIN(doc_id) AS BIGINT) AS lo FROM documents),
         edges AS MATERIALIZED (SELECT node AS src,
             lo + (CAST(concat('0x', substr(md5('$seed' ||
               CAST(j AS VARCHAR) || '|' || CAST(node AS VARCHAR)),
               1, 15)) AS BIGINT) % n) AS dst
           FROM nodes, nn, unnest(generate_series(0,
             ${g01OutDeg - 1})) AS t(j)),
         h0 AS MATERIALIZED (SELECT node, $u // n AS h FROM nodes, nn)"""
      for (i <- 1 to iters) {
        sb ++= s""",
         ar$i AS MATERIALIZED (SELECT e.dst AS node,
             CAST(SUM(h.h) AS BIGINT) AS a_raw
           FROM edges e JOIN h${i - 1} h ON e.src = h.node GROUP BY 1),
         sa$i AS MATERIALIZED (SELECT CAST(SUM(a_raw) AS BIGINT) AS s FROM ar$i),
         a$i AS MATERIALIZED (SELECT nd.node,
             CAST((CAST(COALESCE(ar.a_raw, 0) AS HUGEINT) * $u)
               // sa.s AS BIGINT) AS a
           FROM nodes nd CROSS JOIN sa$i sa
           LEFT JOIN ar$i ar ON nd.node = ar.node),
         hr$i AS MATERIALIZED (SELECT e.src AS node,
             CAST(SUM(a.a) AS BIGINT) AS h_raw
           FROM edges e JOIN a$i a ON e.dst = a.node GROUP BY 1),
         sh$i AS MATERIALIZED (SELECT CAST(SUM(h_raw) AS BIGINT) AS s FROM hr$i),
         h$i AS MATERIALIZED (SELECT nd.node,
             CAST((CAST(COALESCE(hr.h_raw, 0) AS HUGEINT) * $u)
               // sh.s AS BIGINT) AS h
           FROM nodes nd CROSS JOIN sh$i sh
           LEFT JOIN hr$i hr ON nd.node = hr.node)"""
      }
      sb ++= s"""
         SELECT a.node, a.a, h.h,
           CAST(a.a AS DOUBLE) / CAST($u AS DOUBLE) AS auth,
           CAST(h.h AS DOUBLE) / CAST($u AS DOUBLE) AS hub
         FROM a$iters a JOIN h$iters h USING (node)
         ORDER BY a.node"""
      sb.toString
  }

  /** g03's iteration knob, shared with the oracle SQL generator. */
  private val g03Iters = 10

  /** TrustRank — seeded personalized PageRank
    * (graph/Graph.personalizedPageRank, Gyöngyi et al. 2004) over the
    * SAME planted crawl graph as g01/g02: trusted seeds = documents
    * whose source index divides by 3 (7 of the 20 sources), teleport
    * AND dangling mass flow only to seeds, trust measured as what the
    * seed set can reach — the spam-demotion / crawl-frontier weight
    * next to g01's global centrality. Same integer fixed-point
    * contract; FULL DuckDB oracle unrolls all rounds. */
  // g03: TrustRank replayed round-for-round over g01's edge fixture —
  // teleport + dangling mass to seeds only, the same integer //
  // arithmetic, rounds unrolled as MATERIALIZED chained CTEs.
  gate("g03_trustrank") { (s, dir) =>
    val docs = t(s, dir, "documents")
    val nodes = docs.select(col("doc_id").as("node"), col("source"))
    val edges = graft.graph.Graph.hashLinks(
      nodes.select("node"), g01Seed, g01OutDeg)
    graft.graph.Graph.personalizedPageRank(nodes, edges,
        // trailing-digits extraction, mirrored verbatim in the oracle
        // (ADVICE r16): a non-numeric suffix yields NULL → non-seed in
        // BOTH engines (Spark's lax cast / DuckDB's TRY_CAST), where
        // the old substring(_, 4, 10)+CAST pair silently desynced on
        // suffixes past 10 chars and errored only on the DuckDB side
        seed = regexp_extract(col("source"), "([0-9]+)$", 1)
          .cast("long") % 3 === 0,
        iters = g03Iters, dampNum = g01DampNum, dampDen = g01DampDen,
        unit = g01Unit)
      .orderBy("node")
  } {
      val u = g01Unit
      val num = g01DampNum
      val den = g01DampDen
      val seed = g01Seed
      val iters = g03Iters
      val sb = new StringBuilder
      sb ++= s"""WITH nodes AS MATERIALIZED (SELECT doc_id AS node,
             CASE WHEN TRY_CAST(regexp_extract(source, '([0-9]+)$$', 1)
                 AS BIGINT) % 3 = 0
               THEN 1 ELSE 0 END AS is_seed
           FROM documents),
         nn AS MATERIALIZED (SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST(MIN(doc_id) AS BIGINT) AS lo FROM documents),
         ns AS MATERIALIZED (SELECT CAST(SUM(is_seed) AS BIGINT)
             AS n_seeds FROM nodes),
         edges AS MATERIALIZED (SELECT node AS src,
             lo + (CAST(concat('0x', substr(md5('$seed' ||
               CAST(j AS VARCHAR) || '|' || CAST(node AS VARCHAR)),
               1, 15)) AS BIGINT) % n) AS dst
           FROM nodes, nn, unnest(generate_series(0,
             ${g01OutDeg - 1})) AS t(j)),
         deg AS MATERIALIZED (SELECT src,
             CAST(COUNT(*) AS BIGINT) AS outdeg
           FROM edges GROUP BY 1),
         r0 AS MATERIALIZED (SELECT node, is_seed,
             CASE WHEN is_seed = 1 THEN $u // (SELECT n_seeds FROM ns)
               ELSE 0 END AS r
           FROM nodes)"""
      for (i <- 1 to iters) {
        sb ++= s""",
         c$i AS MATERIALIZED (SELECT e.dst AS node,
             CAST(SUM(r.r // d.outdeg) AS BIGINT) AS in_sum
           FROM edges e JOIN r${i - 1} r ON e.src = r.node
           JOIN deg d ON e.src = d.src GROUP BY 1),
         d$i AS MATERIALIZED (SELECT
             COALESCE(CAST(SUM(r.r) AS BIGINT), 0) AS dmass
           FROM r${i - 1} r LEFT JOIN deg dg ON r.node = dg.src
           WHERE dg.src IS NULL),
         r$i AS MATERIALIZED (SELECT nd.node, nd.is_seed,
             (($num * COALESCE(c.in_sum, 0)) // $den) +
             (CASE WHEN nd.is_seed = 1 THEN
                ((${den - num} * $u) + ($num * dm.dmass))
                  // ($den * ns.n_seeds)
              ELSE 0 END) AS r
           FROM nodes nd CROSS JOIN ns CROSS JOIN d$i dm
           LEFT JOIN c$i c ON nd.node = c.node)"""
      }
      sb ++= s"""
         SELECT node, CAST(is_seed AS BIGINT) AS is_seed, r,
           CAST(r AS DOUBLE) / CAST($u AS DOUBLE) AS rank
         FROM r$iters ORDER BY node"""
      sb.toString
  }
}
