package graft.sim

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.{TopK, Vectors}

/** Approximate-nearest-neighbor search over an embedding column.
  *
  * Baseline: brute-force cosine top-k for a bounded probe set — the probe
  * side is broadcast, so the corpus streams once through a codegen'd
  * cosine; cost is O(|probes| × |corpus|) with no corpus shuffle. Scale
  * path: banded random-hyperplane LSH (L tables × b bits, an OR-
  * construction) buckets the corpus so each probe only scans its buckets —
  * the (table, bucket) pair is the shuffle key, recall grows with L, and
  * bucket size is corpus / 2^b per table, tunable independently of recall.
  *
  * Ranking in BOTH paths is a bounded top-k aggregate
  * ([[graft.functions.TopKByScore]]): map-side partial aggregation reduces
  * every partition to ≤ k candidates per probe before the shuffle, so no
  * probe ever sees all its scored candidates in one place — the
  * `row_number() over (partition by probe)` window this replaces shuffled
  * the entire scored corpus to a single partition per probe.
  */
object Knn {

  /** (probe_id, neighbor_id, rank) from scored candidate rows
    * (probe_id, neighbor_id, cos): rank 1..k by cos desc, id asc. */
  private[graft] def rankTopK(scored: DataFrame, k: Int): DataFrame = {
    // the per-PROBE group domain scales with the probe set — guarantee
    // OHA hash-aggregation headroom so a default-conf session never
    // sort-falls-back over the scored candidate stream (r19, the k09
    // cliff's ANN sibling; see OhaHeadroom.ensureSmallBuffer)
    graft.util.OhaHeadroom.ensureSmallBuffer(scored.sparkSession,
      graft.functions.TopK.heapBytes(k))
    scored.groupBy("probe_id")
      .agg(TopK.topKByScore(col("cos"), col("neighbor_id"), k).as("nn"))
      .select(col("probe_id"), posexplode(col("nn")).as(Seq("pos", "nn")))
      .select(col("probe_id"), col("nn.id").as("neighbor_id"),
        (col("pos") + 1).cast("int").as("rank"))
  }

  /** Brute-force top-k cosine neighbors for each probe row.
    * Output: (probe_id, neighbor_id, rank), rank 1..k by cosine desc with
    * neighbor_id as deterministic tiebreak. */
  def bruteForceKnn(emb: DataFrame, idCol: String, vecCol: String,
                    probeFilter: Column, k: Int): DataFrame = {
    val probes = emb.filter(probeFilter)
      .select(col(idCol).as("probe_id"), col(vecCol).as("v_p"))
    val corpus = emb.select(col(idCol).as("neighbor_id"), col(vecCol).as("v_c"))
    val scored = broadcast(probes)
      .join(corpus, col("probe_id") =!= col("neighbor_id"))
      .select(col("probe_id"), col("neighbor_id"),
        Vectors.cosine(col("v_p"), col("v_c")).as("cos"))
    rankTopK(scored, k)
  }

  /** Drop (table, bucket) keys holding more than `cap` rows — the LSH
    * analog of d02/d04's document-frequency hot-shingle cap
    * (`Dedup.autoDfCap`). A
    * degenerate bucket (all-zero vectors, near-constant corpora) holds a
    * corpus-scale fraction of rows, so its self-join term is quadratic
    * while its candidates carry the least signal (the bucket fails to
    * discriminate by construction). One extra count-shuffle on the
    * (table, bucket) key; both probe and corpus sides see the same capped
    * signature set. None keeps exact banded semantics. */
  private def capBuckets(sigs: DataFrame, maxBucket: Option[Int])
      : DataFrame => DataFrame =
    maxBucket match {
      case None => identity
      case Some(cap) =>
        // the keep set is consumed alongside the probe/corpus reads of the
        // same signature frame — checkpoint it lazily so the full-corpus
        // SRP explode is not re-executed a third time for the count
        // (Catalog.expandIds' multi-consumer discipline)
        val keep = sigs.groupBy("table", "bucket")
          .agg(count(lit(1)).as("__n"))
          .filter(col("__n") <= cap)
          .select("table", "bucket")
          .localCheckpoint(eager = false)
        df => df.join(keep, Seq("table", "bucket"))
    }

  /** Banded-LSH approximate top-k: candidates share at least one of L
    * (table, bucket) signatures with the probe; ranking among candidates is
    * exact cosine via the bounded top-k aggregate. Same output shape as
    * bruteForceKnn (may return < k rows per probe — approximate).
    * @param maxBucket optional per-bucket row cap (see [[capBuckets]]). */
  def lshKnn(emb: DataFrame, idCol: String, vecCol: String,
             probeFilter: Column, k: Int,
             bitsPerTable: Int, nTables: Int,
             maxBucket: Option[Int] = None): DataFrame = {
    val withSig = emb.select(col(idCol).as("id"), col(vecCol).as("v"),
      posexplode(srpBands(vecCol, nTables, bitsPerTable))
        .as(Seq("table", "bucket")))
    // probeFilter resolves against the RAW frame (missing-attribute
    // resolution reaches emb's columns through the projection); the cap is
    // then applied to both sides so they see the same bucket universe.
    val cap = capBuckets(withSig, maxBucket)
    val probes = cap(withSig.filter(probeFilter))
      .select(col("id").as("probe_id"), col("v").as("v_p"),
        col("table"), col("bucket"))
    val corpus = cap(withSig)
      .select(col("id").as("neighbor_id"), col("v").as("v_c"),
        col("table"), col("bucket"))
    // A pair colliding in several tables must score once: dedup candidate
    // pairs (vectors ride along so no extra lookup join) before the cosine.
    val cands = probes.join(corpus, Seq("table", "bucket"))
      .filter(col("probe_id") =!= col("neighbor_id"))
      .select(col("probe_id"), col("v_p"), col("neighbor_id"), col("v_c"))
      .distinct()
    val scored = cands.select(col("probe_id"), col("neighbor_id"),
      Vectors.cosine(col("v_p"), col("v_c")).as("cos"))
    rankTopK(scored, k)
  }

  /** Full-corpus approximate kNN GRAPH: every row's top-k cosine
    * neighbors — the kNN-graph construction step behind SemDeDup-style
    * curation and graph clustering. Same banded SRP LSH as [[lshKnn]],
    * but with no bounded probe side: every doc probes its buckets.
    *
    * Scale shape: [[lshKnn]] lets the (bounded) probe vectors ride
    * through the candidate dedup; at graph scale the VECTORS are the row
    * width (d floats ≫ 16 bytes), so here the multi-table dedup shuffles
    * only the narrow (src, dst) id pair and each side's vector is
    * restored by one equi-join on the id before scoring. Ranking is the
    * bounded top-k aggregate — map-side partials keep ≤ k candidates per
    * src per partition; no window ever sees a full candidate list. */
  def knnGraph(emb: DataFrame, idCol: String, vecCol: String, k: Int,
               bitsPerTable: Int, nTables: Int,
               maxBucket: Option[Int] = None): DataFrame = {
    val raw = emb.select(col(idCol).as("id"),
      posexplode(srpBands(vecCol, nTables, bitsPerTable))
        .as(Seq("table", "bucket")))
    val sigs = capBuckets(raw, maxBucket)(raw)
    val pairs = sigs.select(col("id").as("probe_id"),
        col("table"), col("bucket"))
      .join(sigs.select(col("id").as("neighbor_id"),
        col("table"), col("bucket")), Seq("table", "bucket"))
      .filter(col("probe_id") =!= col("neighbor_id"))
      .select("probe_id", "neighbor_id")
      .distinct()
    val v = emb.select(col(idCol).as("id"), col(vecCol).as("v"))
    // shuffle_hash on the VECTOR side: sort-merge would sort the huge
    // candidate frame (with a vector attached after the first join) —
    // measured as a local-disk-filling spill at the 100× probe. Hashing
    // the corpus-sized vector side leaves the candidate side streaming:
    // both sides still shuffle by id, nothing sorts.
    val scored = pairs
      .join(v.select(col("id").as("probe_id"), col("v").as("v_p"))
        .hint("shuffle_hash"), "probe_id")
      .join(v.select(col("id").as("neighbor_id"), col("v").as("v_c"))
        .hint("shuffle_hash"), "neighbor_id")
      .select(col("probe_id"), col("neighbor_id"),
        Vectors.cosine(col("v_p"), col("v_c")).as("cos"))
    rankTopK(scored, k)
  }

  /** L random-hyperplane signatures of `bits` bits each, as an array<long>
    * indexed by table: bit j of table t is the sign of the projection onto
    * pseudo-random plane (t*bits + j). Plane components are derived from
    * murmur3(plane, dim) — deterministic, no stored model. Native fused
    * kernel (graft.functions.SrpSignatures) with a single codegen'd loop
    * nest; [[srpBandsHof]] is the bit-identical HOF reference. */
  def srpBands(vecCol: String, nTables: Int, bits: Int): Column = {
    import org.apache.spark.sql.{GraftColumnBridge => B}
    B.column(graft.functions.SrpSignatures(
      B.expression(col(vecCol)), nTables, bits))
  }

  /** Higher-order-function reference formulation of [[srpBands]] — kept for
    * portability and cross-checked bit-identical in KnnSpec. */
  def srpBandsHof(vecCol: String, nTables: Int, bits: Int): Column = expr(
    s"""transform(
          sequence(0, ${nTables - 1}),
          t -> aggregate(
            sequence(0, ${bits - 1}),
            0L,
            (acc, j) -> acc | CASE WHEN
              aggregate(
                sequence(1, size($vecCol)),
                cast(0.0 as double),
                (s, i) -> s + cast(element_at($vecCol, i) as double) *
                  ((cast(pmod(hash(t * $bits + j, i), 2000) as double)
                    - 1000.0) / 1000.0)
              ) > 0 THEN shiftleft(1L, j) ELSE 0L END
          ))""")

  /** The SRP plane-COMPONENT table — (p, i, w) with w the exact
    * pseudo-random component [[graft.functions.SrpSignatures]] derives
    * from murmur3(p, i) — materialized as a MODEL frame for the
    * exported-model oracle route (Pq's codebook discipline): the
    * murmur3 inside the kernel is the one non-SQL-portable step of the
    * whole LSH pipeline, so the s02/s04 gates persist this tiny
    * (L·b × dim) table and the DuckDB oracle re-derives projections,
    * sign bits, buckets, candidates and the exact ranking from it.
    * Built with the SQL `hash()` function — the same call
    * [[srpBandsHof]] uses, and KnnSpec pins srpBandsHof == srpBands
    * bit-for-bit, so the exported planes ARE the kernel's planes. */
  /** Plane component (p, i) — the ONE formula, shared by the two plane
    * builders below and bit-equal to srpBandsHof's (KnnSpec-pinned). */
  private def planeW(p: Column, i: Column): Column =
    (pmod(hash(p, i), lit(2000)).cast("double") - 1000.0) / 1000.0

  def srpPlanes(spark: org.apache.spark.sql.SparkSession, dim: Int,
                nTables: Int, bits: Int): DataFrame =
    // one partition: L·b·dim rows is a few thousand — 32 range slices
    // would cost more in task scheduling + part files than the compute
    spark.range(0, nTables.toLong * bits, 1, 1)
      .select(col("id").cast("int").as("p"))
      .select(col("p"), explode(sequence(lit(1), lit(dim))).as("i"))
      // `bits` rides the model (the k01 rsd-column discipline): the
      // oracle derives table/bit split from the frame, so AUTO-derived
      // knobs can vary per scale without the SQL going stale
      .select(col("p"), col("i"), planeW(col("p"), col("i")).as("w"),
        lit(bits).as("bits"))

  /** [[srpPlanes]] with the dimension read from the corpus INSIDE the
    * same lazy plan (a 1-row limit), so exporting the planes costs one
    * job total instead of a dim-probe action plus the write — the
    * overhead that matters when the consuming gate itself is
    * sub-second (s02). */
  def srpPlanesFromCorpus(emb: DataFrame, vecCol: String,
                          nTables: Int, bits: Int): DataFrame =
    emb.limit(1)
      .select(size(col(vecCol)).as("dim"),
        explode(sequence(lit(0), lit(nTables * bits - 1))).as("p"))
      .select(col("p").cast("int").as("p"),
        explode(sequence(lit(1), col("dim"))).as("i"))
      .select(col("p"), col("i"), planeW(col("p"), col("i")).as("w"),
        lit(bits).as("bits"))

  /** Single-table signature (back-compat helper; table 0 of [[srpBands]]). */
  def lshSignatureExpr(vecCol: String, bits: Int): Column =
    element_at(srpBands(vecCol, 1, bits), 1)

  /** Gate reference configuration for the kNN LSH family (s02/s04):
    * b=4, L=8, expected ~125-row buckets on the gate corpus — the
    * (baseBits, baseTables, targetBucket) anchor [[LshKnobs]] widens
    * from. The 10× probe validated exactly this anchor: 15000 rows /
    * 125 → bits=7 restored near-linear scaling (BENCHLOG r08). */
  private[graft] val KnnBaseBits = 4
  private[graft] val KnnBaseTables = 8
  private[graft] val KnnTargetBucket = 125L

  /** [[lshKnn]] with (bits, tables) derived from corpus size
    * ([[LshKnobs]]) instead of hand-ported constants — the deployment
    * entry point at a new scale. Pass `corpusRows` when the count is
    * already known (a catalog statistic, a previous stage's count);
    * None runs one count() job over the scan (column-pruned to
    * metadata — cheap next to the LSH work it sizes). */
  def lshKnnAuto(emb: DataFrame, idCol: String, vecCol: String,
                 probeFilter: Column, k: Int,
                 corpusRows: Option[Long] = None,
                 targetBucket: Long = KnnTargetBucket,
                 recallCos: Double = 0.9,
                 maxBucket: Option[Int] = None): DataFrame = {
    val kn = LshKnobs.derive(corpusRows.getOrElse(emb.count()),
      targetBucket, KnnBaseBits, KnnBaseTables, recallCos)
    LshKnobs.requireUncapped(kn, "lshKnn")
    lshKnn(emb, idCol, vecCol, probeFilter, k, kn.bits, kn.tables, maxBucket)
  }

  /** [[knnGraph]] with corpus-derived knobs — see [[lshKnnAuto]]. */
  def knnGraphAuto(emb: DataFrame, idCol: String, vecCol: String, k: Int,
                   corpusRows: Option[Long] = None,
                   targetBucket: Long = KnnTargetBucket,
                   recallCos: Double = 0.9,
                   maxBucket: Option[Int] = None): DataFrame = {
    val kn = LshKnobs.derive(corpusRows.getOrElse(emb.count()),
      targetBucket, KnnBaseBits, KnnBaseTables, recallCos)
    LshKnobs.requireUncapped(kn, "knnGraph")
    knnGraph(emb, idCol, vecCol, k, kn.bits, kn.tables, maxBucket)
  }
}
