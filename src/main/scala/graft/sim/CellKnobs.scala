package graft.sim

/** Corpus-size-derived k-means cell knobs — [[LshKnobs]]' sibling for the
  * IVF/SemDeDup family, closing the same class of risk the LSH probes
  * measured: a cell count frozen at gate size turns quadratic at scale.
  *
  * Two regimes, because the two consumers have different cost models —
  * stated HONESTLY, envelope included:
  *
  *  - **IVF search** ([[Ivf.ivfKnn]]): assignment costs n·c·d flops and
  *    a probe scans nprobe·(n/c) candidates. [[cellsFor]] picks the
  *    standard balanced c ≈ √n; [[nprobeFor]] grows nprobe as √c
  *    (anchored at the gate's 4-of-16), so per-probe candidate work is
  *    nprobe·n/c = n/√c = n^(3/4) at c = √n — SHRINKING as a fraction
  *    of the corpus. A constant-FRACTION nprobe would make per-probe
  *    work 0.25·n at every scale (brute force / 4); a constant-count
  *    nprobe loses recall as the true neighbor's cell rank grows with
  *    c. Bulk-kNN over n probes is O(n^(7/4)) on this rule — for
  *    full-graph workloads use [[Knn.knnGraphAuto]] (banded LSH), the
  *    near-linear path.
  *  - **SemDeDup** ([[graft.dedup.Dedup.semanticDedup]]): the within-
  *    cell pair verify is (n/c)² per cell × c cells = n²/c total —
  *    linear in n only if c grows with n. [[cellsForPairs]] fixes the
  *    expected CELL SIZE (pair work = n·targetCell, the SemDeDup
  *    paper's own deployment shape) UP TO `maxCells`: the mandatory
  *    full-corpus assignment is n·c·d flops against a c-row centroid
  *    broadcast, so c must stay broadcast-sized — the default cap
  *    (2^17 cells ≈ 34 MB at d=64 floats) bounds both. Beyond
  *    n = targetCell·maxCells (~1.3e8 rows at defaults) a single-level
  *    cell count can no longer be broadcast; [[coarseFineForPairs]]
  *    splits the needed count across two levels (coarse broadcast +
  *    per-coarse-cell fine equi-join,
  *    [[graft.dedup.Dedup.semanticDedupTwoLevel]]), pushing the
  *    envelope to n ≤ targetCell·maxCells² = 1000·2³⁴ ≈ 1.7e13 rows at
  *    defaults — past any 100 TB corpus (~1e11 KB-sized docs).
  *    `fitFraction` bounds only the FIT cost, never the assignment.
  *
  * Gate queries keep their frozen knobs (specs pin recall/ground truth at
  * gate size); the `*Auto` entry points ([[Ivf.ivfKnnAuto]],
  * [[graft.dedup.Dedup.semanticDedupAuto]]) are the deployment path.
  */
object CellKnobs {

  /** ceil(corpusRows / targetCell), the needed cell count every pair-
    * bounded derivation shares. Overflow-safe: divide first (a + b - 1
    * wraps near Long.MaxValue), no floating-point boundary overshoot
    * (the [[LshKnobs.bitsFor]] lesson). */
  private def neededCells(corpusRows: Long, targetCell: Long): Long = {
    require(corpusRows > 0, s"corpusRows must be positive: $corpusRows")
    require(targetCell > 0, s"targetCell must be positive: $targetCell")
    corpusRows / targetCell +
      (if (corpusRows % targetCell == 0) 0L else 1L)
  }

  /** Balanced IVF cell count: round(√n), clamped. */
  def cellsFor(corpusRows: Long, minCells: Int = 4,
               maxCells: Int = 1 << 20): Int = {
    require(corpusRows > 0, s"corpusRows must be positive: $corpusRows")
    require(minCells >= 1 && maxCells >= minCells,
      s"bad clamp [$minCells, $maxCells]")
    // clamp in Long domain: sqrt(Long.MaxValue) overflows Int
    val c = math.round(math.sqrt(corpusRows.toDouble))
    math.min(maxCells.toLong, math.max(minCells.toLong, c)).toInt
  }

  /** Probe width growing as √c, anchored at the gate configuration
    * (nprobe = √c gives exactly the gate's 4-of-16): per-probe
    * candidates nprobe·(n/c) then FALL as the corpus grows (n/√c),
    * while the probed cell count still rises for recall. `scale`
    * multiplies the anchor (recall knob). */
  def nprobeFor(cells: Int, scale: Double = 1.0): Int = {
    require(cells >= 1, s"cells must be >= 1: $cells")
    require(scale > 0, s"scale must be positive: $scale")
    math.max(1, math.min(cells.toLong,
      math.round(math.sqrt(cells.toDouble) * scale)).toInt)
  }

  /** Derived-cell threshold past which [[Ivf.ivfKnnAuto]] switches to
    * the two-level build ([[Ivf.ivfKnnTwoLevel]]): the one-shot n·c
    * assignment is the n^1.5 term the r17 octave measured at 2.2× of
    * linear per decade, and the two-level n·(c1+c2) build overtakes it
    * once c ≫ 2√c plus one extra narrow corpus shuffle. Measured
    * (BENCHLOG "r18 two-level IVF build", its `ivfcmp` crossover
    * table; CellKnobsSpec pins the switch): two-level 1.9×
    * faster end-to-end at c = 141 (n = 20k) and also already faster at
    * c = 45 (n = 2k, probe-floor-dominated). 64 keeps gate-scale corpora
    * (c ≤ ~22 at the 500-row spec fixtures) on the single level, whose
    * one-stage broadcast assignment and global-nprobe recall shape the
    * gates pin, and switches before the flop gap (c vs 2√c + a narrow
    * shuffle) widens past ~4×. */
  val TwoLevelMinCells: Int = 64

  /** √-split of a single-level cell count across two levels:
    * c1 = ceil(√c) coarse, c2 = ceil(c/c1) fine-per-coarse, so
    * c1·c2 ≥ c (cell-size bound preserved) while assignment work per
    * row is c1 + c2 ≈ 2√c — [[coarseFineForPairs]]' shape applied to
    * an already-derived cell count (the IVF-search regime, where c
    * comes from [[cellsFor]]'s √n rule, not a pair-work target). */
  def coarseFineSplit(cells: Int): (Int, Int) = {
    require(cells >= 1, s"cells must be >= 1: $cells")
    val c1 = math.ceil(math.sqrt(cells.toDouble)).toInt
    val c2 = cells / c1 + (if (cells % c1 == 0) 0 else 1)
    (c1, math.max(1, c2))
  }

  /** √-split of the probe width for the two-level probe path
    * ([[Ivf.ivfKnnTwoLevel]]'s inverted-multi-index shape): nprobe1 =
    * ceil(√nprobe) coarse cells, nprobe2 = ceil(nprobe/nprobe1) fine
    * cells in each — nprobe1·nprobe2 ≥ nprobe cells probed, so
    * per-probe candidate work keeps the single-level n/√c bound while
    * per-probe CENTROID work falls from c1·c2 to c1 + nprobe1·c2. */
  def probeSplit(nprobe: Int): (Int, Int) = {
    require(nprobe >= 1, s"nprobe must be >= 1: $nprobe")
    val np1 = math.ceil(math.sqrt(nprobe.toDouble)).toInt
    val np2 = nprobe / np1 + (if (nprobe % np1 == 0) 0 else 1)
    (np1, math.max(1, np2))
  }

  /** Pair-work-bounded cell count for quadratic within-cell operators:
    * smallest c with expected cell size ≤ targetCell (total verify work
    * = n·targetCell, linear in n), capped at `maxCells` (the centroid
    * broadcast / assignment-cost bound — see the object doc for the
    * envelope this implies). Overflow-safe integer ceiling division —
    * no floating-point boundary overshoot (the [[LshKnobs.bitsFor]]
    * lesson), no Long wrap near MaxValue. */
  def cellsForPairs(corpusRows: Long, targetCell: Long,
                    minCells: Int = 1, maxCells: Int = 1 << 17): Int = {
    require(minCells >= 1 && maxCells >= minCells,
      s"bad clamp [$minCells, $maxCells]")
    val c = neededCells(corpusRows, targetCell)
    math.min(maxCells.toLong, math.max(minCells.toLong, c)).toInt
  }

  /** True when [[cellsForPairs]]'s clamp BINDS for this corpus — i.e. a
    * single-level cell count can no longer hold expected cell size at
    * `targetCell`, and the two-level path ([[coarseFineForPairs]]) is
    * the one that preserves the linear pair-work bound. The auto entry
    * point ([[graft.dedup.Dedup.semanticDedupAuto]]) switches on this
    * predicate, so the envelope is a code path, not a footnote. */
  def needsTwoLevelForPairs(corpusRows: Long, targetCell: Long,
                            maxCells: Int = 1 << 17): Boolean =
    neededCells(corpusRows, targetCell) > maxCells.toLong

  /** Two-level split of the pair-work-bounded cell count: coarse count
    * c1 = ceil(√cNeeded) and fine-per-coarse count c2 = ceil(cNeeded/c1),
    * so c1·c2 ≥ cNeeded = ceil(n/targetCell) — expected FINE cell size
    * stays ≤ targetCell under balanced assignment — while each LEVEL
    * stays small: the broadcast is only the c1 coarse centroids, and a
    * row's fine-assignment work is its own coarse cell's ~c2 centroids
    * via the group equi-join. Both clamp at `maxCells`, which binds only
    * past n ≈ targetCell·maxCells² ≈ 1.7e13 rows at defaults; the
    * clamp binding means expected cell size grows again — loud in the
    * returned counts (c1 == c2 == maxCells), not silent. */
  def coarseFineForPairs(corpusRows: Long, targetCell: Long,
                         maxCells: Int = 1 << 17): (Int, Int) = {
    val needed = neededCells(corpusRows, targetCell)
    val c1 = math.min(maxCells.toLong,
      math.ceil(math.sqrt(needed.toDouble)).toLong)
    val c2 = math.min(maxCells.toLong,
      needed / c1 + (if (needed % c1 == 0) 0L else 1L))
    (math.max(1L, c1).toInt, math.max(1L, c2).toInt)
  }
}
