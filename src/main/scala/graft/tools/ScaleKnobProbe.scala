package graft.tools

import org.apache.spark.sql.functions._

/** Builder-side probe for the SRP-LSH scale knobs (args: sfDir
  * graphBits bandBits [nBands], or `sfDir auto`): times s04's knnGraph
  * and d05's embeddingNearDups at the given bucket widths and prints one
  * JSON line. `auto` derives every knob from the corpus count via
  * [[graft.sim.LshKnobs]] — the check that the coded deployment rule
  * restores near-linear scaling WITHOUT hand-picked bits.
  *
  * Rationale: bucket size is corpus / 2^bits, so candidate-pair work per
  * bucket grows quadratically in corpus size when bits stay fixed — the
  * 10× scale probe (BENCHLOG r08) measured exactly that (s04 132×,
  * d05 54×). Raising bits with log2(corpus growth) restores bucket size
  * and with it near-linear scaling; recall is then recovered by raising
  * the band/table COUNT, the standard (b, L) LSH tradeoff.
  */
object ScaleKnobProbe {
  def main(args: Array[String]): Unit = {
    val dir = args(0)
    val auto = args.length > 1 && args(1) == "auto"
    // focused modes (r18): `ivf` re-times ONLY the ivf_auto octave leg
    // (the two-level rewire check, without paying the ~11min s04 leg);
    // `ivfcmp` times single-level ivfKnn vs ivfKnnTwoLevel at the SAME
    // derived (c, nprobe) — the TwoLevelMinCells crossover evidence.
    val mode = if (args.length > 1) args(1) else ""
    if (mode == "ivf" || mode == "ivfcmp") { ivfOnly(dir, mode); return }
    val spark = graft.GraftSession.local(graft.GraftSession.cpus(32))
    val emb = graft.sources.Tables(spark, dir, "embeddings")
    val n = emb.count()
    import graft.sim.LshKnobs
    val (graphBits, graphTables) =
      if (auto) {
        val k = LshKnobs.derive(n, graft.sim.Knn.KnnTargetBucket,
          graft.sim.Knn.KnnBaseBits, graft.sim.Knn.KnnBaseTables)
        (k.bits, k.tables)
      } else (args(1).toInt, 8)
    val (bandBits, nBands) =
      if (auto) {
        val k = LshKnobs.derive(n, graft.dedup.Dedup.NearDupTargetBucket,
          graft.dedup.Dedup.NearDupBaseBits,
          graft.dedup.Dedup.NearDupBaseTables)
        (k.bits, k.tables)
      } else (args(2).toInt, if (args.length > 3) args(3).toInt else 18)

    def timed(f: => Unit): Double = {
      val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
    }
    val tGraph = timed {
      graft.sim.Knn.knnGraph(emb, "vec_id", "embedding", k = 3,
          bitsPerTable = graphBits, nTables = graphTables)
        .write.format("noop").mode("overwrite").save()
    }
    // auto mode also probes the k-means family's corpus-derived knobs
    // (CellKnobs): IVF search and SemDeDup at deployment shapes.
    val (tIvf, tSem) =
      if (auto) {
        val a = timed {
          graft.sim.Ivf.ivfKnnAuto(emb, "vec_id", "embedding",
              probeFilter = col("vec_id") % 20 === 0, k = 3,
              corpusRows = Some(n), fitFraction = math.min(1.0, 20000.0 / n))
            .write.format("noop").mode("overwrite").save()
        }
        val b = timed {
          graft.dedup.Dedup.semanticDedupAuto(emb, "vec_id", "embedding",
              tau = 0.25, corpusRows = Some(n),
              fitFraction = math.min(1.0, 20000.0 / n))
            .write.format("noop").mode("overwrite").save()
        }
        (a, b)
      } else (-1.0, -1.0)
    // one execution serves both the timing and the pair count
    val near = graft.dedup.Dedup.embeddingNearDups(emb, "vec_id",
        "embedding", probeFilter = col("vec_id") % 20 === 0,
        threshold = 0.25, bitsPerBand = bandBits, nBands = nBands)
      .persist()
    var nNear = 0L
    val tNear = timed { nNear = near.count() }
    near.unpersist()
    println(f"""{"dir":"$dir","rows":$n,"auto":$auto,""" +
      f""""graphBits":$graphBits,"graphTables":$graphTables,""" +
      f""""bandBits":$bandBits,""" +
      f""""nBands":$nBands,"s04_sec":$tGraph%.2f,"d05_sec":$tNear%.2f,""" +
      f""""d05_pairs":$nNear,"ivf_auto_sec":$tIvf%.2f,""" +
      f""""semdedup_auto_sec":$tSem%.2f}""")
    spark.stop()
  }

  private def ivfOnly(dir: String, mode: String): Unit = {
    val spark = graft.GraftSession.local(graft.GraftSession.cpus(32))
    val emb = graft.sources.Tables(spark, dir, "embeddings")
    val n = emb.count()
    def timed(f: => Unit): Double = {
      val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
    }
    import graft.sim.{CellKnobs, Ivf}
    val probe = col("vec_id") % 20 === 0
    val fitFraction = math.min(1.0, 20000.0 / n)
    if (mode == "ivf") {
      // the exact leg of the r17 ANN octave (BENCHLOG.md:2387), alone
      val t = timed {
        Ivf.ivfKnnAuto(emb, "vec_id", "embedding", probeFilter = probe,
            k = 3, corpusRows = Some(n), fitFraction = fitFraction)
          .write.format("noop").mode("overwrite").save()
      }
      val c = CellKnobs.cellsFor(n)
      println(f"""{"dir":"$dir","rows":$n,"mode":"ivf","cells":$c,""" +
        f""""two_level":${c >= CellKnobs.TwoLevelMinCells},""" +
        f""""ivf_auto_sec":$t%.2f}""")
    } else {
      // same derived knobs on BOTH paths: the crossover comparison
      val c = CellKnobs.cellsFor(n)
      val nprobe = CellKnobs.nprobeFor(c)
      val (c1, c2) = CellKnobs.coarseFineSplit(c)
      val (np1, np2) = CellKnobs.probeSplit(nprobe)
      val tSingle = timed {
        Ivf.ivfKnn(emb, "vec_id", "embedding", probeFilter = probe,
            k = 3, c = c, nprobe = nprobe, fitFraction = fitFraction)
          .write.format("noop").mode("overwrite").save()
      }
      val tTwo = timed {
        Ivf.ivfKnnTwoLevel(emb, "vec_id", "embedding", probeFilter = probe,
            k = 3, c1 = c1, c2 = c2, nprobe1 = np1, nprobe2 = np2,
            fitFraction = fitFraction)
          .write.format("noop").mode("overwrite").save()
      }
      // Recall columns (ADVICE r18): the crossover evidence must cover
      // QUALITY, not just wall-clock — the inverted-multi-index probe
      // constrains fine probes to nprobe1 coarse cells, so two-level
      // recall at the sizes where ivfKnnAuto actually switches needs
      // measuring. Ground truth is brute-force cosine on a ~100-probe
      // subset (stride grows with n, so this leg stays O(100·n·d) at
      // any decade and never dominates the timed legs above).
      val stride = math.max(20L, n / 100L)
      val rProbe = col("vec_id") % stride === 0
      def top(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
        df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val exact = top(graft.sim.Knn.bruteForceKnn(emb, "vec_id",
        "embedding", probeFilter = rProbe, k = 3))
      val rSingle = top(Ivf.ivfKnn(emb, "vec_id", "embedding",
        probeFilter = rProbe, k = 3, c = c, nprobe = nprobe,
        fitFraction = fitFraction))
      val rTwo = top(Ivf.ivfKnnTwoLevel(emb, "vec_id", "embedding",
        probeFilter = rProbe, k = 3, c1 = c1, c2 = c2, nprobe1 = np1,
        nprobe2 = np2, fitFraction = fitFraction))
      def recall(a: Set[(Long, Long)]): Double =
        if (exact.isEmpty) 1.0
        else (a intersect exact).size.toDouble / exact.size
      println(f"""{"dir":"$dir","rows":$n,"mode":"ivfcmp","cells":$c,""" +
        f""""c1":$c1,"c2":$c2,"nprobe":$nprobe,"np1":$np1,"np2":$np2,""" +
        f""""single_sec":$tSingle%.2f,"two_sec":$tTwo%.2f,""" +
        f""""recall_probes":${exact.size / 3},""" +
        f""""recall_single":${recall(rSingle)}%.3f,""" +
        f""""recall_two":${recall(rTwo)}%.3f}""")
    }
    spark.stop()
  }
}
