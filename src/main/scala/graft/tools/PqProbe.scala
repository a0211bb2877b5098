package graft.tools

import org.apache.spark.sql.functions._
import graft.sim.{CellKnobs, Ivf, ModelStore, Pq}

/** Builder-side probe for the PQ family (args: sfDir mode). Modes:
  *
  *  - `phases`: the s08 fit-vs-query decomposition at gate knobs —
  *    each lifecycle phase (IVF fit, PQ fit, encode+assign, query) timed
  *    separately with the models/codes persisted between phases
  *    (ModelStore + a codes parquet), so the query phase is EXACTLY the
  *    production fit-once path (ivfPqKnnFromModel over loaded frames).
  *  - `ksub256`: the production byte-code knob — fit+encode+query at
  *    m=16/ksub=256 end-to-end, plus ADC-shortlist recall vs the brute
  *    inner-product ranking on the same probes.
  *  - `auto`: corpus-derived knobs for the scale octaves (c = √n via
  *    CellKnobs.cellsFor, nprobe = √c, m from the dimension at dsub=4,
  *    ksub=256) — s07-shape pqKnn and s08-shape ivfPqKnn end-to-end,
  *    the check that the PQ family's deployment rule holds at 10×/100×
  *    without hand-picked knobs.
  *
  * Prints one JSON line per mode.
  */
object PqProbe {
  def main(args: Array[String]): Unit = {
    val dir = args(0)
    val mode = if (args.length > 1) args(1) else "phases"
    val spark = graft.GraftSession.local(graft.GraftSession.cpus(32))
    val emb = graft.sources.Tables(spark, dir, "embeddings")
    val n = emb.count()
    val dim = emb.select(max(size(col("embedding")))).head().getInt(0)
    def timed(f: => Unit): Double = {
      val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
    }
    def noop(df: org.apache.spark.sql.DataFrame): Unit =
      df.write.format("noop").mode("overwrite").save()
    // untimed warmup (JIT/codegen/footers)
    noop(emb.groupBy(col("label")).count())

    mode match {
      case "phases" =>
        // gate knobs (s08_knn_ivfpq)
        val (c, nprobe, m, ksub, refine) = (16, 4, 16, 32, 8)
        val base = java.nio.file.Files
          .createTempDirectory("pq_probe").toString
        val corpus = emb.select(col("vec_id").as("id"),
          col("embedding").as("v"))
        val tFitIvf = timed {
          ModelStore.save(Ivf.fitCentroids(corpus, c, iters = 3),
            "ivf_centroids", s"$base/centroids")
        }
        val tFitPq = timed {
          ModelStore.save(
            Pq.fitCodebooks(emb, "vec_id", "embedding", m, ksub),
            "pq_codebooks", s"$base/codebooks")
        }
        val centroids = ModelStore.load(spark, "ivf_centroids",
          s"$base/centroids")
        val codebooks = ModelStore.load(spark, "pq_codebooks",
          s"$base/codebooks")
        val tEncode = timed {
          Pq.encode(emb, "vec_id", "embedding", codebooks, m)
            .join(Ivf.assign(corpus, centroids)
              .select(col("id"), col("cluster")), Seq("id"))
            .write.mode("overwrite").parquet(s"$base/codes")
        }
        val codes = spark.read.parquet(s"$base/codes")
        val tQuery = timed {
          noop(Pq.ivfPqKnnFromModel(emb, "vec_id", "embedding", centroids,
            codebooks, codes, probeFilter = col("vec_id") < 5, k = 3,
            nprobe = nprobe, m = m, refine = refine))
        }
        println(f"""{"probe":"pq_phases","dir":"$dir","n":$n,""" +
          f""""fit_ivf":$tFitIvf%.2f,"fit_pq":$tFitPq%.2f,""" +
          f""""encode":$tEncode%.2f,"query":$tQuery%.2f,""" +
          f""""total":${tFitIvf + tFitPq + tEncode + tQuery}%.2f}""")

      case "ksub256" =>
        // optional args(2) = refine (shortlist width) for the recall-
        // recovery sweep: re-ranking is exact, so wider shortlists
        // recover recall monotonically
        val (m, ksub, k) = (16, 256, 3)
        val refine = if (args.length > 2) args(2).toInt else 8
        var result: org.apache.spark.sql.DataFrame = null
        val t = timed {
          // eager localCheckpoint materializes the plan ONCE; the recall
          // intersect below then reads the checkpoint instead of
          // re-running the whole encode+ADC+refine pipeline
          result = Pq.pqKnn(emb, "vec_id", "embedding",
            probeFilter = col("vec_id") < 5, k = k, m = m, ksub = ksub,
            refine = refine).localCheckpoint()
        }
        val brute = graft.sim.Knn.bruteForceKnn(emb, "vec_id", "embedding",
          probeFilter = col("vec_id") < 5, k = k)
        val hits = result.select("probe_id", "neighbor_id")
          .intersect(brute.select("probe_id", "neighbor_id")).count()
        val total = brute.count()
        println(f"""{"probe":"pq_ksub256","dir":"$dir","n":$n,""" +
          f""""refine":$refine,""" +
          f""""sec":$t%.2f,"recall":${hits.toDouble / total}%.3f,""" +
          f""""hits":$hits,"k_total":$total}""")

      case "auto" =>
        // corpus-derived deployment knobs: balanced √n cells, √c probes,
        // dsub=4 subspaces, byte codes (ksub overridable via args(2) for
        // octave-shape runs — fit flops are ∝ n·ksub by construction, so
        // a smaller ksub answers the scaling-shape question at the same
        // plan shape for a fraction of the wall-clock)
        val c = CellKnobs.cellsFor(n)
        val nprobe = CellKnobs.nprobeFor(c)
        require(dim >= 4 && dim % 4 == 0,
          s"auto mode derives m = dim/4 (dsub=4) and needs 4 | dim; " +
            s"got dim=$dim — pick m by hand for this corpus")
        val m = dim / 4
        val ksub = if (args.length > 2) args(2).toInt else 256
        // bounded fit sample — the deployment recipe that keeps total
        // fit work sub-linear: ~100 points per centroid for the larger
        // of the two k-means (IVF cells / PQ codes), full corpus only
        // when smaller than that
        val fitFraction = math.min(1.0,
          100.0 * math.max(c, ksub) / n)
        val tS07 = timed {
          noop(Pq.pqKnn(emb, "vec_id", "embedding",
            probeFilter = col("vec_id") < 5, k = 3, m = m, ksub = ksub,
            fitFraction = fitFraction, refine = 8))
        }
        // the deployment switch, mirroring Ivf.ivfKnnAuto (r18): past
        // TwoLevelMinCells the coarse level builds two-level, retiring
        // the n·c one-shot assignment from the IVFADC path too
        val twoLevel = c >= CellKnobs.TwoLevelMinCells
        val tS08 = timed {
          if (twoLevel) {
            val (c1, c2) = CellKnobs.coarseFineSplit(c)
            val (np1, np2) = CellKnobs.probeSplit(nprobe)
            noop(Pq.ivfPqKnnTwoLevel(emb, "vec_id", "embedding",
              probeFilter = col("vec_id") < 5, k = 3,
              c1 = c1, c2 = c2, nprobe1 = np1, nprobe2 = np2,
              m = m, ksub = ksub, fitFraction = fitFraction,
              refine = 8))
          } else
            noop(Pq.ivfPqKnn(emb, "vec_id", "embedding",
              probeFilter = col("vec_id") < 5, k = 3, c = c,
              nprobe = nprobe, m = m, ksub = ksub,
              fitFraction = fitFraction, refine = 8))
        }
        println(f"""{"probe":"pq_auto","dir":"$dir","n":$n,"c":$c,""" +
          f""""nprobe":$nprobe,"m":$m,"ksub":$ksub,""" +
          f""""two_level":$twoLevel,""" +
          f""""fit_fraction":$fitFraction%.3f,""" +
          f""""s07_sec":$tS07%.2f,"s08_sec":$tS08%.2f}""")

      case other =>
        sys.error(s"unknown mode '$other' (phases|ksub256|auto)")
    }
    spark.stop()
  }
}
