package graft
package gates

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.sim.Knn
import Shared.{cosD, dotD, gateModelDir, gateModelSqlPath, ivfAssignSql,
  modelGlob, t}

/** Similarity-search gates: brute, LSH, IVF, PQ and IVFADC kNN,
  * classifiers, projections and quantizers. */
object SGates extends Family {
  /** kNN classification over the labeled embeddings — the standard
    * label-quality / neighborhood-consistency check on a training corpus:
    * each probe's predicted label is the majority vote of its k=5 exact
    * cosine neighbors (ties: most votes, then lowest label). Composes
    * s01's bruteForceKnn (absolutely bounded probe set, vec_id < 100, the
    * same contract as s01) + one label join + two counting aggregates —
    * the scale paths are s02/s03/s04's candidate generation feeding the
    * same vote. */
  gate("s05_knn_classify") { (s, dir) =>
    val e = t(s, dir, "embeddings")
    val labels = e.select(col("vec_id"), col("label"))
    Knn.bruteForceKnn(e, "vec_id", "embedding",
        probeFilter = col("vec_id") < 100, k = 5)
      .join(labels.select(col("vec_id").as("neighbor_id"),
        col("label").as("n_label")), "neighbor_id")
      .groupBy(col("probe_id"), col("n_label"))
      .agg(count(lit(1)).as("votes"))
      .groupBy("probe_id")
      .agg(max_by(struct(col("n_label").as("pred_label"), col("votes")),
        struct(col("votes"), -col("n_label"))).as("__w"))
      .select(col("probe_id"), col("__w.pred_label").as("pred_label"),
        col("__w.votes").as("votes"))
      .join(labels.select(col("vec_id").as("probe_id"),
        col("label").as("true_label")), "probe_id")
      .select("probe_id", "true_label", "pred_label", "votes")
      .orderBy("probe_id")
  }(
      s"""WITH p AS (SELECT vec_id AS probe_id, embedding AS v_p,
                label AS true_label FROM embeddings WHERE vec_id < 100),
         c AS (SELECT vec_id AS neighbor_id, embedding AS v_c,
               label AS n_label FROM embeddings),
         nn AS (SELECT probe_id, true_label, n_label,
                 row_number() OVER (PARTITION BY probe_id
                   ORDER BY ${cosD("v_p", "v_c")} DESC, neighbor_id ASC)
                   AS rn
                FROM p JOIN c ON probe_id <> neighbor_id),
         votes AS (SELECT probe_id, true_label, n_label, COUNT(*) AS votes
                   FROM nn WHERE rn <= 5 GROUP BY 1, 2, 3),
         best AS (SELECT probe_id, true_label, n_label AS pred_label, votes,
                   row_number() OVER (PARTITION BY probe_id
                     ORDER BY votes DESC, n_label ASC) AS r
                  FROM votes)
         SELECT probe_id, true_label, pred_label, votes
         FROM best WHERE r = 1 ORDER BY probe_id""")

  /** Nearest-class-mean classifier + confusion matrix over the labeled
    * corpus — the one-pass label-coherence report of a curation pipeline.
    * Per-label centroids are per-dimension DECIMAL-exact SUMS surfaced as
    * double: associative, so bit-identical across engines regardless of
    * row order, and cosine is scale-invariant so the unnormalized sum
    * classifies exactly like the mean. Scale shape: one explode pass
    * (map-side-combined (label, pos) sums — #labels × dim groups), then
    * Ivf.assign's pattern — classify via a broadcast of the
    * #labels-row centroid frame (bounded by construction,
    * localCheckpoint'd like Ivf's) + one max_by per vec; the confusion
    * matrix is a #labels² counting aggregate. */
  gate("s06_class_centroids") { (s, dir) =>
    val e = t(s, dir, "embeddings")
    val cent = e
      .select(col("label").as("c_label"),
        posexplode(col("embedding")).as(Seq("pos", "x")))
      .groupBy(col("c_label"), col("pos"))
      .agg(sum(col("x").cast("decimal(27,10)")).cast("double").as("m"))
      .groupBy("c_label")
      .agg(transform(
        array_sort(collect_list(struct(col("pos"), col("m")))),
        f => f.getField("m")).as("centroid"))
      .localCheckpoint(eager = false)
    // r19: classification is one row-local projection against the
    // nested centroid row (Ivf.bestCluster — the identical
    // max_by(struct(cos, -c_label)) rule) instead of a ×#labels
    // crossJoin re-aggregated per vec: the per-vec exchange is gone and
    // the confusion matrix aggregates straight off the scan.
    e.select(col("vec_id"), col("label"), col("embedding"))
      .crossJoin(broadcast(graft.sim.Ivf.nestedCentroids(
        cent.select(col("c_label").as("cluster"), col("centroid")))))
      .select(col("label"),
        graft.sim.Ivf.bestCluster(col("embedding"), col("cents"),
          graft.functions.Vectors.cosineHof).as("pred_label"))
      .groupBy("label", "pred_label")
      .agg(count(lit(1)).as("n"))
      .orderBy("label", "pred_label")
  }(
      // Centroid = per-dim DECIMAL-exact SUM surfaced as double (associative
      // -> engine-portable bit-identical; cosine is scale-invariant so the
      // sum classifies exactly like the mean).
      s"""WITH ex AS (SELECT label AS c_label, i AS pos,
                CAST(embedding[i] AS DECIMAL(27,10)) AS x
              FROM embeddings,
                unnest(generate_series(1, len(embedding))) AS u(i)),
         cm AS (SELECT c_label, pos, CAST(SUM(x) AS DOUBLE) AS m
                FROM ex GROUP BY 1, 2),
         carr AS (SELECT c_label, list(m ORDER BY pos) AS centroid
                  FROM cm GROUP BY 1),
         scored AS (SELECT vec_id, label, c_label,
                     ${cosD("embedding", "centroid")} AS cos
                    FROM embeddings, carr),
         pred AS (SELECT vec_id, label, c_label AS pred_label,
                   row_number() OVER (PARTITION BY vec_id
                     ORDER BY cos DESC, c_label ASC) AS rn
                  FROM scored)
         SELECT label, pred_label, COUNT(*) AS n
         FROM pred WHERE rn = 1
         GROUP BY 1, 2 ORDER BY label, pred_label""")

  /** Shared encode/LUT prefix: cb (the exported codebooks), sv (every
    * vector's m subspace slices), enc (argmin-L2 code per (vec, sub) —
    * Pq.encode's assignWithin with ties to the lowest code), lut (the
    * probes' per-(sub, code) partial dot products). */
  private[gates] def pqPrefixSql(gate: String): String =
    s"""cb AS (SELECT sub, code, centroid
              FROM read_parquet(${modelGlob(gate, "pq_codebooks")})),
       sv AS (SELECT e.vec_id, s.sub,
             e.embedding[s.sub*(len(e.embedding)//$annM)+1 :
                         (s.sub+1)*(len(e.embedding)//$annM)] AS v
           FROM embeddings e,
             unnest(generate_series(0, $annM - 1)) AS s(sub)),
       enc AS (SELECT vec_id, sub, code FROM (
             SELECT sv.vec_id, sv.sub, cb.code,
               row_number() OVER (PARTITION BY sv.vec_id, sv.sub
                 ORDER BY ${dotD("sv.v", "cb.centroid")}
                   - ${dotD("cb.centroid", "cb.centroid")} / 2.0 DESC,
                   cb.code ASC) AS rn
             FROM sv JOIN cb USING (sub)) WHERE rn = 1),
       lut AS (SELECT sv.vec_id AS probe_id, sv.sub, cb.code,
             ${dotD("sv.v", "cb.centroid")} AS pdot
           FROM sv JOIN cb USING (sub) WHERE sv.vec_id < $annProbeMax)"""

  /** Shared ADC tail over a `cand(probe_id, id)` CTE: ordered per-sub
    * LUT accumulation (Pq's ascending `aggregate`), refine·k shortlist,
    * exact dot re-rank — (probe_id, neighbor_id, rank). */
  private def adcTailSql: String = {
    val shortK = annRefine * annK
    s"""sc AS (SELECT c.probe_id, c.id,
             list_reduce(list(l.pdot ORDER BY l.sub), (a, x) -> a + x)
               AS score
           FROM cand c
             JOIN enc en ON en.vec_id = c.id
             JOIN lut l ON l.probe_id = c.probe_id AND l.sub = en.sub
               AND l.code = en.code
           GROUP BY 1, 2),
       sl AS (SELECT probe_id, id FROM (
             SELECT probe_id, id, row_number() OVER (PARTITION BY probe_id
               ORDER BY score DESC, id ASC) AS rn FROM sc)
           WHERE rn <= $shortK),
       rf AS (SELECT sl.probe_id, sl.id AS neighbor_id,
             ${dotD("p.embedding", "c.embedding")} AS s
           FROM sl JOIN embeddings c ON c.vec_id = sl.id
                   JOIN embeddings p ON p.vec_id = sl.probe_id)
       SELECT probe_id, neighbor_id, CAST(rn AS INT) AS rank FROM (
         SELECT probe_id, neighbor_id,
           row_number() OVER (PARTITION BY probe_id
             ORDER BY s DESC, neighbor_id ASC) AS rn FROM rf)
       WHERE rn <= ${annK}
       ORDER BY probe_id, rank"""
  }

  /** Product-quantization kNN with exact refine ([[graft.sim.Pq]]):
    * the vector-COMPRESSION scale path next to s02's LSH and s03's IVF
    * candidate reduction — the corpus is stored as m=16 codes from
    * per-subspace 32-entry L2 codebooks (16× smaller than the float
    * vectors), the ADC pass scores candidates via per-probe lookup
    * tables (m array lookups each, no explode, no per-pair shuffle),
    * and an 8·k shortlist is exactly re-ranked on the true vectors.
    *
    * FULL SQL oracle via the exported-model route (s12's discipline
    * generalized): only the k-means FIT is non-SQL-expressible, so the
    * gate persists the fitted codebooks ([[graft.sim.ModelStore]], the
    * same parquet the production lifecycle persists) at the
    * [[gateModelDir]] path the oracle reads back, and DuckDB re-derives
    * EVERYTHING downstream of the fit — subvector encode (argmin L2),
    * per-probe LUTs, the ordered ADC accumulation, the refine·k
    * shortlist, and the exact re-rank — bit-for-bit (ascending-index
    * double dot products; every ordering fully tie-broken). Fit quality
    * itself stays pinned by PqSpec (lossless-corpus exactness vs brute
    * ranking, knob-swept recall). */
  gate("s07_knn_pq") { (s, dir) =>
    import graft.sim.{ModelStore, Pq}
    val e = t(s, dir, "embeddings")
    val base = gateModelDir(dir, "s07")
    ModelStore.save(
      Pq.fitCodebooks(e, "vec_id", "embedding", m = annM, ksub = annKsub),
      "pq_codebooks", s"$base/pq_codebooks")
    val codebooks = ModelStore.load(s, "pq_codebooks", s"$base/pq_codebooks")
    val codes = Pq.encode(e, "vec_id", "embedding", codebooks, annM)
    Pq.pqKnnFromModel(e, "vec_id", "embedding", codebooks, codes,
        probeFilter = col("vec_id") < annProbeMax, k = annK, m = annM,
        refine = annRefine)
      .orderBy("probe_id", "rank")
  }(
      // PQ+refine over the gate's exported codebooks: cand = every
      // (probe, other-vector) pair (pqKnnFromModel streams probes against
      // the whole code table), then the shared ADC tail.
      s"""WITH ${pqPrefixSql("s07")},
         cand AS (SELECT l.probe_id, e.vec_id AS id
               FROM (SELECT DISTINCT probe_id FROM lut) l, embeddings e
               WHERE e.vec_id <> l.probe_id),
         $adcTailSql""")

  /** [[ivfAssignSql]] plus pcell (each probe's nprobe best cells,
    * TopK's (score DESC, id ASC)). */
  private[gates] def ivfCellsSql(gate: String): String =
    s"""${ivfAssignSql(gate)},
       pcell AS (SELECT probe_id, cluster FROM (
             SELECT e.vec_id AS probe_id, ct.cluster,
               row_number() OVER (PARTITION BY e.vec_id
                 ORDER BY ${cosD("e.embedding", "ct.centroid")} DESC,
                   ct.cluster ASC) AS rn
             FROM embeddings e, cents ct WHERE e.vec_id < $annProbeMax)
           WHERE rn <= ${annNprobe})"""

  /** s08/s09 share this whole shape; only the model dir differs. */
  private def ivfAdcOracleSql(gate: String): String =
    s"""WITH ${pqPrefixSql(gate)},
       ${ivfCellsSql(gate)},
       cand AS (SELECT pc.probe_id, ce.vec_id AS id
             FROM cell ce JOIN pcell pc USING (cluster)
             WHERE ce.vec_id <> pc.probe_id),
       $adcTailSql"""

  /** IVFADC ([[graft.sim.Pq.ivfPqKnn]]) — candidate REDUCTION (s03's
    * IVF cells, same c=16/nprobe=4 anchors) composed with vector
    * COMPRESSION (s07's codebooks) and exact refine: the full
    * production ANN shape, proving the two scale axes compose. FULL SQL
    * oracle via s07's exported-model route: both fits (coarse centroids
    * + codebooks) are persisted at the [[gateModelDir]] path and DuckDB
    * re-derives cell assignment, probe-cell selection, encode, ADC and
    * exact refine bit-for-bit. PqSpec still pins recall, determinism,
    * and probed-cell soundness (every returned neighbor lives in one of
    * its probe's nprobe cells). */
  gate("s08_knn_ivfpq") { (s, dir) =>
    import graft.sim.{Ivf, ModelStore, Pq}
    val e = t(s, dir, "embeddings")
    val corpus = e.select(col("vec_id").as("id"), col("embedding").as("v"))
    val base = gateModelDir(dir, "s08")
    ModelStore.save(Ivf.fitCentroids(corpus, c = annC, iters = 3),
      "ivf_centroids", s"$base/ivf_centroids")
    ModelStore.save(
      Pq.fitCodebooks(e, "vec_id", "embedding", m = annM, ksub = annKsub),
      "pq_codebooks", s"$base/pq_codebooks")
    val centroids = ModelStore.load(s, "ivf_centroids", s"$base/ivf_centroids")
    val codebooks = ModelStore.load(s, "pq_codebooks", s"$base/pq_codebooks")
    // r19: the celled code table is ONE row-local admission projection
    // (admitStateless — PqSpec pins it bit-identical to the
    // encode ⋈ assign composition this replaces), so building the index
    // no longer shuffles the corpus-sized codes by id at all.
    val codes = Pq.admitStateless(e, "vec_id", "embedding", centroids,
      codebooks, annM)
    Pq.ivfPqKnnFromModel(e, "vec_id", "embedding", centroids, codebooks,
        codes, probeFilter = col("vec_id") < annProbeMax, k = annK,
        nprobe = annNprobe, m = annM, refine = annRefine)
      .orderBy("probe_id", "rank")
  }(ivfAdcOracleSql("s08"))

  /** Fit-once / apply-many ANN lifecycle ([[graft.sim.ModelStore]]) —
    * the production posture the reference's persistent-DB driver
    * lifecycle implies (kcidb/db/abstract.py: a driver OPENS existing
    * state and loads incrementally against it; it never rebuilds the
    * database per query): IVF coarse centroids and PQ codebooks are
    * fitted on the INITIAL batch only (even vec_ids), round-tripped
    * through ModelStore parquet, and the later batch (odd vec_ids) is
    * admitted by encode + cell-assignment against the LOADED models —
    * both applications are row-local given the model frames, so
    * batch-at-a-time admission agrees bit-for-bit with a one-shot pass
    * (ModelStoreSpec pins it, d07's incremental discipline on vectors).
    * Probes then query the unioned code table via
    * [[graft.sim.Pq.ivfPqKnnFromModel]] with NO refit anywhere on the
    * query path. FULL SQL oracle via the exported-model route: the
    * persisted models ARE the gate's [[gateModelDir]] export, batch-at-
    * a-time admission is row-local (so DuckDB's one-shot encode+assign
    * over the whole corpus reproduces the unioned code table exactly —
    * the equality ModelStoreSpec pins), and the query tail is s08's
    * oracle arithmetic. ModelStoreSpec still carries save/load identity,
    * incremental==full-encode equality, and from-model==end-to-end
    * result equality. */
  // s09's query path IS s08's oracle arithmetic: admission is
  // row-local given the loaded models, so one-shot encode+assign over
  // the whole corpus equals the gate's batch-at-a-time union
  // bit-for-bit (ModelStoreSpec pins that equality).
  gate("s09_incr_encode") { (s, dir) =>
    import graft.sim.{Ivf, ModelStore, Pq}
    val e = t(s, dir, "embeddings")
    val m = annM; val ksub = annKsub
    val fitBatch = e.filter(col("vec_id") % 2 === 0)
    val nextBatch = e.filter(col("vec_id") % 2 === 1)
    val base = gateModelDir(dir, "s09")
    ModelStore.save(
      Ivf.fitCentroids(
        fitBatch.select(col("vec_id").as("id"), col("embedding").as("v")),
        c = 16, iters = 3),
      "ivf_centroids", s"$base/ivf_centroids")
    ModelStore.save(
      Pq.fitCodebooks(fitBatch, "vec_id", "embedding", m, ksub),
      "pq_codebooks", s"$base/pq_codebooks")
    val centroids = ModelStore.load(s, "ivf_centroids", s"$base/ivf_centroids")
    val codebooks = ModelStore.load(s, "pq_codebooks", s"$base/pq_codebooks")
    // per-batch admission against the loaded models — at production this
    // runs once per arriving batch and appends to the code table.
    // r19: one row-local admission projection (admitStateless, PqSpec-
    // pinned identical to the encode ⋈ assign composition) — the
    // id-keyed join of corpus-sized codes is gone.
    def admit(batch: DataFrame): DataFrame =
      Pq.admitStateless(batch, "vec_id", "embedding", centroids,
        codebooks, m)
    val codes = admit(fitBatch).union(admit(nextBatch))
    Pq.ivfPqKnnFromModel(e, "vec_id", "embedding", centroids, codebooks,
        codes, probeFilter = col("vec_id") < annProbeMax, k = annK,
        nprobe = annNprobe, m = m, refine = annRefine)
      .orderBy("probe_id", "rank")
  }(ivfAdcOracleSql("s09"))

  gate("s01_knn_brute") { (s, dir) =>
    Knn.bruteForceKnn(t(s, dir, "embeddings"), "vec_id", "embedding",
        probeFilter = col("vec_id") < 5, k = 3)
      .orderBy("probe_id", "rank")
  }(
      s"""WITH p AS (SELECT vec_id AS probe_id, embedding AS v_p
                     FROM embeddings WHERE vec_id < 5),
         c AS (SELECT vec_id AS neighbor_id, embedding AS v_c
               FROM embeddings)
         SELECT probe_id, neighbor_id,
           CAST(row_number() OVER w AS INTEGER) AS rank
         FROM p JOIN c ON probe_id <> neighbor_id
         WINDOW w AS (PARTITION BY probe_id
                      ORDER BY ${cosD("v_p", "v_c")} DESC, neighbor_id ASC)
         QUALIFY row_number() OVER w <= 3
         ORDER BY probe_id, rank""")

  /** s10 seed and output dim, shared with the oracle SQL generator. */
  private val s10Seed = "graft-project-r12"
  private val s10OutDim = 16

  /** Seeded ±1 random projection 64 → 16 (Project.randomProjection): the
    * Johnson–Lindenstrauss reduction a 100 TB ANN pipeline runs before
    * building any index. Pure per-row codegen'd map — zero shuffles, no
    * fitting pass, the seed IS the model — and the DuckDB oracle
    * regenerates the identical md5-coin matrix cell by cell, so every
    * projected value hash-matches. */
  gate("s10_random_projection") { (s, dir) =>
    graft.sim.Project.randomProjection(t(s, dir, "embeddings"),
        "vec_id", "embedding", inDim = 64, outDim = s10OutDim,
        seed = s10Seed)
      .orderBy("vec_id", "dim")
  }(
      s"""WITH dims AS (SELECT unnest(generate_series(1,
               ${s10OutDim})) AS j),
         prod AS (SELECT vec_id, j,
             CAST(SUM(CAST(embedding[i] AS DOUBLE) *
                 CASE WHEN substr(md5('${s10Seed}:'
                     || i || ':' || j), 1, 1) <= '7'
                   THEN 1.0 ELSE -1.0 END) AS DOUBLE) AS v
           FROM embeddings, dims,
             unnest(generate_series(1, len(embedding))) AS u(i)
           GROUP BY 1, 2)
         SELECT vec_id, CAST(j AS INT) AS dim, round(v, 6) AS value
         FROM prod ORDER BY vec_id, dim""")

  /** SQ8 scalar quantization (Sq.sq8Summary): per-dim [min,max] fit —
    * one map-side-combined d-key aggregate — zipped into the scan as a
    * 1-row broadcast, then a single codegen'd per-row transform encodes
    * every float to a byte. The 4× compression rung BEFORE PQ at 100 TB;
    * codes use floor(x+0.5) so Spark and DuckDB agree bit-for-bit, and
    * the gate pins each vector's full code sequence via md5. */
  gate("s11_sq8_encode") { (s, dir) =>
    graft.sim.Sq.sq8Summary(t(s, dir, "embeddings"), "vec_id", "embedding")
      .orderBy("vec_id")
  }(
      // SQ8 codes are floor((v-lo)*255/(hi-lo) + 0.5): one stated double
      // operation order, so both engines produce identical integers and the
      // per-vector md5 over the comma-joined code sequence hash-matches.
      """WITH ex AS (SELECT vec_id, i, CAST(embedding[i] AS DOUBLE) AS v
              FROM embeddings,
                unnest(generate_series(1, len(embedding))) AS u(i)),
         mm AS (SELECT i, MIN(v) AS lo, MAX(v) AS hi FROM ex GROUP BY i),
         codes AS (SELECT vec_id, ex.i,
             CASE WHEN hi = lo THEN 0
               ELSE CAST(least(greatest(
                 floor((v - lo) * 255.0 / (hi - lo) + 0.5), 0), 255) AS INT)
             END AS code
           FROM ex JOIN mm ON ex.i = mm.i)
         SELECT vec_id, CAST(COUNT(*) AS BIGINT) AS n_dims,
           CAST(SUM(code) AS BIGINT) AS code_sum,
           MIN(code) AS code_min, MAX(code) AS code_max,
           md5(string_agg(CAST(code AS VARCHAR), ',' ORDER BY i))
             AS codes_md5
         FROM codes GROUP BY vec_id ORDER BY vec_id""")

  /** SQ8 recall audit (Sq.sq8Recall): float-space brute top-5 vs
    * code-space top-5 for the bounded probe set — the quality
    * measurement a production SQ8 deployment ships with. Code-space
    * cosines are integer-derived (exact in double under any summation
    * order), so both rankings and every recall are bit-deterministic
    * and the DuckDB oracle reproduces them exactly. */
  gate("s12_sq8_recall") { (s, dir) =>
    graft.sim.Sq.sq8Recall(t(s, dir, "embeddings"), "vec_id", "embedding",
        probeFilter = col("vec_id") < 5, k = 5)
      .orderBy("probe_id")
  }(
      // Code-space cosines are integer-derived (dot and norms of byte
      // codes are exact in double under any summation order), so both
      // rankings and every recall are reproduced bit-for-bit.
      s"""WITH ex AS (SELECT vec_id, i, CAST(embedding[i] AS DOUBLE) AS v
              FROM embeddings,
                unnest(generate_series(1, len(embedding))) AS u(i)),
         mm AS (SELECT i, MIN(v) AS lo, MAX(v) AS hi FROM ex GROUP BY i),
         codes AS (SELECT vec_id, ex.i,
             CASE WHEN hi = lo THEN 0
               ELSE CAST(least(greatest(
                 floor((v - lo) * 255.0 / (hi - lo) + 0.5), 0), 255) AS INT)
             END AS code
           FROM ex JOIN mm ON ex.i = mm.i),
         nrm AS (SELECT vec_id, CAST(SUM(code * code) AS BIGINT) AS n2
                 FROM codes GROUP BY vec_id),
         cd AS (SELECT pc.vec_id AS probe_id, cc.vec_id AS neighbor_id,
             CAST(SUM(pc.code * cc.code) AS BIGINT) AS dot
           FROM codes pc JOIN codes cc
             ON pc.i = cc.i AND pc.vec_id < 5 AND pc.vec_id <> cc.vec_id
           GROUP BY 1, 2),
         ck AS (SELECT probe_id, neighbor_id
           FROM (SELECT probe_id, neighbor_id,
               row_number() OVER (PARTITION BY probe_id ORDER BY
                 CAST(dot AS DOUBLE) /
                   (sqrt(CAST(np.n2 AS DOUBLE)) *
                    sqrt(CAST(nc.n2 AS DOUBLE))) DESC,
                 neighbor_id ASC) AS rn
             FROM cd
               JOIN nrm np ON np.vec_id = cd.probe_id
               JOIN nrm nc ON nc.vec_id = cd.neighbor_id)
           WHERE rn <= 5),
         p AS (SELECT vec_id AS probe_id, embedding AS v_p
               FROM embeddings WHERE vec_id < 5),
         c AS (SELECT vec_id AS neighbor_id, embedding AS v_c
               FROM embeddings),
         bk AS (SELECT probe_id, neighbor_id
           FROM (SELECT probe_id, neighbor_id,
               row_number() OVER (PARTITION BY probe_id
                 ORDER BY ${cosD("v_p", "v_c")} DESC, neighbor_id ASC)
                 AS rn
             FROM p JOIN c ON probe_id <> neighbor_id)
           WHERE rn <= 5),
         hits AS (SELECT bk.probe_id, COUNT(ck.neighbor_id) AS n_hits
           FROM bk LEFT JOIN ck
             ON bk.probe_id = ck.probe_id
               AND bk.neighbor_id = ck.neighbor_id
           GROUP BY 1)
         SELECT probe_id, CAST(n_hits AS BIGINT) AS n_hits,
           round(CAST(n_hits AS DOUBLE) / 5, 6) AS recall
         FROM hits ORDER BY probe_id""")

  /** SRP signature CTEs from a gate's exported plane table
    * ([[graft.sim.Knn.srpPlanes]] — the LSH "model", the one
    * non-SQL-portable piece): pl (plane components), proj (ascending-
    * index ordered projections — SrpSignatures' accumulation), sig
    * (per-table sign buckets; bit j set iff projection > 0, exactly the
    * kernel's rule). The table/bit split derives from the `bits` COLUMN
    * the export carries (the k01 rsd-column discipline), so the gates'
    * AUTO-derived knobs can vary per scale without this SQL going
    * stale. */
  private def srpSigSql(gate: String): String =
    s"""pl AS (SELECT p, i, w, bits
              FROM read_parquet(${modelGlob(gate, "srp_planes")})),
       proj AS (SELECT e.vec_id, pl.p,
             list_reduce(list(CAST(e.embedding[pl.i] AS DOUBLE) * pl.w
               ORDER BY pl.i), (a, x) -> a + x) AS s
           FROM embeddings e, pl GROUP BY 1, 2),
       sig AS (SELECT vec_id, p // bb.bits AS tbl,
             CAST(SUM(CASE WHEN s > 0
               THEN (CAST(1 AS BIGINT) << (p % bb.bits)) ELSE 0 END)
               AS BIGINT) AS bucket
           FROM proj, (SELECT MAX(bits) AS bits FROM pl) bb
           GROUP BY 1, 2)"""

  /** Shared exact-cosine rank tail over a `cand(probe_id, neighbor_id)`
    * CTE — Knn.rankTopK's (cos DESC, id ASC) top-k as SQL. */
  private def cosRankTail: String =
    s"""sc AS (SELECT c.probe_id, c.neighbor_id,
           ${cosD("p.embedding", "n.embedding")} AS cos
         FROM cand c
           JOIN embeddings p ON p.vec_id = c.probe_id
           JOIN embeddings n ON n.vec_id = c.neighbor_id)
       SELECT probe_id, neighbor_id, CAST(rn AS INT) AS rank FROM (
         SELECT probe_id, neighbor_id,
           row_number() OVER (PARTITION BY probe_id
             ORDER BY cos DESC, neighbor_id ASC) AS rn FROM sc)
       WHERE rn <= ${annK}
       ORDER BY probe_id, rank"""

  /** Banded SRP-LSH top-k. FULL SQL oracle via the exported-model
    * route (r13): the kernel's murmur3 plane derivation is the one
    * non-SQL-portable step, so the gate persists [[graft.sim.Knn
    * .srpPlanes]] (the LSH "model") and DuckDB re-derives projections,
    * sign buckets, the banded candidate set and the exact cosine
    * ranking from it. KnnSpec pins planes == kernel signatures. */
  gate("s02_knn_lsh") { (s, dir) =>
    val e = t(s, dir, "embeddings")
    val kn = srpGateKnobs(e)
    saveSrpPlanes(s, e, gateModelDir(dir, "s02"), kn)
    Knn.lshKnn(e, "vec_id", "embedding",
        probeFilter = col("vec_id") < annProbeMax, k = annK,
        bitsPerTable = kn.bits, nTables = kn.tables)
      .orderBy("probe_id", "rank")
  }(
      // Banded SRP-LSH over the gate's exported plane table: ordered
      // projections, sign buckets, banded candidates, exact cosine rank.
      s"""WITH ${srpSigSql("s02")},
         cand AS (SELECT DISTINCT a.vec_id AS probe_id,
               b.vec_id AS neighbor_id
             FROM sig a JOIN sig b
               ON a.tbl = b.tbl AND a.bucket = b.bucket
             WHERE a.vec_id < $annProbeMax AND a.vec_id <> b.vec_id),
         $cosRankTail""")

  /** s02/s04 knobs AUTO-derived from the corpus size (the d05/d06/d15
    * r13 discipline — the gate runs what production would derive, and
    * the 10x probe measures the same path: frozen b=4/L=8 read 533 s
    * at 10x where the derived b=8/L=15 read 56 s). Derived once here
    * so the plane export and the query share one count() job; the
    * oracle learns the split from the exported `bits` column. */
  private def srpGateKnobs(e: DataFrame): graft.sim.LshKnobs.Knobs = {
    val kn = graft.sim.LshKnobs.derive(e.count(), Knn.KnnTargetBucket,
      Knn.KnnBaseBits, Knn.KnnBaseTables)
    graft.sim.LshKnobs.requireUncapped(kn, "lshKnn/knnGraph")
    kn
  }

  /** IVF top-k. FULL SQL oracle via the exported-model route (r13):
    * the k-means fit persists ([[graft.sim.ModelStore]]) and the query
    * runs [[graft.sim.Ivf.ivfKnnFromCentroids]] against the LOADED
    * centroids — cell assignment, probe-cell selection and the exact
    * cosine ranking all re-derived in DuckDB from the exported model. */
  gate("s03_knn_ivf") { (s, dir) =>
    import graft.sim.{Ivf, ModelStore}
    val e = t(s, dir, "embeddings")
    val corpus = e.select(col("vec_id").as("id"), col("embedding").as("v"))
    val base = gateModelDir(dir, "s03")
    ModelStore.save(Ivf.fitCentroids(corpus, c = annC, iters = 3),
      "ivf_centroids", s"$base/ivf_centroids")
    val centroids = ModelStore.load(s, "ivf_centroids", s"$base/ivf_centroids")
    Ivf.ivfKnnFromCentroids(e, "vec_id", "embedding", centroids,
        probeFilter = col("vec_id") < annProbeMax, k = annK,
        nprobe = annNprobe)
      .orderBy("probe_id", "rank")
  }(
      // IVF over the gate's exported centroids: cell assignment +
      // probe-cell selection (ivfCellsSql) bound the candidates, exact
      // cosine ranks them.
      s"""WITH ${ivfCellsSql("s03")},
         cand AS (SELECT pc.probe_id, ce.vec_id AS neighbor_id
               FROM cell ce JOIN pcell pc USING (cluster)
               WHERE ce.vec_id <> pc.probe_id),
         $cosRankTail""")

  /** Shared s02/s04 plane export: the dim rides inside the plane
    * plan (srpPlanesFromCorpus), so the export is ONE write job. */
  private def saveSrpPlanes(s: SparkSession,
                            emb: org.apache.spark.sql.DataFrame,
                            base: String,
                            kn: graft.sim.LshKnobs.Knobs): Unit =
    graft.sim.ModelStore.save(
      Knn.srpPlanesFromCorpus(emb, "embedding", kn.tables, kn.bits),
      "srp_planes", s"$base/srp_planes")

  /** Full-corpus kNN graph — s02's banding with every row a probe.
    * FULL SQL oracle via the same exported-plane route. */
  gate("s04_knn_graph") { (s, dir) =>
    val e = t(s, dir, "embeddings")
    val kn = srpGateKnobs(e)
    saveSrpPlanes(s, e, gateModelDir(dir, "s04"), kn)
    Knn.knnGraph(e, "vec_id", "embedding",
        k = annK, bitsPerTable = kn.bits, nTables = kn.tables)
      .orderBy("probe_id", "rank")
  }(
      // s04 = s02 with every row a probe (the kNN-graph construction).
      s"""WITH ${srpSigSql("s04")},
         cand AS (SELECT DISTINCT a.vec_id AS probe_id,
               b.vec_id AS neighbor_id
             FROM sig a JOIN sig b
               ON a.tbl = b.tbl AND a.bucket = b.bucket
             WHERE a.vec_id <> b.vec_id),
         $cosRankTail""")

  /** k-means|| init quality report (Ivf.kmeansParallelInit, Bahmani et
    * al. 2012): the same 3-iteration spherical k-means fit run from the
    * deterministic lowest-id seeds AND from the cost-proportional
    * oversampled init, each profiled as exact-decimal total quantization
    * cost (Σ round(1−maxCos, 6), deterministic under any partitioning)
    * plus occupied-cell count — "measure, don't guess" applied to the
    * init knob every k-means consumer (IVF, SemDeDup, PQ) sits on.
    * Rows-only: k-means isn't SQL-expressible; IvfInitSpec pins
    * determinism, candidate provenance, and the cost relationship. */
  // s13: the init-quality profile re-derived from BOTH exported
  // centroid fits — per-row max cosine, exact-decimal cost total
  // (round-6 per row into DECIMAL(28,6), the gate's rule), occupied
  // cells via the assign tie-break.
  gate("s13_kmeanspp_init") { (s, dir) =>
    import graft.sim.{Ivf, ModelStore}
    val corpus = t(s, dir, "embeddings")
      .select(col("vec_id").as("id"), col("embedding").as("v"))
    val base = gateModelDir(dir, "s13")
    // FULL SQL oracle via the exported-model route (r13): both fitted
    // centroid frames persist (ModelStore) and DuckDB re-derives the
    // entire profile — per-row max cosine, exact-decimal total cost,
    // occupied-cell count — from the identical model bits; the fits
    // themselves stay pinned by IvfInitSpec (determinism, provenance,
    // cost relationship).
    def profile(name: String, init: Option[DataFrame]): DataFrame = {
      ModelStore.save(Ivf.fitCentroids(corpus, c = annC, iters = 3,
        initCentroids = init), "ivf_centroids", s"$base/$name")
      val cents = ModelStore.load(s, "ivf_centroids", s"$base/$name")
      // r19: per-row max cosine as one row-local projection against the
      // nested centroid row (max over an array is order-exact — the
      // same double as the old groupBy max) instead of a ×c crossJoin
      // re-aggregated by id.
      val scored = corpus
        .crossJoin(broadcast(Ivf.nestedCentroids(cents)))
        .select(col("id"),
          array_max(transform(col("cents"), e =>
            graft.functions.Vectors.cosine(col("v"),
              e.getField("centroid")))).as("max_cos"))
      val cost = scored.agg(count(lit(1)).as("n_rows"),
        sum(round(lit(1.0) - col("max_cos"), 6).cast("decimal(28,6)"))
          .cast("double").as("total_cost"))
      val cells = Ivf.assign(corpus, cents)
        .agg(countDistinct(col("cluster")).as("n_cells"))
      // 1-row scalar combine (the exempted NLJ class)
      cost.crossJoin(cells)
        .select(lit(name).as("init"), col("n_rows"), col("n_cells"),
          round(col("total_cost"), 6).as("total_cost"))
    }
    profile("lowid", None)
      .union(profile("kmpp",
        Some(Ivf.kmeansParallelInit(corpus, c = annC))))
      .orderBy("init")
  } {
      def prof(name: String): String =
        s"""SELECT '$name' AS init,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM mx_$name) AS n_rows,
           (SELECT CAST(COUNT(DISTINCT cl) AS BIGINT) FROM asg_$name)
             AS n_cells,
           (SELECT round(CAST(SUM(CAST(round(1.0 - mc, 6)
               AS DECIMAL(28,6))) AS DOUBLE), 6) FROM mx_$name)
             AS total_cost"""
      def ctes(name: String): String =
        s"""cents_$name AS (SELECT cluster, centroid FROM read_parquet(
               '${gateModelSqlPath("s13")}/$name/*.parquet')),
           mx_$name AS (SELECT e.vec_id,
                 MAX(${cosD("e.embedding", "c.centroid")}) AS mc
               FROM embeddings e, cents_$name c GROUP BY 1),
           asg_$name AS (SELECT vec_id, cl FROM (
                 SELECT e.vec_id, c.cluster AS cl,
                   row_number() OVER (PARTITION BY e.vec_id
                     ORDER BY ${cosD("e.embedding", "c.centroid")} DESC,
                       c.cluster ASC) AS rn
                 FROM embeddings e, cents_$name c) WHERE rn = 1)"""
      s"""WITH ${ctes("lowid")},
         ${ctes("kmpp")}
         SELECT * FROM (${prof("lowid")} UNION ALL ${prof("kmpp")})
         ORDER BY init"""
  }

  /** ANN gate knobs, shared verbatim with the exported-model oracles
    * (s07/s08/s09/st05) — the st11WithinSec shared-constant discipline:
    * one definition on the Scala side, interpolated into the SQL, so a
    * knob tweak can never leave the oracle checking a stale bound. */
  private[gates] val annM = 16        // PQ subspaces
  private[gates] val annKsub = 32     // codes per subspace (SQL-side: implicit in the exported codebook)
  private val annK = 3         // neighbors returned
  private val annRefine = 8    // shortlist = refine·k
  private val annC = 16        // IVF coarse cells (implicit in the exported centroids)
  private val annNprobe = 4    // cells scanned per probe
  private val annProbeMax = 5  // probe set: vec_id < annProbeMax
}
