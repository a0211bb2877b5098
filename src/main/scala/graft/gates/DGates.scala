package graft
package gates

import org.apache.spark.sql.functions._
import graft.dedup.Dedup
import graft.text.TextOps
import Shared.{U64, cosD, gateModelDir, ivfAssignSql, modelGlob, normText,
  qualitySql, t, toS, toU}

/** Dedup and decontamination gates: exact, MinHash, SimHash, n-gram,
  * embedding and semantic near-dups, clusters, CDC spans and
  * benchmark contamination. */
object DGates extends Family {
  gate("d01_dedup_exact") { (s, dir) =>
    val fp = t(s, dir, "documents")
      .select(col("doc_id"), Dedup.fingerprint(col("text")).as("fp"))
    fp.groupBy().agg(
      count(lit(1)).as("n_docs"),
      countDistinct(col("fp")).as("n_unique"))
      .select(col("n_docs"), col("n_unique"),
        (col("n_docs") - col("n_unique")).as("n_dup_docs"))
  }(
      s"""SELECT COUNT(*) AS n_docs,
         COUNT(DISTINCT md5($normText)) AS n_unique,
         COUNT(*) - COUNT(DISTINCT md5($normText)) AS n_dup_docs
         FROM documents""")

  /** rotl64 of a BIGINT expr by a column amount s in [0, 63]. */
  private def rotl64(h: String, s: String) = {
    val u = toU(h)
    toS(s"(($u * (1::HUGEINT << ($s))) % CAST($U64 AS HUGEINT)" +
      s" + ($u // (1::HUGEINT << (64 - ($s)))))")
  }

  /** Shared MinHash prefix over a gate's exported shingle dictionary
    * (Dedup.shingleHashDict): 3-gram shingle sets + sizes, the
    * k=[[mhK]] rotl-mix permutation values per
    * shingle, per-doc signature mins, and the EXACT slice-value band
    * keys (rowsPerBand = mhK/mhBands — Dedup.bands' concat_ws,
    * reproduced as string_agg ORDER BY s). Knobs interpolate from the
    * shared constants below, so gate and oracle can never desync. */
  private def minhashPrefixSql(gate: String): String =
    s"""dict AS (SELECT g, h1, h2
              FROM read_parquet(${modelGlob(gate, "shingle_hashes")})),
       arrs AS (SELECT doc_id, string_split($normText, ' ') AS arr
                FROM documents),
       sh AS (SELECT DISTINCT doc_id, array_to_string(arr[i:i+2], ' ') AS g
              FROM arrs, unnest(generate_series(1,
                greatest(len(arr) - 2, 1))) AS u(i)),
       sz AS (SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY 1),
       perm AS (SELECT g, q.s, xor(h1, ${rotl64("h2", "q.s")}) AS r
                FROM dict, unnest(generate_series(0,
                  ${mhK - 1})) AS q(s)),
       sig AS (SELECT sh.doc_id, p.s, MIN(p.r) AS m
               FROM sh JOIN perm p USING (g) GROUP BY 1, 2),
       bd AS (SELECT doc_id,
                s // ${mhK / mhBands}
                  AS band,
                string_agg(CAST(m AS VARCHAR), ',' ORDER BY s) AS bh
              FROM sig GROUP BY 1, 2)"""

  /** Shared MinHash exact-jaccard tail over a `cand(ida, idb)` CTE. */
  private def jaccardTailSql(ida: String, idb: String): String =
    s"""ix AS (SELECT c.$ida, c.$idb, COUNT(*) AS i
             FROM cand c JOIN sh a ON a.doc_id = c.$ida
               JOIN sh b ON b.doc_id = c.$idb AND a.g = b.g
             GROUP BY 1, 2),
       j AS (SELECT c.$ida, c.$idb,
               CAST(COALESCE(ix.i, 0) AS DOUBLE)
                 / (sa.sz + sb.sz - COALESCE(ix.i, 0)) AS jaccard
             FROM cand c LEFT JOIN ix USING ($ida, $idb)
               JOIN sz sa ON sa.doc_id = c.$ida
               JOIN sz sb ON sb.doc_id = c.$idb)"""

  /** MinHash+LSH near-dup pairs. FULL SQL oracle via the exported-model
    * route (r13): the shingle hash dictionary ([[graft.dedup.Dedup
    * .shingleHashDict]]) is the one non-SQL-portable step, and banding
    * uses exact slice-value keys, so DuckDB re-derives the k rotl-mix
    * permutations, band keys, candidate join and exact jaccard. */
  gate("d02_dedup_minhash") { (s, dir) =>
    val docs = t(s, dir, "documents")
    // coalesce(1): the dict is a bounded oracle artifact (~10⁴ rows);
    // 32 shuffle-partition part files would cost more than the write
    graft.sim.ModelStore.save(
      Dedup.shingleHashDict(docs, "doc_id", "text", n = 3).coalesce(1),
      "shingle_hashes", s"${gateModelDir(dir, "d02")}/shingle_hashes")
    // production default (r16): the corpus-derived boilerplate df cap
    // rides the pipeline — a no-op at every gate sf (DedupSpec pins the
    // margin; the oracle stays exact), the linear-work guard at 100 TB
    Dedup.minhashNearDupsAuto(docs, "doc_id", "text",
        k = mhK, nBands = mhBands, threshold = d02Tau)
      .orderBy("id_a", "id_b")
  }(
      // d04 is EXACT, so it gets a full DuckDB oracle (the inverted index
      // generates every pair sharing >= 1 shingle; any pair with jaccard
      // >= tau > 0 shares a shingle, so none is missed): same shingle CTE
      // shape as d09/d10, pairwise jaccard via |A∩B| counting and
      // |A∪B| = |A|+|B|−|A∩B|. Rounded to 6 dp in both engines (the repo's
      // float-emission convention); the threshold filter applies pre-round.
      // MinHash+LSH near-dups over the exported shingle-hash dictionary:
      // permutations, exact band keys, candidate join and exact jaccard
      // all re-derived; only the two shingle hashes are taken as model.
      s"""WITH ${minhashPrefixSql("d02")},
         cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
               FROM bd a JOIN bd b ON a.band = b.band AND a.bh = b.bh
               WHERE a.doc_id < b.doc_id),
         ${jaccardTailSql("id_a", "id_b")}
         SELECT id_a, id_b, jaccard FROM j
         WHERE jaccard >= ${d02Tau}
         ORDER BY id_a, id_b""")

  /** Fuzzy decontamination (d09's MinHash sibling): eval docs (every
    * 10th) near-duplicating some TRAIN doc at shingle-Jaccard >= 0.5,
    * with the witness pair + exact jaccard exported so the DuckDB gate
    * replica recomputes every emitted jaccard and asserts the bound and
    * the split orientation (tools/oracle_check.py d13_soundness, the
    * d02 recipe cross-split). */
  gate("d13_fuzzy_decontam") { (s, dir) =>
    val docs = t(s, dir, "documents")
    graft.sim.ModelStore.save(
      Dedup.shingleHashDict(docs, "doc_id", "text", n = 3).coalesce(1),
      "shingle_hashes", s"${gateModelDir(dir, "d13")}/shingle_hashes")
    Dedup.crossMinhashNearDupsAuto(docs, "doc_id", "text",
        evalFilter = col("doc_id") % 10 === 0,
        k = mhK, nBands = mhBands, threshold = d13Tau)
      .select(col("eval_id"), col("train_id"),
        round(col("jaccard"), 6).as("jaccard"))
      .orderBy("eval_id", "train_id")
  }(
      // d13 = d02's prefix with cross-split candidate orientation
      // (eval = doc_id % 10 == 0 probes x train) and the 0.5 threshold
      // applied PRE-round like the gate.
      s"""WITH ${minhashPrefixSql("d13")},
         cand AS (SELECT DISTINCT a.doc_id AS eval_id, b.doc_id AS train_id
               FROM bd a JOIN bd b ON a.band = b.band AND a.bh = b.bh
               WHERE a.doc_id % 10 = 0 AND b.doc_id % 10 <> 0),
         ${jaccardTailSql("eval_id", "train_id")}
         SELECT eval_id, train_id, round(jaccard, 6) AS jaccard
         FROM j WHERE jaccard >= ${d13Tau}
         ORDER BY eval_id, train_id""")

  /** emitSigs: the gate output carries both signatures so the DuckDB side
    * of the correctness check recomputes every emitted hamming as
    * bit_count(xor(sig_a, sig_b)) and asserts the <= 3 soundness bound
    * (tools/oracle_check.py, d02_soundness's sibling); completeness is the
    * DedupSpec pigeonhole ground truth. */
  gate("d03_dedup_simhash") { (s, dir) =>
    val docs = t(s, dir, "documents")
    graft.sim.ModelStore.save(Dedup.tokenHashDict(docs, "text").coalesce(1),
      "token_hashes", s"${gateModelDir(dir, "d03")}/token_hashes")
    Dedup.simhashNearDups(docs, "doc_id", "text",
        maxDist = 3, emitSigs = true)
      .orderBy("id_a", "id_b")
  }(
      // SimHash near-dups over the exported token-hash dictionary:
      // per-bit votes, sign signature (HUGEINT bit build folded to
      // signed BIGINT), pigeonhole chunks, hamming — all re-derived.
      s"""WITH dict AS (SELECT t, h
               FROM read_parquet(${modelGlob("d03", "token_hashes")})),
         tok AS (SELECT DISTINCT doc_id, u.t
               FROM (SELECT doc_id, string_split($normText, ' ') AS arr
                     FROM documents), unnest(arr) AS u(t)),
         v AS (SELECT tok.doc_id, b.i,
                 CAST(SUM(CASE WHEN (d.h >> b.i) & 1 = 1
                   THEN 1 ELSE -1 END) AS BIGINT) AS v
               FROM tok JOIN dict d USING (t),
                 unnest(generate_series(0, 63)) AS b(i)
               GROUP BY 1, 2),
         sg AS (SELECT doc_id, ${toS(
          "CAST(SUM(CASE WHEN v > 0 THEN (1::HUGEINT << i) " +
            "ELSE 0::HUGEINT END) AS HUGEINT)")} AS sig
               FROM v GROUP BY 1),
         ch AS (SELECT doc_id, sig, c.j AS chunk_idx,
                 (sig >> (16 * c.j)) & 65535 AS chunk
               FROM sg, unnest(generate_series(0, 3)) AS c(j)),
         p AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
                 CAST(bit_count(xor(a.sig, b.sig)) AS INT) AS dist,
                 a.sig AS sig_a, b.sig AS sig_b
               FROM ch a JOIN ch b
                 ON a.chunk_idx = b.chunk_idx AND a.chunk = b.chunk
               WHERE a.doc_id < b.doc_id)
         SELECT id_a, id_b, dist, sig_a, sig_b FROM p WHERE dist <= 3
         ORDER BY id_a, id_b""")

  /** Exact (not LSH-approximate) — so it carries a full DuckDB oracle:
    * jaccard rounded to 6 dp on both sides, threshold applied pre-round. */
  gate("d04_ngram_jaccard") { (s, dir) =>
    Dedup.ngramJaccardPairsAuto(t(s, dir, "documents"), "doc_id", "text",
        n = 3, probeFilter = col("doc_id") % 10 === 0, threshold = 0.02)
      .select(col("id_a"), col("id_b"), round(col("jaccard"), 6).as("jaccard"))
      .orderBy("id_a", "id_b")
  }(
      s"""WITH arrs AS (SELECT doc_id, string_split($normText, ' ') AS arr
                        FROM documents),
         sh AS (SELECT DISTINCT doc_id, array_to_string(arr[i:i+2], ' ') AS g
                FROM arrs,
                  unnest(generate_series(1, greatest(len(arr) - 2, 1)))
                  AS u(i)),
         sz AS (SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY 1),
         inter AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                     COUNT(*) AS ix
                   FROM sh a JOIN sh b USING (g)
                   WHERE a.doc_id % 10 = 0 AND a.doc_id < b.doc_id
                   GROUP BY 1, 2),
         j AS (SELECT id_a, id_b,
                 CAST(ix AS DOUBLE) / (sa.sz + sb.sz - ix) AS jaccard
               FROM inter
                 JOIN sz sa ON sa.doc_id = id_a
                 JOIN sz sb ON sb.doc_id = id_b)
         SELECT id_a, id_b, round(jaccard, 6) AS jaccard
         FROM j WHERE jaccard >= 0.02 ORDER BY id_a, id_b""")

  /** Asymmetric containment near-subset pairs
    * (Dedup.containmentPairs): every doc_id %20==0 plants a "quote"
    * twin under id+2000000 carrying its first max(6, n/3) words — a
    * subset Jaccard scores ~0.3 (invisible to d04's 0.9-class
    * thresholds) but containment scores ~1.0. Shared-shingle
    * equi-join blocking only; FULL DuckDB oracle re-derives plant,
    * shingles, orientation and the threshold. */
  gate("d17_containment") { (s, dir) =>
    val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
    val quotes = docs.filter(col("doc_id") % 20 === 0)
      .select((col("doc_id") + 2000000L).as("doc_id"),
        array_join(slice(split(col("text"), " "), lit(1),
          greatest(lit(6), floor(size(split(col("text"), " ")) / 3)
            .cast("int"))), " ").as("text"))
    Dedup.containmentPairsAuto(docs.unionByName(quotes), "doc_id", "text",
        n = 3, threshold = 0.9)
      .select(col("id_small"), col("id_big"), col("inter"),
        col("sz_small"), col("sz_big"),
        round(col("containment"), 6).as("containment"))
      .orderBy("id_small", "id_big")
  }(
      // d17: plant, shingles, size-orientation and threshold re-derived;
      // the base CTE's quote twin mirrors the gate's raw-word slice
      // BEFORE normalization, exactly as the Spark side builds it.
      s"""WITH base AS (SELECT doc_id, text FROM documents
           UNION ALL
           SELECT doc_id + 2000000,
             array_to_string((string_split(text, ' '))[1:greatest(6,
               len(string_split(text, ' ')) // 3)], ' ')
           FROM documents WHERE doc_id % 20 = 0),
         arrs AS (SELECT doc_id, string_split($normText, ' ') AS arr
                  FROM base),
         sh AS (SELECT DISTINCT doc_id,
                  array_to_string(arr[i:i+2], ' ') AS g
                FROM arrs,
                  unnest(generate_series(1, greatest(len(arr) - 2, 1)))
                  AS u(i)),
         sz AS (SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY 1),
         inter AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                     COUNT(*) AS ix
                   FROM sh a JOIN sh b USING (g)
                   WHERE a.doc_id < b.doc_id
                   GROUP BY 1, 2),
         o AS (SELECT
                 CASE WHEN sa.sz <= sb.sz THEN id_a ELSE id_b END
                   AS id_small,
                 CASE WHEN sa.sz <= sb.sz THEN id_b ELSE id_a END
                   AS id_big,
                 CAST(ix AS BIGINT) AS inter,
                 LEAST(sa.sz, sb.sz) AS sz_small,
                 GREATEST(sa.sz, sb.sz) AS sz_big,
                 CAST(ix AS DOUBLE) / CAST(LEAST(sa.sz, sb.sz) AS DOUBLE)
                   AS containment
               FROM inter
                 JOIN sz sa ON sa.doc_id = id_a
                 JOIN sz sb ON sb.doc_id = id_b)
         SELECT id_small, id_big, inter,
           CAST(sz_small AS BIGINT) AS sz_small,
           CAST(sz_big AS BIGINT) AS sz_big,
           round(containment, 6) AS containment
         FROM o WHERE containment >= 0.9
         ORDER BY id_small, id_big""")

  gate("d05_embed_neardup") { (s, dir) =>
    // the AUTO-knob deployment entry point is the gate default (r13):
    // knobs derive from the corpus size (b=1/L=18 at every test sf —
    // bit-identical to the frozen reference config, DedupSpec-pinned),
    // and the 10x octave probe runs the SAME path, so the gate
    // exercises what production ships instead of a frozen twin
    Dedup.embeddingNearDupsAuto(t(s, dir, "embeddings"), "vec_id",
        "embedding", probeFilter = col("vec_id") % 20 === 0,
        threshold = 0.25)
      .select(col("id_a"), col("id_b"))
      .orderBy("id_a", "id_b")
  }(
      s"""WITH p AS (SELECT vec_id AS id_a, embedding AS v_a
                     FROM embeddings WHERE vec_id % 20 = 0),
         c AS (SELECT vec_id AS id_b, embedding AS v_b FROM embeddings)
         SELECT id_a, id_b FROM p JOIN c ON id_a < id_b
         WHERE ${cosD("v_a", "v_b")} >= 0.25
         ORDER BY id_a, id_b""")

  /** Near-dup clustering: connected components over the d05 pair graph —
    * every vec in a component gets the component's min id as its cluster
    * (the KEEP-one-representative step of a dedup pipeline). */
  gate("d06_dedup_clusters") { (s, dir) =>
    Dedup.connectedComponents(
        Dedup.embeddingNearDupsAuto(t(s, dir, "embeddings"), "vec_id",
          "embedding", probeFilter = col("vec_id") % 20 === 0,
          threshold = 0.25),
        "id_a", "id_b")
      .select(col("id").as("vec_id"), col("cluster").as("cluster_id"))
      .orderBy("vec_id")
  }(
      s"""WITH RECURSIVE p AS (
           SELECT id_a, id_b FROM (
             SELECT va.vec_id AS id_a, vb.vec_id AS id_b,
               ${cosD("va.embedding", "vb.embedding")} AS cos
             FROM embeddings va JOIN embeddings vb
               ON va.vec_id % 20 = 0 AND va.vec_id < vb.vec_id)
           WHERE cos >= 0.25),
         e AS (SELECT id_a AS src, id_b AS dst FROM p
               UNION SELECT id_b, id_a FROM p),
         reach(id, label) AS (
           SELECT src, src FROM e
           UNION
           SELECT e.dst, r.label FROM e JOIN reach r ON e.src = r.id)
         SELECT id AS vec_id, MIN(label) AS cluster_id
         FROM reach GROUP BY id ORDER BY vec_id""")

  /** Best-representative selection per near-dup text cluster
    * (keep-the-best, the third dedup disposal mode next to drop-all-
    * but-first and d15's down-weighting): d04's exact ngram-jaccard
    * pairs cluster via connectedComponents, and each cluster keeps its
    * highest-quality member (6-dp-rounded t02 score, ties to lowest
    * doc_id). One quality join + one max_by aggregate over the bounded
    * cluster frame. Full SQL oracle: d04's pair CTE + a recursive reach
    * + the same argmax. */
  gate("d16_cluster_best") { (s, dir) =>
    val docs = t(s, dir, "documents")
    val clusters = Dedup.connectedComponents(
      Dedup.ngramJaccardPairsAuto(docs, "doc_id", "text",
        n = 3, probeFilter = col("doc_id") % 10 === 0, threshold = 0.02),
      "id_a", "id_b")
    val q = docs.select(col("doc_id").as("id"),
      round(TextOps.qualityScore(col("text")), 6).as("q"))
    clusters.join(q, Seq("id"))
      .groupBy(col("cluster").as("cluster_id"))
      .agg(count(lit(1)).as("n_members"),
        max_by(col("id"), struct(col("q"), -col("id"))).as("rep_doc_id"),
        max(struct(col("q"), -col("id"))).getField("q").as("rep_quality"))
      .select(col("cluster_id"), col("n_members"), col("rep_doc_id"),
        col("rep_quality"))
      .orderBy("cluster_id")
  }(
      // d16: d04's exact pair rule + recursive reach + per-cluster argmax
      // by (6-dp quality DESC, doc_id ASC) — keep-the-best disposal.
      s"""WITH RECURSIVE
         arrs AS (SELECT doc_id, string_split($normText, ' ') AS arr
                  FROM documents),
         sh AS (SELECT DISTINCT doc_id,
                  array_to_string(arr[i:i+2], ' ') AS g
                FROM arrs,
                  unnest(generate_series(1, greatest(len(arr) - 2, 1)))
                  AS u(i)),
         sz AS (SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY 1),
         inter AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                     COUNT(*) AS ix
                   FROM sh a JOIN sh b USING (g)
                   WHERE a.doc_id % 10 = 0 AND a.doc_id < b.doc_id
                   GROUP BY 1, 2),
         p AS (SELECT id_a, id_b FROM (SELECT id_a, id_b,
                 CAST(ix AS DOUBLE) / (sa.sz + sb.sz - ix) AS jaccard
               FROM inter
                 JOIN sz sa ON sa.doc_id = id_a
                 JOIN sz sb ON sb.doc_id = id_b)
               WHERE jaccard >= 0.02),
         e AS (SELECT id_a AS src, id_b AS dst FROM p
               UNION SELECT id_b, id_a FROM p),
         reach(id, label) AS (
           SELECT src, src FROM e
           UNION
           SELECT e.dst, r.label FROM e JOIN reach r ON e.src = r.id),
         cl AS (SELECT id, MIN(label) AS cluster_id
                FROM reach GROUP BY id),
         scored AS (SELECT cl.cluster_id, cl.id,
             round($qualitySql, 6) AS q
           FROM cl JOIN documents d ON d.doc_id = cl.id),
         ranked AS (SELECT cluster_id, id, q, row_number() OVER (
               PARTITION BY cluster_id ORDER BY q DESC, id ASC) AS rn,
             COUNT(*) OVER (PARTITION BY cluster_id) AS n_members
           FROM scored)
         SELECT cluster_id, CAST(n_members AS BIGINT) AS n_members,
           id AS rep_doc_id, q AS rep_quality
         FROM ranked WHERE rn = 1 ORDER BY cluster_id""")

  /** Soft dedup weights (Dedup.dedupWeights): d06's near-dup clusters
    * become per-document down-weights — weight = 1/cluster_size, 1 for
    * singletons — so each cluster contributes one document's worth of
    * training mass instead of being dropped. Full SQL oracle: d06's
    * recursive-CTE components extended with sizes and the universe
    * left join. */
  gate("d15_dedup_weights") { (s, dir) =>
    Dedup.dedupWeights(t(s, dir, "embeddings"), "vec_id",
        Dedup.connectedComponents(
          Dedup.embeddingNearDupsAuto(t(s, dir, "embeddings"), "vec_id",
            "embedding", probeFilter = col("vec_id") % 20 === 0,
            threshold = 0.25),
          "id_a", "id_b"))
      .orderBy("vec_id")
  }(
      // d15: d06's components + sizes + the universe left join; singletons
      // default to their own id with weight 1.
      s"""WITH RECURSIVE p AS (
           SELECT id_a, id_b FROM (
             SELECT va.vec_id AS id_a, vb.vec_id AS id_b,
               ${cosD("va.embedding", "vb.embedding")} AS cos
             FROM embeddings va JOIN embeddings vb
               ON va.vec_id % 20 = 0 AND va.vec_id < vb.vec_id)
           WHERE cos >= 0.25),
         e AS (SELECT id_a AS src, id_b AS dst FROM p
               UNION SELECT id_b, id_a FROM p),
         reach(id, label) AS (
           SELECT src, src FROM e
           UNION
           SELECT e.dst, r.label FROM e JOIN reach r ON e.src = r.id),
         cl AS (SELECT id, MIN(label) AS cluster FROM reach GROUP BY id),
         sz AS (SELECT cluster, CAST(COUNT(*) AS BIGINT) AS cluster_size
                FROM cl GROUP BY 1)
         SELECT emb.vec_id,
           COALESCE(cl.cluster, emb.vec_id) AS cluster_id,
           COALESCE(sz.cluster_size, CAST(1 AS BIGINT)) AS cluster_size,
           CAST(1 AS DOUBLE) /
             COALESCE(sz.cluster_size, CAST(1 AS BIGINT)) AS weight
         FROM embeddings emb
           LEFT JOIN cl ON cl.id = emb.vec_id
           LEFT JOIN sz ON sz.cluster = cl.cluster
         ORDER BY emb.vec_id""")

  /** d08 cell count and cosine threshold, shared with the oracle SQL
    * generator (tau=0.25 matches d05's near-dup band on this corpus —
    * max off-diagonal cosine ≈ 0.44). */
  private val d08Cells = 16
  private val d08Tau = 0.25

  /** Semantic dedup (SemDeDup): every corpus id with its keep/drop
    * decision, each drop carrying a (witness_id, witness_cos) evidence
    * pair. FULL SQL oracle via the exported-model route (r13): the
    * k-means fit persists ([[graft.sim.ModelStore]]) and the greedy
    * keep-lowest-id rule runs from the LOADED centroids, so DuckDB
    * re-derives cell assignment, within-cell qualifying pairs and the
    * min-id witness per drop from the exported model bits; the
    * per-drop witness soundness audit (tools/oracle_check.py
    * d08_soundness — d03 emitSigs' sibling) remains as the
    * independent one-sided check. */
  gate("d08_semantic_dedup") { (s, dir) =>
    import graft.sim.{Ivf, ModelStore}
    val e = t(s, dir, "embeddings")
    val corpus = e.select(col("vec_id").as("id"), col("embedding").as("v"))
    val base = gateModelDir(dir, "d08")
    ModelStore.save(Ivf.fitCentroids(corpus, c = d08Cells, iters = 3),
      "ivf_centroids", s"$base/ivf_centroids")
    val centroids =
      ModelStore.load(s, "ivf_centroids", s"$base/ivf_centroids")
    Dedup.semanticDedupAuditFromCentroids(e, "vec_id", "embedding",
        centroids, tau = d08Tau)
      .orderBy("vec_id")
  }(
      // d08: SemDeDup from the gate's exported k-means fit — cell
      // assignment (ivfAssignSql, Ivf.assign's tie-break), within-cell
      // qualifying pairs at exact double cosine, then the min-id witness
      // per dropped id (Spark's min(struct(id_a, cos)) = lexicographic
      // min; (id_a, id_b) pairs are unique so id_a alone decides).
      s"""WITH ${ivfAssignSql("d08")},
         pr AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b,
               ${cosD("ea.embedding", "eb.embedding")} AS cos
             FROM cell a JOIN cell b
               ON a.cluster = b.cluster AND a.vec_id < b.vec_id
             JOIN embeddings ea ON ea.vec_id = a.vec_id
             JOIN embeddings eb ON eb.vec_id = b.vec_id),
         qp AS (SELECT * FROM pr WHERE cos >= ${d08Tau}),
         wit AS (SELECT id_b AS vec_id, id_a AS witness_id,
               cos AS witness_cos FROM (
             SELECT id_b, id_a, cos,
               row_number() OVER (PARTITION BY id_b
                 ORDER BY id_a ASC, cos ASC) AS rn FROM qp)
           WHERE rn = 1)
         SELECT e.vec_id, w.witness_id IS NULL AS kept,
           w.witness_id, w.witness_cos
         FROM embeddings e LEFT JOIN wit w ON w.vec_id = e.vec_id
         ORDER BY e.vec_id""")

  /** d09's exact semantics, shared verbatim with d11 (whose bloom
    * pre-screen must be result-invariant). */
  private lazy val contaminationSql: String =
    s"""WITH arrs AS (SELECT doc_id, string_split($normText, ' ') AS arr
                      FROM documents),
       ng AS (SELECT DISTINCT doc_id, array_to_string(arr[i:i+2], ' ') AS g
              FROM arrs,
                unnest(generate_series(1, greatest(len(arr) - 2, 1)))
                AS u(i)),
       tg AS (SELECT DISTINCT g FROM ng WHERE doc_id % 10 <> 0),
       ev AS (SELECT doc_id, g FROM ng WHERE doc_id % 10 = 0),
       tot AS (SELECT doc_id, COUNT(*) AS n_ngrams FROM ev GROUP BY 1),
       hit AS (SELECT doc_id, COUNT(*) AS n_hits FROM ev
               WHERE g IN (SELECT g FROM tg) GROUP BY 1)
       SELECT tot.doc_id, n_ngrams,
         CAST(COALESCE(n_hits, 0) AS BIGINT) AS n_hits,
         round(CAST(COALESCE(n_hits, 0) AS DOUBLE) / n_ngrams, 6)
           AS overlap,
         CASE WHEN round(CAST(COALESCE(n_hits, 0) AS DOUBLE) / n_ngrams, 6)
           >= 0.5 THEN 1 ELSE 0 END AS contaminated
       FROM tot LEFT JOIN hit USING (doc_id) ORDER BY doc_id"""

  /** Benchmark decontamination: eval split = every 10th doc, train = the
    * rest; 3-gram overlap against the train corpus, contaminated at ≥ 50%
    * overlap (the near-dup-heavy corpus makes both flag values occur). */
  gate("d09_contamination") { (s, dir) =>
    val d = t(s, dir, "documents")
    Dedup.contamination(
        d.filter(col("doc_id") % 10 =!= 0),
        d.filter(col("doc_id") % 10 === 0),
        "doc_id", "text", n = 3, tau = 0.5)
      .select(col("id").as("doc_id"), col("n_ngrams"), col("n_hits"),
        col("overlap"), col("contaminated"))
      .orderBy("doc_id")
  }(contaminationSql)

  /** ExactSubstr-style cleaning: remove every token covered by a
    * cross-doc duplicated 5-gram span (d10's detection rule, applied as a
    * transform — the actual dedup-the-training-text step). */
  gate("d12_remove_dup_spans") { (s, dir) =>
    Dedup.removeDupSpans(t(s, dir, "documents"), "doc_id", "text", n = 5)
      .select(col("id").as("doc_id"), col("n_tokens"), col("n_removed"),
        col("clean_text"))
      .orderBy("doc_id")
  }(
      s"""WITH arrs AS (SELECT doc_id, string_split($normText, ' ') AS arr
                        FROM documents),
         toks AS (SELECT doc_id, i AS pos, arr[i] AS token
                  FROM arrs,
                    unnest(generate_series(1, len(arr))) AS s(i)),
         pos AS (SELECT doc_id, i AS p, array_to_string(arr[i:i+4], ' ') AS g
                 FROM arrs,
                   unnest(generate_series(1, greatest(len(arr) - 4, 1)))
                   AS u(i)),
         dup AS (SELECT g FROM pos GROUP BY g
                 HAVING COUNT(DISTINCT doc_id) >= 2),
         cov AS (SELECT DISTINCT doc_id, p + o AS pos
                 FROM pos, unnest(generate_series(0, 4)) AS q(o)
                 WHERE g IN (SELECT g FROM dup)),
         kept AS (SELECT t.doc_id, t.pos, t.token
                  FROM toks t LEFT JOIN cov c
                    ON c.doc_id = t.doc_id AND c.pos = t.pos
                  WHERE c.pos IS NULL),
         reb AS (SELECT doc_id, COUNT(*) AS n_kept,
                   string_agg(token, ' ' ORDER BY pos) AS clean_text
                 FROM kept GROUP BY doc_id)
         SELECT a.doc_id, len(arr) AS n_tokens,
           len(arr) - COALESCE(n_kept, 0) AS n_removed,
           COALESCE(clean_text, '') AS clean_text
         FROM arrs a LEFT JOIN reb USING (doc_id)
         ORDER BY a.doc_id""")

  /** d09's decontamination behind the bloom pre-screen
    * ([[graft.dedup.Dedup.bloomContamination]]): the sketch admits every
    * true hit, so this is row-identical to d09 — the oracle IS d09's exact
    * SQL, which makes the gate prove the prefilter never drops a hit. */
  // The bloom pre-screen is result-invariant (no false negatives), so
  // d11's oracle IS d09's exact SQL — the gate proves the prefilter
  // never drops a hit.
  gate("d11_bloom_decontam") { (s, dir) =>
    val d = t(s, dir, "documents")
    Dedup.bloomContamination(
        d.filter(col("doc_id") % 10 =!= 0),
        d.filter(col("doc_id") % 10 === 0),
        "doc_id", "text", n = 3, tau = 0.5)
      .select(col("id").as("doc_id"), col("n_ngrams"), col("n_hits"),
        col("overlap"), col("contaminated"))
      .orderBy("doc_id")
  }(contaminationSql)

  /** Content-defined chunking dedup (Dedup.cdcChunkDups): variable-
    * length content-aligned chunks (rolling 3-gram md5 boundary rule,
    * first hex ≤ '1' → p=1/8, mean ~8-token chunks), duplicated-chunk
    * profile
    * across docs. Segmentation is one row-local codegen'd projection;
    * the only shuffles are the two narrow md5-keyed aggregates. */
  gate("d14_cdc_chunks") { (s, dir) =>
    Dedup.cdcChunkDups(t(s, dir, "documents"), "doc_id", "text",
        window = 3, hexBoundary = "1")
      .orderBy("chunk_md5")
  }(
      // CDC chunk boundaries re-derived positionally (window-gram md5 ≤
      // the boundary digit, doc end always closes); the window join walks
      // consecutive boundary ranks — fine in the oracle, while the Spark
      // side segments row-locally inside array HOFs.
      s"""WITH arrs AS (SELECT doc_id, string_split($normText, ' ') AS arr
                        FROM documents),
         nn AS (SELECT doc_id, arr, len(arr) AS n FROM arrs),
         ends AS (
           SELECT doc_id, i AS e
           FROM nn, unnest(generate_series(3, n - 1)) AS u(i)
           WHERE substr(md5(array_to_string(arr[i-2:i], ' ')), 1, 1) <= '1'
           UNION ALL SELECT doc_id, n FROM nn),
         ordered AS (SELECT doc_id, e,
             row_number() OVER (PARTITION BY doc_id ORDER BY e) AS k
           FROM ends),
         chunks AS (SELECT o.doc_id,
             md5(array_to_string(arr[COALESCE(p.e + 1, 1):o.e], ' '))
               AS chunk_md5
           FROM ordered o JOIN nn USING (doc_id)
             LEFT JOIN ordered p
               ON p.doc_id = o.doc_id AND p.k = o.k - 1),
         per AS (SELECT chunk_md5, doc_id, COUNT(*) AS c
                 FROM chunks GROUP BY 1, 2)
         SELECT chunk_md5, CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(c) AS BIGINT) AS n_occurs
         FROM per GROUP BY 1 HAVING COUNT(*) >= 2 ORDER BY chunk_md5""")

  /** Duplicated-span profiling: 5-gram spans occurring in ≥ 2 docs. */
  gate("d10_dup_spans") { (s, dir) =>
    Dedup.dupSpans(t(s, dir, "documents"), "doc_id", "text", n = 5)
      .select(col("id").as("doc_id"), col("n_spans"), col("n_dup_spans"),
        col("dup_frac"))
      .orderBy("doc_id")
  }(
      s"""WITH arrs AS (SELECT doc_id, string_split($normText, ' ') AS arr
                        FROM documents),
         pos AS (SELECT doc_id, array_to_string(arr[i:i+4], ' ') AS g
                 FROM arrs,
                   unnest(generate_series(1, greatest(len(arr) - 4, 1)))
                   AS u(i)),
         dup AS (SELECT g FROM pos GROUP BY g
                 HAVING COUNT(DISTINCT doc_id) >= 2),
         tot AS (SELECT doc_id, COUNT(*) AS n_spans FROM pos GROUP BY 1),
         hit AS (SELECT doc_id, COUNT(*) AS n_dup_spans FROM pos
                 WHERE g IN (SELECT g FROM dup) GROUP BY 1)
         SELECT tot.doc_id, n_spans,
           CAST(COALESCE(n_dup_spans, 0) AS BIGINT) AS n_dup_spans,
           round(CAST(COALESCE(n_dup_spans, 0) AS DOUBLE) / n_spans, 6)
             AS dup_frac
         FROM tot LEFT JOIN hit USING (doc_id) ORDER BY tot.doc_id""")

  /** Incremental dedup: a new crawl batch (doc_id >= 400) keeps only docs
    * whose fingerprint is absent from the existing corpus (doc_id < 400)
    * AND is the first occurrence within the batch — the production
    * "dedupe the delta, not the world" flow. Anti-join on the fingerprint
    * (one shuffle) + first-per-fp within the batch. */
  gate("d07_incr_dedup") { (s, dir) =>
    val d = t(s, dir, "documents")
      .select(col("doc_id"), Dedup.fingerprint(col("text")).as("fp"))
    val corpus = d.filter(col("doc_id") < 400)
    val batch = d.filter(col("doc_id") >= 400)
    batch.join(corpus, Seq("fp"), "left_anti")
      .groupBy("fp").agg(min(col("doc_id")).as("doc_id"))
      .select("doc_id", "fp")
      .orderBy("doc_id")
  }(
      s"""WITH d AS (SELECT doc_id, md5($normText) AS fp FROM documents),
         corpus AS (SELECT * FROM d WHERE doc_id < 400),
         batch AS (SELECT * FROM d WHERE doc_id >= 400)
         SELECT MIN(doc_id) AS doc_id, fp FROM batch
         WHERE fp NOT IN (SELECT fp FROM corpus)
         GROUP BY fp ORDER BY doc_id""")

  /** MinHash gate knobs (d02/d13), shared with
    * minhashPrefixSql — same discipline as the ANN block above: the
    * permutation count, band count (rowsPerBand = mhK / mhBands) and
    * both jaccard thresholds interpolate into the oracle SQL, so a knob
    * change desyncs at compile time, never as a runtime hash mismatch. */
  private val mhK = 64        // MinHash permutations
  private val mhBands = 16    // LSH bands (slice width mhK/mhBands)
  private val d02Tau = 0.02   // d02 near-dup jaccard threshold
  private val d13Tau = 0.5    // d13 decontam jaccard threshold
}
