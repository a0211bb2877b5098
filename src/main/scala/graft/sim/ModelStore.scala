package graft.sim

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Fit-once / apply-many persistence for the ANN model frames — the
  * production posture the reference's persistent-DB lifecycle implies
  * (kcidb/db/abstract.py: a driver opens existing state and loads
  * incrementally against it, it does not rebuild the database per
  * query): [[Ivf.fitCentroids]] and [[Pq.fitCodebooks]] results are
  * saved as plain parquet and loaded back for incremental encode /
  * assignment of later batches ([[Pq.encode]], [[Ivf.assign]]) and for
  * query-time reuse ([[Pq.pqKnnFromModel]], [[Pq.ivfPqKnnFromModel]]).
  *
  * Both save and load validate the frame SHAPE loudly — a path mix-up
  * (pointing a codebook load at a centroid dump, or at arbitrary
  * parquet) must fail at the API boundary, not surface as a wrong-code
  * join downstream. Parquet is the storage format on purpose: the
  * models are DataFrames, so they inherit every property the data path
  * already has (schema'd, splittable, readable by any engine — the
  * DuckDB oracle can audit a saved model directly).
  */
object ModelStore {

  /** kind → exact column set of the model frame. */
  private[sim] val Shapes: Map[String, Set[String]] = Map(
    // per-subspace PQ codebooks (Pq.fitCodebooks)
    "pq_codebooks" -> Set("sub", "code", "centroid"),
    // coarse IVF cells (Ivf.fitCentroids)
    "ivf_centroids" -> Set("cluster", "centroid"),
    // SRP plane components (Knn.srpPlanes — the LSH "model")
    "srp_planes" -> Set("p", "i", "w", "bits"),
    // xxhash64 token dictionary (Dedup.tokenHashDict — SimHash's model)
    "token_hashes" -> Set("t", "h"),
    // (murmur3, xxhash64) shingle dictionary (Dedup.shingleHashDict —
    // MinHash's model)
    "shingle_hashes" -> Set("g", "h1", "h2"),
    // 64-bit signature frame (Binary.aHashes — the perceptual-hash
    // "model": the hash function's value at each payload, BinarySpec-
    // pinned against an independent reference decode)
    "hash_sigs" -> Set("id", "sig"),
    // persisted incremental-rollup state (operators/Ivm): the
    // mergeable (count, decimal sum, min, max) monoid per
    // (event_type, day) key — q45's materialized base summary
    "rollup_state" -> Set("event_type", "day", "n_rows", "sum_value",
      "min_value", "max_value"),
    // persisted mergeable AUC state (operators/Eval.aucState): the
    // per-score (n_s, p_s) counts monoid — e04's materialized
    // evaluation base, bounded by the score grid
    "auc_state" -> Set("s", "n_s", "p_s"),
    // per-population per-dimension mean vectors
    // (operators/Eval.meanVectors — the embedding-drift fit): 2·dims
    // rows, the engine-order double averages e05's oracle reads back
    "mean_vecs" -> Set("pop", "i", "w"),
    // JPEG round-trip palette (Binary.jpegRoundTripColor per
    // Binary.mjpegColor entry): input palette id → decoded channel
    // values — m13's oracle dict (JPEG's deterministic lossy shift has
    // no SQL closed form; Mp4Spec pins probe↔frame equivalence)
    "jpeg_dict" -> Set("c", "dr", "dg", "db"),
    // GK quantile estimates (Sketches.quantileProfile output — k07's
    // export): the SKETCH estimate is engine-specific, but once
    // exported its rank-window CONTRACT is pure SQL over the raw data
    "gk_quantiles" -> Set("series", "n_rows", "p50", "p90", "p99",
      "accuracy"),
    // HLL distinct estimates (Sketches.distinctProfile sans the exact
    // column — k08's export): the estimate is engine-specific register
    // state, but its 5·rsd error CONTRACT is SQL over the raw data
    "hll_profile" -> Set("series", "n_rows", "ndv_hll", "rsd"),
    // Datasketches-HLL merge profile (Sketches.mergeProfile — k09's
    // export): per-series sub-sketch count plus the merged-vs-direct
    // estimate pair whose equality IS the mergeability contract
    "hll_merge_profile" -> Set("series", "n_subs", "ndv_merged",
      "ndv_direct", "rsd"),
    // Drained streaming HLL estimates (Streams.dailyNdvStream — st14's
    // export): per-(series, day) window estimates whose 5·rsd error
    // contract is SQL over the raw events (k08's route, stream axis)
    "ndv_stream_profile" -> Set("series", "day", "n_rows", "ndv_hll",
      "rsd"))

  private def validate(df: DataFrame, kind: String, path: String): DataFrame = {
    val want = Shapes.getOrElse(kind, throw new IllegalArgumentException(
      s"ModelStore: unknown model kind '$kind' " +
        s"(known: ${Shapes.keys.toSeq.sorted.mkString(", ")})"))
    val got = df.columns.toSet
    require(got == want,
      s"ModelStore: $kind frame at $path has columns " +
        s"${got.toSeq.sorted.mkString(",")}, want " +
        s"${want.toSeq.sorted.mkString(",")}")
    df
  }

  /** Persist a fitted model frame. Overwrites: a model path names ONE
    * model version; versioning is the caller's path discipline (the
    * same contract as a warehouse table). The save is timed as export
    * time of the open [[graft.util.RunMetrics]] scope: this call is
    * where a gate's fit lineage actually executes (the write is the
    * action), so Bench can report fit+export seconds separately from
    * the query tail. */
  def save(model: DataFrame, kind: String, path: String): Unit =
    graft.util.RunMetrics.timeExport {
      validate(model, kind, path)
        .write.mode("overwrite").parquet(path)
    }

  /** Load a fitted model frame, shape-checked. The tiny model frames
    * (m·ksub codebook rows, c centroid rows) feed SEVERAL joins in a
    * consumer plan (per-batch encode, per-probe LUTs, cell selection),
    * so the frame is localCheckpoint'd like [[Ivf.fitCentroids]]'
    * output: one parquet read total instead of one per consumer, and
    * downstream broadcast hints wrap a size-bounded materialized frame
    * rather than a raw parquet scan (PlanSpec's broadcast audit
    * distinguishes exactly this). */
  def load(spark: SparkSession, kind: String, path: String): DataFrame =
    validate(spark.read.parquet(path), kind, path)
      .localCheckpoint(eager = false)
}
