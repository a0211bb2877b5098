package graft.dedup

import org.apache.spark.HashPartitioner
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession, GraftColumnBridge => B}
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData, TypeUtils}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, DoubleType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String
import graft.functions.{MinHash, MinHashSignature, Vectors, WordShingles}

/** Document deduplication for large-scale training-data pipelines.
  *
  * Exact dedup is a hash-groupBy (one shuffle on the fingerprint). Near-dup
  * detection never does O(n²) work: MinHash/SimHash band the signature space
  * so candidate generation is a self-equi-join on (band, hash) — the shuffle
  * key IS the bucket — and only candidates pay the exact verification cost.
  * That is the shape that survives 100 TB: bucket sizes are bounded by data
  * similarity, not corpus size, and AQE handles skewed buckets.
  *
  * Every expensive expression (normalization regexp, shingling, hashing)
  * is evaluated exactly once per row — never inlined into a
  * higher-order-function lambda where Catalyst's CollapseProject would
  * re-evaluate it per element. MinHash runs in-row: native kernels
  * ([[graft.functions.WordShingles]], [[graft.functions.MinHashSignature]])
  * turn a document's tokens into its shingle set and signature with no
  * shuffle. SimHash is explode→aggregate: one row per (doc, token), then
  * one map-side-combined vote aggregate per doc.
  */
object Dedup {

  /** Sharing note: the exploded shingle frames below (the n-gram Jaccard
    * and containment paths) feed several plan branches, and ReuseExchange
    * cannot deduplicate them (each consumer prunes different
    * columns/aggregates, so the exchange subtrees differ) — the pipeline
    * re-runs once per branch. Measured at sf0.1, recomputing beats
    * `persist(MEMORY_AND_DISK)` (cache build + serialization cost the
    * codegen'd recompute ~2×), so these operators recompute; at 100 TB
    * with expensive scans, callers should `.persist()` the INPUT docs
    * frame instead. The MinHash paths are the exception: their per-doc
    * (id, sh, sig) frame is one narrow projection, materialized once
    * ([[minhashIndex]]). */

  /** Canonical text normalization: lowercase, collapse non-alphanumerics. */
  def normText(c: Column): Column =
    trim(regexp_replace(lower(c), "[^a-z0-9]+", " "))

  /** Exact-dup fingerprint (md5 of normalized text). */
  def fingerprint(c: Column): Column = md5(normText(c))

  def tokens(c: Column): Column = split(normText(c), " ")

  /** The DISTINCT word n-gram shingles of a token array, in first-
    * occurrence order ([[graft.functions.WordShingles]]); short docs
    * degrade to one shingle, and a null array counts as empty, so it is
    * one empty shingle, as in [[positionalGrams]]. */
  def shingles(toks: Column, n: Int): Column =
    B.column(WordShingles(
      B.expression(coalesce(toks, typedLit(Seq.empty[String]))), n))

  /** (id, p, g): POSITIONAL word n-grams — one row per token position,
    * duplicates kept (cf. [[dupSpans]]'s coverage semantics). Short docs
    * (< n tokens) degrade to one whole-doc gram, like [[shingles]].
    *
    * Deliberately avoids ever materializing a gram-ARRAY column built by
    * a `transform` lambda: expression trees inside lambda functions get no
    * codegen subexpression elimination, and predicate pushdown re-inlines
    * array-valued projections into scan filters — both re-run the
    * tokenizing `split(regexp_replace(...))` once per gram instead of
    * once per doc (measured ~10× slowdown on d02/d04). Here the token
    * array binds to an attribute in one narrow projection, positions
    * explode as a Generate, and each gram is a cheap per-row slice+concat
    * on the materialized array. Every op is also stateless row-local, so
    * the same frame works on a STREAMING DataFrame (no distinct or
    * aggregate — append-mode legal). */
  def positionalGrams(docs: DataFrame, idCol: String, textCol: String,
                      n: Int): DataFrame =
    docs.select(col(idCol).as("id"), tokens(col(textCol)).as("toks"))
      .select(col("id"),
        col("toks"),
        explode(sequence(lit(1),
          greatest(size(col("toks")) - (n - 1), lit(1)))).as("p"))
      .select(col("id"), col("p"),
        concat_ws(" ", slice(col("toks"), col("p"), lit(n))).as("g"))

  /** (id, g): DISTINCT word-n-gram shingles, one row per (doc, shingle) —
    * [[positionalGrams]] with positions dropped and per-doc dedup. */
  private def explodedShingles(docs: DataFrame, idCol: String,
                               textCol: String, n: Int): DataFrame =
    positionalGrams(docs, idCol, textCol, n)
      .select("id", "g")
      .distinct()

  /** The corpus-derived document-frequency cap ([[autoDfCap]]) on the
    * exploded (id, g) shingles of `docs`, for the shared-shingle joins
    * (n-gram Jaccard, containment): grams in more than the cap's docs
    * leave the index (df computed once — one extra shuffle on the gram),
    * so corpus-wide boilerplate can no longer blow a join key up
    * quadratically. Intersections and set sizes then both see the capped
    * shingle sets (a documented approximation, standard near-dup
    * practice). The MinHash paths apply the same cut in-row
    * ([[minhashIndex]]). */
  private def dfCapped(docs: DataFrame, idCol: String, textCol: String,
                       n: Int): DataFrame = {
    val all = explodedShingles(docs, idCol, textCol, n)
    val cap = math.min(Int.MaxValue.toLong, autoDfCap(docs, textCol, n)).toInt
    // localCheckpoint (the q46 memoization discipline): the capped
    // index is re-executed by every downstream consumer (banding +
    // both exact-verify sides / probes + corpus + sizes), and
    // without memoization EACH re-execution would re-aggregate df
    // over the whole exploded corpus — measured 2-3x on the d02/d04
    // gates. The surviving-g frame is |G|-bounded (distinct
    // shingles, not corpus rows), exactly the frame a production
    // run would persist as the boilerplate blocklist; with it
    // materialized, a re-execution costs scan+explode+join(small).
    val keep = all.groupBy("g").agg(count(lit(1)).as("__df"))
      .filter(col("__df") <= cap).select("g")
      .localCheckpoint()
    // (checkpointing the JOINED index too was measured: ~5% at
    // sf0.1, not worth pinning the whole (id, g) frame in memory)
    all.join(keep, "g")
  }

  /** Posting-length budget of the `*Auto` df caps: a shingle
    * may occupy at most this many TYPICAL DOCUMENTS' worth of index
    * mass before it is boilerplate. */
  val DefaultDfBudget: Int = 4

  /** CORPUS-DERIVED document-frequency cap — the [[graft.sim.LshKnobs]]
    * discipline applied to the shared-shingle inverted index. The
    * index's "bucket" is a shingle's posting list (length = its df) and
    * the equi-join's candidate work is Σ df² — one corpus-fraction
    * ("boilerplate") shingle turns it quadratic on that key. Unlike
    * SRP-LSH, a posting list cannot be subdivided by widening bits (the
    * rows genuinely collide), so the one linear-work lever is dropping
    * lists longer than a cap D: Σ min(df, D)² ≤ D·Σdf = D·R — linear in
    * index size R with constant multiplier D.
    *
    * D derives from the corpus's own shape, not a magic number:
    * D = ceil(DefaultDfBudget × avgShinglesPerDoc), i.e. a shingle whose
    * posting list outweighs DefaultDfBudget typical documents is corpus
    * boilerplate, not pairwise signal. Doc length is scale-invariant,
    * so D is O(1) in corpus size and the linear bound holds at any
    * scale. Recall: a true near-dup pair is lost only when EVERY shared
    * shingle is boilerplate — the documented approximation of this
    * family; identical-doc clusters larger than D (whose every shingle
    * has df ≥ cluster size) belong to the exact [[fingerprint]] dedup
    * pass (d01), which runs first in the pipeline ordering. At the
    * gate corpora the derived cap (≈210 = 4×52 shingles/doc) is a
    * NO-OP — max observed df is 7 at sf0.01 / 25 at sf0.1 (DedupSpec
    * pins the margin) — so the gate oracles stay exact while the gates
    * run the production default.
    *
    * The derivation is the d05 `*Auto` discipline exactly: ONE small
    * aggregate action computes the knob (as `embeddingNearDupsAuto`
    * derives bits from `emb.count()`), then the pipeline runs the
    * cap as a plain literal filter — the scalar never rides the
    * plan, so the nested-loop and broadcast-hint sweeps stay clean.
    * The knob scan is MAP-SIDE ONLY: avgShinglesPerDoc is measured as
    * the average shingle POSITION count max(|toks|−n+1, 1) — one split
    * per doc in the scan stage, no shingle built. Positions ≥ distinct
    * shingles, so the derived cap only errs LARGER (safer no-op, same
    * O(1)-in-corpus-size bound). At 100 TB the pass amortizes across
    * the run (or derive from corpus stats you already track). */
  private[graft] def autoDfCap(docs: DataFrame, textCol: String,
                                n: Int): Long = {
    val r = docs
      .agg(avg(greatest(size(tokens(col(textCol))) - (n - 1), lit(1)))
        .as("__avg"))
      .head().getDouble(0)
    math.ceil(r * DefaultDfBudget).toLong
  }

  /** k-permutation MinHash signatures of caller-built shingle sets:
    * sig[s] = min over shingles of h1(shingle) XOR rotl(h2(shingle), s)
    * ([[graft.functions.MinHashSignature]]) — a double-hashing family
    * where each shingle string is hashed exactly twice and the k
    * permutations are bitwise mixes (overflow-free under ANSI mode,
    * unlike h1 + s*h2). In-row: no shuffle. Input: (id, sh array), one
    * row per id. Returns (id, sig); an empty or null set has no
    * signature and no row. */
  def minhashSignatures(withSh: DataFrame, k: Int): DataFrame =
    withSh.select(col("id"), minhash(col("sh"), k).as("sig"))
      .filter(col("sig").isNotNull)

  private def minhash(sh: Column, k: Int): Column =
    B.column(MinHashSignature(B.expression(sh), k))

  /** An LSH bucket: band number plus the band's raw signature slice, so
    * bucket equality is exactly slice equality ([[bands]]' key). */
  private final class BandKey(val band: Int, val slice: Array[Long])
      extends Serializable {
    override def hashCode: Int =
      31 * band + java.util.Arrays.hashCode(slice)
    override def equals(o: Any): Boolean = o match {
      case b: BandKey =>
        band == b.band && java.util.Arrays.equals(slice, b.slice)
      case _ => false
    }
  }

  /** The near-dup index of `docs` (one row per id): rows (id, sh, sig,
    * npos, ev) with `sh` the document's distinct word-3-gram set minus
    * the boilerplate blocklist, `sig` its MinHash signature, `npos` its
    * shingle position count max(|toks| − 2, 1) (what [[autoDfCap]]
    * averages) and `ev` the caller's flag. The sets and signatures come
    * from the in-row kernels in ONE projection, whose rows are
    * materialized once with `localCheckpoint`; banding and both verify
    * sides read them as RDD operations, so a pass plans no further
    * queries and generates no further code. Returns the index, its
    * partition count (the parallelism of the stage's shuffles) and the
    * id type.
    *
    * The blocklist is the [[autoDfCap]] cut: the shingles whose document
    * frequency exceeds the cap. The materializing action also sums the
    * position counts, so the cap (the same double average, hence the
    * same value) costs no scan of its own. No shingle can exceed a cap
    * at least the document count, and then no df is counted; otherwise
    * ONE reduce over the per-doc sets collects the blocked shingles.
    * Their document frequencies sum to at most the index size R (one
    * entry per (doc, shingle)), so the list holds at most R ÷ cap
    * shingles — about a quarter of the document count, as the cap is
    * four typical documents' shingle counts. It is empty at every gate
    * corpus and in the benchmark (DedupSpec pins the margin), and then
    * the first materialization is the answer; otherwise the blocked
    * shingles leave each set, the signatures are recomputed over the
    * capped sets (df is always counted over the uncapped sets), and a
    * document whose every shingle is blocked leaves the index. */
  private def minhashIndex(docs: DataFrame, idCol: String, textCol: String,
                           k: Int, ev: Column): (RDD[InternalRow], Int,
                                                  DataType) = {
    val n = 3
    val proj = docs
      .select(col(idCol).as("id"), tokens(col(textCol)).as("toks"),
        ev.as("ev"))
      .select(col("id"), shingles(col("toks"), n).as("sh"),
        greatest(size(col("toks")) - (n - 1), lit(1)).as("npos"), col("ev"))
      .select(col("id"), col("sh"), minhash(col("sh"), k).as("sig"),
        col("npos"), col("ev"))
    val dt = proj.schema.head.dataType
    // unsafe rows, copied out of the reused buffer: one byte array each,
    // which the block store sizes without walking an object graph
    val rows = proj.queryExecution.toRdd.map(_.copy())
    val parts = math.max(rows.getNumPartitions, 1)
    rows.localCheckpoint()
    val (nDocs, nPos) = rows.map(r => (1L, r.getInt(3).toLong))
      .fold((0L, 0L)) { case ((a, b), (c, d)) => (a + c, b + d) }
    val cap =
      if (nDocs == 0) 0L
      else math.ceil(nPos.toDouble / nDocs * DefaultDfBudget).toLong
    val blocked: Set[UTF8String] =
      if (nDocs <= cap) Set.empty
      else rows.flatMap(r => grams(r).iterator.map(g => (g, 1L)))
        .reduceByKey(_ + _, parts)
        .filter(_._2 > cap)
        .keys.collect().toSet
    val index =
      if (blocked.isEmpty) rows
      else {
        val capped = rows.flatMap { r =>
          val sh = grams(r).filterNot(blocked.contains)
          if (sh.isEmpty) None
          else {
            val set = new GenericArrayData(sh.asInstanceOf[Array[Any]])
            Some(InternalRow(InternalRow.copyValue(r.get(0, dt)), set,
              MinHash.signature(set, k), r.getInt(3),
              if (r.isNullAt(4)) null else r.getBoolean(4)))
          }
        }
        capped.localCheckpoint()
        capped.count()
        capped
      }
    (index, parts, dt)
  }

  /** An index row's shingle set. */
  private def grams(r: InternalRow): Array[UTF8String] = {
    val sh = r.getArray(1)
    Array.tabulate(sh.numElements())(i => sh.getUTF8String(i).clone())
  }

  /** LSH banding: split the k-length signature into `bands` bands of
    * k/bands rows; band key = the RAW slice VALUES (array<bigint>).
    * Band equality is then EXACTLY slice equality — the murmur fold
    * this replaced (r13) could, at 2⁻³² per colliding slice pair, admit
    * an accidental candidate: harmless for soundness (exact verify
    * follows) but unanalyzable, and not reproducible outside the
    * engine. r20: the key was the slice values comma-joined as text
    * (~40-90 bytes + per-row string formatting); the raw slice is the
    * same exact-equality key (concat_ws(",") over decimal longs is
    * injective, so slice equality ⇔ string equality — the candidate
    * set is IDENTICAL) at rowsPerBand·8 bytes. The near-dup paths key
    * their buckets by the same slices ([[BandKey]]). The DuckDB oracle
    * keeps its own canonical key (string_agg ORDER BY s) — the two sides
    * agree on candidates, which is all the output depends on. Returns
    * the per-band key array. */
  def bands(sig: Column, nBands: Int, rowsPerBand: Int): Column =
    transform(sequence(lit(0), lit(nBands - 1)),
      b => slice(sig, b * lit(rowsPerBand) + lit(1), lit(rowsPerBand)))

  /** The (band, slice) buckets of every indexed document with an id and a
    * signature, each holding the (id, eval flag) of its documents. */
  private def buckets(index: RDD[InternalRow], dt: DataType, k: Int,
                      nBands: Int,
                      parts: Int): RDD[Iterable[(Any, java.lang.Boolean)]] = {
    val r = k / nBands
    index.filter(row => !row.isNullAt(0) && !row.isNullAt(2))
      .flatMap { row =>
        val sig = row.getArray(2).toLongArray()
        val doc = (InternalRow.copyValue(row.get(0, dt)),
          if (row.isNullAt(4)) null else Boolean.box(row.getBoolean(4)))
        Iterator.tabulate(nBands)(b => (new BandKey(b,
          java.util.Arrays.copyOfRange(sig, b * r, b * r + r)), doc))
      }
      .groupByKey(parts)
      .values
  }

  /** Exact Jaccard of two distinct shingle sets, as Spark's
    * size(array_intersect) / size(array_union) computes it. */
  private def jaccard(a: ArrayData, b: ArrayData): Double = {
    val in = new java.util.HashSet[UTF8String]()
    for (i <- 0 until a.numElements()) in.add(a.getUTF8String(i))
    val both = (0 until b.numElements()).count(i => in.contains(b.getUTF8String(i)))
    both.toDouble / (a.numElements() + b.numElements() - both)
  }

  /** The distinct candidate pairs (a, b) whose exact shingle-set Jaccard
    * over `index` clears `threshold`, as the frame (aName, bName,
    * jaccard): each pair side joins its shingle set back by id. Ids
    * compare as Catalyst values, so any atomic id type but binary. */
  private def verified(spark: SparkSession, cands: RDD[(Any, Any)],
                       index: RDD[InternalRow], parts: Int, dt: DataType,
                       aName: String, bName: String,
                       threshold: Double): DataFrame = {
    // hash-partitioned once: both joins reuse that one index shuffle
    val byId = new HashPartitioner(parts)
    val sets = index.filter(!_.isNullAt(0))
      .map(r => (InternalRow.copyValue(r.get(0, dt)), r.getArray(1).copy()))
      .partitionBy(byId)
    val rows = cands.distinct(parts)
      .join(sets, byId)
      .map { case (a, (b, shA)) => (b, (a, shA)) }
      .join(sets, byId)
      .mapPartitions { it =>
        val toScala = CatalystTypeConverters.createToScalaConverter(dt)
        it.flatMap { case (b, ((a, shA), shB)) =>
          val j = jaccard(shA, shB)
          if (j >= threshold) Iterator(Row(toScala(a), toScala(b), j))
          else Iterator.empty
        }
      }
    spark.createDataFrame(rows, StructType(Seq(
      StructField(aName, dt), StructField(bName, dt),
      StructField("jaccard", DoubleType))))
  }

  /** MinHash+LSH candidate pairs with exact-Jaccard verification over
    * the df-capped shingle sets ([[minhashIndex]]; the cap is a no-op at
    * gate corpora — DedupSpec pins the margin — and the linear-work
    * guard at 100 TB). Returns (id_a, id_b, jaccard) with id_a < id_b,
    * jaccard >= threshold. Candidates come only from shared (band,
    * slice) buckets, which carry just ids; the exact verification joins
    * the shingle sets back by id. Every branch reads the one
    * materialized index. */
  def minhashNearDupsAuto(docs: DataFrame, idCol: String, textCol: String,
                          k: Int, nBands: Int, threshold: Double): DataFrame = {
    val (index, parts, dt) =
      minhashIndex(docs, idCol, textCol, k, lit(null).cast("boolean"))
    val cands = buckets(index, dt, k, nBands, parts).mapPartitions { it =>
      val ord = TypeUtils.getInterpretedOrdering(dt)
      it.flatMap { docsIn =>
        val ids = docsIn.map(_._1).toArray
        for (a <- ids.iterator; b <- ids.iterator if ord.lt(a, b))
          yield (a, b)
      }
    }
    verified(docs.sparkSession, cands, index, parts, dt, "id_a", "id_b",
      threshold)
  }

  /** FUZZY benchmark decontamination — the near-duplicate (not exact-
    * gram) eval-vs-train scrub of an LLM dataset build: every eval doc
    * whose shingle-set Jaccard with some TRAIN doc clears `threshold`,
    * as (eval_id, train_id, jaccard) witness pairs. [[contamination]]
    * (d09) is the exact n-gram-overlap test; this is its MinHash+LSH
    * sibling for paraphrase-level leakage.
    *
    * Scale shape = [[minhashNearDupsAuto]]' exactly — signatures are
    * computed ONCE over the union, the banding buckets are the only
    * candidate generator (never eval × train), and the split membership
    * rides the per-doc index entry as a flag, so a bucket pairs only its
    * eval documents with its train documents (a null flag is neither).
    * Exact verification joins shingle sets back per candidate. */
  def crossMinhashNearDupsAuto(docs: DataFrame, idCol: String,
                               textCol: String, evalFilter: Column,
                               k: Int, nBands: Int,
                               threshold: Double): DataFrame = {
    val (index, parts, dt) = minhashIndex(docs, idCol, textCol, k, evalFilter)
    val cands = buckets(index, dt, k, nBands, parts).flatMap { docsIn =>
      val evals = docsIn.collect { case (id, ev) if ev == true => id }
      val trains = docsIn.collect { case (id, ev) if ev == false => id }
      for (e <- evals.iterator; t <- trains.iterator) yield (e, t)
    }
    verified(docs.sparkSession, cands, index, parts, dt, "eval_id",
      "train_id", threshold)
  }

  /** The xxhash64 TOKEN dictionary — (t, h) for every distinct token of
    * the corpus: the ONE non-SQL-portable step of the SimHash pipeline,
    * exported as a model frame (the SRP-planes discipline applied to
    * text hashing) so the d03 oracle re-derives votes, signatures,
    * pigeonhole chunks and hamming from the identical hash bits. */
  def tokenHashDict(docs: DataFrame, textCol: String): DataFrame =
    docs.select(explode(array_distinct(tokens(col(textCol)))).as("t"))
      .distinct()
      .select(col("t"), xxhash64(col("t")).as("h"))

  /** The (murmur3, xxhash64) SHINGLE dictionary — (g, h1, h2) per
    * distinct word-n-gram shingle: MinHash's hash model, exported so
    * the d02/d13 oracles re-derive the k rotl-mix permutations, the
    * exact band keys, the candidate join and the exact jaccard. */
  def shingleHashDict(docs: DataFrame, idCol: String, textCol: String,
                      n: Int): DataFrame =
    docs.select(explode(shingles(tokens(col(textCol)), n)).as("g")).distinct()
      .select(col("g"), hash(col("g")).cast("long").as("h1"),
        xxhash64(col("g")).as("h2"))

  /** 64-bit SimHash signatures via explode + ONE native vote aggregate
    * ([[graft.functions.SimHashAgg]]): bit i of sig(doc) is the sign of the
    * sum over distinct tokens of ±1 by bit i of xxhash64(token). One
    * shuffle, 64 ints per doc over the wire. Returns (id, sig). */
  def simhashSignatures(docs: DataFrame, idCol: String,
                        textCol: String): DataFrame =
    docs
      .select(col(idCol).as("id"),
        explode(array_distinct(tokens(col(textCol)))).as("t"))
      .select(col("id"), xxhash64(col("t")).as("h"))
      .groupBy(col("id"))
      .agg(graft.functions.SimHashAgg.simhash(col("h")).as("sig"))

  /** SimHash near-dup pairs with hamming distance <= maxDist (<= 3 by
    * default usage). Blocking via the pigeonhole principle: split the 64-bit
    * signature into maxDist+1 chunks — any pair within maxDist must agree on
    * at least one chunk, so candidates come from chunk-equality self-joins
    * (shuffle on the chunk value), never a cross join.
    *
    * @param emitSigs also emit (sig_a, sig_b) — they already ride through
    *                 the chunk join, so this is projection-only (zero extra
    *                 compute). Lets an external engine recompute the
    *                 emitted hamming as `bit_count(xor(sig_a, sig_b))` and
    *                 assert the <= maxDist soundness bound on every pair
    *                 (the d03 gate does exactly that in the DuckDB check). */
  def simhashNearDups(docs: DataFrame, idCol: String, textCol: String,
                      maxDist: Int, emitSigs: Boolean = false): DataFrame =
    hammingNearDups(simhashSignatures(docs, idCol, textCol),
      maxDist, emitSigs)

  /** The pigeonhole blocking core of [[simhashNearDups]], over ANY
    * (id, sig) frame of 64-bit signatures — SimHash text signatures and
    * perceptual image hashes ([[graft.multimodal.Binary.aHashes]]) pair
    * through the identical plan: chunk-equality self-joins (shuffle on
    * the chunk value, never a cross join), exact hamming re-check, and
    * canonical (id_a < id_b) distinct pairs. */
  def hammingNearDups(withSig: DataFrame,
                      maxDist: Int, emitSigs: Boolean = false): DataFrame = {
    val nChunks = maxDist + 1
    val chunkBits = 64 / nChunks
    val chunks = withSig.select(col("id"), col("sig"),
      posexplode(array((0 until nChunks).map(j =>
        shiftright(col("sig"), chunkBits * j)
          .bitwiseAND(lit((1L << chunkBits) - 1))): _*))
        .as(Seq("chunk_idx", "chunk")))
    val a = chunks.select(col("id").as("id_a"), col("sig").as("sig_a"),
      col("chunk_idx"), col("chunk"))
    val b = chunks.select(col("id").as("id_b"), col("sig").as("sig_b"),
      col("chunk_idx"), col("chunk"))
    val sigCols =
      if (emitSigs) Seq(col("sig_a"), col("sig_b")) else Seq.empty
    a.join(b, Seq("chunk_idx", "chunk"))
      .filter(col("id_a") < col("id_b"))
      .select(Seq(col("id_a"), col("id_b"),
        Vectors.hamming(col("sig_a"), col("sig_b")).as("dist")) ++
        sigCols: _*)
      .filter(col("dist") <= maxDist)
      .distinct()
  }

  /** n-gram Jaccard similarity for pairs from a bounded probe subset,
    * via an inverted-index equi-join: explode shingles on both sides, join
    * on the shingle (the shuffle key), and count matches per (id_a, id_b) —
    * that count IS |A ∩ B| because shingle arrays are distinct, and
    * |A ∪ B| = |A| + |B| − |A ∩ B|. Only pairs sharing at least one shingle
    * are ever generated — never a probe × corpus nested loop — and the
    * per-pair work is a counting aggregate with map-side combine.
    * Jaccard is exact over the df-capped shingle sets ([[dfCapped]]), a
    * no-op at gate corpora. */
  def ngramJaccardPairsAuto(docs: DataFrame, idCol: String,
                            textCol: String, n: Int, probeFilter: Column,
                            threshold: Double): DataFrame =
    ngramJaccardCore(dfCapped(docs, idCol, textCol, n),
      docs, idCol, textCol, n, probeFilter, threshold)

  private def ngramJaccardCore(index: DataFrame, docs: DataFrame,
                               idCol: String, textCol: String, n: Int,
                               probeFilter: Column,
                               threshold: Double): DataFrame = {
    // probe rows carrying a df-capped (dropped) shingle need no
    // pre-filter: the inner join against the CAPPED corpus is itself
    // the membership test, and sizes come from the capped index on
    // both sides — an explicit probe-side semi-join would only add an
    // index re-execution
    val probes = explodedShingles(
        docs.filter(probeFilter), idCol, textCol, n)
      .select(col("id").as("id_a"), col("g"))
    val corpus = index.select(col("id").as("id_b"), col("g"))
    val inter = probes.join(corpus, "g")
      .filter(col("id_a") < col("id_b"))
      .groupBy(col("id_a"), col("id_b"))
      .agg(count(lit(1)).as("inter"))
    // r20 NOTE: lazily checkpointing `sizes` (it is consumed by both
    // join sides) was tried and REVERTED — interleaved bench A/B at
    // sf0.1 read d04 +12-21% raw in every pair: the checkpoint splits
    // the plan into separately-materialized fragments (under AQE even a
    // lazy checkpoint executes its stages eagerly at plan time) and the
    // fixed fragment overhead exceeds the saved re-aggregation, which
    // AQE's exchange reuse already dedupes at the shuffle level.
    val sizes = index.groupBy("id").agg(count(lit(1)).as("sz"))
    inter
      .join(sizes.select(col("id").as("id_a"), col("sz").as("sz_a")), "id_a")
      .join(sizes.select(col("id").as("id_b"), col("sz").as("sz_b")), "id_b")
      .select(col("id_a"), col("id_b"),
        (col("inter").cast("double") /
          (col("sz_a") + col("sz_b") - col("inter"))).as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /** Asymmetric shingle CONTAINMENT C(small→big) =
    * |S(small)∩S(big)| / |S(small)| — the near-SUBSET detector
    * symmetric Jaccard cannot see (Broder 1997's distinction between
    * resemblance and containment): a short document quoted wholesale
    * inside a much longer one has Jaccard ≈ |small|/|big| (arbitrarily
    * low) but containment ≈ 1. The quote/snippet/boilerplate-extract
    * duplicate class a corpus pipeline needs alongside [[d04's
    * symmetric pairs|ngramJaccardPairsAuto]]. Pairs are generated ONLY by
    * the shared-shingle equi-join (the d04/d16 blocking rule — never
    * doc × doc); direction is decided by shingle-set size (ties keep
    * the smaller id on the small side, which the `id_a < id_b` join
    * orientation already provides). The df cap ([[dfCapped]]) is the
    * usual hot-shingle guard at corpus scale. Emits (id_small, id_big,
    * inter, sz_small, sz_big, containment >= threshold). */
  def containmentPairsAuto(docs: DataFrame, idCol: String,
                           textCol: String, n: Int,
                           threshold: Double): DataFrame =
    containmentCore(dfCapped(docs, idCol, textCol, n), threshold)

  private def containmentCore(index: DataFrame,
                              threshold: Double): DataFrame = {
    // r20 NOTE: a lazy checkpoint on `sizes` was tried and REVERTED —
    // see [[ngramJaccardCore]]'s note (interleaved A/B read d17 +8-14%
    // raw; AQE exchange reuse already shares the subtree's shuffle).
    val sizes = index.groupBy("id").agg(count(lit(1)).as("sz"))
    val inter = index.select(col("id").as("id_a"), col("g"))
      .join(index.select(col("id").as("id_b"), col("g")), "g")
      .filter(col("id_a") < col("id_b"))
      .groupBy("id_a", "id_b").agg(count(lit(1)).as("inter"))
    inter
      .join(sizes.select(col("id").as("id_a"), col("sz").as("sz_a")),
        "id_a")
      .join(sizes.select(col("id").as("id_b"), col("sz").as("sz_b")),
        "id_b")
      .select(
        when(col("sz_a") <= col("sz_b"), col("id_a"))
          .otherwise(col("id_b")).as("id_small"),
        when(col("sz_a") <= col("sz_b"), col("id_b"))
          .otherwise(col("id_a")).as("id_big"),
        col("inter"),
        least(col("sz_a"), col("sz_b")).as("sz_small"),
        greatest(col("sz_a"), col("sz_b")).as("sz_big"),
        (col("inter").cast("double") /
          least(col("sz_a"), col("sz_b")).cast("double"))
          .as("containment"))
      .filter(col("containment") >= threshold)
  }

  /** Benchmark decontamination: flag evaluation documents whose word
    * n-grams collide with the training corpus — the standard train/eval
    * overlap test an LLM data pipeline runs before training (n-gram
    * collision decontamination). For each eval doc: its DISTINCT n-gram
    * count, how many of those n-grams occur anywhere in the training
    * split, the overlap fraction, and `contaminated` = fraction ≥ tau.
    *
    * Scale shape: the training corpus collapses to a DISTINCT n-gram set
    * (map-side partial distinct — the only train-side state), the eval
    * side is the usual exploded (id, g) frame, and the sole cross-corpus
    * step is a LEFT SEMI join keyed on the n-gram — never doc × doc, and
    * the semi join emits at most one row per eval (id, g). Both per-doc
    * counts are counting aggregates with map-side combine keyed on the
    * doc id.
    *
    * `hashGrams` is the 100 TB path: replace the n-gram string with its
    * xxhash64 before any shuffle, so the distinct/semi-join/aggregate
    * keys are 8-byte longs instead of ~n-word strings (~2⁻⁶⁴ per-pair
    * collision odds — DedupSpec pins both paths identical on the test
    * corpus). Off by default for oracle-exact semantics.
    */
  def contamination(train: DataFrame, evalDocs: DataFrame, idCol: String,
                    textCol: String, n: Int, tau: Double,
                    hashGrams: Boolean = false): DataFrame = {
    val (trainG, evalG) = contaminationGrams(train, evalDocs, idCol,
      textCol, n, hashGrams)
    gramOverlap(evalG, evalG, trainG, tau)
  }

  /** The two (id, g) frames behind [[contamination]]: the train side's
    * DISTINCT gram set and the eval side's per-doc distinct grams,
    * optionally xxhash64-keyed before any shuffle. */
  private def contaminationGrams(
      train: DataFrame, evalDocs: DataFrame, idCol: String, textCol: String,
      n: Int, hashGrams: Boolean): (DataFrame, DataFrame) = {
    def keyed(df: DataFrame): DataFrame =
      if (hashGrams) df.select(col("id"), xxhash64(col("g")).as("g"))
      else df
    (keyed(explodedShingles(train, idCol, textCol, n))
        .select("g").distinct(),
      keyed(explodedShingles(evalDocs, idCol, textCol, n)))
  }

  /** Per-doc overlap report: denominators from ALL of `evalG`, hits from
    * the semi-join of `candG` (a subset of `evalG` — possibly pre-screened
    * by a sketch that admits every true hit) against `trainG`. */
  private def gramOverlap(evalG: DataFrame, candG: DataFrame,
                          trainG: DataFrame, tau: Double): DataFrame = {
    val totals = evalG.groupBy("id").agg(count(lit(1)).as("n_ngrams"))
    val hits = candG.join(trainG, Seq("g"), "left_semi")
      .groupBy("id").agg(count(lit(1)).as("n_hits"))
    totals.join(hits, Seq("id"), "left")
      .select(col("id"), col("n_ngrams"),
        coalesce(col("n_hits"), lit(0L)).as("n_hits"))
      .withColumn("overlap",
        round(col("n_hits").cast("double") / col("n_ngrams"), 6))
      .withColumn("contaminated", (col("overlap") >= tau).cast("int"))
  }

  /** [[contamination]] with a bloom-filter pre-screen on the eval side —
    * the runtime-filter pattern applied explicitly ([[graft.functions
    * .Bloom]]): the train-gram set builds one bounded sketch (distributed
    * aggregate; only the merged sketch reaches the driver, like any
    * broadcast build), and every eval gram that MISSES the sketch is
    * proven absent from the train corpus and skips the semi-join shuffle
    * entirely. Only bloom-positive candidates pay the exact semi-join, so
    * the result is row-identical to [[contamination]] — the driver gate
    * checks this operator against d09's exact oracle SQL, and DedupSpec
    * asserts frame equality.
    *
    * At 100 TB the win is on the probe side: the membership test is a
    * codegen'd scalar in the eval scan stage, so the semi-join shuffles
    * only candidate grams (on cross-domain corpora most grams miss; on
    * this near-dup-heavy test corpus ~37% do). Size `numBits` ≈ 10× the
    * distinct train grams for ~1% false positives — a false positive only
    * wastes a candidate row, never changes a count. Building the sketch
    * is one eager pass over the train grams at plan-construction time
    * (same discipline as [[graft.sim.Ivf]]'s centroid fit). */
  def bloomContamination(train: DataFrame, evalDocs: DataFrame,
                         idCol: String, textCol: String, n: Int, tau: Double,
                         expectedGrams: Long = 1L << 20,
                         numBits: Long = 1L << 23,
                         hashGrams: Boolean = false): DataFrame = {
    val (trainG, evalG) = contaminationGrams(train, evalDocs, idCol,
      textCol, n, hashGrams)
    val sketch = graft.functions.Bloom.buildBloom(
      trainG, col("g"), expectedGrams, numBits)
    gramOverlap(evalG,
      evalG.filter(graft.functions.Bloom.mightContain(sketch, col("g"))),
      trainG, tau)
  }

  /** Cross-document duplicated-span profiling — the corpus-level signal
    * behind exact-substring dedup (which drops repeated spans rather than
    * whole documents): for each doc, how much of it is made of word
    * n-gram spans that also occur in at least one OTHER document. Emits
    * per-doc positional span count, duplicated-span count, and the
    * duplicated fraction. Within-doc repetition is deliberately excluded
    * (that is t06_repetition's signal): a span is duplicated only if its
    * document frequency is ≥ 2.
    *
    * Scale shape: spans stay POSITIONAL (one row per token position, not
    * per distinct gram) so the fraction weighs a doc's text coverage the
    * way a span-removal pass would. Document frequency per gram is one
    * two-phase countDistinct aggregate keyed on the gram; membership is a
    * LEFT SEMI join on the gram; per-doc counts are map-side-combined
    * counting aggregates. Nothing is ever doc × doc, and no suffix array
    * is materialized — the n-gram window approximates ExactSubstr's
    * suffix-array pass with a fixed span width.
    *
    * `hashGrams` as in [[contamination]]: xxhash64 the span before any
    * shuffle (8-byte keys, spec-pinned identical on the test corpus) —
    * the 100 TB path; off by default for oracle-exact semantics.
    */
  def dupSpans(docs: DataFrame, idCol: String, textCol: String,
               n: Int, hashGrams: Boolean = false): DataFrame = {
    val spans = positionalGrams(docs, idCol, textCol, n)
    val pos =
      if (hashGrams) spans.select(col("id"), col("p"),
        xxhash64(col("g")).as("g"))
      else spans
    val dup = pos.groupBy("g").agg(count_distinct(col("id")).as("__df"))
      .filter(col("__df") >= 2).select("g")
    val tot = pos.groupBy("id").agg(count(lit(1)).as("n_spans"))
    val hit = pos.join(dup, Seq("g"), "left_semi")
      .groupBy("id").agg(count(lit(1)).as("n_dup_spans"))
    tot.join(hit, Seq("id"), "left")
      .select(col("id"), col("n_spans"),
        coalesce(col("n_dup_spans"), lit(0L)).as("n_dup_spans"))
      .withColumn("dup_frac",
        round(col("n_dup_spans").cast("double") / col("n_spans"), 6))
  }

  /** ExactSubstr-style span REMOVAL — the cleaning counterpart of
    * [[dupSpans]] (which only measures): every token position covered by
    * a cross-doc duplicated n-gram span (a span whose gram has document
    * frequency >= 2 covers positions [start, start+n)) is dropped, and
    * the surviving tokens are re-joined in position order. Returns
    * (id, n_tokens, n_removed, clean_text).
    *
    * Scale shape: dup detection is dupSpans' df>=2 gram-keyed semi-join
    * (never doc × doc); coverage is a narrow (id, pos) explode bounded by
    * n rows per matched span; the text rebuild is ONE groupBy with the
    * struct-sort pattern (collect_list → array_sort → transform, the
    * q23/s06 shape) — per-doc state is the doc's own tokens, no window,
    * no global sort. `hashGrams` mirrors dupSpans' 8-byte key knob. */
  def removeDupSpans(docs: DataFrame, idCol: String, textCol: String,
                     n: Int, hashGrams: Boolean = false): DataFrame = {
    val toks = docs
      .select(col(idCol).as("id"), tokens(col(textCol)).as("toks"))
      .select(col("id"), posexplode(col("toks")).as(Seq("tp", "token")))
      .select(col("id"), (col("tp") + 1).as("pos"), col("token"))
    val spans = positionalGrams(docs, idCol, textCol, n)
    val pos =
      if (hashGrams) spans.select(col("id"), col("p"),
        xxhash64(col("g")).as("g"))
      else spans
    val dup = pos.groupBy("g").agg(count_distinct(col("id")).as("__df"))
      .filter(col("__df") >= 2).select("g")
    val covered = pos.join(dup, Seq("g"), "left_semi")
      .select(col("id"),
        explode(sequence(col("p"), col("p") + (n - 1))).as("pos"))
      .distinct()
    val kept = toks.join(covered, Seq("id", "pos"), "left_anti")
      .groupBy("id")
      .agg(count(lit(1)).as("n_kept"),
        concat_ws(" ", transform(
          array_sort(collect_list(struct(col("pos"), col("token")))),
          x => x.getField("token"))).as("clean_text"))
    // per-doc token count as a scan-stage scalar — size() of the split
    // array, never a corpus-wide token-explode shuffle
    docs.select(col(idCol).as("id"),
        size(tokens(col(textCol))).cast("long").as("n_tokens"))
      .join(kept, Seq("id"), "left")
      .select(col("id"), col("n_tokens"),
        (col("n_tokens") - coalesce(col("n_kept"), lit(0L)))
          .as("n_removed"),
        coalesce(col("clean_text"), lit("")).as("clean_text"))
  }

  /** Connected components over a near-dup pair graph — the dedup
    * post-step that turns pairwise matches into KEEP/DROP decisions: every
    * document in a component shares its cluster id (the component's
    * minimum vertex id), and a pipeline keeps one representative per
    * cluster. Returns (id, cluster) for every vertex appearing in `pairs`;
    * a null endpoint is the vertex null, whose cluster is null.
    *
    * Union-find first: one pass over each partition of `pairs` links the
    * edges' endpoints and labels every id it saw with its partition-local
    * component minimum. If every id ends up with a single label across
    * the partitions, each label is its global component's minimum: a
    * path between two ids crosses partitions only at ids, and each id
    * carries one label, so a whole component shares one label, which is
    * at most its minimum's. That always holds when the pairs sit in one
    * partition, and then the pass is the answer. Otherwise the min-label
    * rounds ([[minLabelRounds]]) finish the job on the contracted graph,
    * one edge from each id to each of its local labels (Kiveris et al.,
    * SoCC 2014). Either way the emitted label is the component minimum,
    * whatever the partitioning.
    */
  def connectedComponents(pairs: DataFrame, aCol: String,
                          bCol: String): DataFrame = {
    // the common type of both endpoint columns, as a union would widen it
    val dt = pairs.select(col(aCol)).union(pairs.select(col(bCol)))
      .schema.head.dataType
    val rows = pairs.select(col(aCol).cast(dt), col(bCol).cast(dt))
      .queryExecution.toRdd
    val local = pairs.sparkSession.createDataFrame(
        rows.mapPartitions(localComponents(_, dt)),
        StructType(Seq(StructField("id", dt), StructField("label", dt))))
      .localCheckpoint()
    if (rows.getNumPartitions <= 1)
      local.select(col("id"), col("label").as("cluster"))
    else {
      val labels = local.groupBy("id")
        .agg(min(col("label")).as("label"), max(col("label")).as("hi"))
        .localCheckpoint()
      val done = labels.filter(col("label") =!= col("hi")).isEmpty
      (if (done) labels
       else minLabelRounds(local.filter(col("id") =!= col("label")),
         labels.select("id", "label")))
        .select(col("id"), col("label").as("cluster"))
    }
  }

  /** Union-find over one partition's (a, b) edge rows of type `dt`, with
    * path halving and the smaller root always kept as the root: one
    * (id, label) row per id seen, labeled with its local component
    * minimum, plus (null, null) if an endpoint was null. */
  private def localComponents(edges: Iterator[InternalRow],
                              dt: DataType): Iterator[Row] = {
    val ord = TypeUtils.getInterpretedOrdering(dt)
    val toScala = CatalystTypeConverters.createToScalaConverter(dt)
    val parent = new java.util.HashMap[Any, Any]()
    def find(x: Any): Any = {
      var v = x
      while (parent.get(v) != v) {
        val up = parent.get(parent.get(v))
        parent.put(v, up)
        v = up
      }
      v
    }
    def vertex(r: InternalRow, i: Int): Any =
      if (r.isNullAt(i)) null
      else {
        // rows are reused: copy string bytes out of the row's buffer
        val v = InternalRow.copyValue(r.get(i, dt))
        parent.putIfAbsent(v, v)
        v
      }
    var sawNull = false
    for (r <- edges) {
      val (a, b) = (vertex(r, 0), vertex(r, 1))
      if (a == null || b == null) sawNull = true
      else {
        val (ra, rb) = (find(a), find(b))
        if (ord.lt(ra, rb)) parent.put(rb, ra)
        else if (ord.lt(rb, ra)) parent.put(ra, rb)
      }
    }
    val ids = parent.keySet.toArray
    ids.iterator.map(v => Row(toScala(v), toScala(find(v)))) ++
      (if (sawNull) Iterator(Row(null, null)) else Iterator.empty)
  }

  /** Min-label propagation to fixpoint over the (id, label) edge rows,
    * from `start` labels (id, label) that each name a member of the id's
    * component, with every component's minimum labeled itself. Each
    * round is a few id-keyed joins and one min aggregate;
    * `localCheckpoint` truncates the growing lineage each round. Labels
    * only fall, so the rounds end; the hook and pointer-halving terms
    * keep them to a handful on near-dup graphs. Returns (id, label), the
    * component minimum per id. */
  private def minLabelRounds(edgeRows: DataFrame,
                             start: DataFrame): DataFrame = {
    val edges = edgeRows.select(col("id").as("src"), col("label").as("dst"))
      .union(edgeRows.select(col("label").as("src"), col("id").as("dst")))
      .localCheckpoint()
    var labels = start
    var converged = false
    while (!converged) {
      // (src, dst, l): dst has a neighbour src labeled l
      val hops = edges.join(
        labels.select(col("id").as("src"), col("label").as("l")), "src")
      val propagated = hops.select(col("dst").as("id"), col("l").as("label"))
      // hooking: dst's LABEL takes l too, so a whole label class moves
      // at once instead of one hop per round
      val hooked = hops
        .join(labels.select(col("id").as("dst"), col("label").as("id")),
          "dst")
        .select(col("id"), col("l").as("label"))
      // pointer halving: each id also adopts its label's label
      val halved = labels.select(col("id"), col("label").as("mid"))
        .join(labels.select(col("id").as("mid"),
          col("label").as("plabel")), "mid")
        .select(col("id"), col("plabel").as("label"))
      // Each id's new label plus its OLD one (the `own` row), so the
      // convergence test is a join-free filter over the checkpointed
      // frame. LAZY: that test is the round's one action and
      // materializes the checkpoint as it runs.
      val next = (labels.withColumn("own", lit(true)) +:
          Seq(propagated, hooked, halved).map(_.withColumn("own", lit(false))))
        .reduce(_ union _)
        .groupBy("id")
        .agg(min(col("label")).as("label"),
          min(when(col("own"), col("label"))).as("old"))
        .localCheckpoint(eager = false)
      labels = next.select("id", "label")
      // null-safe: the null vertex keeps its null label and is settled
      converged = next.filter(!(col("label") <=> col("old"))).isEmpty
    }
    labels
  }

  /** Semantic dedup, SemDeDup-style (Abbas et al. 2023, arXiv:2303.09540):
    * k-means-cluster the embeddings, then drop every vector that has a
    * LOWER-id neighbor with cosine >= tau in the SAME cell (the one-shot
    * greedy keep-one-representative rule). Returns the KEPT ids.
    *
    * Scale shape: candidate comparison is confined to cells — the
    * self-join's equi-key is the cluster id, so the quadratic term is
    * (corpus/c)² per cell, the documented SemDeDup cost model (pick `c`
    * so cells fit; `fitFraction` fits the k-means on a sample). Nothing is
    * corpus-global except the c-row centroid broadcast.
    */
  /** Soft dedup: DOWN-WEIGHT duplicates instead of dropping them (the
    * duplicate-aware sampling weight modern recipes feed the mixture
    * stage — each near-dup cluster contributes ~1 document's worth of
    * training mass in total, so diversity is preserved without losing
    * any document outright). `clusters` is any (id, cluster) frame —
    * [[connectedComponents]] over any pair generator; ids absent from it
    * are singletons with weight 1.
    *
    * Scale shape: one narrow count aggregate over the cluster frame
    * (bounded by documents IN near-dup pairs, typically a small corpus
    * fraction) plus two id-keyed left joins AQE broadcasts when the
    * cluster side is small. weight = 1/cluster_size as one double
    * division — bit-identical cross-engine, no rounding needed. */
  def dedupWeights(universe: DataFrame, idCol: String,
                   clusters: DataFrame): DataFrame = {
    val cl = clusters.select(col("id").as(idCol), col("cluster"))
    val sizes = cl.groupBy("cluster")
      .agg(count(lit(1)).as("cluster_size"))
    universe.select(col(idCol))
      .join(cl, Seq(idCol), "left")
      .join(sizes, Seq("cluster"), "left")
      .select(col(idCol),
        coalesce(col("cluster"), col(idCol)).as("cluster_id"),
        coalesce(col("cluster_size"), lit(1L)).as("cluster_size"),
        (lit(1.0) / coalesce(col("cluster_size"), lit(1L)).cast("double"))
          .as("weight"))
  }

  def semanticDedup(emb: DataFrame, idCol: String, vecCol: String,
                    c: Int, tau: Double, iters: Int = 3,
                    fitFraction: Double = 1.0): DataFrame = {
    val (cells, pairs) =
      semanticPairs(emb, idCol, vecCol, c, tau, iters, fitFraction)
    keptFrom(cells, pairs, idCol)
  }

  /** Kept-set post-step shared by the one- and two-level paths: any id
    * appearing as a pair's HIGHER side is dominated and dropped. */
  private def keptFrom(cells: DataFrame, pairs: DataFrame,
                       idCol: String): DataFrame = {
    val dominated = pairs.select(col("id_b").as("id")).distinct()
    cells.join(dominated, Seq("id"), "left_anti")
      .select(col("id").as(idCol))
  }

  /** Audit post-step shared by the one- and two-level paths: per-corpus
    * row `kept` plus the minimum-id qualifying witness for each drop
    * (see [[semanticDedupAudit]]). */
  private def auditFrom(cells: DataFrame, pairs: DataFrame,
                        idCol: String): DataFrame = {
    val witness = pairs
      .groupBy(col("id_b").as("id"))
      .agg(min(struct(col("id_a"), col("cos"))).as("w"))
      .select(col("id"), col("w.id_a").as("witness_id"),
        col("w.cos").as("witness_cos"))
    cells.select(col("id"))
      .join(witness, Seq("id"), "left_outer")
      .select(col("id").as(idCol), col("witness_id").isNull.as("kept"),
        col("witness_id"), col("witness_cos"))
  }

  /** [[semanticDedup]] with the cell count derived from corpus size
    * ([[graft.sim.CellKnobs.cellsForPairs]]: fixed expected cell size, so
    * the within-cell pair verify stays LINEAR in the corpus — the
    * SemDeDup deployment shape, cluster count ∝ corpus). Past the
    * single-level envelope (needed cells > the broadcastable maximum,
    * n ≈ 1.3e8 rows at defaults) it switches to
    * [[semanticDedupTwoLevel]] with the [[graft.sim.CellKnobs
    * .coarseFineForPairs]] split — same greedy rule, same linear pair
    * bound, no broadcast cliff. Pass `corpusRows` when known; None
    * counts once. Lower `fitFraction` at scale: cells grow with the
    * corpus, the fit should not. */
  def semanticDedupAuto(emb: DataFrame, idCol: String, vecCol: String,
                        tau: Double, corpusRows: Option[Long] = None,
                        targetCell: Long = 1000, iters: Int = 3,
                        fitFraction: Double = 1.0): DataFrame = {
    val n = corpusRows.getOrElse(emb.count())
    if (graft.sim.CellKnobs.needsTwoLevelForPairs(n, targetCell)) {
      // Past the single-level envelope (cellsForPairs would clamp and
      // cell size would silently outgrow targetCell): split the needed
      // cell count across two levels — coarse broadcast + coarse-keyed
      // fine equi-join, so no broadcast ever exceeds the coarse count.
      val (c1, c2) =
        graft.sim.CellKnobs.coarseFineForPairs(n, targetCell)
      require(n * math.min(1.0, fitFraction) >= c1.toLong * c2,
        s"fitFraction=$fitFraction samples ~${(n * fitFraction).toLong} " +
          s"rows but the two-level derivation needs c1*c2=${c1.toLong * c2} " +
          s"cells; raise fitFraction or targetCell")
      semanticDedupTwoLevel(emb, idCol, vecCol, c1 = c1, c2 = c2,
        tau = tau, iters = iters, fitFraction = fitFraction)
    } else {
      val c = graft.sim.CellKnobs.cellsForPairs(n, targetCell)
      // k-means keeps at most one centroid per FIT row (empty cells drop
      // out, Ivf.fitCentroids), so a fit sample smaller than c silently
      // collapses the cell structure and re-opens the quadratic verify
      // this derivation exists to bound. Fail loudly instead.
      require(n * math.min(1.0, fitFraction) >= c,
        s"fitFraction=$fitFraction samples ~${(n * fitFraction).toLong} " +
          s"rows but the derivation needs c=$c cells; raise fitFraction " +
          s"or targetCell so the fit can support every cell")
      semanticDedup(emb, idCol, vecCol, c = c,
        tau = tau, iters = iters, fitFraction = fitFraction)
    }
  }

  /** Cells + the qualifying drop pairs behind [[semanticDedup]]:
    * (id_a, id_b, cos) with id_a < id_b, same cell, cos >= tau. */
  private def semanticPairs(emb: DataFrame, idCol: String, vecCol: String,
                            c: Int, tau: Double, iters: Int,
                            fitFraction: Double): (DataFrame, DataFrame) = {
    val corpus = emb.select(col(idCol).as("id"), col(vecCol).as("v"))
    val fitCorpus =
      if (fitFraction >= 1.0) corpus
      else corpus.sample(withReplacement = false, fitFraction, seed = 42L)
    val centroids = graft.sim.Ivf.fitCentroids(fitCorpus, c, iters,
      seedCorpus = if (fitFraction >= 1.0) None else Some(corpus))
    pairsFromCentroids(corpus, centroids, tau)
  }

  /** Cells + qualifying drop pairs from PRE-FITTED centroids — the
    * post-fit half of [[semanticPairs]], factored out so the
    * exported-model oracle route (s03's discipline) can run the
    * greedy rule against a [[graft.sim.ModelStore]]-loaded fit. */
  private def pairsFromCentroids(corpus: DataFrame, centroids: DataFrame,
                                 tau: Double): (DataFrame, DataFrame) = {
    // One assignment pass; localCheckpoint because both join sides and the
    // downstream anti-/left-join consume it (the repo's iterative-frame
    // discipline).
    val cells = graft.sim.Ivf.assign(corpus, centroids)
      .select(col("id"), col("v"), col("cluster"))
      .localCheckpoint(eager = false)
    val pairs = cells.select(col("cluster"), col("id").as("id_a"),
        col("v").as("v_a"))
      .join(cells.select(col("cluster"), col("id").as("id_b"),
        col("v").as("v_b")), Seq("cluster"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        Vectors.cosine(col("v_a"), col("v_b")).as("cos"))
      .filter(col("cos") >= tau)
    (cells, pairs)
  }

  /** [[semanticDedupAudit]] against PRE-FITTED centroids: assignment,
    * within-cell pairs and witness selection all derive from the loaded
    * model frame, so an external engine holding the same centroid bits
    * (the gate's [[graft.sim.ModelStore]] export) re-derives every row —
    * the exported-model oracle route that flipped s03/s13, applied to
    * the dedup axis. Bit-identical to [[semanticDedupAudit]] when
    * `centroids` is the same fit (spec-pinned). */
  def semanticDedupAuditFromCentroids(emb: DataFrame, idCol: String,
                                      vecCol: String, centroids: DataFrame,
                                      tau: Double): DataFrame = {
    val corpus = emb.select(col(idCol).as("id"), col(vecCol).as("v"))
    val (cells, pairs) = pairsFromCentroids(corpus, centroids, tau)
    auditFrom(cells, pairs, idCol)
  }

  /** [[semanticDedup]] with a PER-ROW AUDIT TRAIL instead of just the
    * kept set: every corpus id with `kept`, and for each dropped id the
    * minimum-id qualifying neighbor as a verifiable WITNESS
    * (witness_id < id, same cell, exact cosine >= tau). Kept rows carry
    * NULL witnesses. An external checker that can recompute cosine from
    * the raw vectors (tools/oracle_check.py's d08_soundness does, in
    * DuckDB) can then prove every drop was justified without re-running
    * the clustering — the same exported-evidence pattern as d03's
    * emitSigs. Same shuffles as [[semanticDedup]] with the distinct
    * replaced by a min-of-struct aggregate (both map-side combined). */
  def semanticDedupAudit(emb: DataFrame, idCol: String, vecCol: String,
                         c: Int, tau: Double, iters: Int = 3,
                         fitFraction: Double = 1.0): DataFrame = {
    val (cells, pairs) =
      semanticPairs(emb, idCol, vecCol, c, tau, iters, fitFraction)
    auditFrom(cells, pairs, idCol)
  }

  /** Two-level (coarse-then-fine) SemDeDup — the path past the
    * single-level envelope (`c` cells must fit one broadcast,
    * [[graft.sim.CellKnobs]]): cluster into `c1` coarse cells with the
    * usual broadcast assignment, then fit `c2` fine cells INSIDE each
    * coarse cell simultaneously ([[graft.sim.Ivf.fitCentroidsWithin]])
    * and assign each row to a fine cell by meeting only its own coarse
    * cell's centroids via the coarse-keyed equi-join — never a
    * broadcast of all c1·c2 centroids. The greedy keep-lowest-id rule
    * then runs within (coarse, fine) cells exactly as [[semanticDedup]]
    * runs it within cells.
    *
    * Cost shape at corpus n, dim d: assignment is n·(c1 + c2)·d flops —
    * 2n·√cTotal·d instead of single-level's unbroadcastable n·cTotal·d —
    * plus one extra corpus shuffle (the coarse-keyed fine-assignment
    * join; its shuffle rows are the narrow (id, v, coarse) tuples).
    * Pair verify stays n·targetCell when (c1, c2) come from
    * [[graft.sim.CellKnobs.coarseFineForPairs]]. Fine seeds draw from
    * the FULL corpus's coarse assignment, and a coarse cell whose fine
    * set vanishes (zero FIT rows landed in it) falls back to the coarse
    * centroid as its single fine cell — no corpus row is ever silently
    * lost to an uncovered group ([[graft.sim.Ivf.assignWithin]]'s
    * inner-join caveat). With c1 = 1 this degenerates to
    * [[semanticDedup]] with c = c2 (same seeds, same iterations, same
    * rule — the equivalence spec pins it). */
  def semanticDedupTwoLevel(emb: DataFrame, idCol: String, vecCol: String,
                            c1: Int, c2: Int, tau: Double, iters: Int = 3,
                            fitFraction: Double = 1.0): DataFrame = {
    val (cells, pairs) = semanticPairsTwoLevel(
      emb, idCol, vecCol, c1, c2, tau, iters, fitFraction)
    keptFrom(cells, pairs, idCol)
  }

  /** [[semanticDedupTwoLevel]] with the per-row witness audit trail of
    * [[semanticDedupAudit]] — the exported-evidence discipline follows
    * the operator to the scale path. */
  def semanticDedupTwoLevelAudit(emb: DataFrame, idCol: String,
                                 vecCol: String, c1: Int, c2: Int,
                                 tau: Double, iters: Int = 3,
                                 fitFraction: Double = 1.0): DataFrame = {
    val (cells, pairs) = semanticPairsTwoLevel(
      emb, idCol, vecCol, c1, c2, tau, iters, fitFraction)
    auditFrom(cells, pairs, idCol)
  }

  /** Cells + qualifying drop pairs behind [[semanticDedupTwoLevel]]:
    * same contract as [[semanticPairs]] with the cell identity the
    * composite (coarse, cluster) key. Fine cluster ids are seed-row ids
    * (globally unique), but the pair join still keys on the composite:
    * the vanished-group fallback reuses the coarse id as the fine id,
    * and that id may elsewhere be a legitimate fine seed. */
  private def semanticPairsTwoLevel(emb: DataFrame, idCol: String,
                                    vecCol: String, c1: Int, c2: Int,
                                    tau: Double, iters: Int,
                                    fitFraction: Double)
      : (DataFrame, DataFrame) = {
    val corpus = emb.select(col(idCol).as("id"), col(vecCol).as("v"))
    // build half shared with the two-level IVF search path
    val (_, _, cells) =
      graft.sim.Ivf.twoLevelCells(corpus, c1, c2, iters, fitFraction)
    val pairs = cells.select(col("coarse"), col("cluster"),
        col("id").as("id_a"), col("v").as("v_a"))
      .join(cells.select(col("coarse"), col("cluster"),
        col("id").as("id_b"), col("v").as("v_b")), Seq("coarse", "cluster"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        Vectors.cosine(col("v_a"), col("v_b")).as("cos"))
      .filter(col("cos") >= tau)
    (cells, pairs)
  }

  /** Embedding near-dup pairs: cosine >= threshold between a bounded probe
    * subset and the corpus, via banded random-hyperplane LSH candidate
    * generation + exact-cosine verification.
    *
    * Candidates come from an equi-join on (band, bucket) — the shuffle key
    * IS the bucket, never a nested-loop probe×corpus scan — and only bucket
    * collisions pay the exact cosine. An OR-construction of `nBands` tables
    * of `bitsPerBand` sign-projection bits each gives per-pair miss
    * probability (1 − p^b)^L with p = 1 − θ/π: recall is tuned by L, bucket
    * size (corpus / 2^b per table) independently by b. Low thresholds need
    * small b / larger L (θ is wide); production near-dup thresholds
    * (cos ≥ 0.8) support b=8, L=16 with sublinear buckets. The default
    * b=1, L=18 holds exact recall for τ ≥ 0.25 (verified against the
    * brute-force oracle at both test scale factors).
    */
  def embeddingNearDups(emb: DataFrame, idCol: String, vecCol: String,
                        probeFilter: Column, threshold: Double,
                        bitsPerBand: Int = 1, nBands: Int = 18): DataFrame = {
    val bands = graft.sim.Knn.srpBands(vecCol, nBands, bitsPerBand)
    val probes = emb.filter(probeFilter)
      .select(col(idCol).as("id_a"),
        posexplode(bands).as(Seq("band", "bucket")))
    val corpus = emb
      .select(col(idCol).as("id_b"),
        posexplode(bands).as(Seq("band", "bucket")))
    // No broadcast hint: the probe side is caller-filtered but
    // corpus-PROPORTIONAL (a `% 20` filter keeps 5% of the corpus — multi-TB
    // at embedding scale), so a forced broadcast would OOM the cluster. AQE
    // picks broadcast at runtime when the filtered side really is small,
    // exactly as lshKnn/knnGraph already rely on.
    //
    // NARROW candidates: the bucket join and the cross-band dedup carry
    // only (id_a, id_b) — never the vectors. Candidate volume is
    // probes × bucket × L rows BEFORE the distinct, and dragging two
    // d-float vectors through that shuffle is what dies at scale (the
    // 100× probe measured ~33× the shuffle bytes and filled local
    // disk); the vectors re-join AFTER the distinct, against the
    // (collision-deduped) pair set — s04's knnGraph discipline.
    val cand = probes.join(corpus, Seq("band", "bucket"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"))
      .distinct() // a pair colliding in several bands verifies once
    // shuffle_hash on the vector side: sort-merge would SORT the
    // candidate frame (per-pair vector attached after the first join) —
    // the other half of the 100×-probe disk spill. Hashing the
    // corpus-sized vector side keeps candidates streaming.
    cand
      .join(emb.select(col(idCol).as("id_a"), col(vecCol).as("v_a"))
        .hint("shuffle_hash"), Seq("id_a"))
      .join(emb.select(col(idCol).as("id_b"), col(vecCol).as("v_b"))
        .hint("shuffle_hash"), Seq("id_b"))
      .select(col("id_a"), col("id_b"),
        Vectors.cosine(col("v_a"), col("v_b")).as("cos"))
      .filter(col("cos") >= threshold)
  }

  /** Content-defined chunking (CDC) duplicate-chunk profile — the
    * storage-dedup standard (LBFS/FastCDC lineage) applied to corpus
    * text: chunk boundaries are set by CONTENT (a rolling window-gram
    * hash condition), not by position, so an insertion near a doc's
    * head shifts only the chunk containing it — every later chunk
    * re-aligns and still dedups, the property fixed-offset spans
    * (d10's class) structurally lack. A token position i (1-based,
    * window ≤ i < n) ends a chunk when the md5 of the window-gram
    * ending at i starts with a hex digit ≤ `hexBoundary` (each digit
    * admitted adds 1/16 boundary probability; expected chunk length is
    * its reciprocal), and the doc end always ends the last chunk. The
    * gate reports chunks whose exact content recurs across ≥ 2 docs.
    *
    * Scale shape: segmentation is ONE row-local codegen'd projection
    * (boundary scan + chunk md5s inside array HOFs — no window
    * function, no self-join, nothing sequential outside the row), then
    * explode → two map-side-combined aggregates ((md5, doc) then md5).
    * The only corpus-wide shuffles are those narrow md5-keyed aggs —
    * the same bound as exact dedup, for variable-length chunks. */
  /** [[cdcChunkDups]]' segmentation alone: one row per chunk,
    * (id, chunk_idx, chunk_len, chunk_md5) in document order — entirely
    * row-local (the boundary scan and chunk md5s evaluate inside array
    * HOFs in one codegen'd projection). */
  def cdcSegment(docs: DataFrame, idCol: String, textCol: String,
                 window: Int = 3, hexBoundary: String = "1"): DataFrame = {
    require(window >= 1, s"window must be positive: $window")
    require(hexBoundary.length == 1 &&
        "0123456789abcdef".contains(hexBoundary),
      s"hexBoundary must be one lowercase hex digit: $hexBoundary")
    docs
      .select(col(idCol).as("id"), tokens(col(textCol)).as("toks"))
      .withColumn("n", size(col("toks")))
      .withColumn("ends", concat(
        when(col("n") - 1 >= window,
          filter(sequence(lit(window), greatest(col("n") - 1, lit(window))),
            i => substring(md5(concat_ws(" ",
              slice(col("toks"), i - (window - 1), lit(window)))), 1, 1)
              <= hexBoundary))
          .otherwise(expr("array()").cast("array<int>")),
        array(col("n"))))
      .select(col("id"), posexplode(transform(col("ends"), (e, k) => {
        val start = when(k === 0, lit(1))
          .otherwise(element_at(col("ends"), k) + 1)
        struct((e - start + 1).as("len"),
          md5(concat_ws(" ", slice(col("toks"), start, e - start + 1)))
            .as("m5"))
      })).as(Seq("chunk_idx", "ch")))
      .select(col("id"), col("chunk_idx").cast("long").as("chunk_idx"),
        col("ch.len").cast("long").as("chunk_len"),
        col("ch.m5").as("chunk_md5"))
  }

  def cdcChunkDups(docs: DataFrame, idCol: String, textCol: String,
                   window: Int = 3, hexBoundary: String = "1"): DataFrame =
    cdcSegment(docs, idCol, textCol, window, hexBoundary)
      .groupBy(col("chunk_md5"), col("id"))
      .agg(count(lit(1)).as("c"))
      .groupBy(col("chunk_md5"))
      .agg(count(lit(1)).as("n_docs"), sum(col("c")).as("n_occurs"))
      .filter(col("n_docs") >= 2)

  /** Gate reference configuration for embedding near-dup LSH (d05/d06):
    * b=1, L=18 — reproduced by the derivation at both gate corpus sizes
    * (500 and 2000 rows at targetBucket=1000), and the anchor
    * [[graft.sim.LshKnobs]] widens from at scale (the 10× probe
    * validated b=4, L=36 at 10× the bench corpus — the same rule, one
    * bit narrower / two tables fewer). */
  private[graft] val NearDupBaseBits = 1
  private[graft] val NearDupBaseTables = 18
  private[graft] val NearDupTargetBucket = 1000L

  /** [[embeddingNearDups]] with (bits, bands) derived from corpus size
    * ([[graft.sim.LshKnobs]]) — the deployment entry point at a new
    * scale, so callers never hand-port the gate constants. `recallCos`
    * is the cosine level recall is preserved at (the near-dup pairs
    * themselves, not `threshold`); pass `corpusRows` when known, None
    * counts once. */
  def embeddingNearDupsAuto(emb: DataFrame, idCol: String, vecCol: String,
                            probeFilter: Column, threshold: Double,
                            corpusRows: Option[Long] = None,
                            targetBucket: Long = NearDupTargetBucket,
                            recallCos: Double = 0.9): DataFrame = {
    val kn = graft.sim.LshKnobs.derive(corpusRows.getOrElse(emb.count()),
      targetBucket, NearDupBaseBits, NearDupBaseTables, recallCos)
    graft.sim.LshKnobs.requireUncapped(kn, "embeddingNearDups")
    embeddingNearDups(emb, idCol, vecCol, probeFilter, threshold,
      bitsPerBand = kn.bits, nBands = kn.tables)
  }
}
