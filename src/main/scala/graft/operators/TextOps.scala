package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Training-data pipeline text operators over the `documents` table
  * `(doc_id, text, lang, source, n_chars)`: token counting, quality
  * scoring, language-ID, fingerprinting, exact + near deduplication
  * (n-gram Jaccard ground truth, MinHash+LSH scale path, SimHash).
  *
  * Scale notes: signatures (minhash/simhash/fingerprint) are computed with
  * array higher-order functions in a single narrow projection — zero
  * shuffles per row. Candidate generation shuffles only on band keys
  * (LSH) — never an all-pairs cross join; the exact-Jaccard ground truth
  * joins on shared shingles, so disjoint documents never meet.
  */
object TextOps {

  def documents(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(s"$dir/documents.parquet")

  private def words(c: Column): Column = split(c, " ")

  val Stopwords = Seq("the", "a")

  /** Token counting: whitespace words + a BPE-ish subword estimate
    * (⌈chars/4⌉ per word — the usual ~4-chars-per-token heuristic). */
  def tokenCount(spark: SparkSession, dir: String): DataFrame =
    documents(spark, dir).select(
      col("doc_id"),
      size(words(col("text"))).cast("long").as("n_words"),
      length(col("text")).cast("long").as("n_chars"),
      aggregate(transform(words(col("text")),
          w => ((length(w) + lit(3)) / lit(4)).cast("long")),
        lit(0L), (acc, x) => acc + x).as("n_subwords"))

  /** Quality scoring: length + stopword-ratio + mean word length. */
  def quality(spark: SparkSession, dir: String): DataFrame = {
    val w = words(col("text"))
    val nWords = size(w)
    val nStop = size(filter(w, x => x.isin(Stopwords: _*)))
    val sumLen = aggregate(transform(w, x => length(x)), lit(0), (a, x) => a + x)
    documents(spark, dir).select(
      col("doc_id"),
      nWords.cast("long").as("n_words"),
      nStop.cast("long").as("n_stop"),
      (nStop.cast("double") / nWords).as("stop_ratio"),
      (sumLen.cast("double") / nWords).as("mean_wlen"))
  }

  /** Language-ID by marker-profile hit counts (n-gram-heuristic shape:
    * score per profile, argmax with deterministic tiebreak). */
  val LangProfiles: Seq[(String, Seq[String])] = Seq(
    "p1" -> Seq("the", "a", "join", "scan"),
    "p2" -> Seq("spark", "stream", "window", "batch"),
    "p3" -> Seq("sort", "merge", "hash", "group"))

  def langId(spark: SparkSession, dir: String): DataFrame = {
    val w = words(col("text"))
    val hits = LangProfiles.map { case (name, markers) =>
      size(filter(w, x => x.isin(markers: _*))).cast("long").as(s"h_$name")
    }
    val pred = when(col("h_p1") >= col("h_p2") && col("h_p1") >= col("h_p3"), "p1")
      .when(col("h_p2") >= col("h_p3"), "p2")
      .otherwise("p3")
    documents(spark, dir)
      .select(col("doc_id") +: hits: _*)
      .withColumn("lang_pred", pred)
  }

  /** Exact deduplication: group identical texts, keep the smallest id.
    * Groups on the SHA-256 of the text, not the text itself — the shuffle
    * then moves 32-byte digests instead of full documents (the difference
    * between shuffling 100 TB and shuffling 3 TB at corpus scale); SHA-256
    * collisions are not a practical concern for dedup. */
  def dedupExact(spark: SparkSession, dir: String): DataFrame =
    documents(spark, dir)
      .select(col("doc_id"), sha2(col("text"), 256).as("h"))
      .groupBy("h")
      .agg(min("doc_id").as("keep_id"), count(lit(1)).as("n_copies"))
      .select("keep_id", "n_copies")

  /** Distinct k-word shingles of the text — native one-pass expression
    * (the composed transform/sequence/slice/concat_ws version ran five
    * interpreted lambdas per shingle and dominated every shingle-based
    * query's profile). */
  def shingleArr(text: Column, k: Int = 3): Column =
    graft.functions.Signatures.shinglesCol(text, k)

  /** Ground truth near-dup: exact n-gram Jaccard over all pairs sharing at
    * least one shingle (equi-join on shingle — no cross join).
    *
    * @param maxShingleFreq skew guard for corpus scale: drop shingles
    *        appearing in more than this many documents before the self-join
    *        (a shingle shared by M docs contributes M² candidate rows — one
    *        boilerplate sentence across 10⁶ docs is a 10¹²-row join without
    *        the cap). None = exact (the oracle/test configuration); at 100 TB
    *        run with a cap — pairs whose overlap is ONLY ultra-common
    *        shingles fall below any useful threshold anyway. */
  def jaccardPairs(spark: SparkSession, dir: String, threshold: Double = 0.5,
                   k: Int = 3, maxShingleFreq: Option[Int] = None): DataFrame =
    shingleIntersections(spark, dir, k, maxShingleFreq)
      .select(col("id_a"), col("id_b"),
        round(col("i").cast("double") /
          (col("na") + col("nb") - col("i")), 6).as("jaccard"))
      .filter(col("jaccard") >= threshold)

  /** The shared candidate-intersection stage behind [[jaccardPairs]] and
    * [[containmentPairs]]: distinct-shingle sizes per doc, the shingle
    * equi-join (optionally hot-shingle-capped — a shingle shared by M docs
    * contributes M² candidate rows; one boilerplate sentence across 10⁶
    * docs is a 10¹²-row join without the cap), and the per-pair overlap
    * count. Output: (id_a, id_b, i, na, nb). */
  private def shingleIntersections(spark: SparkSession, dir: String, k: Int,
                                   maxShingleFreq: Option[Int]): DataFrame = {
    // fan the raw docs out BEFORE the shingle projection (a one-task scan
    // would otherwise compute every shingle on one core)
    val docs = Par.fanOut(documents(spark, dir).select("doc_id", "text"),
        col("doc_id"))
      .select(col("doc_id"), shingleArr(col("text"), k).as("sh"))
    // materialize the exploded shingle table ONCE: the self-join reads it on
    // both sides and the per-doc sizes roll up from it, where the lazy plan
    // re-evaluated the scan→shingle subtree four times (the r6 simhash
    // lesson — aggregate+join re-evaluation); shingles are distinct per doc,
    // so the count roll-up equals size(sh)
    val exAll = docs.select(col("doc_id"), explode(col("sh")).as("s"))
      .localCheckpoint(true)
    val cnt = exAll.groupBy("doc_id").agg(count(lit(1)).as("n"))
    val ex = maxShingleFreq match {
      case None => exAll
      case Some(cap) =>
        exAll.join(broadcast(exAll.groupBy("s").count()
          .filter(col("count") <= cap).select("s")), Seq("s"))
    }
    ex.as("x").join(ex.as("y"),
        col("x.s") === col("y.s") && col("x.doc_id") < col("y.doc_id"))
      .groupBy(col("x.doc_id").as("id_a"), col("y.doc_id").as("id_b"))
      .agg(count(lit(1)).as("i"))
      .join(cnt.select(col("doc_id"), col("n").as("na")), col("id_a") === col("doc_id"))
      .drop("doc_id")
      .join(cnt.select(col("doc_id"), col("n").as("nb")), col("id_b") === col("doc_id"))
      .drop("doc_id")
  }

  // ---- MinHash + LSH (the 100 TB-scale near-dup path) --------------------

  val NumHashes: Int = graft.functions.Signatures.NumHashes
  val Rows = 2 // rows per band → 32 bands: P(candidate | jac=0.5) ≈ 0.9999
  val Bands: Int = NumHashes / Rows
  private val P31 = 2147483647L // 2^31 - 1 (Mersenne prime)

  /** MinHash signature: one narrow projection, no shuffle — a native
    * one-pass Catalyst expression ([[graft.functions.Signatures]]). */
  def minhashSig(sh: Column): Column = graft.functions.Signatures.minhashSig(sh)

  /** LSH banding + exact verification. Candidates = docs sharing a band
    * hash; every candidate pair is verified with exact Jaccard on the
    * shingle sets, so output precision is 1.0 (recall ~1 - (1-t^r)^b). */
  def minhashLshPairs(spark: SparkSession, dir: String, threshold: Double = 0.5,
                      k: Int = 3): DataFrame =
    minhashLshPairsOn(
      Par.fanOut(documents(spark, dir).select("doc_id", "text"), col("doc_id"))
        .select(col("doc_id"), shingleArr(col("text"), k).as("sh")),
      threshold)

  /** LSH band-bucket rows `(doc_id, band, bkey)` for any `(doc_id,
    * sh: array<string>)` frame — the ONE banding definition, shared by the
    * batch pair path below and the incremental dedup index
    * ([[graft.streaming.IncrementalDedup]]): two band layouts that drift
    * apart would silently split the candidate space. */
  def bandBuckets(docsWithShingles: DataFrame): DataFrame =
    docsWithShingles.select(col("doc_id"), posexplode(bandKeys(col("sh"))))
      .toDF("doc_id", "band", "bkey")

  /** Every band key of a shingle set as `array<bigint>`, band b at index
    * b — [[bandBuckets]] is its `posexplode`. One native pass per
    * signature; each key is bit-identical to
    * xxhash64(concat_ws("_", b, slice(sig, b*Rows+1, Rows))), so band state
    * written by either form probes correctly under the other. */
  def bandKeys(sh: Column): Column =
    graft.functions.Signatures.bandKeysCol(minhashSig(sh), Bands, Rows)

  /** LSH band + verify over any `(doc_id, sh: array<string>)` frame — shared
    * by the text path above and [[CorpusOps.trainingMix]]. */
  def minhashLshPairsOn(docsWithShingles: DataFrame, threshold: Double): DataFrame = {
    // materialize (doc_id, sh) ONCE and the banded table ONCE: the band
    // self-join otherwise re-evaluates scan→shingle→minhash on BOTH sides
    // and the two verify joins re-shingle twice more (the r6 simhash
    // lesson). At corpus scale these are the persisted signature/shingle
    // intermediates a real pipeline stores anyway.
    val docs = docsWithShingles.localCheckpoint(true)
    val banded = bandBuckets(docs).localCheckpoint(true)
    val cands = banded.as("x").join(banded.as("y"),
        col("x.band") === col("y.band") && col("x.bkey") === col("y.bkey") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("id_a"), col("y.doc_id").as("id_b"))
      .distinct()
    val verified = cands
      .join(docs.select(col("doc_id").as("id_a"), col("sh").as("sh_a")), Seq("id_a"))
      .join(docs.select(col("doc_id").as("id_b"), col("sh").as("sh_b")), Seq("id_b"))
      .select(col("id_a"), col("id_b"),
        graft.functions.Signatures.setJaccardCol(col("sh_a"), col("sh_b")).as("jaccard"))
    verified.filter(col("jaccard") >= threshold)
  }

  // ---- SimHash ------------------------------------------------------------

  /** SimHash over k-word SHINGLES (Charikar/Manku-style features — word-set
    * simhash is useless on shared-vocabulary corpora), single projection,
    * no shuffle, native one-pass expression. 63-bit md5-derived signature:
    * DuckDB computes the identical value, so the whole pair query is
    * oracle-checkable end to end. */
  def simhash(text: Column, k: Int = 3): Column =
    graft.functions.Signatures.simhashMd5Sig(shingleArr(text, k))

  def simhashDocs(spark: SparkSession, dir: String): DataFrame =
    Par.fanOut(documents(spark, dir).select("doc_id", "text"), col("doc_id"))
      .select(col("doc_id"), simhash(col("text")).as("simhash"))

  /** SimHash banded candidates (pre-verification): 4 bands × 16 bits, so
    * any pair with hamming ≤ 3 shares at least one full band (pigeonhole).
    * 16-bit bands give 65 536 keys per band — r1's 8×8-bit bands had 256,
    * which degenerated the self-join toward all-pairs/256 (VERDICT r1):
    * candidate volume now scales ~linearly with corpus size (asserted in
    * TextOpsSpec on a 10× corpus). */
  def simhashCandidates(sigs: DataFrame): DataFrame = {
    val bandCols = (0 until 4).map(b =>
      shiftright(col("simhash"), b * 16).bitwiseAND(lit(0xFFFFL)))
    val banded = sigs.select(col("doc_id"), col("simhash"), posexplode(array(bandCols: _*)))
      .toDF("doc_id", "simhash", "band", "bkey")
    banded.as("x").join(banded.as("y"),
        col("x.band") === col("y.band") && col("x.bkey") === col("y.bkey") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("id_a"), col("y.doc_id").as("id_b"),
        col("x.simhash").as("sa"), col("y.simhash").as("sb"))
      .distinct()
  }

  /** SimHash near-dup pairs: banded candidates verified with the exact
    * hamming distance — with 4×16-bit bands the output is EXACTLY the set
    * of pairs at hamming ≤ maxHamming (≤ 3 guaranteed complete; for ≤ 7 run
    * a second rotated banding pass).
    *
    * The signature table is MATERIALIZED once (localCheckpoint) before the
    * band self-join: both join sides otherwise re-evaluate the whole
    * scan→shingle→md5-signature subtree (the aggregate+join re-evaluation
    * trap), paying the heaviest stage twice. Measured on sf0.1 (BASELINE.md,
    * "q_simhash_pairs closed with data"): shipped 1.03 s → 0.71 s; the
    * alternative union-of-4-projections split (no Generate, every method
    * JIT-able) is SLOWER at 1.4 s — 4 scans beat nothing. At 10^12 docs the sig table
    * is 16 B/doc, vastly cheaper to store once than to recompute from
    * text twice (on a cluster it would be a persisted intermediate). */
  def simhashPairs(spark: SparkSession, dir: String, maxHamming: Int = 3): DataFrame =
    simhashCandidates(simhashDocs(spark, dir).localCheckpoint(true))
      .withColumn("hamming", bit_count(col("sa").bitwiseXOR(col("sb"))).cast("long"))
      .filter(col("hamming") <= maxHamming)
      .select("id_a", "id_b", "hamming")

  /** Document fingerprint: polynomial rolling hash over word hashes
    * (order-sensitive, unlike the set-based signatures). Two independent
    * 31-bit modular folds packed into one 62-bit value — overflow-free. */
  def fingerprintCol(text: Column): Column = {
    def fold(mult: Long) = aggregate(
      transform(words(text), w => xxhash64(w).bitwiseAND(lit(P31))),
      lit(0L), (acc, x) => pmod(acc * lit(mult) + x, lit(P31)))
    shiftleft(fold(31L), 31) + fold(37L)
  }

  /** Fingerprint integrity summary — the oracle-checkable invariant:
    * identical texts map to ONE fingerprint (the function is pure) and
    * distinct texts map to distinct fingerprints (injective on the corpus,
    * 62-bit space), so `n_distinct_fp == n_texts` holds exactly iff both do.
    * DuckDB verifies it without being able to compute the hash itself. */
  def fingerprintCheck(spark: SparkSession, dir: String): DataFrame =
    documents(spark, dir)
      .select(col("text"), fingerprintCol(col("text")).as("fp"))
      .agg(countDistinct(col("text")).as("n_texts"),
        count(lit(1)).as("n_docs"),
        countDistinct(col("fp")).as("n_distinct_fp"))

  // ---- Multimodal plumbing ------------------------------------------------

  /** Multimodal columns: the payload travels as an opaque binary column with
    * typed metadata extracted by a batched per-partition decode. The decode
    * HERE is a STUB (deterministic fake, so the DuckDB oracle can recompute
    * it); real header-layout decode for BMP/WAV/PNG/JPEG lives in
    * [[MediaOps.sniff]] and MP4/ISO-BMFF container metadata (duration,
    * tracks, sample counts, dimensions) in [[MediaOps.sniffMp4]] — only
    * decoding actual pixels/frames from entropy-coded payloads remains
    * codec-bound. The Spark-side plumbing (schema, binary transport,
    * partition-batched decode shape) is shared and real. */
  def multimodalMeta(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val bin = documents(spark, dir)
      .select(col("doc_id"), encode(col("text"), "UTF-8").as("payload"))
      .as[(Long, Array[Byte])]
    bin.mapPartitions { it =>
      it.map { case (id, bytes) =>
        // STUB decode — a real implementation hands `bytes` to an image/audio
        // codec here; batch shape and schema are what the pipeline relies on.
        val n = bytes.length.toLong
        (id, n, 64 + n % 256, 64 + (n / 7) % 256, if (id % 2 == 0) "image" else "audio")
      }
    }.toDF("doc_id", "n_bytes", "width", "height", "kind")
  }

  // Frame sampling moved to [[MediaOps.frameSampleQuery]] (r5): it now reads
  // REAL per-sample byte ranges extracted from the synthesized MP4
  // containers via stsz+stsc+stco — the deterministic-fake-frames stub this
  // slot used to hold is retired.

  // ---- Feature-hash text embeddings (text → vector, no model) ------------

  /** Signed hashing-trick embedding of every document: one narrow
    * projection computing a `dim`-slot integer count vector per row with
    * the one-pass native [[graft.functions.Signatures.hashEmbed]]
    * expression (md5 bucket + sign, oracle-recomputable), L2-normalized to
    * round-6 doubles, emitted long-form `(doc_id, dim, v)` with zero slots
    * dropped. This is the model-free text→vector step that makes the
    * chunk → embed → index pipeline end-to-end runnable: its output feeds
    * the same IVF/LSH/PQ index builds as the `embeddings` table.
    *
    * Scale: zero shuffles — scan, two codegen'd per-row expressions,
    * posexplode. Integer counts mean the normalized values are exact
    * (norm = sqrt of an exact int), so the DuckDB oracle recomputes every
    * slot bit-for-bit from `unnest(string_split(...))`. */
  def hashEmbed(spark: SparkSession, dir: String, dim: Int = 16): DataFrame = {
    import graft.functions.Signatures.{hashEmbedCol, l2NormSparseCol}
    // the sparse expression selects slots by the INTEGER count (exactly the
    // oracle's HAVING sum(sgn) <> 0) — filtering the rounded double here
    // would drop a nonzero count whose normalized value rounds to 0.000000
    documents(spark, dir)
      .select(col("doc_id"),
        l2NormSparseCol(hashEmbedCol(words(col("text")), dim)).as("sv"))
      .select(col("doc_id"), inline(col("sv")))
  }

  /** Brute cosine top-k over the hash embeddings: a BOUNDED query slice
    * (doc_id ≡ 0 mod 101 AND doc_id < 101·nQueries — at most `nQueries`
    * rows regardless of corpus size, so the forced broadcast can never
    * become a corpus-proportional driver bomb) broadcast against the
    * corpus, scored by the native integer-cosine (exact long dot /
    * sqrt-int norms → engine-exact round-6 values). Candidate side streams
    * through one broadcast join + one per-query top-k shuffle — the same
    * shape as [[EmbeddingOps.bruteTopK]], here fed by text alone. */
  def hashEmbedTopK(spark: SparkSession, dir: String,
                    dim: Int = 16, k: Int = 10, nQueries: Int = 64): DataFrame = {
    import graft.functions.Signatures.{hashEmbedCol, intCosineCol}
    val emb = documents(spark, dir)
      .select(col("doc_id"), hashEmbedCol(words(col("text")), dim).as("cv"))
    val q = emb.filter(pmod(col("doc_id"), lit(101)) === 0 &&
        col("doc_id") < lit(101L * nQueries))
      .select(col("doc_id").as("query_id"), col("cv").as("qv"))
    // r5: two-phase bounded top-k (TopKAgg) — the per-query row_number
    // window sorted a corpus-sized partition per query; the aggregator
    // keeps ≤k per map task and merges (same ordering contract)
    emb.filter(pmod(col("doc_id"), lit(101)) =!= 0)
      .crossJoin(broadcast(q))
      .withColumn("cos", round(intCosineCol(col("qv"), col("cv")), 6))
      // null sim (null text → null vector) would crash the typed aggregator
      // input; the replaced window ranked nulls last — dropping them keeps
      // the same top-k (every other TopKAgg call site has this guard)
      .filter(col("cos").isNotNull)
      .groupBy("query_id")
      .agg(graft.functions.TopKAgg.topk(k, col("cos"), col("doc_id")).as("tk"))
      .select(col("query_id"), posexplode(col("tk")))
      .select(col("query_id"), col("col.id").as("doc_id"),
        col("col.sim").as("cos"), (col("pos") + 1).cast("long").as("rank"))
  }

  /** Per-document novelty: the fraction of a doc's distinct k-shingles whose
    * FIRST corpus occurrence (smallest doc_id) is this document — the "new
    * content contribution" signal crawl pipelines use to prioritize
    * re-crawls and to demote boilerplate mirrors. Two bounded shuffles: a
    * window min keyed on shingle (first-owner), then the per-doc roll-up —
    * the shuffle rows are (shingle-hashable, doc_id) pairs, never documents.
    * Docs with fewer than k words have no shingles and are absent (the
    * oracle reproduces the same domain). */
  def ngramNovelty(spark: SparkSession, dir: String, k: Int = 3): DataFrame = {
    val ex = documents(spark, dir)
      .select(col("doc_id"), explode(shingleArr(col("text"), k)).as("s"))
    val w = org.apache.spark.sql.expressions.Window.partitionBy("s")
    ex.withColumn("fd", min("doc_id").over(w))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_sh"),
        sum(when(col("fd") === col("doc_id"), 1L).otherwise(0L)).as("n_new"))
      .select(col("doc_id"), col("n_sh"), col("n_new"),
        round(col("n_new").cast("double") / col("n_sh"), 6).as("novelty"))
  }

  /** The canonical normal form as a column — lowercase, strip
    * non-alphanumerics, collapse runs of spaces, trim (TextOpsSpec drives
    * it over adversarial mixed-case/punctuation strings). */
  def normalizeCol(c: Column): Column =
    trim(regexp_replace(regexp_replace(lower(c), "[^a-z0-9 ]", ""), " +", " "))

  /** Canonical text normalization audit — the preprocessing contract
    * upstream of every hash-based dedup (two docs differing only in
    * case/punctuation must collide). Pure narrow projection, codegen
    * regex; the oracle pins the exact normal form cross-engine via md5 of
    * the result, so any engine/regex divergence is a hash mismatch, not a
    * silent drift (the synthetic corpus is already canonical, so `changed`
    * is its false-everywhere fixed point there). */
  def normalizeText(spark: SparkSession, dir: String): DataFrame = {
    val norm = normalizeCol(col("text"))
    documents(spark, dir)
      .select(col("doc_id"),
        (norm =!= col("text")).as("changed"),
        md5(norm).as("norm_md5"),
        length(norm).cast("long").as("norm_len"))
  }

  /** Asymmetric containment dedup: pairs where ≥`threshold` of the SMALLER
    * doc's distinct shingles appear in the larger doc —
    * |A∩B| / min(|A|,|B|). Catches what symmetric Jaccard structurally
    * cannot: a short doc quoted whole inside a long one has tiny Jaccard
    * (union is large) but containment ~1. Same shingle equi-join shape as
    * [[jaccardPairs]] (never a cross join), same hot-shingle cap applies at
    * corpus scale. */
  def containmentPairs(spark: SparkSession, dir: String,
                       threshold: Double = 0.9, k: Int = 3,
                       maxShingleFreq: Option[Int] = None): DataFrame =
    shingleIntersections(spark, dir, k, maxShingleFreq)
      .select(col("id_a"), col("id_b"),
        round(col("i").cast("double") / least(col("na"), col("nb")), 6)
          .as("containment"))
      .filter(col("containment") >= threshold)

  /** Inter-source contamination matrix: exact Jaccard between the distinct
    * shingle SETS of every source pair sharing at least one shingle — the
    * corpus-catalog-level duplication audit (which crawls/mirrors overlap,
    * and how much) that decides source-level dedup order. The self-join
    * fan-out per shingle is bounded by the SOURCE count squared (a catalog
    * constant, ~k² pairs per shingle), not doc² — this is why the same
    * all-pairs shape that is forbidden at doc level is the right plan at
    * source level. Per-source set sizes are a source-count-sized frame →
    * broadcast. */
  def sourceSim(spark: SparkSession, dir: String, k: Int = 3): DataFrame = {
    // fan out + materialize ONCE: the distinct (source, shingle) table is
    // read by both self-join sides and the size aggregate — the lazy form
    // re-ran scan→shingle→explode→distinct three times, all fused onto a
    // one-task scan
    val ex = Par.fanOut(documents(spark, dir)
        .select("doc_id", "source", "text"), col("doc_id"))
      .select(col("source"), explode(shingleArr(col("text"), k)).as("s"))
      .distinct().localCheckpoint(true)
    val cnt = ex.groupBy("source").agg(count(lit(1)).as("n"))
    val inter = ex.as("x").join(ex.as("y"),
        col("x.s") === col("y.s") && col("x.source") < col("y.source"))
      .groupBy(col("x.source").as("src_a"), col("y.source").as("src_b"))
      .agg(count(lit(1)).as("i"))
    inter.join(broadcast(cnt.as("ca")), col("src_a") === col("ca.source"))
      .join(broadcast(cnt.as("cb")), col("src_b") === col("cb.source"))
      .select(col("src_a"), col("src_b"), col("i"),
        round(col("i").cast("double") /
          (col("ca.n") + col("cb.n") - col("i")), 6).as("jaccard"))
  }

  /** Per-source KMV sketch frame — exposed so PlanSpec can gate the
    * map-side partial aggregation (the shuffle must carry one ≤k-key
    * buffer per (task, source), never the shingle stream). */
  def kmvPerSource(spark: SparkSession, dir: String, k: Int): DataFrame = {
    import graft.functions.KmvSketch
    Par.fanOut(documents(spark, dir).select("doc_id", "source", "text"),
        col("doc_id"))
      .select(col("source"), explode(shingleArr(col("text"), 3)).as("s"))
      .select(col("source"), xxhash64(col("s")).as("h"))
      .groupBy("source").agg(KmvSketch.kmv(k, col("h")).as("keys"))
  }

  /** `q_kmv_overlap`: source-pair set cardinalities (|A|, |B|, |A∪B|,
    * |A∩B| over distinct shingle sets) via the KMV bottom-k sketch
    * ([[graft.functions.KmvSketch]]) — the sketch-sized version of
    * [[sourceSim]]'s exact matrix. One pass, one groupBy: duplicates need
    * no pre-`distinct()` (a set sketch absorbs them), so the exact
    * variant's distinct-shuffle disappears; per-source sketches are
    * catalog-sized rows combined pairwise ON THE DRIVER (20 sources → 190
    * pairs — the same catalog-constant bound that justifies sourceSim's
    * source² fan-out), union = merge-keep-k-smallest, intersection by
    * inclusion-exclusion. The oracle config's k exceeds every per-source
    * set AND every pairwise union at the test scale factors, so all four
    * counts are exact and gated against DuckDB's exact distinct counts;
    * KmvSpec pins the small-k production dial's relative error, which is
    * bit-deterministic regardless of partitioning (the k smallest hashes
    * are a function of the input SET — stronger than KLL/HLL). */
  def kmvSourceOverlap(spark: SparkSession, dir: String,
                       k: Int = 1 << 15): DataFrame = {
    import graft.functions.KmvSketch
    val perSource = kmvPerSource(spark, dir, k)
      .collect() // catalog-sized: one sketch row per source
      .map(r => (r.getString(0),
        r.getAs[collection.Seq[Long]](1).toIndexedSeq))
      .sortBy(_._1)
    val rows = for {
      i <- perSource.indices
      j <- (i + 1) until perSource.length
      (sa, ka) = perSource(i)
      (sb, kb) = perSource(j)
      dA = math.round(KmvSketch.estimate(ka, k))
      dB = math.round(KmvSketch.estimate(kb, k))
      dU = math.round(KmvSketch.estimate(KmvSketch.unionKeys(ka, kb, k), k))
      dI = math.max(0L, dA + dB - dU)
      if dI > 0
    } yield (sa, sb, dA, dB, dU, dI)
    import spark.implicits._
    rows.toSeq.toDF("src_a", "src_b", "d_a", "d_b", "d_union", "d_intersect")
  }

  /** `q_pii_redact`: PII detection + redaction — the scrub every released
    * training corpus runs (emails, phone numbers, IPs → typed
    * placeholders), with per-type counts. Patterns stay in the
    * RE2∩Java-regex common dialect (character classes, bounded repetition,
    * non-capturing groups — no lookaround), so the DuckDB oracle applies
    * the IDENTICAL patterns and the redacted text is md5-gated bit-for-bit.
    * The synthetic corpus has no PII, so positives are PLANTED
    * deterministically (email per doc + a second one on every 3rd, one
    * phone, one IP — the closed form the oracle rebuilds), same pattern as
    * the frame-dedup planted duplicates.
    *
    * Shape at scale: one narrow codegen projection per document — counts
    * via `regexp_extract_all` + size, redaction via chained
    * `regexp_replace`, output (id, 3 counts, md5) — nothing shuffles but
    * the final rows; the regex evaluation is Spark-native (commons-RE
    * under codegen), never a ScalaUDF. */
  def piiRedact(spark: SparkSession, dir: String): DataFrame = {
    val email = CorpusOps.EmailRx // one definition; oracle SQL mirrors it
    val phone = "\\+1-555-[0-9]{4}"
    val ip = "(?:[0-9]{1,3}\\.){3}[0-9]{1,3}"
    val planted = concat(col("text"),
      lit(" contact u"), col("doc_id"), lit("@ex"), pmod(col("doc_id"), lit(7)),
      lit(".com"),
      when(pmod(col("doc_id"), lit(3)) === 0,
        concat(lit(" cc u"), col("doc_id"), lit(".alt@ex.org"))).otherwise(lit("")),
      lit(" call +1-555-"),
      lpad(pmod(col("doc_id"), lit(10000)).cast("string"), 4, "0"),
      lit(" from 10."), pmod(col("doc_id"), lit(200)), lit(".0."),
      pmod(col("doc_id"), lit(250)))
    documents(spark, dir)
      .select(col("doc_id"), planted.as("t"))
      .select(col("doc_id"),
        size(regexp_extract_all(col("t"), lit(email), lit(0)))
          .cast("long").as("n_email"),
        size(regexp_extract_all(col("t"), lit(phone), lit(0)))
          .cast("long").as("n_phone"),
        size(regexp_extract_all(col("t"), lit(ip), lit(0)))
          .cast("long").as("n_ip"),
        md5(regexp_replace(regexp_replace(regexp_replace(col("t"),
          email, "<EMAIL>"), phone, "<PHONE>"), ip, "<IP>"))
          .as("redacted_md5"))
  }
}
