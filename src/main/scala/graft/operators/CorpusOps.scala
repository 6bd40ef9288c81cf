package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Corpus-preparation operators for a training-data pipeline, beyond the
  * near-dup family in [[TextOps]]: repetition-quality signals, sequence
  * packing, identifier pseudonymization + PII redaction, benchmark
  * decontamination, stratified source sampling, vocabulary building.
  *
  * Scale notes, per operator:
  *  - repetition signals: per-row array math (narrow, codegen) + one
  *    aggregation keyed on (doc_id, word) — word counts combine map-side,
  *    the shuffle carries (id, word, count) triples, never documents.
  *  - packing: windowed cumulative sums *within hash buckets* — the global
  *    sort a naive concat-and-chunk would need does not exist; each bucket
  *    packs independently, so the plan scales out with bucket count.
  *  - decontamination: the benchmark shingle set is orders of magnitude
  *    smaller than the corpus → broadcast semi-join; training docs never
  *    shuffle.
  *  - sampling: pure per-row hash math against a rate derived from the
  *    source key — no shuffle at all until the audit aggregation.
  *  - vocabulary: classic combine-heavy word count; the top-k is a single
  *    reduction over (word, count) pairs, not documents.
  */
object CorpusOps {

  import TextOps.documents

  private def words(c: Column): Column = split(c, " ")

  // ---- Repetition / quality signals (Gopher-style, public heuristics) ----

  /** Per-document repetition signals: duplicate-word fraction, duplicate-
    * bigram fraction (1 - distinct/total — high values mean boilerplate or
    * degenerate repetition) and the fraction of the document taken by its
    * single most frequent word. */
  def repetitionSignals(spark: SparkSession, dir: String): DataFrame = {
    val docs = documents(spark, dir)
    val w = words(col("text"))
    val nWords = size(w).cast("long")
    val base = docs.select(
      col("doc_id"),
      nWords.as("n_words"),
      round(lit(1.0) - size(array_distinct(w)).cast("double") / nWords, 6)
        .as("dup_word_ratio"),
      // single-word docs have no bigrams: NULL, matching the oracle's
      // LEFT JOIN (an unguarded 0/0 also nulls, but make it explicit)
      when(nWords > 1,
        round(lit(1.0) -
          size(TextOps.shingleArr(col("text"), 2)).cast("double") / (nWords - 1), 6))
        .as("dup_bigram_ratio"))
    val topCount = docs
      .select(col("doc_id"), explode(w).as("word"))
      .groupBy("doc_id", "word").agg(count(lit(1)).as("n"))
      .groupBy("doc_id").agg(max("n").as("top_n"))
    // LEFT join, mirroring the oracle: a null-text doc explodes to no word
    // rows, and an inner join would drop it from the output entirely
    base.join(topCount, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_words"), col("dup_word_ratio"),
        col("dup_bigram_ratio"),
        round(col("top_n").cast("double") / col("n_words"), 6).as("top_word_frac"))
  }

  // ---- Sequence packing (GPT-style concat-and-chunk layout) --------------

  /** Assigns each document a slot in a packed fixed-capacity training-chunk
    * layout: documents are concatenated in doc_id order *within hash
    * buckets* and cut every `capacity` tokens. Emits, per document, its
    * bucket, token offset and the first/last chunk it lands in.
    *
    * Bucketing is the scale design: a single global concat order would need
    * a one-partition window; `nBuckets` independent windows shuffle by
    * bucket and pack in parallel (at cluster scale set nBuckets ≈ 10× cores
    * and each bucket's cumsum stays a narrow streaming window). */
  def packSequences(spark: SparkSession, dir: String,
                    capacity: Int = 256, nBuckets: Int = 32): DataFrame = {
    val nTok = size(words(col("text"))).cast("long")
    val win = Window.partitionBy("bucket").orderBy("doc_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    documents(spark, dir)
      .select(col("doc_id"), pmod(col("doc_id"), lit(nBuckets)).as("bucket"),
        nTok.as("n_tok"))
      .withColumn("cum", sum("n_tok").over(win))
      .select(col("doc_id"), col("bucket"), col("n_tok"),
        (col("cum") - col("n_tok")).as("start_off"),
        floor((col("cum") - col("n_tok")) / lit(capacity)).as("start_chunk"),
        floor((col("cum") - 1) / lit(capacity)).as("end_chunk"))
  }

  /** Packing-efficiency audit per bucket: documents, tokens, chunks
    * consumed and fill ratio (tokens / chunk capacity actually allocated) —
    * the number a pipeline watches to size `capacity`/`nBuckets` before
    * materializing training shards. Composes [[packSequences]] (the audit
    * aggregates the shipped packing's own chunk ids); the oracle instead
    * derives n_chunks from the closed form floor((Σtok−1)/cap)+1, which
    * only equals the packing's max(end_chunk)+1 if the layout is gap-free
    * and contiguous — so the cross-engine match re-proves the packing
    * invariant at every scale, not just the arithmetic. */
  def packEfficiency(spark: SparkSession, dir: String,
                     capacity: Int = 256, nBuckets: Int = 32): DataFrame =
    packSequences(spark, dir, capacity, nBuckets)
      .groupBy("bucket")
      .agg(count(lit(1)).as("n_docs"), sum("n_tok").as("n_tok"),
        (max("end_chunk") + 1).as("n_chunks"))
      .select(col("bucket"), col("n_docs"), col("n_tok"), col("n_chunks"),
        round(col("n_tok").cast("double") /
          (col("n_chunks") * capacity), 6).as("fill"))

  /** Token-budget-constrained curation: keep the highest-quality documents
    * (quality = round-6 distinct-token ratio, ties by doc_id) until a global
    * token budget — `floor(frac × total_tokens)` — is exhausted, reporting
    * each kept doc's running cumulative token count.
    *
    * The naive formulation is a GLOBAL ordered cumsum — a single-partition
    * window that serializes the whole corpus through one task. Instead the
    * cumsum is two-phase banded (the [[packSequences]] trick turned global):
    * docs land in ≤1001 score bands (`floor(score·1000)`, monotone in the
    * sort key), per-band token totals roll up to a band-count-sized frame
    * whose strictly-higher-band prefix sums become per-band offsets
    * (window over ≤1001 rows — bounded by construction, not by data), and
    * the exact cumsum runs as a window PARTITIONED by band. Global order
    * never materializes; the widest shuffle is the per-band hash partition.
    * The scored projection is persisted once (documented) because three
    * consumers (band totals, budget, final join) would otherwise rescan and
    * re-split the text. */
  def tokenBudget(spark: SparkSession, dir: String,
                  frac: Double = 0.4): DataFrame = {
    val t = scoredDocs(spark, dir)
    val bandTok = t.groupBy("band").agg(sum("n_tok").as("band_tok"))
    val budget = bandTok.agg(floor(sum("band_tok") * frac).cast("long").as("budget"))
    bandedCumsum(t, bandTok, "n_tok", "cum_tok")
      .crossJoin(broadcast(budget))
      .filter(col("cum_tok") <= col("budget"))
      .select("doc_id", "score", "n_tok", "cum_tok")
  }

  /** The shared scored projection: per-doc token count + round-6
    * distinct-token quality, banded by `floor(score·1000)` (monotone in the
    * (score desc, doc_id) sort key). Persisted because the banded cumsum
    * pattern reads it from multiple consumers (band roll-up, totals, final
    * join), and served from the keyed cache so a session running BOTH
    * [[tokenBudget]] and [[curriculum]] scans+scores the corpus once, not
    * once per query (same snapshot-immutability assumption and failure
    * re-build as the dup-label cache). */
  private def scoredDocs(spark: SparkSession, dir: String): DataFrame = {
    val appId = spark.sparkContext.applicationId
    servedFresh(scoredDocsCache, (appId, dir, 0.0), probe = false) {
      evictOne(scoredDocsCache, appId)
      val ws = words(col("text"))
      documents(spark, dir)
        .select(col("doc_id"),
          size(ws).cast("long").as("n_tok"),
          round(size(array_distinct(ws)).cast("double") / size(ws), 6).as("score"))
        .withColumn("band", floor(col("score") * 1000).cast("int"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    }
  }

  /** Banded two-phase GLOBAL ordered cumsum of `weightCol` in
    * (score desc, doc_id) order — the exact result of a global-sort running
    * sum with no single-partition sort: per-band weight totals roll up to a
    * band-count-sized frame whose strictly-higher-band prefix sums become
    * per-band offsets (window over ≤1001 rows — bounded by construction,
    * not by data), and the exact cumsum runs as a window PARTITIONED by
    * band. Global order never materializes; the widest shuffle is the
    * per-band hash partition. `bandAgg` must be `t.groupBy("band").agg(
    * sum(weightCol))` with the sum aliased `band_tok` (passed in so callers
    * can share the roll-up for totals). */
  private def bandedCumsum(t: DataFrame, bandAgg: DataFrame,
                           weightCol: String, outCol: String): DataFrame = {
    val wOff = Window.orderBy(desc("band"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = bandAgg
      .withColumn("offset", coalesce(sum("band_tok").over(wOff), lit(0L)))
      .select("band", "offset")
    val wIn = Window.partitionBy("band").orderBy(desc("score"), asc("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    t.join(broadcast(offsets), "band")
      .withColumn(outCol, col("offset") + sum(weightCol).over(wIn))
      .drop("offset")
  }

  /** Curriculum schedule: a global quality RANK for every document (best
    * first, ties by doc_id) and the training epoch it lands in when the
    * corpus is split into `nEpochs` equal rank slices — the easy-to-hard
    * ordering curriculum-learning data loaders consume. The rank is the
    * banded cumsum of weight 1 ([[bandedCumsum]]): an exact global
    * row_number with no single-partition sort, at any corpus size. */
  def curriculum(spark: SparkSession, dir: String, nEpochs: Int = 4): DataFrame = {
    val t = scoredDocs(spark, dir).withColumn("one", lit(1L))
    val bandAgg = t.groupBy("band").agg(sum("one").as("band_tok"))
    val total = bandAgg.agg(sum("band_tok").as("total"))
    bandedCumsum(t, bandAgg, "one", "rank")
      .crossJoin(broadcast(total))
      .select(col("doc_id"), col("score"), col("rank"),
        floor((col("rank") - 1) * lit(nEpochs.toDouble) / col("total"))
          .cast("long").as("epoch"))
  }

  // ---- Pseudonymization + PII redaction ----------------------------------

  /** Stable keyed pseudonymization of user identifiers: a salted hash
    * replaces the raw id, so the same user maps to the same opaque token
    * across the corpus (joins and per-user aggregations keep working) while
    * the raw id never leaves the scan. Pure per-row projection. */
  def pseudonymize(spark: SparkSession, dir: String,
                   pepper: String = "pepper1"): DataFrame =
    EventOps.events(spark, dir)
      .filter(col("event_id") < 2000)
      .select(col("event_id"),
        substring(md5(concat(lit(pepper + ":"), col("user_id").cast("string"))),
          1, 16).as("user_pseudo"),
        col("event_type"))

  /** The email pattern of [[TextOps.piiRedact]] (`q_pii_redact`), kept in
    * the RE2∩Java-regex dialect the DuckDB oracle shares. */
  val EmailRx = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"

  // ---- Benchmark decontamination -----------------------------------------

  /** Flags training documents sharing any k-word shingle with a benchmark
    * (eval) document set, with the count of distinct overlapping shingles —
    * the standard n-gram decontamination pass before training. The
    * benchmark side (tiny: eval sets are thousands of docs against a
    * trillion-token corpus) collapses to a distinct shingle set and
    * broadcasts; training documents are filtered by a broadcast hash
    * semi-join without shuffling. Here the "benchmark" is the deterministic
    * doc_id % 50 == 0 slice so the oracle can recompute it. */
  def contamination(spark: SparkSession, dir: String, k: Int = 4): DataFrame = {
    // deliberately LAZY (no materialize-once, no fan-out): the bench side's
    // doc_id%50 filter pushes to the scan, so its "re-evaluation" shingles
    // only 2% of the corpus — a shared checkpoint pays a full pass + an
    // exchange to save a 2% pass (measured +0.2-0.4 s; r7)
    val sh = documents(spark, dir)
      .select(col("doc_id"), explode(TextOps.shingleArr(col("text"), k)).as("s"))
    val bench = sh.filter(col("doc_id") % 50 === 0).select("s").distinct()
    sh.filter(col("doc_id") % 50 =!= 0)
      .join(broadcast(bench), Seq("s"))
      .groupBy("doc_id")
      .agg(countDistinct(col("s")).as("n_hits"))
  }

  /** Overlap-FRACTION contamination scoring — the GPT-3/Pile-style
    * "dirtiness" metric ([[contamination]] reports the raw hit count; real
    * decontamination policies threshold on the *fraction* of a document's
    * n-grams that appear in the eval set). Per training document: distinct
    * k-word shingles, how many of them occur anywhere in the benchmark
    * slice, their ratio, and the policy flag.
    *
    * Scale shape is identical to [[contamination]]: the eval side is tiny
    * (thousands of docs vs a trillion-token corpus) so it collapses to a
    * broadcast distinct-shingle set; the training side pays one
    * (doc_id, shingle) distinct + one doc_id groupBy, both with map-side
    * combine, and never joins back to itself. The threshold compare is
    * integer-exact (`5·hits ≥ shingles`, not a float ≥ 0.2) so the keep
    * boundary cannot drift between engines — the [[qualityScore]]
    * sign-of-z lesson applied here. */
  def contaminationOverlap(spark: SparkSession, dir: String, k: Int = 4): DataFrame = {
    // same deliberate lazy form as [[contamination]] (r7 measurement note)
    val sh = documents(spark, dir)
      .select(col("doc_id"), explode(TextOps.shingleArr(col("text"), k)).as("s"))
    val bench = sh.filter(col("doc_id") % 50 === 0).select("s").distinct()
      .withColumn("hit", lit(1))
    sh.filter(col("doc_id") % 50 =!= 0).distinct()
      .join(broadcast(bench), Seq("s"), "left")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_shingles"),
        coalesce(sum("hit"), lit(0)).cast("long").as("n_hits"))
      .select(col("doc_id"), col("n_shingles"), col("n_hits"),
        round(col("n_hits").cast("double") / col("n_shingles"), 6)
          .as("overlap_frac"),
        (col("n_hits") * 5 >= col("n_shingles")).as("contaminated"))
  }

  /** Sliding-window chunk materialisation — the overlapping-window prep for
    * embedding/RAG-style indexes (distinct from [[packSequences]], which
    * concatenates documents into gap-free training chunks): every document
    * becomes windows of `width` tokens starting every `stride` tokens, the
    * trailing windows truncating at the document end.
    *
    * Pure narrow projection: the chunk table explodes from a per-row
    * `sequence()` — no shuffle, no state, whole-stage codegen end to end —
    * so at 100 TB it pipelines directly into the embedding stage or the
    * chunk writer with zero exchange. */
  def chunkDocs(spark: SparkSession, dir: String, width: Int = 64,
                stride: Int = 48): DataFrame =
    documents(spark, dir)
      .select(col("doc_id"), size(words(col("text"))).cast("long").as("n_tok"))
      .select(col("doc_id"), col("n_tok"),
        posexplode(sequence(lit(0L), col("n_tok") - 1, lit(stride.toLong))))
      .select(col("doc_id"), col("pos").cast("long").as("chunk_idx"),
        col("col").as("start_tok"),
        least(col("col") + width, col("n_tok")).as("end_tok"))

  // ---- Cross-document exact-substring (span) duplication -----------------

  /** Span-level duplication audit — the exact-substring signal ("repeated
    * ≥w-token spans across documents", the dedup criterion of Lee et al.,
    * *Deduplicating Training Data Makes Language Models Better*, 2021,
    * re-shaped for Spark): every rolling `w`-word window of every document
    * is hashed, windows appearing in ≥2 distinct documents are "shared",
    * and each document reports how much of it is covered by shared spans.
    *
    * Scale design: windows are hashed to a 16-hex-char md5 prefix *before*
    * the shuffle, so the corpus-wide window groupBy moves 16-byte keys, not
    * ~50-byte window text (and the hash is one DuckDB recomputes
    * bit-for-bit, so the whole pass is oracle-checkable). The shared-window
    * set is an equi-join on the hash — never a cross join; boilerplate
    * windows shared by millions of documents are exactly the AQE-skew-join
    * case the session config already enables. Both aggregations combine
    * map-side. A suffix-array pass (the paper's in-memory design) does not
    * distribute; hashed rolling windows are the join-shaped equivalent. */
  def spanDedup(spark: SparkSession, dir: String, w: Int = 8): DataFrame =
    spanDedupOn(documents(spark, dir), w)

  /** Span audit over any `(doc_id, text)` frame (the documents path, or
    * a token table rendered as a space-joined word stream). The expensive
    * subtree (explode every w-window of every document + md5) is evaluated
    * ONCE: the shared flag is a window min≠max over the hash ("appears in
    * ≥2 distinct docs", without countDistinct's distinct expansion and
    * without a join back), so the whole audit is exactly two shuffles — by
    * window hash, then by doc_id. */
  def spanDedupOn(docs: DataFrame, w: Int = 8): DataFrame = {
    val sh = docs
      .select(col("doc_id"), explode(TextOps.shingleArr(col("text"), w)).as("s"))
      .select(col("doc_id"), substring(md5(col("s")), 1, 16).as("h"))
    val byWindow = Window.partitionBy("h")
    sh.withColumn("shared",
        (min("doc_id").over(byWindow) =!= max("doc_id").over(byWindow))
          .cast("long"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_windows"), sum("shared").as("n_shared"))
      .select(col("doc_id"), col("n_windows"), col("n_shared"),
        round(col("n_shared").cast("double") / col("n_windows"), 6)
          .as("dup_frac"))
  }

  // ---- Deterministic epoch shuffle (training order) ----------------------

  /** Per-epoch training order: every document gets a position within a
    * (epoch, shard) cell, ordered by a keyed md5 hash — the deterministic
    * global shuffle a data loader consumes, reproducible across runs and
    * engines with no RNG state.
    *
    * Sharding IS the scale design: a single global `row_number` would
    * funnel the corpus through one reducer per epoch; `nShards` independent
    * cells (assignment itself hash-derived, so cells stay balanced) sort in
    * parallel and the loader reads shards round-robin. At cluster scale set
    * nShards ≈ file-group count (thousands); the per-cell sort is then a
    * narrow in-partition sort after one hash-partitioned exchange. */
  def epochShuffle(spark: SparkSession, dir: String,
                   epochs: Int = 2, nShards: Int = 8): DataFrame =
    epochShuffleOn(documents(spark, dir), epochs, nShards)

  /** The shuffle over any `(doc_id, …)` frame — the token-table training
    * order is the same call (string doc_ids hash the same way). */
  def epochShuffleOn(docs: DataFrame,
                     epochs: Int = 2, nShards: Int = 8): DataFrame = {
    // sequence(0, epochs-1) DESCENDS for epochs <= 0 (Spark emits [0, -1]),
    // which would silently double the output under a negative epoch
    require(epochs > 0, s"epochs must be positive, got $epochs")
    require(nShards > 0, s"nShards must be positive, got $nShards")
    val h = md5(concat(col("epoch").cast("string"), lit(":"),
      col("doc_id").cast("string")))
    val win = Window.partitionBy("epoch", "shard").orderBy("okey", "doc_id")
    docs
      .select(col("doc_id"),
        explode(sequence(lit(0L), lit(epochs - 1L))).as("epoch"))
      .select(col("epoch"), col("doc_id"),
        substring(h, 1, 16).as("okey"),
        (conv(substring(h, 17, 8), 16, 10).cast("long") % nShards).as("shard"))
      .withColumn("pos", row_number().over(win).cast("long"))
      .select("epoch", "shard", "doc_id", "pos")
  }

  /** DSIR-style importance resampling (Xie et al., "Data Selection for
    * Language Models via Importance Resampling", NeurIPS 2023): weight each
    * document by how much more likely it is under a TARGET distribution
    * (here the benchmark slice's Laplace-smoothed unigram LM) than under
    * the source corpus LM — `w = exp(avg_occurrence(ln p_t − ln p_s))` —
    * then draw a deterministic weighted sample without replacement via
    * Efraimidis–Spirakis A-Res keys: `key = ln(u)/w` with `u` a
    * hash-derived uniform in (0,1], top-k keys win. No RNG state anywhere,
    * so the draw is reproducible across runs AND engines (the DuckDB
    * oracle recomputes the identical sample; every float is rounded to 6
    * before it can influence an ordering).
    *
    * Scale shape: two vocab aggregations + word-keyed shuffle joins (no
    * forced broadcast — Heaps' law), a per-doc mean, and a global top-k
    * that plans as TakeOrdered (per-partition heaps + driver merge of k),
    * never a single-reducer sort. */
  def importanceSample(spark: SparkSession, dir: String, k: Int = 20,
                       seed: String = "ws1"): DataFrame = {
    val wd = documents(spark, dir)
      .select(col("doc_id"), explode(words(col("text"))).as("word"))
    // ONE vocabulary pass carries both LMs (source count + target count per
    // word) and ONE fold gives all three totals — the split src/tgt version
    // evaluated the word explode three times (the r2 aggregate+join
    // re-evaluation trap)
    val isBench = (col("doc_id") % 50 === 0).cast("long")
    val vocab = wd.groupBy("word")
      .agg(count(lit(1)).as("cs"), sum(isBench).as("ct"))
    val tot = vocab.agg(sum("cs").cast("double").as("src_total"),
      count(lit(1)).cast("double").as("v"),
      sum("ct").cast("double").as("tgt_total"))
    val lpd = log((col("ct") + 1) / (col("tgt_total") + col("v"))) -
      log(col("cs") / col("src_total"))
    val perDoc = wd.join(vocab, Seq("word"))
      .crossJoin(broadcast(tot))
      .groupBy("doc_id")
      .agg(round(avg(lpd), 6).as("lpd"))
    val w = round(exp(col("lpd")), 6)
    val u = (conv(substring(md5(concat(lit(seed + ":"),
      col("doc_id").cast("string"))), 1, 8), 16, 10).cast("double") + 1) /
      lit(4294967296.0)
    perDoc
      .select(col("doc_id"), w.as("w"), round(log(u) / w, 6).as("key"))
      .orderBy(col("key").desc, col("doc_id").asc)
      .limit(k)
  }

  // ---- Stratified source sampling ----------------------------------------

  /** Deterministic stratified downsampling by source: each source keeps a
    * fixed fraction (steps/20, derived here from the source key so the
    * oracle can recompute it; in production a broadcast rates table) chosen
    * by an md5-derived hash of doc_id — reproducible across runs and
    * engines, no RNG state. Integer bucket comparison, not float rates, so
    * engines can never disagree at the boundary. Emits the per-source
    * audit: total vs kept. */
  def stratifiedSample(spark: SparkSession, dir: String): DataFrame = {
    val steps = lit(5) + (substring(col("source"), 4, 10).cast("int") % 10)
    val bucket = conv(substring(md5(col("doc_id").cast("string")), 1, 8), 16, 10)
      .cast("long") % 20
    documents(spark, dir)
      .select(col("source"), (bucket < steps).cast("long").as("kept"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_total"), sum("kept").as("n_kept"))
  }

  /** Temperature-scaled source mixture (the GPT-3-style mix planner):
    * sampling weights `w_s ∝ n_s^alpha` flatten the natural token
    * distribution toward uniform as alpha → 0 (alpha = 1 reproduces it).
    * Emits per source the doc/token counts, the natural share and the
    * temperature weight — the numbers a pipeline multiplies into
    * per-source sampling rates before a [[sampleRows]]-style filter.
    * One combine-heavy aggregation over (source, token-count) pairs; the
    * power/normalisation runs over the #sources-row aggregate (broadcast,
    * 1 row). */
  def temperatureMix(spark: SparkSession, dir: String,
                     alpha: Double = 0.5): DataFrame = {
    val agg = documents(spark, dir)
      .select(col("source"), size(words(col("text"))).cast("long").as("nw"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"), sum("nw").as("n_tokens"))
    val tot = agg.agg(
      sum(col("n_tokens")).cast("double").as("tt"),
      sum(pow(col("n_tokens").cast("double"), lit(alpha))).as("tp"))
    agg.crossJoin(broadcast(tot))
      .select(col("source"), col("n_docs"), col("n_tokens"),
        round(col("n_tokens").cast("double") / col("tt"), 6).as("nat_share"),
        round(pow(col("n_tokens").cast("double"), lit(alpha)) / col("tp"), 6)
          .as("temp_weight"))
  }

  /** The row-level sampling filter itself (what a pipeline composes before
    * writing the training mix). */
  def sampleRows(df: DataFrame): DataFrame = {
    val steps = lit(5) + (substring(col("source"), 4, 10).cast("int") % 10)
    val bucket = conv(substring(md5(col("doc_id").cast("string")), 1, 8), 16, 10)
      .cast("long") % 20
    df.filter(bucket < steps)
  }

  // ---- Corpus-LM quality scoring -----------------------------------------

  /** Unigram log-probability score per document (the CCNet-style LM-quality
    * proxy: fluent text is made of frequent words; gibberish and boilerplate
    * sit in the tails). Two aggregations: corpus vocabulary counts (combine-
    * heavy, (word, count) pairs), then a word→count join and a per-doc mean
    * of ln(count/total). The vocabulary is Zipf-small relative to the corpus
    * — broadcast it; the per-doc mean shuffles (doc_id, logp) pairs. */
  def unigramLogProb(spark: SparkSession, dir: String): DataFrame = {
    val wordsDf = documents(spark, dir)
      .select(col("doc_id"), explode(words(col("text"))).as("word"))
    val vocab = wordsDf.groupBy("word").agg(count(lit(1)).as("cnt"))
    // the corpus total stays INSIDE the plan (a broadcast 1-row aggregate)
    // — an eager count() here would scan the corpus at plan-build time and
    // again at execution
    val total = wordsDf.agg(count(lit(1)).cast("double").as("total"))
    wordsDf.join(broadcast(vocab), Seq("word"))
      .crossJoin(broadcast(total))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_words"),
        round(avg(log(col("cnt").cast("double") / col("total"))), 6)
          .as("avg_logp"))
  }

  /** Interpolated bigram LM quality score — the context-sensitive
    * perplexity filter (CCNet-style: score each document under a corpus LM,
    * drop the tails). Per bigram occurrence:
    * `p = λ·P(w2|w1) + (1-λ)·P(w2)`, reported as the per-document mean
    * log-probability. Counting uses ALL occurrences (a native non-distinct
    * shingle expression — the set variant would skew the statistics).
    *
    * Scale shape: the bigram- and unigram-count joins key on corpus-derived
    * vocabularies — unbounded cardinality (Heaps' law), so NO forced
    * broadcast anywhere: they shuffle on the word/bigram key (AQE still
    * broadcasts the vocab at small scale, and splits hot boilerplate keys —
    * the skew case). The corpus total is folded from the vocabulary counts
    * (a sum over the vocab), not a third corpus scan; the 1-row total is
    * the only broadcast. Documents themselves never shuffle — only
    * (doc_id, bigram) pairs. */
  def bigramLogProb(spark: SparkSession, dir: String,
                    lambda: Double = 0.75): DataFrame = {
    val docs = documents(spark, dir)
    val uni = docs.select(explode(words(col("text"))).as("word"))
      .groupBy("word").agg(count(lit(1)).as("cu"))
    val total = uni.agg(sum("cu").cast("double").as("total"))
    val bg = docs.select(col("doc_id"),
        explode(graft.functions.Signatures.shinglesAllCol(col("text"), 2)).as("bg"))
      .withColumn("w1", substring_index(col("bg"), " ", 1))
      .withColumn("w2", substring_index(col("bg"), " ", -1))
    val cb = bg.groupBy("bg").agg(count(lit(1)).as("cb"))
    val p = lit(lambda) * (col("cb").cast("double") / col("cu1")) +
      lit(1.0 - lambda) * (col("cu2").cast("double") / col("total"))
    bg.join(cb, Seq("bg"))
      .join(uni.select(col("word").as("w1"), col("cu").as("cu1")), Seq("w1"))
      .join(uni.select(col("word").as("w2"), col("cu").as("cu2")), Seq("w2"))
      .crossJoin(broadcast(total))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"), round(avg(log(p)), 6).as("avg_logp"))
  }

  /** The fixed linear head of [[qualityScore]]: frozen stand-ins for a
    * trained classifier; the DuckDB oracle quotes the same values. */
  object QualityHead {
    val Intercept = 1.5
    val StopW = 2.0    // stopword ratio
    val WlenW = 0.3    // mean word length
    val DupW = 3.0     // duplicate-word ratio (negative contribution)
    val TopW = 5.0     // top-word fraction (negative contribution)
    val LogpW = 0.5    // unigram log-prob
    val LenW = 0.2     // log-length
  }

  /** Model-based quality filter (FineWeb-Edu-style): the heuristic signals
    * the pipeline already computes — stopword ratio, mean word length,
    * duplicate-word ratio, top-word fraction, unigram log-probability,
    * log-length — fused by a fixed linear model into one sigmoid score and
    * a keep decision. The weights are deterministic stand-ins for a trained
    * classifier head (no trainable stack in this sandbox); the engine work
    * — assembling per-doc features from three aggregate passes and scoring
    * with engine-exact float parity — is real and oracle-checked.
    *
    * Scale shape: three narrow per-doc feature tables joined on doc_id
    * (shuffle equi-joins of (id, few-doubles) rows — never documents); the
    * keep decision is `z >= 0` (not a sigmoid threshold), so the boundary
    * cannot drift between engines. */
  def qualityScore(spark: SparkSession, dir: String): DataFrame = {
    val q = TextOps.quality(spark, dir)
      .select(col("doc_id"), col("n_words"), col("stop_ratio"), col("mean_wlen"))
    val r = repetitionSignals(spark, dir)
      .select(col("doc_id"), col("dup_word_ratio"), col("top_word_frac"))
    val u = unigramLogProb(spark, dir).select(col("doc_id"), col("avg_logp"))
    // rounded features on BOTH engines before fusing — parity by
    // construction (dup/top/logp arrive pre-rounded from their operators)
    // EVERY feature rounded to 6 places (log included — JVM Math.log and
    // DuckDB ln may differ in the last ulp) so z is engine-exact
    val z = lit(QualityHead.Intercept) +
      lit(QualityHead.StopW) * round(col("stop_ratio"), 6) +
      lit(QualityHead.WlenW) * round(col("mean_wlen"), 6) -
      lit(QualityHead.DupW) * col("dup_word_ratio") -
      lit(QualityHead.TopW) * col("top_word_frac") +
      lit(QualityHead.LogpW) * col("avg_logp") +
      lit(QualityHead.LenW) * round(log(col("n_words").cast("double")), 6)
    q.join(r, Seq("doc_id")).join(u, Seq("doc_id"))
      .select(col("doc_id"),
        round(lit(1.0) / (lit(1.0) + exp(-z)), 6).as("score"),
        (z >= 0).cast("long").as("keep"))
  }

  // ---- Cross-modality composition ----------------------------------------

  /** Semantic dedup: text near-dup candidates (MinHash+LSH+exact-verify,
    * [[TextOps.minhashLshPairs]]) CONFIRMED by embedding agreement — the
    * two-signal dedup a careful pipeline runs before dropping documents
    * (lexical overlap alone also matches template/boilerplate pairs whose
    * content diverges). Pair count after LSH is tiny relative to the
    * corpus, so the embedding joins are broadcast-sized probes keyed by id;
    * vectors never shuffle with the candidate generation. */
  def semanticDedupPairs(spark: SparkSession, dir: String,
                         jaccardThreshold: Double = 0.5,
                         cosThreshold: Double = 0.0): DataFrame = {
    val emb = EmbeddingOps.embeddings(spark, dir) // cast to array<double>
    val pairs = lshPairs(spark, dir, jaccardThreshold) // shared pair graph
    pairs
      .join(emb.select(col("vec_id").as("id_a"), col("embedding").as("va")), Seq("id_a"))
      .join(emb.select(col("vec_id").as("id_b"), col("embedding").as("vb")), Seq("id_b"))
      .select(col("id_a"), col("id_b"), col("jaccard"),
        round(EmbeddingOps.cosine(col("va"), col("vb")), 6).as("cos"))
      .filter(col("cos") >= cosThreshold)
  }

  /** Per-label embedding centroids — the distributed element-wise mean that
    * seeds cluster audits / class prototypes. posexplode shuffles (label,
    * dim, value) triples with map-side partial aggregation; the vector is
    * reassembled from the per-dimension means, so no executor ever holds
    * more than one dimension's running sum per label. Emitted long-form
    * (label, dim, c) — the shape downstream joins want, and the shape an
    * engine-independent oracle can recompute. */
  def labelCentroids(spark: SparkSession, dir: String): DataFrame =
    EmbeddingOps.embeddings(spark, dir) // embedding cast to array<double>
      .select(col("label").cast("long").as("label"), posexplode(col("embedding")))
      .select(col("label"), (col("pos") + 1).cast("long").as("dim"),
        col("col").as("x"))
      .groupBy("label", "dim")
      .agg(round(avg("x"), 6).as("c"))

  // ---- Duplicate clustering (connected components + survivors) ----------

  /** Connected components over an undirected pair graph `(id_a, id_b)` by
    * alternating large-star/small-star edge contraction (Kiveris et al.,
    * "Connected Components in MapReduce and Beyond", SoCC 2014):
    *
    *  - large-star: every node's strictly-larger neighbours re-point at the
    *    minimum of its closed neighbourhood;
    *  - small-star: every node and its smaller neighbours re-point at the
    *    minimum neighbour.
    *
    * Both phases are equi-join + groupBy-min passes over (node, node) longs
    * — no per-node neighbour list is ever materialised (a collect_list
    * star-center would hold a whole component in one task), and documents
    * never enter the loop. The edge set converges to disjoint stars whose
    * centre is the component MINIMUM in O(log n) rounds even on
    * diameter-Θ(n) chains (CorpusOpsSpec drives a diameter-1000 path in
    * ≤ 2·log₂ n rounds) — the property min-label propagation, at
    * O(diameter) rounds, loses at 10⁹-node scale. Unconverged labels are
    * wrong labels, so the loop throws rather than returning a partial
    * contraction. */
  def connectedComponents(pairs: DataFrame, maxIter: Int = 50): DataFrame =
    connectedComponentsWithRounds(pairs, maxIter)._1

  /** [[connectedComponents]] plus the number of rounds it took — the spec
    * hook for the O(log n) convergence property.
    *
    * Size-gated hybrid: when the deduped edge set is at most
    * `localEdgeLimit` rows (default 2²⁰ ≈ 16 MB of longs — a broadcast-
    * threshold-sized bound, NOT data-sized), the contraction runs as one
    * driver union-find over the collected edges instead of the iterative
    * star-contraction job chain: each distributed round costs two shuffles
    * plus a count, so a 5-round loop on a small graph is ~12 scheduled
    * jobs to compute what the driver finishes in microseconds. The
    * incremental-dedup label merges are batch-sized by construction, so
    * they always take this path; corpus-scale pair graphs past the bound
    * take the distributed loop unchanged. `localEdgeLimit = 0` forces the
    * distributed path (the spec's O(log n) property drives it directly).
    * Returns rounds = 0 for the driver path. */
  def connectedComponentsWithRounds(pairs: DataFrame, maxIter: Int = 25,
                                    localEdgeLimit: Long = 1L << 20): (DataFrame, Int) = {
    val spark = pairs.sparkSession
    // Every round references the previous round's frame several times (both
    // union branches, both join sides), so WITHOUT lineage truncation the
    // logical plan grows ~16× per round and planning itself OOMs the driver
    // long before data does. localCheckpoint(eager) cuts the plan to a leaf
    // each round — on a fault-tolerant cluster run, swap in checkpoint()
    // with a reliable checkpoint dir (same call shape, survives executor
    // loss); the round data is (node, node) longs either way.
    // canonical orientation (u = larger endpoint), self-loops dropped
    var edges = pairs
      .select(greatest(col("id_a"), col("id_b")).as("u"),
        least(col("id_a"), col("id_b")).as("v"))
      .filter(col("u") =!= col("v")).distinct().localCheckpoint(true)
    var oldCount = edges.count()
    // long ids only: non-integral id domains (e.g. string doc keys) keep
    // the type-generic distributed loop
    val integralIds = edges.schema.fields.forall(
      _.dataType == org.apache.spark.sql.types.LongType)
    if (oldCount <= localEdgeLimit && integralIds) {
      // driver union-find (union-by-min + path compression): roots are
      // component minima because a union always points the larger root at
      // the smaller — the exact min-rep semantics of the distributed loop
      val collected = edges.collect().map(r => (r.getLong(0), r.getLong(1)))
      graft.streaming.IncrementalDedup.release(edges)
      val parent = new java.util.HashMap[Long, Long](collected.length * 2)
      def find(x: Long): Long = {
        var r = x
        while (parent.getOrDefault(r, r) != r) r = parent.get(r)
        var c = x
        while (parent.getOrDefault(c, c) != c) {
          val nxt = parent.get(c); parent.put(c, r); c = nxt
        }
        r
      }
      collected.foreach { case (a, b) =>
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent.put(math.max(ra, rb), math.min(ra, rb))
      }
      val labels = collected.iterator
        .flatMap { case (a, b) => Iterator(a, b) }.toArray.distinct
        .map(v => (v, find(v))).toSeq
      import spark.implicits._
      return (labels.toDF("doc_id", "rep"), 0)
    }
    var it = 0
    var converged = false
    while (it < maxIter && !converged) {
      // ---- large-star: from BOTH directions of every edge, group by u,
      // m = min(N(u) ∪ {u}); larger neighbours v > u re-point at m.
      // (every union branch re-aliases BOTH columns: branches that pass the
      // same attribute ids through in swapped positions trip Catalyst's
      // union constraint rewriting with a missing-attribute lookup)
      val dir = edges.select(col("u").as("u"), col("v").as("v"))
        .union(edges.select(col("v").as("u"), col("u").as("v")))
      val mLarge = dir.groupBy("u").agg(min("v").as("mv"))
        .select(col("u"), least(col("mv"), col("u")).as("m"))
      val ls = dir.join(mLarge, Seq("u"))
        .filter(col("v") > col("u"))
        // emitted (v, m) with v > u ≥ m — already canonically oriented
        .select(col("v").as("u"), col("m").as("v"))
        .filter(col("u") =!= col("v"))
        .distinct()
      // ---- small-star: on the canonical orientation every neighbour of u
      // is smaller; they and u itself re-point at the minimum neighbour
      val mSmall = ls.groupBy("u").agg(min("v").as("m"))
      val withM = ls.join(mSmall, Seq("u"))
      val ssPairs = withM.filter(col("v") =!= col("m"))
        .select(greatest(col("v"), col("m")).as("u"),
          least(col("v"), col("m")).as("v"))
      val ssSelf = withM.select(col("u").as("u"), col("m").as("v")).distinct()
      val next = ssPairs.union(ssSelf)
        .filter(col("u") =!= col("v")).distinct().localCheckpoint(true)
      // fixpoint ⇔ identical edge sets: equal sizes + empty one-sided diff
      val newCount = next.count()
      converged = newCount == oldCount &&
        next.join(edges, Seq("u", "v"), "left_anti").isEmpty
      edges = next
      oldCount = newCount
      it += 1
    }
    if (!converged)
      throw new IllegalStateException(
        s"connectedComponents did not converge in $maxIter rounds; raise maxIter")
    // converged edges are disjoint stars (u → component-minimum root v)
    val labels = edges.select(col("u").as("doc_id"), col("v").as("rep"))
      .union(edges.select(col("v").as("doc_id"), col("v").as("rep")))
      .distinct()
    (labels, it)
  }

  /** One pair-graph + component-label computation shared by
    * [[dupClusters]] and [[dupSurvivors]]: the two driver queries used to
    * rebuild the identical LSH pair graph and run the identical contraction
    * loop from scratch (VERDICT r2 plan-audit). Keyed by (application, dir,
    * threshold) so a new session never reuses a stopped session's plan;
    * the label frame is persisted (it is label-sized, not corpus-sized).
    * ASSUMPTION (standard snapshot semantics): the documents under `dir`
    * are immutable for the life of the application — rewriting them and
    * recalling dupClusters in the SAME app would serve the old labels; call
    * [[invalidateDupLabels]] after mutating inputs in place. */
  private val dupLabelCache =
    scala.collection.concurrent.TrieMap.empty[(String, String, Double), DataFrame]
  private val lshPairCache =
    scala.collection.concurrent.TrieMap.empty[(String, String, Double), DataFrame]
  private val scoredDocsCache =
    scala.collection.concurrent.TrieMap.empty[(String, String, Double), DataFrame]

  /** Drop (and unpersist) every cached corpus-derived frame (labels, pairs,
    * scored projection). */
  def invalidateDupLabels(): Unit = {
    (dupLabelCache.values ++ lshPairCache.values ++ scoredDocsCache.values)
      .foreach(df =>
        try { df.unpersist(); () } catch { case _: Exception => () })
    dupLabelCache.clear()
    lshPairCache.clear()
    scoredDocsCache.clear()
  }

  /** Evict one entry (dead applications first) with unpersist. */
  private def evictOne(cache: scala.collection.concurrent.TrieMap[
      (String, String, Double), DataFrame], appId: String): Unit =
    if (cache.size > 16) {
      val victim = cache.keys.find(_._1 != appId).orElse(cache.keys.headOption)
      victim.flatMap(cache.remove).foreach(df =>
        try { df.unpersist(); () } catch { case _: Exception => () })
    }

  /** Serve a cached frame with failure invalidation. `probe = true` is for
    * localCheckpoint-backed frames (the pair/label caches): their lineage
    * is truncated, so losing blocks (executor loss, memory pressure, a
    * stopped context) would otherwise poison every later call on the same
    * key until a manual [[invalidateDupLabels]] — a HIT is first probed
    * with a count (cheap: those frames are pair-/label-sized) and a probe
    * failure evicts + rebuilds once. `probe = false` is for persist-only
    * frames with full lineage (the corpus-sized scored projection): evicted
    * blocks recompute transparently from lineage, the frame CANNOT be
    * poisoned, and a count probe would scan the whole corpus on every warm
    * call — the hit is returned directly. */
  private def servedFresh(cache: scala.collection.concurrent.TrieMap[
      (String, String, Double), DataFrame], key: (String, String, Double),
      probe: Boolean = true)(build: => DataFrame): DataFrame =
    cache.get(key) match {
      case Some(hit) if !probe => hit
      case Some(hit) =>
        try { hit.count(); hit }
        catch {
          case _: Exception =>
            cache.remove(key)
            try { hit.unpersist(); () } catch { case _: Exception => () }
            cache.getOrElseUpdate(key, build)
        }
      case None => cache.getOrElseUpdate(key, build)
    }

  /** ONE LSH near-dup pair graph per (application, dir, threshold) — shared
    * by [[dupClusters]]/[[dupSurvivors]] (via the label cache) AND
    * [[semanticDedupPairs]]: a pipeline computes its candidate graph once.
    * The pair frame is pair-sized, persisted; same snapshot-immutability
    * assumption as the label cache. */
  private def lshPairs(spark: SparkSession, dir: String,
                       threshold: Double): DataFrame = {
    val appId = spark.sparkContext.applicationId
    servedFresh(lshPairCache, (appId, dir, threshold)) {
      evictOne(lshPairCache, appId)
      TextOps.minhashLshPairs(spark, dir, threshold)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    }
  }

  private def dupLabels(spark: SparkSession, dir: String,
                        threshold: Double): DataFrame = {
    val appId = spark.sparkContext.applicationId
    servedFresh(dupLabelCache, (appId, dir, threshold)) {
      // bound the cache by evicting ONE entry — dead applications' entries
      // first, else an arbitrary one — and unpersist it (dropping the
      // reference alone leaks block-manager storage); wholesale clears
      // would cold-start every hot entry on the 17th distinct key
      evictOne(dupLabelCache, appId)
      connectedComponents(
        lshPairs(spark, dir, threshold).select("id_a", "id_b"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    }
  }

  /** The verified near-dup pair frame served from the keyed cache — the
    * public entry point for pipelines (and the q_minhash_lsh query) so a
    * session computes ONE pair graph, guaranteed by the cache key rather
    * than by Spark CacheManager plan-fragment matching (which silently
    * stops matching if the two call paths' plans drift). */
  def nearDupPairs(spark: SparkSession, dir: String,
                   threshold: Double = 0.5): DataFrame =
    lshPairs(spark, dir, threshold)

  /** Degree histogram of the near-dup pair graph — the skew audit run
    * BEFORE connected components at scale: a heavy tail here (one node with
    * degree 10⁶) is exactly the hot-cluster shape that blows up the
    * large-star contraction's shuffle, and the cue to cap or pre-contract
    * hubs. Pair-graph-sized work: explode each edge into two endpoint rows,
    * two map-side-combining aggregations, output is histogram-sized.
    * Shares the cached pair frame with the whole dedup family. */
  def dupDegreeHistogram(spark: SparkSession, dir: String,
                         threshold: Double = 0.5): DataFrame =
    lshPairs(spark, dir, threshold)
      .select(explode(array(col("id_a"), col("id_b"))).as("doc_id"))
      .groupBy("doc_id").agg(count(lit(1)).as("degree"))
      .groupBy("degree").agg(count(lit(1)).as("n_nodes"))

  /** One-row dataset card: corpus size, token volume, catalog breadth,
    * length moments and near-dup exposure — the summary a data-governance
    * review reads before a training run. One corpus pass for the base
    * aggregates plus the cached dup-label frame (label-sized) for the
    * duplicate exposure; the two one-row frames cross-join for free. */
  def corpusStats(spark: SparkSession, dir: String,
                  threshold: Double = 0.5): DataFrame = {
    val base = documents(spark, dir).agg(
      count(lit(1)).as("n_docs"),
      sum(size(words(col("text"))).cast("long")).as("n_tokens"),
      countDistinct(col("source")).as("n_sources"),
      countDistinct(col("lang")).as("n_langs"),
      round(avg(col("n_chars")), 6).as("mean_chars"))
    val dups = dupLabels(spark, dir, threshold)
      .agg(count(lit(1)).as("dup_docs"))
    base.crossJoin(broadcast(dups))
      .withColumn("dup_frac",
        round(col("dup_docs").cast("double") / col("n_docs"), 6))
  }

  /** Duplicate clusters over the near-dup pair graph: every document that
    * has at least one near-duplicate, labelled with its cluster
    * representative (smallest doc_id in the component). The pair source is
    * the LSH+verify path, exact at the test configuration, so the oracle
    * recomputes the identical graph from scratch. */
  def dupClusters(spark: SparkSession, dir: String,
                  threshold: Double = 0.5): DataFrame =
    dupLabels(spark, dir, threshold)

  /** Survivor selection: per duplicate cluster keep the "best" document
    * (longest text, smallest id on ties — the deterministic quality policy
    * a dedup pipeline applies before dropping the rest). Reuses
    * [[dupClusters]]' cached labels instead of re-deriving the graph. */
  def dupSurvivors(spark: SparkSession, dir: String,
                   threshold: Double = 0.5): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("rep").orderBy(col("n_chars").desc, col("doc_id").asc)
    dupLabels(spark, dir, threshold)
      .join(documents(spark, dir).select("doc_id", "n_chars"), Seq("doc_id"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("rep"), col("doc_id").as("keep_id"), col("n_chars"))
  }

  /** Leakage-safe train/eval split: assignment is by near-dup CLUSTER, not
    * by document — a doc and its near-duplicates always land on the same
    * side, so the eval split cannot be contaminated by training-set
    * near-copies (the failure mode of naive per-doc random splits). The
    * split key hashes the cluster representative (md5-prefix integer
    * bucket: deterministic, engine-exact, no RNG); singletons are their own
    * cluster. Reuses the cached CC labels — label-sized join, no new graph
    * work. */
  def clusterSplit(spark: SparkSession, dir: String,
                   threshold: Double = 0.5, evalPct: Int = 10): DataFrame =
    documents(spark, dir).select("doc_id")
      .join(dupLabels(spark, dir, threshold), Seq("doc_id"), "left")
      .withColumn("rep", coalesce(col("rep"), col("doc_id")))
      .withColumn("split",
        when(conv(substring(md5(col("rep").cast("string")), 1, 8), 16, 10)
          .cast("long") % 100 < evalPct, lit("eval")).otherwise(lit("train")))
      .select("doc_id", "rep", "split")

  /** UniMax-style waterfilling allocation of a global token budget across
    * sources: every source is granted up to the common water level θ, where
    * θ solves Σ min(availᵢ, θ) = budget — small sources keep everything,
    * large sources are capped at θ, the least-skewed allocation that spends
    * the budget (UniMax, Chung et al. 2023). Closed form over sources
    * sorted ascending by avail: caps form a prefix; m = max{i :
    * availᵢ·(k−i+1) + prefixᵢ₋₁ ≤ B}, θ = (B − prefix_m)/(k − m).
    *
    * The corpus-sized work is one map-side-combining groupBy(source); the
    * windows below run over the AGGREGATED frame — k rows, one per source
    * (a dimension table, bounded by the catalog not the corpus), so the
    * global-order window is a deliberate single-partition pass over k rows,
    * not a data-sized sort. */
  def unimaxBudget(spark: SparkSession, dir: String,
                   frac: Double = 0.5): DataFrame = {
    val perSrc = documents(spark, dir)
      .select(col("source"), size(words(col("text"))).cast("long").as("n_tok"))
      .groupBy("source").agg(sum("n_tok").as("avail"))
    val wOrd = Window.orderBy(asc("avail"), asc("source"))
    val wPre = wOrd.rowsBetween(Window.unboundedPreceding, -1)
    val wAll = Window.partitionBy(lit(1))
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val ranked = perSrc
      .withColumn("i", row_number().over(wOrd))
      .withColumn("prefix", coalesce(sum("avail").over(wPre), lit(0L)))
      .withColumn("k", count(lit(1)).over(wAll))
      .withColumn("budget", floor(sum("avail").over(wAll) * frac).cast("long"))
      .withColumn("capped",
        col("avail") * (col("k") - col("i") + 1) + col("prefix") <= col("budget"))
      .withColumn("m",
        coalesce(max(when(col("capped"), col("i"))).over(wAll), lit(0)))
      .withColumn("prefix_m",
        coalesce(sum(when(col("i") <= col("m"), col("avail"))).over(wAll), lit(0L)))
      .withColumn("alloc_raw",
        when(col("i") <= col("m"), col("avail").cast("double"))
          .otherwise((col("budget") - col("prefix_m")).cast("double") /
            (col("k") - col("m"))))
    ranked.select(col("source"), col("avail"),
      round(col("alloc_raw"), 6).as("alloc"),
      round(col("alloc_raw") / col("avail"), 6).as("frac"))
  }

  /** Hierarchical catalog roll-up: doc and token counts at (source, lang),
    * per-source subtotals and the grand total in ONE pass —
    * `ROLLUP(source, lang)`, Spark's Expand-based grouping sets (each input
    * row fans into its grouping-set combinations before one ordinary
    * partial-aggregated shuffle; no per-level rescan). grouping() flags
    * disambiguate a rolled-up NULL from a literal one. */
  def rollupCounts(spark: SparkSession, dir: String): DataFrame =
    documents(spark, dir)
      .select(col("source"), col("lang"),
        size(words(col("text"))).cast("long").as("n_tok"))
      .rollup("source", "lang")
      .agg(count(lit(1)).as("n_docs"), sum("n_tok").as("n_tok"),
        grouping(col("source")).cast("long").as("g_source"),
        grouping(col("lang")).cast("long").as("g_lang"))

  /** Source × language contingency matrix via PIVOT — one row per source,
    * one count column per language (explicit value list: the pivot columns
    * are plan-time schema, so the plan is a single groupBy with a
    * conditional-count projection, not per-language scans; empty cells
    * filled 0 to match SQL's count-filter semantics). */
  def pivotLangs(spark: SparkSession, dir: String,
                 langs: Seq[String] = Seq("de", "en", "es", "fr", "zh")): DataFrame =
    documents(spark, dir)
      .groupBy("source").pivot("lang", langs).agg(count(lit(1)))
      .na.fill(0, langs)

  /** Per-user interarrival profile: event count plus mean/max gap between
    * consecutive events — the lag-window family. Gaps are computed in
    * MICROSECONDS as integers (the ts column is µs-precision; casting to
    * epoch seconds would truncate on one engine and round on the other),
    * ordered by (ts, event_id) so ties are deterministic. One user-keyed
    * exchange carries both the lag window and the roll-up. */
  def userGaps(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    EventOps.events(spark, dir)
      .select(col("user_id"), col("ts"), col("event_id"))
      // ts is TIMESTAMP_NTZ in the parquet; the UTC session makes the
      // cast a pure re-tag (same wall time, same microseconds)
      .withColumn("us", unix_micros(col("ts").cast("timestamp")))
      .withColumn("gap_us", col("us") - lag(col("us"), 1).over(w))
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_events"),
        round(avg("gap_us"), 6).as("avg_gap_us"),
        max("gap_us").as("max_gap_us"))
  }

  /** Top user-journey prefixes: each user's first five event types in
    * (ts, event_id) order joined into a path string, then the ten most
    * common paths — the ordered-aggregation family (sort_array over
    * collected (rank, value) structs: collect_list alone has NO ordering
    * guarantee after a shuffle; the struct sort makes order explicit and
    * deterministic). The per-user prefix is ≤5 elements, so the interpreted
    * transform lambda touches ≤5 items per user — bounded, not
    * corpus-shaped. Top-10 via orderBy+limit (TakeOrderedAndProject). */
  def sessionPaths(spark: SparkSession, dir: String,
                   prefixLen: Int = 5, topN: Int = 10): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    EventOps.events(spark, dir)
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= prefixLen)
      .groupBy("user_id")
      .agg(array_join(transform(
        sort_array(collect_list(struct(col("rn"), col("event_type")))),
        x => x.getField("event_type")), ">").as("path"))
      .groupBy("path").agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("path")).limit(topN)
  }

  /** UNPIVOT (melt) of the language contingency matrix back to long form —
    * the inverse of [[pivotLangs]], zero cells preserved: the round trip
    * (group → pivot → unpivot) must reproduce the dense source × language
    * grid, which is exactly what the oracle checks from first
    * principles. */
  def unpivotLangs(spark: SparkSession, dir: String,
                   langs: Seq[String] = Seq("de", "en", "es", "fr", "zh")): DataFrame =
    pivotLangs(spark, dir, langs)
      .unpivot(Array(col("source")), langs.map(col).toArray, "lang", "n")

  // ---- Distribution audits -----------------------------------------------

  /** Per-source length-distribution audit: exact interpolated percentiles
    * (`percentile` sorts within the group — exact, and the same linear
    * interpolation DuckDB's `quantile_cont` uses, so the oracle recomputes
    * it bit-for-bit). Exact per-group sort state is fine for audit
    * cardinalities (groups = sources); per-key quantiles over billions of
    * keys would need a bounded sketch (`approx_percentile`) instead. */
  def qualityQuantiles(spark: SparkSession, dir: String): DataFrame =
    documents(spark, dir)
      .groupBy("source")
      .agg(round(expr("percentile(n_chars, 0.5)"), 6).as("p50"),
        round(expr("percentile(n_chars, 0.9)"), 6).as("p90"),
        max("n_chars").as("mx"))

  // ---- End-to-end training-mix builder -----------------------------------

  /** The capstone composition — the pass a training-data pipeline runs to
    * turn a raw corpus into a packed training mix:
    *
    *   quality filter → near-dup survivor dedup (LSH pairs → connected
    *   components → keep longest per cluster) → stratified source
    *   sampling → bucketed sequence packing.
    *
    * Every stage is one of the operators above, composed lazily into one
    * plan per stage boundary; the only driver-side loop is component
    * convergence. Scale shape: the filter and sampling are narrow, dedup
    * shuffles band keys and (node, label) longs, packing shuffles by
    * bucket — documents themselves move only into their final pack slot. */
  def trainingMix(spark: SparkSession, dir: String,
                  minTokens: Int = 30, maxStopRatio: Double = 0.25,
                  capacity: Int = 256, nBuckets: Int = 32): DataFrame = {
    val w = words(col("text"))
    val qf = documents(spark, dir)
      .withColumn("n_tok", size(w).cast("long"))
      .withColumn("stop_ratio",
        size(filter(w, x => x.isin(TextOps.Stopwords: _*))).cast("double") / col("n_tok"))
      .filter(col("n_tok") >= minTokens && col("stop_ratio") <= maxStopRatio)
    // qf is deliberately NOT cached: it is a narrow filter over the scan,
    // recomputed by three consumers for free, and a persist here would stay
    // registered past this call (the returned plan still references it)
    val pairs = TextOps.minhashLshPairsOn(
      qf.select(col("doc_id"), TextOps.shingleArr(col("text"), 3).as("sh")), 0.5)
      .select("id_a", "id_b")
    val comp = connectedComponents(pairs)
    val survWin = Window.partitionBy("rep")
      .orderBy(col("n_chars").desc, col("doc_id").asc)
    val losers = comp
      .join(qf.select("doc_id", "n_chars"), Seq("doc_id"))
      .withColumn("rn", row_number().over(survWin))
      .filter(col("rn") > 1) // everyone but the per-cluster survivor
      .select("doc_id")
    val kept = qf.join(losers, Seq("doc_id"), "left_anti")
    val packWin = Window.partitionBy("bucket").orderBy("doc_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    sampleRows(kept)
      .select(col("doc_id"), pmod(col("doc_id"), lit(nBuckets)).as("bucket"),
        col("n_tok"))
      .withColumn("cum", sum("n_tok").over(packWin))
      .select(col("doc_id"), col("bucket"), col("n_tok"),
        (col("cum") - col("n_tok")).as("start_off"),
        floor((col("cum") - col("n_tok")) / lit(capacity)).as("start_chunk"),
        floor((col("cum") - 1) / lit(capacity)).as("end_chunk"))
  }

  // ---- Vocabulary building -----------------------------------------------

  /** Corpus-level top-k vocabulary with document frequencies — the seed of
    * a BPE-style tokenizer build. Map-side combining does the heavy
    * lifting; the shuffle carries (word, count) pairs only. Deterministic
    * tiebreak on the word itself. */
  def vocabTopK(spark: SparkSession, dir: String, k: Int = 20): DataFrame =
    documents(spark, dir)
      .select(col("doc_id"), explode(words(col("text"))).as("word"))
      .groupBy("word")
      .agg(count(lit(1)).as("n"), countDistinct(col("doc_id")).as("n_docs"))
      .orderBy(col("n").desc, col("word"))
      .limit(k)

  /** Per-source heavy hitters via the [[graft.functions.SpaceSaving]]
    * sketch Aggregator — bounded-memory top-k: partial sketches build
    * map-side and merge at the shuffle, so per-group state is `capacity`
    * entries regardless of group size (exact top-k shuffles the whole
    * vocabulary; this is its 100 TB replacement). The shipped capacity is
    * far above the per-source distinct count, making the sketch exact (the
    * oracle recomputes true counts); eviction-mode error bounds are
    * spec-tested at small capacity. */
  def heavyHitters(spark: SparkSession, dir: String,
                   k: Int = 3, capacity: Int = 4096): DataFrame = {
    val ss = org.apache.spark.sql.functions.udaf(
      new graft.functions.SpaceSaving(capacity, k),
      org.apache.spark.sql.Encoders.STRING)
    documents(spark, dir)
      .select(col("source"), explode(words(col("text"))).as("word"))
      .groupBy("source").agg(ss(col("word")).as("hh"))
      .select(col("source"), posexplode(col("hh")))
      .select(col("source"), col("col.word").as("word"),
        col("col.n").as("n"), (col("pos") + 1).cast("long").as("rk"))
  }

  /** Per-source distribution drift: KL(source ∥ corpus) over unigram
    * distributions — the mixture-planning audit that flags a source whose
    * language has drifted from the corpus it feeds (support of a source is
    * a subset of the corpus support, so every term is finite). Work
    * shapes: (source, word) counts combine map-side; the two marginals are
    * roll-ups of that same frame; the corpus total is a one-row broadcast;
    * per-term arithmetic is written identically to the oracle
    * (exact-integer-derived doubles through ln). */
  def sourceDrift(spark: SparkSession, dir: String): DataFrame = {
    val sw = documents(spark, dir)
      .select(col("source"), explode(words(col("text"))).as("w"))
      .groupBy("source", "w").agg(count(lit(1)).as("c_sw"))
    val srcTot = sw.groupBy("source").agg(sum("c_sw").as("n_s"))
    val wTot = sw.groupBy("w").agg(sum("c_sw").as("c_w"))
    val tot = srcTot.agg(sum("n_s").cast("double").as("n_tot"))
    sw.join(srcTot, "source").join(wTot, "w")
      .crossJoin(broadcast(tot))
      .withColumn("term",
        (col("c_sw").cast("double") / col("n_s")) *
          log((col("c_sw").cast("double") / col("n_s")) /
            (col("c_w").cast("double") / col("n_tot"))))
      .groupBy("source")
      .agg((round(sum("term"), 6) + lit(0.0)).as("kl"),
        count(lit(1)).as("n_terms"))
  }

  /** Per-document unigram entropy H = −Σ p ln p (nats) — low entropy flags
    * repetitive/templated text, complementing the ratio-based repetition
    * signals with the information-theoretic view. One (doc, word) count
    * aggregation, then a doc-keyed window for the per-doc total (its own
    * exchange — (doc_id, word) hash partitioning does not satisfy the
    * window's doc_id clustering) whose partitioning the final per-doc
    * roll-up reuses: two exchanges total, same as the join formulation,
    * with one fewer aggregation pass. */
  def textEntropy(spark: SparkSession, dir: String): DataFrame = {
    val perWord = documents(spark, dir)
      .select(col("doc_id"), explode(words(col("text"))).as("w"))
      .groupBy("doc_id", "w").agg(count(lit(1)).as("c"))
    val wd = Window.partitionBy("doc_id")
    perWord
      .withColumn("n", sum("c").over(wd))
      .withColumn("p", col("c").cast("double") / col("n"))
      .groupBy("doc_id")
      // "+ 0.0" normalizes IEEE -0.0 on BOTH engines (DuckDB's round
      // preserves the sign of zero; Spark's BigDecimal round does not —
      // without the term a zero-entropy doc hashes differently)
      .agg((round(-sum(col("p") * log(col("p"))), 6) + lit(0.0)).as("entropy"),
        count(lit(1)).as("n_distinct"))
  }

  /** Collocation mining: top bigrams by pointwise mutual information —
    * PMI = ln(p(ab) / (p(a)·p(b))) — the signal that finds multi-word
    * units worth merging before tokenizer training (high-PMI pairs co-occur
    * far above chance). Occurrence (non-distinct) bigram counts via the
    * native all-shingles expression; unigram and bigram frequencies are
    * vocab-keyed shuffle joins (never a forced broadcast — vocabulary is
    * corpus-unbounded); the two grand totals are one-row broadcasts. The
    * PMI arithmetic is written with explicit left-associative double
    * multiplication mirrored in the oracle (the product n_ab·T1² overflows
    * int64 at corpus scale, so both engines compute in double from the
    * start), and ranking uses the ROUNDED value with a bigram tie-break. */
  def pmiBigrams(spark: SparkSession, dir: String,
                 minCount: Int = 5, topN: Int = 20): DataFrame = {
    val docs = documents(spark, dir)
    val uni = docs.select(explode(words(col("text"))).as("w"))
      .groupBy("w").agg(count(lit(1)).as("n"))
    val t1 = uni.agg(sum("n").cast("double").as("t1"))
    val bi = docs.select(
        explode(graft.functions.Signatures.shinglesAllCol(col("text"), 2)).as("b"))
      .groupBy("b").agg(count(lit(1)).as("n_ab"))
    val t2 = bi.agg(sum("n_ab").cast("double").as("t2"))
    bi.filter(col("n_ab") >= minCount)
      .withColumn("wa", split(col("b"), " ").getItem(0))
      .withColumn("wb", split(col("b"), " ").getItem(1))
      .join(uni.select(col("w").as("wa"), col("n").as("na")), Seq("wa"))
      .join(uni.select(col("w").as("wb"), col("n").as("nb")), Seq("wb"))
      .crossJoin(broadcast(t1)).crossJoin(broadcast(t2))
      .withColumn("pmi", round(log(
        col("n_ab").cast("double") * col("t1") * col("t1") /
          (col("t2") * col("na") * col("nb"))), 6))
      .select(col("b").as("bigram"), col("n_ab"),
        (col("pmi") + lit(0.0)).as("pmi"))
      .orderBy(col("pmi").desc, col("bigram")).limit(topN)
  }

  /** Zipf audit: least-squares fit of ln(count) against ln(rank) over the
    * top-N vocabulary — slope ≈ −1 is the healthy-natural-text signature;
    * a flat slope flags templated/boilerplate corpora, a cliff flags
    * near-duplicate floods. The word count is the classic combine-heavy
    * aggregation; the top-N lands via orderBy+limit (TakeOrderedAndProject
    * — per-partition heaps, no global sort materializes) and the
    * regression runs on an N-row frame. One row out: slope, intercept, r²
    * from the textbook closed form (identical left-to-right arithmetic on
    * both engines). */
  def zipfAudit(spark: SparkSession, dir: String, topN: Int = 100): DataFrame = {
    val w = Window.orderBy(col("n").desc, col("word"))
    val top = documents(spark, dir)
      .select(explode(words(col("text"))).as("word"))
      .groupBy("word").agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("word")).limit(topN)
      .withColumn("rank", row_number().over(w))
      .select(log(col("rank").cast("double")).as("x"),
        log(col("n").cast("double")).as("y"))
    top.agg(count(lit(1)).cast("double").as("k"),
        sum("x").as("sx"), sum("y").as("sy"),
        sum(col("x") * col("y")).as("sxy"),
        sum(col("x") * col("x")).as("sxx"),
        sum(col("y") * col("y")).as("syy"))
      .select(
        round((col("k") * col("sxy") - col("sx") * col("sy")) /
          (col("k") * col("sxx") - col("sx") * col("sx")), 6).as("slope"),
        round((col("sy") - (col("k") * col("sxy") - col("sx") * col("sy")) /
          (col("k") * col("sxx") - col("sx") * col("sx")) * col("sx")) /
          col("k"), 6).as("intercept"),
        round(pow(col("k") * col("sxy") - col("sx") * col("sy"), 2) /
          ((col("k") * col("sxx") - col("sx") * col("sx")) *
           (col("k") * col("syy") - col("sy") * col("sy"))), 6).as("r2"))
  }

  /** Per-source TF-IDF top terms: the k most characteristic words of each
    * source (tf × ln(n_sources/df)) — the catalog fingerprint a curation
    * review reads next to [[sourceSim]]'s overlap matrix. Work shapes:
    * (source, word) counts combine map-side; document frequency is a
    * word-keyed roll-up of that same frame; the top-k window partitions by
    * source. The source-count scalar is a one-row broadcast. Words present
    * in every source score exactly 0 (idf = ln 1) and rank by the word
    * tie-break — deterministic on both engines. */
  def tfidfTerms(spark: SparkSession, dir: String, k: Int = 5): DataFrame = {
    val tf = documents(spark, dir)
      .select(col("source"), explode(words(col("text"))).as("word"))
      .groupBy("source", "word").agg(count(lit(1)).as("tf"))
    val df = tf.groupBy("word").agg(count(lit(1)).as("df"))
    val ns = tf.select(countDistinct(col("source")).as("ns"))
    val w = Window.partitionBy("source")
      .orderBy(col("score").desc, col("word"))
    tf.join(df, "word").crossJoin(broadcast(ns))
      // ln is rounded to 6 BEFORE the tf multiply: JVM Math.log and DuckDB
      // ln differ in the last ulp, and tf would amplify that past the
      // round-6 boundary; a 6-decimal idf times an integer tf is the same
      // double bit-for-bit on both engines
      .withColumn("score",
        round(col("tf") *
          round(log(col("ns").cast("double") / col("df")), 6), 6))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k)
      .select(col("source"), col("word"), col("tf"), col("df"),
        col("score"), col("rk").cast("long").as("rk"))
  }

  /** Robust per-source length outliers: median + MAD (median absolute
    * deviation) of n_chars per source, flagging docs beyond
    * `nMads × MAD` — the length filter that, unlike mean/stddev, a single
    * pathological document cannot drag. Exact grouped percentiles (sorted
    * within group — audit cardinality, as in [[qualityQuantiles]]), two
    * passes: median, then median of deviations, then a per-row filter.
    * Every shuffle is keyed on source. */
  def lengthOutliers(spark: SparkSession, dir: String,
                     nMads: Double = 2.0): DataFrame = {
    val docs = documents(spark, dir).select(col("doc_id"), col("source"), col("n_chars"))
    val med = docs.groupBy("source")
      .agg(expr("percentile(n_chars, 0.5)").as("med"))
    val withMed = docs.join(med, "source")
    val mad = withMed.groupBy("source")
      .agg(expr("percentile(abs(n_chars - med), 0.5)").as("mad"))
    withMed.join(mad, "source")
      .filter(abs(col("n_chars") - col("med")) > lit(nMads) * col("mad"))
      .select(col("source"), col("doc_id"), col("n_chars"),
        round(col("med"), 6).as("med"), round(col("mad"), 6).as("mad"))
  }
}
