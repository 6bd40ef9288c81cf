package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{CorpusOps, TextOps}

/** Incremental near-dup cluster maintenance for a STREAMING corpus — the
  * piece batch [[CorpusOps.dupClusters]] cannot provide: its label cache
  * assumes an immutable snapshot, so a growing corpus would re-run LSH +
  * connected components over ALL documents every microbatch (O(corpus) work
  * per batch — a non-starter when the corpus is 100 TB and the batch is
  * 1 GB).
  *
  * Per microbatch of new documents this maintains three state tables and
  * touches ONLY batch-proportional data:
  *
  *  1. candidate pairs: the batch's LSH band buckets ([[TextOps.bandBuckets]]
  *     — the same single banding definition as the batch path) self-joined
  *     (new↔new) and equi-joined against the persistent band index
  *     (new↔existing). Band equi-joins, never a scan of old documents.
  *  2. exact-Jaccard verification of candidates only (shingle sets fetched
  *     by id equi-join — AQE broadcasts the candidate side), scored by the
  *     native one-pass set-Jaccard kernel
  *     ([[graft.functions.Signatures.setJaccardCol]]).
  *  3. cluster merge WITHOUT whole-corpus connected components: every
  *     existing endpoint is COLLAPSED to its current cluster representative
  *     (unlabelled docs represent themselves), and the contraction runs on
  *     that collapsed graph — its node set is (batch docs ∪ touched reps),
  *     never the corpus. Because each stored rep is the minimum doc_id of
  *     its component, the collapsed component minimum IS the full component
  *     minimum, so relabelling `rep → new_rep` by equi-join reproduces
  *     exactly the labels a from-scratch [[CorpusOps.connectedComponents]]
  *     over the union corpus would emit (StreamingSpec asserts parity, and
  *     that the contraction's node set stayed batch-sized).
  *
  * New docs bridging two existing clusters merge them (both reps re-point at
  * the smaller); docs with no near-dup get no label row, matching the batch
  * semantics. Upstream must feed each doc_id exactly once (the streaming
  * tier's exact dedup / `dropDuplicatesWithinWatermark` gate does this).
  *
  * This class is the one engine: its `addBatch(batchId, batch)` runs the
  * phases, and reads and writes the three tables through a
  * [[IncrementalDedup.State]] backend. The public constructor here keeps
  * state in the session ([[IncrementalDedup.SessionState]]: checkpointed
  * deltas — fastest; dies with the driver, and replay-gating belongs to
  * the caller). [[DurableIncrementalDedup]] runs the same engine over
  * [[IncrementalDedup.LakeState]] — three [[LakeSink]]s with crash-atomic
  * manifest commits, idempotent batch replay, and a driver restart that
  * rebuilds from the lake with label parity (StreamingSpec kill/restart
  * test).
  */
class IncrementalDedup private[streaming] (
    state: IncrementalDedup.State, threshold: Double, k: Int) {

  import IncrementalDedup._

  def this(threshold: Double = 0.5, k: Int = 3) =
    this(new IncrementalDedup.SessionState, threshold, k)

  /** Current labels `(doc_id, rep)` — same shape + semantics as
    * [[CorpusOps.dupClusters]] over the union of all batches so far; an
    * empty bigint frame (built without a Spark job) until some batch
    * produces a pair.
    *
    * Validity window (session state): the frame is a live view of the
    * CURRENT generation. The next label-changing `addBatch` releases that
    * generation's checkpoint blocks (locally-checkpointed lineage cannot
    * recompute), so a handle held across batches throws on evaluation —
    * materialize (collect / write / cache-and-count) before ingesting
    * further. */
  def labels: DataFrame = {
    require(state.ingested, "no batch ingested yet")
    state.labels.getOrElse(SparkSession.active.range(0)
      .select(col("id").as("doc_id"), col("id").as("rep")))
  }

  /** Ingest one microbatch `(doc_id, text)`; returns audit stats. Call from
    * `foreachBatch`. Session state has no replay gate: replaying a batch
    * would double-insert band rows, so gate on batchId like [[LakeSink]]
    * does — or use [[DurableIncrementalDedup]], whose state gates
    * internally. */
  def addBatch(batch: DataFrame): BatchStats = addBatch(0L, batch)

  /** The engine: shingle → band → candidate+verify → label merge → commit
    * labels → commit bands → commit shingles, each phase's jobs labelled
    * `<state.prefix><phase>`. `batchId` matters only to a state with replay
    * gates. */
  private[streaming] def addBatch(batchId: Long, batch: DataFrame): BatchStats = {
    if (state.completed(batchId)) return BatchStats(0L, 0L, 0L, 0L, 0L, 0)
    def phase[T](name: String)(body: => T): T =
      labeled(batch, state.prefix + name)(body)
    // LAZY checkpoint (the no-arg localCheckpoint() is eager): the count
    // is the one job, and it materializes the checkpoint blocks as it goes
    val (newShingles, nNew) = phase("shingle batch") {
      val df = shinglesOf(batch, k).localCheckpoint(false)
      (df, df.count()) }
    // EAGER on purpose: the candidate self-join reads this table on three
    // legs — a lazy checkpoint would recompute the signature pass per leg
    // inside the candidate+verify job (measured a wash at best), while the
    // eager job computes it exactly once
    val newBands = phase("band batch") {
      TextOps.bandBuckets(newShingles).localCheckpoint(true) }

    var stats = BatchStats(nNew, 0L, 0L, 0L, 0L, 0)
    // batch-scoped checkpoints (scored candidates, contraction graph,
    // component labels) are dead once the batch commits — released before
    // returning so a long-lived session's storage is state only, not
    // scratch from every batch ever processed
    val scratch = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    if (!state.labelsCommitted(batchId)) {
      // candidates + verification materialize as ONE checkpoint of the
      // candidate-sized scored frame (jaccard-threshold flag kept, not yet
      // filtered) — the separate candidate checkpoint bought only the
      // nCands stat, which the scored frame still carries; one fewer
      // materialized frame ≈ 3-4 fewer scheduled jobs per microbatch. Both
      // stats come from ONE aggregate (count + conditional count) over the
      // lazily checkpointed frame; the aggregate's job also stores the
      // checkpoint blocks, so no separate job materializes the frame.
      val allSh = state.shingles.fold(newShingles)(_.union(newShingles))
      val (scored, nCands, nVerified) = phase("candidate+verify") {
        val df = scoredPairs(candidatePairs(newBands, state.bands), allSh,
          threshold).localCheckpoint(false)
        val s = df.agg(count(lit(1)), count(when(col("ok"), true))).head()
        (df, s.getLong(0), s.getLong(1)) }
      scratch += scored
      stats = stats.copy(nCandidatePairs = nCands, nVerifiedPairs = nVerified)
      if (nVerified > 0) {
        val verified = scored.filter(col("ok")).select("id_a", "id_b")
        val current = state.labels
        phase("label merge")(labelMerge(verified, current)).foreach { m =>
          stats = stats.copy(nGraphNodes = m.nNodes,
            nTouchedReps = m.nTouchedReps, ccRounds = m.ccRounds)
          phase("commit labels")(state.commitLabels(batchId, m.nextLabels))
          scratch ++= m.scratch
        }
      }
    }
    // deltas last: on lake state the shingle commit marks the batch complete
    phase("commit bands")(state.commitBands(batchId, newBands, nNew))
    phase("commit shingles")(state.commitShingles(batchId, newShingles, nNew))
    scratch.foreach(release)
    stats
  }
}

object IncrementalDedup {
  /** Audit metrics of one batch — the spec's evidence that the merge stayed
    * batch-proportional. */
  final case class BatchStats(
      nNewDocs: Long, nCandidatePairs: Long, nVerifiedPairs: Long,
      nGraphNodes: Long, nTouchedReps: Long, ccRounds: Int)

  /** Label the jobs of one phase (guide §1.5) — thread-local; restores the
    * caller's description (structured streaming sets its own per
    * microbatch) rather than clearing it. */
  private[streaming] def labeled[T](df: DataFrame, desc: String)(body: => T): T = {
    val sc = df.sparkSession.sparkContext
    val prev = sc.getLocalProperty("spark.job.description")
    sc.setJobDescription(desc)
    try body finally sc.setJobDescription(prev)
  }

  /** Dead checkpointed generation → free its executor-storage blocks NOW.
    * `df.unpersist()` alone does not release localCheckpoint RDD blocks
    * (they wait for ContextCleaner GC); the bridge unpersists the
    * underlying checkpoint RDD itself (review r4 ADVICE). */
  private[graft] def release(df: DataFrame): Unit =
    org.apache.spark.sql.graftbridge.Bridge.releaseLocalCheckpointQuietly(df)

  /** Where the engine's three tables live. Commits take ownership of the
    * checkpointed frame they are handed. */
  private[streaming] sealed trait State {
    /** Job-description prefix of every phase run over this state. */
    def prefix: String
    /** The batch fully committed earlier: a redelivery is a no-op. */
    def completed(batchId: Long): Boolean
    /** The batch's label generation committed earlier: skip its recompute. */
    def labelsCommitted(batchId: Long): Boolean
    def ingested: Boolean
    def bands: Option[DataFrame]    // (doc_id, band, bkey)
    def shingles: Option[DataFrame] // (doc_id, sh)
    def labels: Option[DataFrame]   // (doc_id, rep)
    def commitLabels(batchId: Long, next: DataFrame): Unit
    def commitBands(batchId: Long, delta: DataFrame, rows: Long): Unit
    def commitShingles(batchId: Long, delta: DataFrame, rows: Long): Unit
  }

  /** Session-local state, no replay gates. Band index and shingle store are
    * APPEND-ONLY vectors of per-batch checkpointed deltas, and a read is
    * their union — each leaf is already materialized, so appending a batch
    * costs O(batch), never a rewrite of the accumulated corpus state. The
    * label table is the one state that mutates in place (reps re-point on
    * merges); it is label-sized, rewritten only on batches that produce
    * pairs, and the replaced generation is released. */
  private[streaming] final class SessionState extends State {
    private var bandDeltas = Vector.empty[DataFrame]
    private var shingleDeltas = Vector.empty[DataFrame]
    private var current: Option[DataFrame] = None
    var ingested = false

    val prefix = "dedup: "
    def completed(batchId: Long): Boolean = false
    def labelsCommitted(batchId: Long): Boolean = false
    def bands: Option[DataFrame] = bandDeltas.reduceOption(_ union _)
    def shingles: Option[DataFrame] = shingleDeltas.reduceOption(_ union _)
    def labels: Option[DataFrame] = current

    def commitLabels(batchId: Long, next: DataFrame): Unit = {
      val prev = current
      current = Some(next.localCheckpoint(true))
      // the replaced generation's checkpoint blocks are dead — drop them
      prev.foreach(release)
    }
    def commitBands(batchId: Long, delta: DataFrame, rows: Long): Unit =
      bandDeltas = appended(bandDeltas, delta, rows)
    def commitShingles(batchId: Long, delta: DataFrame, rows: Long): Unit = {
      shingleDeltas = appended(shingleDeltas, delta, rows)
      ingested = true
    }

    /** Append a delta; an empty one (idle stream tick) is released instead,
      * or every empty batch would leak its checkpoint for the session
      * lifetime. Past 64 leaves, fold the vector into one checkpointed frame
      * and free the old blocks — amortized O(corpus/64) per batch, plan
      * width ≤ 64. (Lake state doesn't need this: there the "union" is a
      * file listing and compaction is the sink's tiered background job.) */
    private def appended(deltas: Vector[DataFrame], df: DataFrame,
                         rows: Long): Vector[DataFrame] =
      if (rows == 0) { release(df); deltas }
      else if (deltas.size + 1 < 64) deltas :+ df
      else {
        val folded = (deltas :+ df).reduce(_ union _).localCheckpoint(true)
        (deltas :+ df).foreach(release)
        Vector(folded)
      }
  }

  /** Lake state: each table is a [[LakeSink]] under `lakePath`, band and
    * shingle deltas as append-only batch commits, the label table as one
    * full generation per label-changing batch. Owns the replay gates of
    * [[DurableIncrementalDedup]]'s protocol. */
  private[streaming] final class LakeState(spark: SparkSession, lakePath: String)
      extends State {
    private val bandSink = new LakeSink(s"$lakePath/bands")
    private val shingleSink = new LakeSink(s"$lakePath/shingles")
    private val labelSink = new LakeSink(s"$lakePath/labels")

    val prefix = "durdedup: "
    def completed(batchId: Long): Boolean = shingleSink.accountsFor(batchId)
    def labelsCommitted(batchId: Long): Boolean = labelSink.accountsFor(batchId)
    def ingested: Boolean = shingleSink.committed().nonEmpty
    def bands: Option[DataFrame] = read(bandSink)
    def shingles: Option[DataFrame] = read(shingleSink)

    /** Newest committed label generation, read from its ONE segment dir —
      * never the whole history filtered back down (each label-changing
      * batch commits a full table; reading all generations to keep one
      * would be O(history) I/O per call). The label sink is
      * generation-snapshot, so compaction must never run on it:
      * readGeneration fails loudly if the newest segment was folded, and
      * the negative-id guard catches a compacted manifest before max()
      * would select the fold segment. */
    def labels: Option[DataFrame] = {
      val gens = labelSink.committed()
      require(gens.forall(_.batch >= 0),
        "label sink was compacted — generation-snapshot semantics are gone")
      if (gens.isEmpty) None
      else Some(strip(labelSink.readGeneration(spark, gens.map(_.batch).max)))
    }

    // the full current table is this generation's rows; the manifest commit
    // is atomic, so a crash mid-write never becomes "current"
    def commitLabels(batchId: Long, next: DataFrame): Unit =
      labelSink.addBatch(batchId, next)
    def commitBands(batchId: Long, delta: DataFrame, rows: Long): Unit = {
      bandSink.addBatch(batchId, delta); release(delta)
    }
    def commitShingles(batchId: Long, delta: DataFrame, rows: Long): Unit = {
      shingleSink.addBatch(batchId, delta); release(delta)
    }

    private def strip(df: DataFrame): DataFrame = df.drop("_batch_id", "_part_id")
    private def read(sink: LakeSink): Option[DataFrame] =
      if (sink.committed().exists(_.rows > 0)) Some(strip(sink.read(spark)))
      else None
  }

  private[streaming] def shinglesOf(batch: DataFrame, k: Int): DataFrame =
    // fan the batch out before shingling: a batch carved from a one-file
    // scan (the replay drivers) or a few-file trigger plans as 1-4 tasks,
    // serializing the per-row shingle+minhash work; no-op when the batch
    // already has session-parallelism partitions (Par.fanOut)
    graft.operators.Par.fanOut(batch, col("doc_id"))
      .select(col("doc_id"), TextOps.shingleArr(col("text"), k).as("sh"))

  /** Candidates: new↔new (band self-join, i<j) plus new↔existing (band
    * index equi-join) — never a scan of old documents. The new↔old side
    * drops self-pairs (`o.doc_id =!= n.doc_id` — harmless in normal
    * operation where old and new ids are disjoint, load-bearing on durable
    * replay where the crashed batch's own bands are already in the index)
    * and is normalized to (least, greatest) so a replay-induced reversed
    * pair lands on the same row the self-join emitted and `distinct()`
    * genuinely absorbs it — keeping the nCandidatePairs/nVerifiedPairs
    * audit stats exact under redelivery, not just the labels (r5 ADVICE). */
  private[streaming] def candidatePairs(newBands: DataFrame,
                                        bandsState: Option[DataFrame]): DataFrame = {
    val newNew = newBands.as("x").join(newBands.as("y"),
        col("x.band") === col("y.band") && col("x.bkey") === col("y.bkey") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("id_a"), col("y.doc_id").as("id_b"))
    val newOld = bandsState match {
      case Some(idx) => idx.as("o").join(newBands.as("n"),
          col("o.band") === col("n.band") && col("o.bkey") === col("n.bkey") &&
            col("o.doc_id") =!= col("n.doc_id"))
        .select(least(col("o.doc_id"), col("n.doc_id")).as("id_a"),
          greatest(col("o.doc_id"), col("n.doc_id")).as("id_b"))
      case None => newNew.limit(0)
    }
    newNew.union(newOld).distinct()
  }

  /** Exact-Jaccard scoring of every candidate — candidate ids only, via id
    * equi-join; emits `(id_a, id_b, ok)` with the threshold verdict as a
    * flag instead of a filter, so ONE candidate-sized materialization
    * serves both the nCandidatePairs stat and the verified set.
    * round(,6) BEFORE the threshold compare — the same set-Jaccard kernel
    * as the batch path, so a boundary pair never flips between the two. */
  private[streaming] def scoredPairs(cands: DataFrame, allSh: DataFrame,
                                     threshold: Double): DataFrame =
    cands
      .join(allSh.select(col("doc_id").as("id_a"), col("sh").as("sh_a")), Seq("id_a"))
      .join(allSh.select(col("doc_id").as("id_b"), col("sh").as("sh_b")), Seq("id_b"))
      .select(col("id_a"), col("id_b"),
        (graft.functions.Signatures.setJaccardCol(col("sh_a"), col("sh_b")) >= threshold)
          .as("ok"))

  /** Result of the rep-collapsed contraction: `nextLabels` is a PLAN
    * (caller materializes — checkpoint or lake write), `comp` and `scratch`
    * are checkpointed batch-scoped frames the caller must [[release]] after
    * materializing `nextLabels`. `nTouchedReps` counts the contraction
    * nodes that were existing cluster reps. */
  private[graft] final case class LabelMerge(
      nextLabels: DataFrame, comp: DataFrame, scratch: Seq[DataFrame],
      nNodes: Long, nTouchedReps: Long, ccRounds: Int)

  /** Collapse verified-pair endpoints to their current reps, run connected
    * components on the batch-sized contraction, and patch the label table.
    * None when the collapsed graph is empty (all pairs internal to existing
    * clusters). */
  private[graft] def labelMerge(verified: DataFrame,
                                labelsState: Option[DataFrame]): Option[LabelMerge] = {
    // collapse existing endpoints to their current reps (docs without a
    // label row — new docs and old singletons — represent themselves).
    // `is_rep_x`: the endpoint collapsed from a label row, so its node is an
    // existing rep. Every rep has its own label row, so the flag is a
    // function of the node: deduplicating on the edge alone loses nothing
    // (and keeps a plain edge distinct's partitioning, hence the committed
    // label files), and nTouchedReps comes from the collected edges
    val collapsed = labelsState.fold(verified.select(col("id_a"), col("id_b"),
        lit(false).as("is_rep_a"), lit(false).as("is_rep_b"))) { lbl =>
      verified
        .join(lbl.select(col("doc_id").as("id_a"), col("rep").as("rep_a")),
          Seq("id_a"), "left")
        .join(lbl.select(col("doc_id").as("id_b"), col("rep").as("rep_b")),
          Seq("id_b"), "left")
        .select(coalesce(col("rep_a"), col("id_a")).as("id_a"),
          coalesce(col("rep_b"), col("id_b")).as("id_b"),
          col("rep_a").isNotNull.as("is_rep_a"), col("rep_b").isNotNull.as("is_rep_b"))
    }.filter(col("id_a") =!= col("id_b")).dropDuplicates("id_a", "id_b")
      .localCheckpoint(false) // lazy: the count below materializes it
    // the contraction graph is batch-sized BY CONSTRUCTION (endpoints are
    // batch docs ∪ touched reps — the property StreamingSpec asserts), so
    // its node count and components come from ONE bounded collect + driver
    // union-find instead of a distinct-count job plus the CC job chain
    // (~8 scheduled jobs per microbatch on sub-second data). Graphs past
    // the same bound the CC hybrid uses fall back to the distributed loop.
    // 2^18 edges ≈ 4 MB collected, ≤ ~0.5M-node LocalRelation — small
    // enough to ride plans as a broadcast; past it, the distributed loop
    val localLimit = 1L << 18
    val nEdges = collapsed.count()
    val longIds = Seq("id_a", "id_b").forall(
      collapsed.schema(_).dataType == org.apache.spark.sql.types.LongType)
    if (nEdges == 0) { release(collapsed); None }
    else if (nEdges <= localLimit && longIds) {
      val spark = collapsed.sparkSession
      import spark.implicits._
      val rows = collapsed.collect()
      val edges = rows.map(r => (r.getLong(0), r.getLong(1)))
      val nTouched = rows.iterator
        .flatMap(r => Iterator(r.getLong(0) -> r.getBoolean(2), r.getLong(1) -> r.getBoolean(3)))
        .collect { case (v, true) => v }.toSet.size.toLong
      val parent = new java.util.HashMap[Long, Long](edges.length * 2)
      def find(x: Long): Long = {
        var r = x
        while (parent.getOrDefault(r, r) != r) r = parent.get(r)
        var c = x
        while (parent.getOrDefault(c, c) != c) {
          val nxt = parent.get(c); parent.put(c, r); c = nxt
        }
        r
      }
      edges.foreach { case (a, b) =>
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent.put(math.max(ra, rb), math.min(ra, rb))
      }
      val nodes = edges.iterator.flatMap { case (a, b) => Iterator(a, b) }
        .toArray.distinct
      // LocalRelation — joins against it broadcast; nothing to release
      val comp = nodes.map(v => (v, find(v))).toSeq.toDF("node", "new_rep")
      val nextLabels = patchLabels(comp, labelsState)
      Some(LabelMerge(nextLabels, comp, Seq(collapsed), nodes.length.toLong,
        nTouched, 0))
    } else {
      val edges = collapsed.select("id_a", "id_b")
      val nNodes = edges.select(explode(array(col("id_a"), col("id_b"))))
        .distinct().count()
      val (comp0, rounds) = CorpusOps.connectedComponentsWithRounds(edges)
      val comp = comp0.toDF("node", "new_rep").localCheckpoint(true)
      Some(LabelMerge(patchLabels(comp, labelsState), comp,
        Seq(collapsed, comp), nNodes, touchedReps(comp, labelsState), rounds))
    }
  }

  /** Patch the label table: rows of touched clusters re-point at the merged
    * rep; contraction nodes without a label row get fresh rows. */
  private def patchLabels(comp: DataFrame,
                          labelsState: Option[DataFrame]): DataFrame =
    labelsState match {
      case Some(lbl) =>
        val updated = lbl
          .join(comp.withColumnRenamed("node", "rep"), Seq("rep"), "left")
          .select(col("doc_id"),
            coalesce(col("new_rep"), col("rep")).as("rep"))
        val fresh = comp
          .join(lbl.select("doc_id"), col("node") === col("doc_id"),
            "left_anti")
          .select(col("node").as("doc_id"), col("new_rep").as("rep"))
        updated.union(fresh)
      case None =>
        comp.select(col("node").as("doc_id"), col("new_rep").as("rep"))
    }

  /** Contraction nodes that are existing cluster reps, by join — the
    * distributed fallback's count (the local path reads it off the
    * collapsed edges). */
  private[graft] def touchedReps(comp: DataFrame,
                                 labelsState: Option[DataFrame]): Long =
    labelsState.fold(0L)(lbl =>
      comp.join(lbl.select(col("rep").as("node")).distinct(), Seq("node"))
        .count())

  /** Batch-shaped driver for the ORACLE GATE (`q_dup_clusters_incremental`):
    * replays the documents table as `nChunks` microbatches (doc_id mod
    * chunking — arrival order must not matter) through a fresh
    * [[IncrementalDedup]] and returns the final labels. The DuckDB oracle
    * is the SAME recursive-CTE connected-components query that checks
    * [[graft.operators.CorpusOps.dupClusters]]: the hard correctness signal
    * that incremental maintenance converges to exactly the batch answer on
    * real data, not just the spec fixture. */
  def replayClusters(spark: SparkSession, dir: String,
                     threshold: Double = 0.5, nChunks: Int = 3): DataFrame = {
    val inc = new IncrementalDedup(threshold)
    replay(spark, dir, nChunks)((_, b) => inc.addBatch(b))
    inc.labels
  }

  /** [[replayClusters]] over lake state — same oracle contract, state
    * flowing through [[DurableIncrementalDedup]]'s LakeSinks
    * (`q_dup_clusters_durable`). */
  def replayClustersDurable(spark: SparkSession, dir: String, lakePath: String,
                            threshold: Double = 0.5, nChunks: Int = 3): DataFrame = {
    val inc = new DurableIncrementalDedup(spark, lakePath, threshold)
    replay(spark, dir, nChunks)(inc.addBatch)
    inc.labels
  }

  private def replay(spark: SparkSession, dir: String, nChunks: Int)(
      add: (Long, DataFrame) => BatchStats): Unit = {
    val docs = TextOps.documents(spark, dir).select(col("doc_id"), col("text"))
    (0 until nChunks).foreach { c =>
      add(c.toLong, docs.filter(pmod(col("doc_id"), lit(nChunks)) === c))
    }
  }
}

/** Restart-durable incremental near-dup maintenance: the
  * [[IncrementalDedup]] engine over [[IncrementalDedup.LakeState]], every
  * state table written through [[LakeSink]] — band/shingle deltas as
  * append-only batch commits, the label table as one full generation per
  * label-changing batch. A driver restart loses NOTHING: a new instance
  * over the same `lakePath` reads the committed manifests and continues
  * (StreamingSpec asserts label parity between an interrupted and an
  * uninterrupted run).
  *
  * Replay protocol (crash anywhere, re-deliver the batch):
  * commit ORDER is labels → bands → shingles, and the SHINGLE commit is the
  * batch's completion marker —
  *  - shingles committed → the whole batch landed → replay is a no-op;
  *  - labels committed but bands/shingles not → the label recompute is
  *    skipped (its gen is the marker) and the deterministic band/shingle
  *    deltas are recomputed from the batch and committed (LakeSink's own
  *    accountsFor gate makes each idempotent);
  *  - crash before the labels commit → full recompute. The recompute is
  *    consistent even when the crashed batch's bands ARE already committed
  *    (possible only for batches that changed no labels): the new↔old join
  *    then re-yields the batch's own pairs, but self-pairs are filtered at
  *    the join and cross-pairs are normalized to (least, greatest) before
  *    `distinct()`, so they collapse onto the new↔new self-join's rows —
  *    labels AND audit stats match the uncrashed run exactly.
  *
  * Read amplification note: each batch reads the band index and shingle
  * store from parquet instead of session-cached frames — the price of
  * restart durability without an index service. Both reads are equi-join
  * probes (band keys, candidate ids), so at cluster scale they are
  * column-pruned scans that AQE keeps on the small side of each join; the
  * in-memory class remains the right choice for single-session audits
  * (`q_dup_clusters_incremental` default). */
class DurableIncrementalDedup(spark: SparkSession, lakePath: String,
                              threshold: Double = 0.5, k: Int = 3) {

  private val engine = new IncrementalDedup(
    new IncrementalDedup.LakeState(spark, lakePath), threshold, k)

  /** Current labels: the newest committed generation (empty frame with the
    * right schema when no batch has produced pairs yet). */
  def labels: DataFrame = engine.labels

  /** Ingest one microbatch `(doc_id, text)` under the replay protocol
    * above. Safe to call again with the same `batchId` after any crash —
    * exactly-once state, like the [[LakeSink]] data path itself. */
  def addBatch(batchId: Long, batch: DataFrame): IncrementalDedup.BatchStats =
    engine.addBatch(batchId, batch)
}
