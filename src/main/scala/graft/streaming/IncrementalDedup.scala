package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{CorpusOps, TextOps}

/** Incremental near-dup cluster maintenance for a STREAMING corpus — the
  * piece batch [[CorpusOps.dupClusters]] cannot provide: its label cache
  * assumes an immutable snapshot, so a growing corpus would re-run LSH +
  * connected components over ALL documents every microbatch (O(corpus) work
  * per batch — a non-starter when the corpus is 100 TB and the batch is
  * 1 GB).
  *
  * State is two tables: `docs` `(doc_id, sh, bk)` — each document's
  * shingle set and its LSH band keys ([[TextOps.bandKeys]], the same single
  * banding definition as the batch path's [[TextOps.bandBuckets]]), band b
  * at index b — and `labels` `(doc_id, rep)`. Per microbatch of new
  * documents the engine touches ONLY batch-proportional data:
  *
  *  1. candidate pairs: the batch's band buckets (`posexplode(bk)`)
  *     self-joined (new↔new) and equi-joined against the stored docs' band
  *     buckets (new↔existing). Band equi-joins, never a scan of old
  *     documents' text.
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
  * phases, and reads and writes the two tables through a
  * [[IncrementalDedup.State]] backend. The public constructor here keeps
  * state in the session ([[IncrementalDedup.SessionState]]: checkpointed
  * deltas — fastest; dies with the driver, and replay-gating belongs to
  * the caller). [[DurableIncrementalDedup]] runs the same engine over
  * [[IncrementalDedup.LakeState]] — two [[LakeSink]]s with crash-atomic
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
    * would double-insert its docs, so gate on batchId like [[LakeSink]]
    * does — or use [[DurableIncrementalDedup]], whose state gates
    * internally. */
  def addBatch(batch: DataFrame): BatchStats = addBatch(0L, batch)

  /** The engine: docs pass → candidate+verify → label merge → commit
    * labels → commit docs, each phase's jobs labelled `<state.prefix><phase>`;
    * the docs pass and the docs commit run as `shingle batch` and `commit
    * shingles`, the phase names perfbench's census reads. `batchId` matters
    * only to a state with replay gates. */
  private[streaming] def addBatch(batchId: Long, batch: DataFrame): BatchStats = {
    if (state.completed(batchId)) return BatchStats(0L, 0L, 0L, 0L, 0L, 0)
    def phase[T](name: String)(body: => T): T =
      labeled(batch, state.prefix + name)(body)
    // LAZY checkpoint (the no-arg localCheckpoint() is eager): the tally is
    // the one job that computes shingles and band keys and stores the
    // checkpoint blocks as it goes. The candidate self-join reads the
    // batch's bands on three legs; each is a posexplode of `bk` off those
    // blocks, so the signature pass runs once
    val (docs, nNew) = phase("shingle batch") {
      val df = docsOf(batch, k).localCheckpoint(false)
      (df, tally(df, lit(true))._1) }

    var stats = BatchStats(nNew, 0L, 0L, 0L, 0L, 0)
    // batch-scoped checkpoints (scored candidates, contraction graph,
    // component labels) are dead once the batch commits — released before
    // returning so a long-lived session's storage is state only, not
    // scratch from every batch ever processed
    val scratch = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    if (!state.labelsCommitted(batchId)) {
      // candidates + verification materialize as ONE checkpoint of the
      // candidate-sized scored frame (jaccard-threshold flag kept, not yet
      // filtered), and both stats come from the one tally job that stores
      // its blocks
      val stored = state.docs
      val allSh = stored.fold(docs)(_.union(docs)).select("doc_id", "sh")
      val (scored, nCands, nVerified) = phase("candidate+verify") {
        val df = scoredPairs(candidatePairs(bandsOf(docs), stored.map(bandsOf)),
          allSh, threshold).localCheckpoint(false)
        val (n, ok) = tally(df, coalesce(col("ok"), lit(false)))
        (df, n, ok) }
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
    // the docs delta last: on lake state its commit marks the batch complete.
    // Verification read the same checkpoint, so the engine (not the commit)
    // releases it, once, unless the state kept it as a delta
    if (!phase("commit shingles")(state.commitDocs(batchId, docs, nNew))) scratch += docs
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
    * underlying checkpoint RDD itself (review r4 ADVICE). It releases EVERY
    * checkpoint under `df`'s plan, so release a frame only when each of
    * them is dead. */
  private[graft] def release(df: DataFrame): Unit =
    org.apache.spark.sql.graftbridge.Bridge.releaseLocalCheckpointQuietly(df)

  /** Rows of `df`, and rows where `flag` holds, in ONE job — over a lazy
    * checkpoint, the job that stores its blocks. A `count()` or a global
    * aggregate is two jobs under AQE: its exchange runs as a job of its
    * own. */
  private def tally(df: DataFrame, flag: Column): (Long, Long) = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(flag).as[Boolean].mapPartitions { it =>
      var n = 0L
      var t = 0L
      it.foreach { b => n += 1; if (b) t += 1 }
      Iterator(n -> t)
    }.collect().foldLeft((0L, 0L)) { case ((n, t), (a, b)) => (n + a, t + b) }
  }

  /** Where the engine's two tables live.
    *
    * Ownership: a commit never releases what it is handed. The engine's
    * docs checkpoint is read by verification and by the docs commit, so the
    * engine releases it after the commit — unless `commitDocs` returns true:
    * the state kept that frame as a delta and now owns its blocks. */
  private[streaming] sealed trait State {
    /** Job-description prefix of every phase run over this state. */
    def prefix: String
    /** The batch fully committed earlier: a redelivery is a no-op. */
    def completed(batchId: Long): Boolean
    /** The batch's label generation committed earlier: skip its recompute. */
    def labelsCommitted(batchId: Long): Boolean
    def ingested: Boolean
    def docs: Option[DataFrame]   // (doc_id, sh, bk)
    def labels: Option[DataFrame] // (doc_id, rep)
    def commitLabels(batchId: Long, next: DataFrame): Unit
    /** Commit the batch's docs delta; true when the state kept `delta`
      * itself (see the ownership rule above). */
    def commitDocs(batchId: Long, delta: DataFrame, rows: Long): Boolean
  }

  /** Session-local state, no replay gates. The docs table is an APPEND-ONLY
    * vector of per-batch checkpointed deltas, and a read is their union —
    * each leaf is already materialized, so appending a batch costs
    * O(batch), never a rewrite of the accumulated corpus state. The label
    * table is the one state that mutates in place (reps re-point on
    * merges); it is label-sized, rewritten only on batches that produce
    * pairs, and the replaced generation is released. */
  private[streaming] final class SessionState extends State {
    private var docDeltas = Vector.empty[DataFrame]
    private var current: Option[DataFrame] = None
    var ingested = false

    val prefix = "dedup: "
    def completed(batchId: Long): Boolean = false
    def labelsCommitted(batchId: Long): Boolean = false
    def docs: Option[DataFrame] = docDeltas.reduceOption(_ union _)
    def labels: Option[DataFrame] = current

    def commitLabels(batchId: Long, next: DataFrame): Unit = {
      val prev = current
      current = Some(next.localCheckpoint(true))
      // the replaced generation's checkpoint blocks are dead — drop them
      prev.foreach(release)
    }

    /** Keep a delta; an empty one (idle stream tick) is not kept, or every
      * empty batch would hold its checkpoint for the session lifetime. Past
      * 64 leaves, fold the vector into one checkpointed frame and free the
      * kept blocks — amortized O(corpus/64) per batch, plan width ≤ 64.
      * (Lake state doesn't need this: there the "union" is a file listing
      * and compaction is the sink's tiered background job.) */
    def commitDocs(batchId: Long, delta: DataFrame, rows: Long): Boolean = {
      ingested = true
      if (rows == 0) false
      else if (docDeltas.size + 1 < 64) { docDeltas :+= delta; true }
      else {
        val folded = (docDeltas :+ delta).reduce(_ union _).localCheckpoint(true)
        docDeltas.foreach(release)
        docDeltas = Vector(folded)
        false
      }
    }
  }

  /** Lake state: each table is a [[LakeSink]] under `lakePath` — `docs`
    * deltas as append-only batch commits, the label table as one full
    * generation per label-changing batch. Owns the replay gates of
    * [[DurableIncrementalDedup]]'s protocol. A lake in the older
    * three-table layout (`bands/`, `shingles/`, `labels/`) fails at once:
    * read as this layout it would look like an empty docs table, and the
    * next batch would silently miss every stored near-dup. */
  private[streaming] final class LakeState(spark: SparkSession, lakePath: String)
      extends State {
    private def has(table: String) = java.nio.file.Files.exists(
      java.nio.file.Paths.get(lakePath, table))
    if (!has("docs") && (has("bands") || has("shingles")))
      throw new IllegalStateException(s"$lakePath holds near-dup state in the " +
        "old three-table layout (bands/, shingles/, labels/) with no docs/ " +
        "table; this engine keeps two tables (docs/, labels/) and cannot read " +
        "it. Rebuild the state by replaying the corpus into a new lake path.")
    private val docSink = new LakeSink(s"$lakePath/docs")
    private val labelSink = new LakeSink(s"$lakePath/labels")

    val prefix = "durdedup: "
    def completed(batchId: Long): Boolean = docSink.accountsFor(batchId)
    def labelsCommitted(batchId: Long): Boolean = labelSink.accountsFor(batchId)
    def ingested: Boolean = docSink.committed().nonEmpty
    def docs: Option[DataFrame] =
      if (docSink.committed().exists(_.rows > 0)) Some(strip(docSink.read(spark)))
      else None

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
    def commitDocs(batchId: Long, delta: DataFrame, rows: Long): Boolean = {
      docSink.addBatch(batchId, delta); false
    }

    private def strip(df: DataFrame): DataFrame = df.drop("_batch_id", "_part_id")
  }

  /** The batch's `(doc_id, sh, bk)` rows: shingle set and band keys in one
    * pass. */
  private[streaming] def docsOf(batch: DataFrame, k: Int): DataFrame =
    // fan the batch out before shingling: a batch carved from a one-file
    // scan (the replay drivers) or a few-file trigger plans as 1-4 tasks,
    // serializing the per-row shingle+minhash work; no-op when the batch
    // already has session-parallelism partitions (Par.fanOut)
    graft.operators.Par.fanOut(batch, col("doc_id"))
      .select(col("doc_id"), TextOps.shingleArr(col("text"), k).as("sh"))
      .select(col("doc_id"), col("sh"), TextOps.bandKeys(col("sh")).as("bk"))

  /** Band buckets `(doc_id, band, bkey)` of a docs table. */
  private def bandsOf(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), posexplode(col("bk"))).toDF("doc_id", "band", "bkey")

  /** Candidates: new↔new (band self-join, i<j) plus new↔existing (band
    * index equi-join) — never a scan of old documents. The new↔old side
    * drops self-pairs (`o.doc_id =!= n.doc_id`) and is normalized to
    * (least, greatest), so a pair it shares with the self-join lands on the
    * same row and `distinct()` absorbs it. Old and new ids are disjoint
    * when upstream feeds each doc once, and the durable protocol's docs
    * commit marks a batch complete, so a replay never finds its own docs
    * in the index; the guard keeps the audit stats exact for a caller that
    * re-feeds a doc anyway. No repartition before `distinct()`: each task
    * of the verify joins would rebuild the broadcast shingle relation
    * (measured slower). */
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
    // label files), and nTouchedReps and the fresh label rows come from
    // the collected edges
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
      .localCheckpoint(false) // lazy: the bounded collect below materializes it
    // the contraction graph is batch-sized BY CONSTRUCTION (endpoints are
    // batch docs ∪ touched reps — the property StreamingSpec asserts), so
    // its node count and components come from ONE bounded collect + driver
    // union-find instead of a distinct-count job plus the CC job chain
    // (~8 scheduled jobs per microbatch on sub-second data). The collect
    // also decides the path: more than the bound's rows, and the graph
    // goes to the same distributed loop the CC hybrid uses.
    // 2^18 edges ≈ 4 MB collected, ≤ ~0.5M-node LocalRelation — small
    // enough to ride plans as a broadcast; past it, the distributed loop
    val localLimit = 1 << 18
    val head = collapsed.limit(localLimit + 1).collect()
    val longIds = Seq("id_a", "id_b").forall(
      collapsed.schema(_).dataType == org.apache.spark.sql.types.LongType)
    if (head.isEmpty) { release(collapsed); None }
    else if (head.length <= localLimit && longIds) {
      val spark = collapsed.sparkSession
      import spark.implicits._
      val edges = head.map(r => (r.getLong(0), r.getLong(1)))
      // node → collapsed from a label row, i.e. an existing rep (which has
      // its own row); a node without the flag has no label row
      val isRep = new java.util.HashMap[Long, Boolean](edges.length * 2)
      head.foreach { r =>
        isRep.put(r.getLong(0), r.getBoolean(2)); isRep.put(r.getLong(1), r.getBoolean(3))
      }
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
      // LocalRelations — joins against them broadcast; nothing to release
      val comp = nodes.map(v => (v, find(v))).toSeq.toDF("node", "new_rep")
      val fresh = nodes.filterNot(isRep.get).map(v => (v, find(v))).toSeq
        .toDF("doc_id", "rep")
      val nextLabels = patchLabels(comp, labelsState, Some(fresh))
      Some(LabelMerge(nextLabels, comp, Seq(collapsed), nodes.length.toLong,
        nodes.count(isRep.get).toLong, 0))
    } else {
      val edges = collapsed.select("id_a", "id_b")
      val nNodes = edges.select(explode(array(col("id_a"), col("id_b"))))
        .distinct().count()
      val (comp0, rounds) = CorpusOps.connectedComponentsWithRounds(edges)
      val comp = comp0.toDF("node", "new_rep").localCheckpoint(true)
      Some(LabelMerge(patchLabels(comp, labelsState, None), comp,
        Seq(collapsed, comp), nNodes, touchedReps(comp, labelsState), rounds))
    }
  }

  /** Patch the label table: rows of touched clusters re-point at the merged
    * rep; contraction nodes without a label row get fresh rows — `fresh`
    * when the caller knows them (the local path), else found by an anti
    * join against the label table. */
  private def patchLabels(comp: DataFrame, labelsState: Option[DataFrame],
                          fresh: Option[DataFrame]): DataFrame =
    labelsState match {
      case Some(lbl) =>
        val updated = lbl
          .join(comp.withColumnRenamed("node", "rep"), Seq("rep"), "left")
          .select(col("doc_id"),
            coalesce(col("new_rep"), col("rep")).as("rep"))
        updated.union(fresh.getOrElse(comp
          .join(lbl.select("doc_id"), col("node") === col("doc_id"),
            "left_anti")
          .select(col("node").as("doc_id"), col("new_rep").as("rep"))))
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
  * [[IncrementalDedup]] engine over [[IncrementalDedup.LakeState]], both
  * state tables written through [[LakeSink]] — `docs` deltas
  * `(doc_id, sh, bk)` as append-only batch commits, the label table as one
  * full generation per label-changing batch. A driver restart loses
  * NOTHING: a new instance over the same `lakePath` reads the committed
  * manifests and continues (StreamingSpec asserts label parity between an
  * interrupted and an uninterrupted run). A lake in the older three-table
  * layout (`bands/`, `shingles/`) fails at construction.
  *
  * Replay protocol (crash anywhere, re-deliver the batch):
  * commit ORDER is labels → docs, and the DOCS commit is the batch's
  * completion marker —
  *  - docs committed → the whole batch landed → replay is a no-op;
  *  - labels committed but docs not → the label recompute is skipped (its
  *    gen is the marker) and the deterministic docs delta is recomputed
  *    from the batch and committed (LakeSink's own accountsFor gate makes
  *    it idempotent);
  *  - crash before the labels commit (or a batch that changed no labels,
  *    before its docs commit) → full recompute against the state of the
  *    batches before it, so labels AND audit stats match the uncrashed run
  *    exactly.
  *
  * Read amplification note: each batch reads the docs table from parquet
  * instead of session-cached frames — the price of restart durability
  * without an index service. Both reads are equi-join probes (band keys
  * from the `bk` column, shingle sets from `sh` by candidate id), so at
  * cluster scale they are column-pruned scans that AQE keeps on the small
  * side of each join; the in-memory class remains the right choice for
  * single-session audits (`q_dup_clusters_incremental` default). */
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
