package graft

import graft.operators.BpeTrainer

/** Distributed BPE training: learned merges are deterministic, the encode
  * side reproduces the trainer's output, and token counts shrink. */
class BpeTrainerSpec extends SparkSuite {
  import spark.implicits._

  test("learns the planted most-frequent pair first, with deterministic tiebreak") {
    // corpus: (1,2) appears 6 times, (2,3) 3 times, (3,1) 3 times
    val corpus = Seq(
      Array(1, 2, 3, 1, 2), Array(1, 2, 3, 1, 2), Array(1, 2, 3, 1, 2)
    ).toDS()
    val (merges, out) = BpeTrainer.train(corpus.repartition(2), nMerges = 2)
    assert(merges.head.left === 1 && merges.head.right === 2)
    assert(merges.head.newId === 4) // max token 3 → fresh ids from 4
    assert(merges.head.count === 6)
    // after merging (1,2)→4 the corpus is (4,3,4)×3: (3,4) and (4,3) tie at
    // 3 occurrences — the deterministic key-asc tiebreak picks (3,4)
    assert((merges(1).left, merges(1).right) === (3, 4))
    val seqs = out.collect()
    assert(seqs.forall(_.sameElements(Array(4, 5))))
  }

  test("greedy left-to-right rewrite handles overlapping runs correctly") {
    assert(BpeTrainer.mergeOnce(Array(7, 7, 7), 7, 7, 9).sameElements(Array(9, 7)))
    assert(BpeTrainer.mergeOnce(Array(7, 7, 7, 7), 7, 7, 9).sameElements(Array(9, 9)))
    assert(BpeTrainer.mergeOnce(Array(1), 1, 1, 9).sameElements(Array(1)))
    assert(BpeTrainer.mergeOnce(Array.empty[Int], 1, 1, 9).isEmpty)
  }

  test("encode with the learned table reproduces the trainer's final corpus") {
    val corpus = graft.sources.Synth.inputTable(spark, 120)
      .select("tokens").as[Array[Int]]
    val (merges, trained) = BpeTrainer.train(corpus, nMerges = 8)
    assert(merges.nonEmpty)
    // merge order respected: applying the table to the RAW corpus must give
    // byte-identical sequences to the trainer's incremental rewrites
    val reEncoded = BpeTrainer.encode(corpus, merges)
      .collect().map(_.mkString(",")).sorted
    val direct = trained.collect().map(_.mkString(",")).sorted
    assert(reEncoded === direct)
    // compression is real and monotone
    val before = corpus.map(_.length.toLong).reduce(_ + _)
    val after = trained.map(_.length.toLong).reduce(_ + _)
    assert(after < before)
    // fresh ids never collide with corpus tokens
    val maxRaw = corpus.flatMap(s => s.headOption.map(_ => s.max)).reduce(_ max _)
    assert(merges.forall(_.newId > maxRaw))
    assert(merges.map(_.newId).distinct.length === merges.length)
  }

  test("stops early when no pair clears minCount") {
    val corpus = Seq(Array(1, 2), Array(3, 4)).toDS() // every pair unique
    val (merges, out) = BpeTrainer.train(corpus, nMerges = 5, minCount = 2)
    assert(merges.isEmpty)
    assert(out.collect().map(_.toSeq).toSet === Set(Seq(1, 2), Seq(3, 4)))
  }

  // ---- Batched trainer (k disjoint merges per round) -----------------------

  test("mergeBatch over disjoint pairs equals sequential mergeOnce in any order") {
    val seq = Array(1, 2, 3, 4, 1, 2, 4, 3, 2, 1)
    val pairMap = Map((1L << 32 | 2L) -> 9, (3L << 32 | 4L) -> 10)
    val batched = BpeTrainer.mergeBatch(seq, pairMap)
    val seqA = BpeTrainer.mergeOnce(BpeTrainer.mergeOnce(seq, 1, 2, 9), 3, 4, 10)
    val seqB = BpeTrainer.mergeOnce(BpeTrainer.mergeOnce(seq, 3, 4, 10), 1, 2, 9)
    assert(batched.sameElements(seqA) && batched.sameElements(seqB))
  }

  test("batched training learns the IDENTICAL merge table with >=5x fewer jobs") {
    // fixture with many token-disjoint frequent pairs at distinct counts —
    // the shape where batching pays (mid/late-stage BPE and multi-domain
    // corpora look like this: frequent pairs spread across many tokens).
    // 40 motifs, motif i = (2i, 2i+1) occurring (1000 - i) times as its own
    // row, so counts are distinct and supports disjoint.
    val corpus = (0 until 40).flatMap(i =>
      Seq.fill(1000 - i)(Array(2 * i, 2 * i + 1))).toDS()
      .repartition(8).persist()
    corpus.count()
    var seqResult: (Seq[BpeTrainer.Merge], _) = null
    var batResult: (Seq[BpeTrainer.Merge], org.apache.spark.sql.Dataset[Array[Int]]) = null
    val seqJobs = jobsIn { seqResult = BpeTrainer.train(corpus, nMerges = 40) }
    val batJobs = jobsIn { batResult = BpeTrainer.trainBatched(corpus, nMerges = 40) }
    assert(seqResult._1.length === 40, "fixture corpus supports 40 merges")
    // identical table: same pairs, same fresh ids, same recorded counts
    assert(batResult._1 === seqResult._1)
    assert(seqJobs >= 5 * batJobs,
      s"sequential $seqJobs jobs vs batched $batJobs — expected >=5x reduction")
    // and the rewritten corpus agrees with encode-from-raw
    val direct = batResult._2.collect().map(_.mkString(",")).sorted
    val re = BpeTrainer.encode(corpus, batResult._1.toSeq)
      .collect().map(_.mkString(",")).sorted
    assert(direct === re)
    corpus.unpersist()
    ()
  }

  test("batched == sequential on the synth token corpus (tie-heavy regime)") {
    // tie-dense counts truncate batches (the strict-cutoff rule is what
    // keeps the table identical), so the reduction here is smaller — the
    // guarantee that matters is identity, plus jobs strictly saved
    val corpus = graft.sources.Synth.inputTable(spark, 300)
      .select("tokens").as[Array[Int]].persist()
    corpus.count()
    var seqResult: (Seq[BpeTrainer.Merge], _) = null
    var batResult: (Seq[BpeTrainer.Merge], _) = null
    val seqJobs = jobsIn { seqResult = BpeTrainer.train(corpus, nMerges = 40) }
    val batJobs = jobsIn { batResult = BpeTrainer.trainBatched(corpus, nMerges = 40) }
    assert(batResult._1 === seqResult._1)
    assert(batJobs < seqJobs)
    corpus.unpersist()
    ()
  }

  test("batched == sequential across fuzzed corpora (ties, runs, tiny vocab)") {
    // small vocab + repeated runs maximise tie/overlap pressure — the cases
    // where an unsound batch rule would diverge from the sequential oracle
    val rnd = new scala.util.Random(20260817)
    (1 to 4).foreach { trial =>
      val vocab = 4 + rnd.nextInt(8)
      val corpus = Seq.fill(60)(
        Array.fill(8 + rnd.nextInt(40))(rnd.nextInt(vocab))).toDS().persist()
      corpus.count()
      val (seqM, _) = BpeTrainer.train(corpus, nMerges = 15)
      val (batM, _) = BpeTrainer.trainBatched(corpus, nMerges = 15, batchK = 8)
      assert(batM === seqM, s"trial $trial (vocab $vocab) diverged")
      corpus.unpersist()
      ()
    }
  }

test("unmerge inverts applyMerges; round-trip audit is perfect and compresses") {
    val rnd = new scala.util.Random(42)
    (1 to 5).foreach { _ =>
      val seq = Array.fill(50 + rnd.nextInt(100))(rnd.nextInt(6))
      val corpus = Seq(seq).toDS()
      val (merges, _) = BpeTrainer.trainBatched(corpus, nMerges = 10)
      val enc = BpeTrainer.applyMerges(seq, merges)
      assert(BpeTrainer.unmerge(enc, merges).toSeq === seq.toSeq)
    }
    val audit = BpeTrainer.roundTripAudit(spark, sf(), nMerges = 8).collect().head
    assert(audit.getLong(0) > 0)
    assert(audit.getLong(1) === audit.getLong(0), "every doc must round-trip")
    // and the merges actually shrank the corpus (otherwise the audit is vacuous)
    import spark.implicits._
    val docs = spark.read.parquet(sf() + "/documents.parquet")
      .select("text").as[String].map(graft.functions.TokenCodec.encodeString)
    val (merges, _) = BpeTrainer.trainBatched(docs, nMerges = 8)
    val encTok = docs.map(s => BpeTrainer.applyMerges(s, merges).length.toLong)
      .reduce(_ + _)
    assert(encTok < audit.getLong(2), s"encoded $encTok !< orig ${audit.getLong(2)}")
  }

  test("heap encoder == fold encoder across trained tables and fuzzed corpora") {
    val rnd = new scala.util.Random(2026)
    // trained tables (monotone by construction), tie-heavy tiny vocabs,
    // overlapping runs, self-pairs — every shape the fold handles
    (1 to 8).foreach { trial =>
      val vocab = 2 + rnd.nextInt(5)
      val corpus = Seq.fill(6)(
        Array.fill(30 + rnd.nextInt(120))(rnd.nextInt(vocab))).toDS()
      val (merges, _) = BpeTrainer.trainBatched(corpus, nMerges = 12)
      val t = BpeTrainer.encodeTable(merges)
      assert(t.monotone, s"trial $trial: trained table must be monotone")
      (1 to 20).foreach { _ =>
        val seq = Array.fill(rnd.nextInt(200))(rnd.nextInt(vocab))
        assert(BpeTrainer.applyMergesFast(seq, t).toSeq ===
          BpeTrainer.applyMerges(seq, merges).toSeq, s"trial $trial")
      }
      // degenerate inputs
      assert(BpeTrainer.applyMergesFast(Array.empty[Int], t).isEmpty)
      assert(BpeTrainer.applyMergesFast(Array(1), t).toSeq === Seq(1))
    }
    // hand-built MONOTONE chains (merge outputs consumed by later merges,
    // self-pairs) — fuzzed beyond what training happens to produce
    (1 to 30).foreach { trial =>
      val vocab = 2 + rnd.nextInt(4)
      var nextId = vocab
      val merges = (0 until 10).map { _ =>
        val l = rnd.nextInt(nextId) // may be a prior merge's output
        val r = rnd.nextInt(nextId)
        val m = BpeTrainer.Merge(l, r, nextId, 1L)
        nextId += 1
        m
      }.filterNot(m => m.left == m.newId || m.right == m.newId)
      val dedup = merges.foldLeft(Vector.empty[BpeTrainer.Merge])((acc, m) =>
        if (acc.exists(p => p.left == m.left && p.right == m.right)) acc
        else acc :+ m)
      val t = BpeTrainer.encodeTable(dedup)
      assert(t.monotone, s"trial $trial fixture should be monotone")
      (1 to 20).foreach { _ =>
        val seq = Array.fill(rnd.nextInt(150))(rnd.nextInt(vocab))
        assert(BpeTrainer.applyMergesFast(seq, t).toSeq ===
          BpeTrainer.applyMerges(seq, dedup).toSeq, s"monotone trial $trial")
      }
    }
    // NON-monotone table (merge 0 consumes merge 1's output — training can
    // never emit this): encodeTable must flag it so encode() takes the fold
    val bad = Seq(BpeTrainer.Merge(11, 1, 10, 1L), BpeTrainer.Merge(0, 0, 11, 1L))
    assert(!BpeTrainer.encodeTable(bad).monotone)
    val badIn = Seq(Array(0, 0, 1)).toDS()
    assert(BpeTrainer.encode(badIn, bad).collect().head.toSeq ===
      BpeTrainer.applyMerges(Array(0, 0, 1), bad).toSeq)
  }

  test("heap encoder is >=5x the fold at a 256-merge table (the 32k-vocab trajectory)") {
    // deterministic long corpus with enough pair diversity to learn 256
    // merges: the fold pays 256 full passes per doc, the heap pays one
    val rnd = new scala.util.Random(7)
    val docs = Seq.fill(24)(Array.fill(2000)(rnd.nextInt(24))).toDS()
    val (merges, _) = BpeTrainer.trainBatched(docs, nMerges = 256, batchK = 64)
    assert(merges.length >= 200, s"fixture learned only ${merges.length} merges")
    val t = BpeTrainer.encodeTable(merges)
    val seqs = Seq.fill(64)(Array.fill(2000)(rnd.nextInt(24)))
    def time(f: => Unit): Double = {
      val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
    }
    // warm both paths (JIT), then measure
    seqs.take(4).foreach { s =>
      BpeTrainer.applyMergesFast(s, t); BpeTrainer.applyMerges(s, merges)
    }
    val fast = time(seqs.foreach(BpeTrainer.applyMergesFast(_, t)))
    val fold = time(seqs.foreach(BpeTrainer.applyMerges(_, merges)))
    info(f"fold ${fold}%.3fs vs heap ${fast}%.3fs — ${fold / fast}%.1fx at 256 merges")
    assert(fold / fast >= 5.0,
      f"heap encoder only ${fold / fast}%.1fx the fold (want >=5x; " +
        "ratio grows with vocab — 32k would be ~100x)")
    // and they agree on this fixture too
    seqs.take(8).foreach(s =>
      assert(BpeTrainer.applyMergesFast(s, t).toSeq ===
        BpeTrainer.applyMerges(s, merges).toSeq))
  }
}
