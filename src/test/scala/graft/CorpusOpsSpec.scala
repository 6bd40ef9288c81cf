package graft

import org.apache.spark.sql.functions._

import graft.operators.CorpusOps

/** Corpus-preparation operators: repetition signals, packing, PII
  * redaction/pseudonymization, decontamination, sampling, vocabulary.
  * The DuckDB oracle covers value-exactness of the six driver queries;
  * these tests cover the invariants and plan shapes the oracle can't see. */
class CorpusOpsSpec extends SparkSuite {
  import spark.implicits._

  private val dir = sf("sf0.001")

  test("packing is gap-free and capacity-consistent within every bucket") {
    val rows = CorpusOps.packSequences(spark, dir, capacity = 256)
      .select("bucket", "doc_id", "n_tok", "start_off", "start_chunk", "end_chunk")
      .as[(Long, Long, Long, Long, Long, Long)].collect()
    rows.groupBy(_._1).foreach { case (_, docs) =>
      val sorted = docs.sortBy(_._2)
      // concatenation is gap-free: each doc starts where the previous ended
      sorted.sliding(2).foreach {
        case Array(a, b) => assert(b._4 === a._4 + a._3)
        case _ =>
      }
      sorted.foreach { case (_, _, nTok, off, sc, ec) =>
        assert(sc === off / 256)
        assert(ec === (off + nTok - 1) / 256)
        assert(sc <= ec)
      }
    }
  }

  test("pseudonymization is stable per user and never exposes the raw id") {
    val out = CorpusOps.pseudonymize(spark, dir)
    val withRaw = spark.read.parquet(s"$dir/events.parquet")
      .filter(col("event_id") < 2000).select("event_id", "user_id")
      .join(out, "event_id")
    val perUser = withRaw.groupBy("user_id")
      .agg(countDistinct("user_pseudo").as("n")).as[(Long, Long)].collect()
    assert(perUser.nonEmpty && perUser.forall(_._2 === 1L)) // stable mapping
    val collide = withRaw.groupBy("user_pseudo")
      .agg(countDistinct("user_id").as("n"))
      .filter(col("n") > 1).count()
    assert(collide === 0L) // injective on the corpus
    assert(!out.columns.contains("user_id"))
  }

  test("sampleRows matches the stratified audit counts exactly") {
    val audit = CorpusOps.stratifiedSample(spark, dir)
      .as[(String, Long, Long)].collect().map(r => r._1 -> r._3).toMap
    val kept = CorpusOps.sampleRows(graft.operators.TextOps.documents(spark, dir))
      .groupBy("source").count().as[(String, Long)].collect().toMap
    assert(kept === audit.filter(_._2 > 0))
    // per-source rates differ (that is the point of stratification)
    assert(audit.values.toSet.size > 1)
  }

  test("decontamination flags every exact duplicate of a benchmark doc") {
    // an exact copy of a bench doc shares all its shingles — must be flagged
    val docs = graft.operators.TextOps.documents(spark, dir)
    val benchTexts = docs.filter(col("doc_id") % 50 === 0)
      .select("text").as[String].collect().toSet
    val dupIds = docs.filter(col("doc_id") % 50 =!= 0)
      .filter(col("text").isin(benchTexts.toSeq: _*))
      .select("doc_id").as[Long].collect().toSet
    val flagged = CorpusOps.contamination(spark, dir)
      .select("doc_id").as[Long].collect().toSet
    assert(dupIds.subsetOf(flagged))
  }

  test("importance resampling: deterministic A-Res draw, target-like docs upweighted") {
    val s1 = CorpusOps.importanceSample(spark, dir)
      .as[(Long, Double, Double)].collect()
    val s2 = CorpusOps.importanceSample(spark, dir)
      .as[(Long, Double, Double)].collect()
    assert(s1.toSeq === s2.toSeq, "hash-derived draw must be reproducible")
    assert(s1.length === 20 && s1.forall(_._2 > 0))
    assert(s1.map(_._3).toSeq === s1.map(_._3).sortBy(-_).toSeq,
      "rows must arrive in key order")
    // DSIR sanity: the benchmark slice DEFINES the target LM, so its own
    // docs must carry higher importance weights than the rest on average
    val all = CorpusOps.importanceSample(spark, dir, k = 100000)
      .as[(Long, Double, Double)].collect()
    val (bench, rest) = all.partition(_._1 % 50 == 0)
    val mb = bench.map(_._2).sum / bench.length
    val mr = rest.map(_._2).sum / rest.length
    info(f"mean importance weight: bench ${mb}%.4f vs rest ${mr}%.4f")
    assert(mb > mr, "target-distribution docs must be upweighted")
    // the top-k plans as per-partition heaps + driver merge, never a
    // global single-reducer sort
    val plan = CorpusOps.importanceSample(spark, dir)
      .queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"), plan)
  }

  test("overlap-fraction contamination agrees with the hit-count pass; boundary is integer-exact") {
    val hits = CorpusOps.contamination(spark, dir)
      .as[(Long, Long)].collect().toMap
    val ov = CorpusOps.contaminationOverlap(spark, dir)
      .as[(Long, Long, Long, Double, Boolean)].collect()
    assert(ov.nonEmpty)
    ov.foreach { case (id, nSh, nHits, frac, flag) =>
      assert(nHits <= nSh)
      // same distinct-hit count as the membership pass (0 when absent there)
      assert(nHits === hits.getOrElse(id, 0L), s"doc $id")
      assert(math.abs(frac - nHits.toDouble / nSh) < 1e-6)
      // the flag is the integer comparison, not a float threshold
      assert(flag === (nHits * 5 >= nSh))
    }
    // every doc with zero hits must still be present (LEFT join, not inner)
    assert(ov.count(_._3 == 0) > 0)
  }

  test("sliding-window chunking tiles every document gap-free and shuffle-free") {
    val df = CorpusOps.chunkDocs(spark, dir, width = 64, stride = 48)
    // narrow projection end to end: no exchange anywhere in the plan
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"chunking must not shuffle:\n$plan")
    val nTok = graft.operators.TextOps.documents(spark, dir)
      .select(col("doc_id"), size(split(col("text"), " ")).cast("long"))
      .as[(Long, Long)].collect().toMap
    val rows = df.as[(Long, Long, Long, Long)].collect()
    assert(rows.map(_._1).distinct.length === nTok.size) // every doc chunks
    rows.groupBy(_._1).foreach { case (id, cs) =>
      val sorted = cs.sortBy(_._2)
      assert(sorted.head._3 === 0L) // first chunk starts at 0
      assert(sorted.last._4 === nTok(id)) // last chunk reaches the end
      sorted.zipWithIndex.foreach { case ((_, idx, start, end), i) =>
        assert(idx === i.toLong)
        assert(start === 48L * i) // the stride grid
        assert(end - start <= 64 && end > start)
      }
      // width > stride ⇒ consecutive chunks overlap, never gap
      sorted.sliding(2).foreach {
        case Array(a, b) => assert(b._3 < a._4, s"gap in doc $id")
        case _ =>
      }
    }
  }

  test("decontamination broadcasts the benchmark side (no corpus shuffle join)") {
    val p = CorpusOps.contamination(spark, dir).queryExecution.executedPlan.toString
    assert(p.contains("BroadcastHashJoin"), s"expected broadcast join:\n$p")
  }

  test("sampling filter evaluates scan-side — no shuffle before the filter") {
    val plan = CorpusOps.sampleRows(graft.operators.TextOps.documents(spark, dir))
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"row sampling must be a narrow op:\n$plan")
  }

  test("vocab topk ranks by corpus frequency with deterministic tiebreak") {
    val out = CorpusOps.vocabTopK(spark, dir, k = 10)
      .as[(String, Long, Long)].collect()
    assert(out.length === 10)
    // non-increasing counts; ties broken by word order
    out.sliding(2).foreach {
      case Array(a, b) =>
        assert(a._2 > b._2 || (a._2 === b._2 && a._1 < b._1))
      case _ =>
    }
    assert(out.forall(r => r._3 <= r._2)) // doc freq <= term freq
  }

  test("semantic dedup is the cosine-confirmed subset of the lexical pairs") {
    val lexical = graft.operators.TextOps.minhashLshPairs(spark, dir)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val semantic = CorpusOps.semanticDedupPairs(spark, dir)
      .select("id_a", "id_b", "cos").as[(Long, Long, Double)].collect()
    assert(semantic.map(t => (t._1, t._2)).toSet.subsetOf(lexical))
    assert(semantic.forall(_._3 >= 0.0))
    // candidate joins are id-keyed hash joins, never nested-loop
    val plan = CorpusOps.semanticDedupPairs(spark, dir)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("label centroids equal the per-label mean computed directly") {
    val centroids = CorpusOps.labelCentroids(spark, dir)
      .as[(Long, Long, Double)].collect()
      .map { case (l, d, c) => (l, d) -> c }.toMap
    val vecs = spark.read.parquet(s"$dir/embeddings.parquet")
      .select(col("label").cast("long"), col("embedding").cast("array<double>"))
      .as[(Long, Array[Double])].collect()
    val byLabel = vecs.groupBy(_._1)
    byLabel.foreach { case (l, rows) =>
      val dim = rows.head._2.length
      (0 until dim).foreach { d =>
        val mean = rows.map(_._2(d)).sum / rows.length
        assert(math.abs(centroids((l, d + 1L)) - mean) < 1e-6,
          s"label $l dim ${d + 1}")
      }
    }
    assert(centroids.size === byLabel.size * vecs.head._2.length)
  }

  test("connected components merge chains transitively with min-label reps") {
    // chain 1-2-3-4 (diameter 3) + island 10-11 + pair crossing: transitive
    // closure must label the whole chain with 1 even though (1,4) is no pair
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L))
      .toDF("id_a", "id_b")
    val comp = CorpusOps.connectedComponents(pairs)
      .as[(Long, Long)].collect().toMap
    assert(comp === Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L))
  }

  test("large-star/small-star converges on a diameter-1000 path in O(log n) rounds") {
    // the property min-label propagation cannot have: a path graph of 1001
    // nodes has diameter 1000, so label propagation needs 1000 rounds;
    // star contraction must finish in ~2·log2(n)
    val n = 1000
    val path = (0 until n).map(i => (i.toLong, i + 1L)).toDF("id_a", "id_b")
    // localEdgeLimit = 0 forces the DISTRIBUTED star-contraction loop — the
    // O(log n) property below is about that loop, not the size-gated
    // driver union-find fast path (tested separately for parity)
    val (labels, rounds) = CorpusOps.connectedComponentsWithRounds(
      path, maxIter = 25, localEdgeLimit = 0)
    val comp = labels.as[(Long, Long)].collect()
    assert(comp.length === n + 1)
    assert(comp.forall(_._2 === 0L), "whole path must collapse to rep 0")
    val bound = 2 * (math.log(n + 1) / math.log(2)).ceil.toInt + 2
    info(s"converged in $rounds rounds (bound $bound)")
    assert(rounds <= bound, s"$rounds rounds exceeds O(log n) bound $bound")
  }

  test("driver fast path and distributed star contraction agree on a random graph") {
    val rnd = new scala.util.Random(11)
    val edges = (1 to 500).map(_ => (rnd.nextInt(400).toLong, rnd.nextInt(400).toLong))
      .filter(e => e._1 != e._2)
    val viaDriver = CorpusOps.connectedComponents(edges.toDF("id_a", "id_b"))
      .as[(Long, Long)].collect().toMap
    val (viaSpark, _) = CorpusOps.connectedComponentsWithRounds(
      edges.toDF("id_a", "id_b"), maxIter = 25, localEdgeLimit = 0)
    assert(viaDriver === viaSpark.as[(Long, Long)].collect().toMap)
  }

  test("star contraction labels equal union-find ground truth on a random graph") {
    val rnd = new scala.util.Random(7)
    val edges = (1 to 400).map(_ => (rnd.nextInt(300).toLong, rnd.nextInt(300).toLong))
      .filter(e => e._1 != e._2)
    // driver-side union-find ground truth
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val nodes = edges.flatMap(e => Seq(e._1, e._2)).distinct
    val want = nodes.map(v => v -> find(v)).toMap
    // min-rep normalisation: union-find roots ARE component minima here
    // because unions always point the larger root at the smaller
    val got = CorpusOps.connectedComponents(edges.toDF("id_a", "id_b"))
      .as[(Long, Long)].collect().toMap
    assert(got === want)
  }

  test("dup clusters cover exactly the paired docs; survivors are longest-doc-per-cluster") {
    val pairDocs = graft.operators.TextOps.jaccardPairs(spark, dir)
      .select("id_a", "id_b").as[(Long, Long)].collect()
      .flatMap(p => Seq(p._1, p._2)).toSet
    val clusters = CorpusOps.dupClusters(spark, dir)
      .as[(Long, Long)].collect()
    assert(clusters.map(_._1).toSet === pairDocs)
    // each rep is a member of its own cluster and is the minimum
    val byRep = clusters.groupBy(_._2)
    byRep.foreach { case (rep, members) =>
      assert(members.map(_._1).min === rep)
    }
    val survivors = CorpusOps.dupSurvivors(spark, dir)
      .as[(Long, Long, Long)].collect()
    assert(survivors.length === byRep.size) // exactly one survivor per cluster
    val chars = graft.operators.TextOps.documents(spark, dir)
      .select("doc_id", "n_chars").as[(Long, Long)].collect().toMap
    survivors.foreach { case (rep, keep, n) =>
      val members = byRep(rep).map(_._1)
      assert(members.contains(keep))
      assert(n === chars(keep))
      assert(members.forall(m => chars(m) < n ||
        (chars(m) === n && m >= keep)), s"survivor not best in cluster $rep")
    }
  }

  test("training mix output passes quality, is near-dup-free, and packs gap-free") {
    val mix = CorpusOps.trainingMix(spark, dir)
      .select("doc_id", "bucket", "n_tok", "start_off")
      .as[(Long, Long, Long, Long)].collect()
    assert(mix.nonEmpty)
    val kept = mix.map(_._1).toSet
    // quality gate holds for every kept doc
    val stats = graft.operators.TextOps.quality(spark, dir)
      .select("doc_id", "n_words", "stop_ratio")
      .as[(Long, Long, Double)].collect().map(r => r._1 -> (r._2, r._3)).toMap
    kept.foreach { id =>
      assert(stats(id)._1 >= 30 && stats(id)._2 <= 0.25, s"doc $id fails quality")
    }
    // at most one member of every near-dup pair survives
    graft.operators.TextOps.jaccardPairs(spark, dir)
      .select("id_a", "id_b").as[(Long, Long)].collect()
      .foreach { case (a, b) =>
        assert(!(kept(a) && kept(b)), s"near-dup pair ($a,$b) both kept")
      }
    // packing is gap-free per bucket
    mix.groupBy(_._2).foreach { case (_, docs) =>
      docs.sortBy(_._1).sliding(2).foreach {
        case Array(x, y) => assert(y._4 === x._4 + x._3)
        case _ =>
      }
    }
  }

  test("span dedup matches a driver-side brute force; counts bounded") {
    val rows = CorpusOps.spanDedup(spark, dir)
      .select("doc_id", "n_windows", "n_shared", "dup_frac")
      .as[(Long, Long, Long, Double)].collect()
    rows.foreach { case (_, nw, ns, frac) =>
      assert(nw > 0 && ns >= 0 && ns <= nw)
      assert(math.abs(frac - ns.toDouble / nw) < 1e-5)
    }
    // driver-side brute force over the tiny sf: identical numbers expected
    val texts = graft.operators.TextOps.documents(spark, dir)
      .select("doc_id", "text").as[(Long, String)].collect()
    val windows = texts.map { case (id, t) =>
      id -> t.split(" ", -1).sliding(8).filter(_.length == 8)
        .map(_.mkString(" ")).toSet
    }.filter(_._2.nonEmpty)
    val docsPerWindow = windows.flatMap { case (id, s) => s.map(_ -> id) }
      .groupBy(_._1).map { case (s, g) => s -> g.map(_._2).distinct.length }
    val byId = rows.map(r => r._1 -> r).toMap
    assert(rows.length === windows.length)
    windows.foreach { case (id, s) =>
      val shared = s.count(docsPerWindow(_) >= 2)
      val (_, nw, ns, _) = byId(id)
      assert(nw === s.size && ns === shared, s"doc $id: ($nw,$ns) vs (${s.size},$shared)")
    }
    assert(rows.exists(_._3 > 0), "corpus should contain at least one shared span")
  }

  test("epoch shuffle: each epoch is a permutation, cells contiguous, orders differ") {
    val rows = CorpusOps.epochShuffle(spark, dir, epochs = 2, nShards = 8)
      .select("epoch", "shard", "doc_id", "pos")
      .as[(Long, Long, Long, Long)].collect()
    val nDocs = graft.operators.TextOps.documents(spark, dir).count()
    (0L to 1L).foreach { e =>
      val epoch = rows.filter(_._1 == e)
      assert(epoch.length === nDocs)
      assert(epoch.map(_._3).distinct.length === nDocs) // permutation
      epoch.groupBy(_._2).foreach { case (_, cell) =>
        assert(cell.map(_._4).sorted.toSeq === (1L to cell.length).toSeq)
      }
    }
    // different epochs produce different shard assignment / order for at
    // least some docs (the hash is keyed on the epoch)
    val e0 = rows.filter(_._1 == 0L).map(r => r._3 -> (r._2, r._4)).toMap
    val e1 = rows.filter(_._1 == 1L).map(r => r._3 -> (r._2, r._4)).toMap
    assert(e0.exists { case (id, v) => e1(id) != v })
    // sequence(0, -1) would DESCEND and emit spurious epochs — guarded
    intercept[IllegalArgumentException] {
      CorpusOps.epochShuffle(spark, dir, epochs = 0)
    }
    // the string-keyed token table shuffles through the same call
    val tok = CorpusOps.epochShuffleOn(
      Seq("x", "y", "z").toDF("doc_id"), epochs = 2, nShards = 2)
      .select("epoch", "doc_id", "pos").as[(Long, String, Long)].collect()
    assert(tok.length === 6)
    (0L to 1L).foreach { e =>
      assert(tok.filter(_._1 == e).map(_._2).toSet === Set("x", "y", "z"))
    }
  }

  test("bigram LM: operator matches a driver-side brute force on the tiny sf") {
    val texts = graft.operators.TextOps.documents(spark, dir)
      .select("doc_id", "text").as[(Long, String)].collect()
    val ws = texts.map { case (id, t) => id -> t.split(" ", -1) }
    val uni = ws.flatMap(_._2).groupBy(identity).map { case (w, g) => w -> g.length.toDouble }
    val total = ws.map(_._2.length).sum.toDouble
    val cb = ws.flatMap { case (_, a) => a.sliding(2).filter(_.length == 2).map(p => (p(0), p(1))) }
      .groupBy(identity).map { case (k, g) => k -> g.length.toDouble }
    val expected = ws.filter(_._2.length >= 2).map { case (id, a) =>
      val lps = a.sliding(2).filter(_.length == 2).map { p =>
        math.log(0.75 * (cb((p(0), p(1))) / uni(p(0))) + 0.25 * (uni(p(1)) / total))
      }.toSeq
      id -> (lps.size.toLong, lps.sum / lps.size)
    }.toMap
    val got = CorpusOps.bigramLogProb(spark, dir)
      .select("doc_id", "n_bigrams", "avg_logp")
      .as[(Long, Long, Double)].collect()
    assert(got.length === expected.size)
    got.foreach { case (id, n, lp) =>
      val (en, elp) = expected(id)
      assert(n === en)
      assert(math.abs(lp - elp) < 2e-6, s"doc $id: $lp vs $elp")
    }
  }

  test("fused quality score: keep is exactly the sign of z; both classes appear") {
    val rows = CorpusOps.qualityScore(spark, dir)
      .select("doc_id", "score", "keep").as[(Long, Double, Long)].collect()
    assert(rows.nonEmpty)
    rows.foreach { case (_, s, k) =>
      assert(s >= 0.0 && s <= 1.0)
      // keep ⇔ z ≥ 0 ⇔ sigmoid ≥ 0.5 (allow the round-6 boundary)
      assert((k == 1) === (s >= 0.5) || math.abs(s - 0.5) < 2e-6)
    }
    assert(rows.exists(_._3 == 1L) && rows.exists(_._3 == 0L),
      "the fixed weights should split the corpus into both classes")
  }

  test("temperature mix flattens toward uniform: weights sum to 1, extremes compressed") {
    val rows = CorpusOps.temperatureMix(spark, dir, alpha = 0.5)
      .select("source", "nat_share", "temp_weight")
      .as[(String, Double, Double)].collect()
    assert(rows.length > 1)
    assert(math.abs(rows.map(_._2).sum - 1.0) < 1e-4)
    assert(math.abs(rows.map(_._3).sum - 1.0) < 1e-4)
    // alpha < 1 compresses the distribution: the biggest source loses
    // share, the smallest gains
    val byNat = rows.sortBy(_._2)
    assert(byNat.last._3 < byNat.last._2, "dominant source must shrink")
    assert(byNat.head._3 > byNat.head._2, "smallest source must grow")
  }

  test("repetition signals: planted degenerate doc scores high, diverse doc low") {
    val df = Seq(
      (1L, Array.fill(50)("spam").mkString(" ")),
      (2L, (0 until 50).map(i => s"w$i").mkString(" "))
    ).toDF("doc_id", "text")
    df.createOrReplaceTempView("corpus_rep_test")
    // same expressions as the operator, against the planted frame
    val w = split(col("text"), " ")
    val out = df.select(col("doc_id"),
        round(lit(1.0) - size(array_distinct(w)).cast("double") / size(w), 6)
          .as("dupw"))
      .as[(Long, Double)].collect().toMap
    assert(out(1L) === 0.98)
    assert(out(2L) === 0.0)
  }

test("token budget: banded cumsum reproduces the global ordered prefix exactly") {
    val out = CorpusOps.tokenBudget(spark, sf()).collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getLong(2), r.getLong(3)))
    // local ground truth: global sort by (score desc, doc_id), running sum
    def r6(x: Double) = BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val docs = spark.read.parquet(sf() + "/documents.parquet")
      .select("doc_id", "text").collect().map { r =>
        val ws = r.getString(1).split(" ", -1)
        (r.getLong(0), r6(ws.distinct.length.toDouble / ws.length), ws.length.toLong)
      }
    val budget = math.floor(docs.map(_._3).sum * 0.4).toLong
    var cum = 0L
    val expected = docs.sortBy { case (id, s, _) => (-s, id) }.iterator.map { case (id, s, n) =>
      cum += n; (id, s, n, cum)
    }.takeWhile(_._4 <= budget).toArray
    assert(out.sortBy(_._4).toSeq === expected.toSeq)
    // the plan must never hash-exchange the corpus into a single partition:
    // the only SinglePartition exchanges feed the <=1001-row band frame
    val plan = CorpusOps.tokenBudget(spark, sf()).queryExecution.executedPlan.toString
    assert(plan.contains("Exchange hashpartitioning(band"),
      s"banded window partition missing:\n$plan")
  }

test("curriculum: banded rank is the exact global row_number, epochs balanced") {
    val out = CorpusOps.curriculum(spark, sf()).collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getLong(2), r.getLong(3)))
    val n = out.length
    // rank is a permutation of 1..n
    assert(out.map(_._3).sorted.toSeq === (1L to n).toSeq)
    // rank order == (score desc, doc_id) order
    val byRank = out.sortBy(_._3)
    byRank.sliding(2).foreach {
      case Array(a, b) =>
        assert(a._2 > b._2 || (a._2 == b._2 && a._1 < b._1), s"rank order broken at ${a._3}")
      case _ => ()
    }
    // epochs are contiguous rank slices of size n/4 (+-1) and monotone in rank
    val sizes = out.groupBy(_._4).toSeq.sortBy(_._1).map(_._2.length)
    assert(sizes.sum === n)
    assert(sizes.max - sizes.min <= 1, s"unbalanced epochs: $sizes")
    byRank.sliding(2).foreach {
      case Array(a, b) => assert(a._4 <= b._4)
      case _ => ()
    }
    // the plan ranks through the band partition, never a single-partition sort
    val plan = CorpusOps.curriculum(spark, sf()).queryExecution.executedPlan.toString
    assert(plan.contains("Exchange hashpartitioning(band"), plan)
  }

  test("cluster split: near-dup clusters never straddle train/eval") {
    val labels = CorpusOps.dupClusters(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    val out = CorpusOps.clusterSplit(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
    assert(out.length === 500)
    out.foreach { case (id, rep, _) =>
      assert(rep === labels.getOrElse(id, id))
    }
    out.groupBy(_._2).foreach { case (_, g) =>
      assert(g.map(_._3).distinct.length === 1, "cluster straddles the split")
    }
    val evalN = out.count(_._3 == "eval")
    assert(evalN > 0 && evalN < out.length, s"degenerate split: $evalN eval")
  }

  test("unimax budget: waterfilling spends the budget at one water level") {
    val rows = CorpusOps.unimaxBudget(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2), r.getDouble(3)))
    val budget = math.floor(rows.map(_._2).sum * 0.5)
    rows.foreach { case (_, avail, alloc, frac) =>
      assert(alloc <= avail + 1e-6)
      assert(frac > 0 && frac <= 1.0 + 1e-9)
    }
    // allocations sum to the budget (round-6 slack per source)
    assert(math.abs(rows.map(_._3).sum - budget) <= rows.length * 1e-5,
      s"sum ${rows.map(_._3).sum} vs budget $budget")
    // every uncapped source sits at the SAME water level theta < its avail
    val uncapped = rows.filter(r => r._3 < r._2 - 1e-6)
    assert(uncapped.nonEmpty)
    assert(uncapped.map(_._3).distinct.length === 1, "multiple water levels")
    // and theta is below every uncapped avail but >= every capped alloc
    val theta = uncapped.head._3
    rows.filterNot(uncapped.contains).foreach { case (_, avail, alloc, _) =>
      assert(alloc === avail.toDouble)
      assert(avail <= theta + 1e-6)
    }
  }

  test("pack efficiency: chunk count matches the gap-free closed form, fill in (0,1]") {
    val rows = CorpusOps.packEfficiency(spark, dir)
      .as[(Long, Long, Long, Long, Double)].collect()
    assert(rows.length === 32)
    rows.foreach { case (_, nDocs, nTok, nChunks, fill) =>
      assert(nDocs > 0 && nTok > 0)
      assert(nChunks === (nTok - 1) / 256 + 1, "packing left a gap")
      assert(fill > 0.0 && fill <= 1.0)
      // the last chunk is the only fractional one
      assert(nTok > (nChunks - 1) * 256)
    }
  }

  test("dup degree histogram: handshake identity against the pair graph") {
    val nPairs = graft.operators.TextOps.minhashLshPairs(spark, dir).count()
    val hist = CorpusOps.dupDegreeHistogram(spark, dir)
      .as[(Long, Long)].collect()
    assert(hist.nonEmpty)
    // sum of degrees counts each edge twice
    assert(hist.map { case (d, n) => d * n }.sum === 2 * nPairs)
    hist.foreach { case (d, n) => assert(d >= 1 && n >= 1) }
  }

  test("corpus stats: one-row card consistent with direct counts") {
    val r = CorpusOps.corpusStats(spark, dir).collect().head
    assert(r.getLong(r.fieldIndex("n_docs")) === 500)
    assert(r.getLong(r.fieldIndex("n_sources")) === 20)
    val dupDocs = r.getLong(r.fieldIndex("dup_docs"))
    val clusters = CorpusOps.dupClusters(spark, dir).count()
    assert(dupDocs === clusters, "dup exposure != labelled nodes")
    assert(r.getDouble(r.fieldIndex("dup_frac")) ===
      math.round(dupDocs.toDouble / 500 * 1e6) / 1e6)
    assert(r.getLong(r.fieldIndex("n_tokens")) > 0)
  }

  test("zipf audit: one row, slope negative, r2 in [0,1]") {
    val r = CorpusOps.zipfAudit(spark, dir).collect()
    assert(r.length === 1)
    val (slope, r2) = (r.head.getDouble(0), r.head.getDouble(2))
    assert(slope < 0, s"rank-frequency slope must be negative: $slope")
    assert(r2 >= 0 && r2 <= 1)
  }

  test("tfidf terms: k per source, scores rank-consistent, df bounded by source count") {
    val rows = CorpusOps.tfidfTerms(spark, dir)
      .as[(String, String, Long, Long, Double, Long)].collect()
    val bySrc = rows.groupBy(_._1)
    assert(bySrc.size === 20)
    bySrc.foreach { case (_, g) =>
      val sorted = g.sortBy(_._6)
      assert(sorted.map(_._6).toSeq === (1L to 5L))
      assert(sorted.sliding(2).forall {
        case Array(a, b) => a._5 >= b._5; case _ => true })
    }
    rows.foreach { case (_, _, tf, df, score, _) =>
      assert(tf >= 1 && df >= 1 && df <= 20)
      // a top term must discriminate: positive score unless the word is
      // in every source (idf = ln 1 = 0)
      assert(score > 0.0 || df === 20L)
    }
  }

  test("length outliers: every flagged doc actually exceeds 2 MADs, none missed") {
    val docs = graft.operators.TextOps.documents(spark, dir)
      .select("doc_id", "source", "n_chars")
      .as[(Long, String, Long)].collect()
    val bySrc = docs.groupBy(_._2)
    def medianOf(xs: Seq[Double]): Double = {
      val s = xs.sorted
      if (s.length % 2 == 1) s(s.length / 2)
      else (s(s.length / 2 - 1) + s(s.length / 2)) / 2.0
    }
    val expect = bySrc.toSeq.flatMap { case (src, g) =>
      val med = medianOf(g.map(_._3.toDouble))
      val mad = medianOf(g.map(d => math.abs(d._3 - med)))
      g.filter(d => math.abs(d._3 - med) > 2.0 * mad).map(d => (src, d._1))
    }.toSet
    val got = CorpusOps.lengthOutliers(spark, dir)
      .select("source", "doc_id").as[(String, Long)].collect().toSet
    assert(got === expect)
  }

  test("rollup: cells sum to subtotals sum to grand total, grouping flags correct") {
    val rows = CorpusOps.rollupCounts(spark, dir).collect()
      .map(r => (Option(r.getString(0)), Option(r.getString(1)),
        r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)))
    val cells = rows.filter(r => r._5 == 0 && r._6 == 0)
    val subs = rows.filter(r => r._5 == 0 && r._6 == 1)
    val total = rows.filter(r => r._5 == 1 && r._6 == 1)
    assert(total.length === 1)
    assert(total.head._3 === 500 && total.head._3 === cells.map(_._3).sum)
    assert(subs.map(_._3).sum === 500)
    // every subtotal equals the sum of its cells (docs and tokens)
    subs.foreach { sub =>
      val mine = cells.filter(_._1 == sub._1)
      assert(mine.map(_._3).sum === sub._3)
      assert(mine.map(_._4).sum === sub._4)
    }
    // rolled-up keys are null exactly when flagged
    rows.foreach { r =>
      assert(r._2.isEmpty === (r._6 == 1))
      assert(r._1.isEmpty === (r._5 == 1))
    }
  }

  test("pivot: row sums equal per-source doc counts, zero-filled cells") {
    val rows = CorpusOps.pivotLangs(spark, dir)
      .as[(String, Long, Long, Long, Long, Long)].collect()
    assert(rows.length === 20)
    val perSrc = graft.operators.TextOps.documents(spark, dir)
      .groupBy("source").count().as[(String, Long)].collect().toMap
    rows.foreach { case (src, de, en, es, fr, zh) =>
      assert(Seq(de, en, es, fr, zh).forall(_ >= 0))
      assert(de + en + es + fr + zh === perSrc(src))
    }
  }

  test("user gaps: non-negative, max >= avg, singleton users yield null gaps") {
    val rows = CorpusOps.userGaps(spark, dir).collect()
    rows.foreach { r =>
      val n = r.getLong(1)
      if (n > 1) {
        assert(!r.isNullAt(2) && !r.isNullAt(3))
        assert(r.getLong(3) >= 0 && r.getDouble(2) >= 0)
        assert(r.getLong(3).toDouble >= r.getDouble(2))
      }
    }
    assert(rows.map(_.getLong(1)).sum ===
      graft.operators.EventOps.events(spark, dir).count())
  }

  test("session paths: deterministic prefix order, counts partition the user set") {
    val paths = CorpusOps.sessionPaths(spark, dir, prefixLen = 5, topN = 1000)
      .as[(String, Long)].collect()
    val users = graft.operators.EventOps.events(spark, dir)
      .select("user_id").distinct().count()
    assert(paths.map(_._2).sum === users)
    paths.foreach { case (p, n) =>
      assert(n >= 1)
      val steps = p.split(">")
      assert(steps.length >= 1 && steps.length <= 5)
      assert(steps.forall(_.nonEmpty))
    }
    // rerun is bit-identical (the collect_list order is pinned by the
    // struct sort, not shuffle luck)
    val again = CorpusOps.sessionPaths(spark, dir, prefixLen = 5, topN = 1000)
      .as[(String, Long)].collect()
    assert(again.toSeq === paths.toSeq)
  }

  test("unpivot: melt round-trips the pivot into the dense grid") {
    val rows = CorpusOps.unpivotLangs(spark, dir)
      .as[(String, String, Long)].collect()
    assert(rows.length === 100) // 20 sources x 5 langs, zero cells kept
    val direct = graft.operators.TextOps.documents(spark, dir)
      .groupBy("source", "lang").count()
      .as[(String, String, Long)].collect()
      .map(r => (r._1, r._2) -> r._3).toMap
    rows.foreach { case (s2, l, n) =>
      assert(n === direct.getOrElse((s2, l), 0L))
    }
  }

  test("space saving: exact at wide capacity; bounded overestimate and no missed heavy key under eviction") {
    import org.apache.spark.sql.Encoders
    import graft.functions.SpaceSaving
    val stream: Seq[String] =
      Seq.fill(50)("a") ++ Seq.fill(30)("b") ++ Seq.fill(10)("c") ++
        (1 to 20).map(i => s"x$i")
    val trueCounts = stream.groupBy(identity).map { case (w, g) => w -> g.size.toLong }
    val ds = stream.toDF("w").repartition(4) // force partial-sketch merges
    def run(cap: Int, k: Int) = {
      val agg = udaf(new SpaceSaving(cap, k), Encoders.STRING)
      ds.agg(agg(col("w")).as("hh")).head.getAs[collection.Seq[org.apache.spark.sql.Row]](0)
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    }
    // capacity >= distinct: the sketch IS the exact count map
    val exact = run(1000, 100)
    assert(exact.map(t => t._1 -> t._2).toMap === trueCounts)
    assert(exact.forall(_._3 === 0L))
    // eviction mode: capacity 4 << 8 distinct keys per partition, so the
    // reduce eviction branch fires in every partial sketch (capacity 8
    // equalled the per-partition distinct count and made these assertions
    // vacuous — review finding). Guarantees: estimate-err <= true <=
    // estimate for survivors, and every key heavier than N/capacity is
    // retained.
    val small = run(4, 4)
    val n = stream.size
    small.foreach { case (w, est, err) =>
      val t = trueCounts.getOrElse(w, 0L)
      assert(est >= t, s"$w underestimated: $est < $t")
      assert(est - err <= t, s"$w bound violated: $est-$err > $t")
    }
    val kept = small.map(_._1).toSet
    trueCounts.filter(_._2 > n / 4).keys.foreach { w =>
      assert(kept.contains(w), s"heavy key $w evicted")
    }
    // the cross-partition underestimation scenario the merge must survive:
    // sketch A evicted h (absorbing its mass into the survivors), sketch B
    // holds only h — merged h must still be an overestimate of true=4
    val agg2 = new SpaceSaving(2, 10)
    val bufA = Seq("h", "a", "b", "b", "b", "a", "a")
      .foldLeft(agg2.zero)(agg2.reduce)
    val bufB = Seq("h", "h", "h").foldLeft(agg2.zero)(agg2.reduce)
    for (m <- Seq(agg2.merge(bufA, bufB), agg2.merge(bufB, bufA))) {
      val hh = agg2.finish(m).map(h => h.word -> h).toMap
      hh.get("h").foreach { h =>
        assert(h.n >= 4, s"merge underestimates evicted heavy key: ${h.n}")
        assert(h.n - h.err <= 4)
      }
      // a, b (true 3-4 each, both retained in A) must remain overestimates
      Seq("a" -> 3L, "b" -> 3L).foreach { case (w, t) =>
        hh.get(w).foreach(h => assert(h.n >= t && h.n - h.err <= t + 1))
      }
    }
  }

  test("stream-summary buffer: output-identical to the r4 Map formulation, faster under eviction") {
    import graft.functions.SpaceSaving
    // reference = the r4 immutable-Map reduce/merge/finish, verbatim
    // semantics: O(capacity) argmin per eviction, (count, word) tie-breaks
    final case class RefBuf(counts: Map[String, Long], errs: Map[String, Long])
    def refReduce(cap: Int)(b: RefBuf, w: String): RefBuf =
      b.counts.get(w) match {
        case Some(c) => b.copy(counts = b.counts.updated(w, c + 1))
        case None if b.counts.size < cap =>
          RefBuf(b.counts.updated(w, 1L), b.errs.updated(w, 0L))
        case None =>
          val (mw, mc) = b.counts.minBy { case (kw, c) => (c, kw) }
          RefBuf(b.counts - mw + (w -> (mc + 1)), b.errs - mw + (w -> mc))
      }
    def refFinish(k: Int)(b: RefBuf): Seq[(String, Long, Long)] =
      b.counts.toSeq.map { case (w, c) => (w, c, b.errs.getOrElse(w, 0L)) }
        .sortBy(t => (-t._2, t._1)).take(k)

    val rnd = new scala.util.Random(31)
    // parity: random zipf-ish streams at exact AND eviction-heavy configs
    (1 to 6).foreach { trial =>
      val stream = Seq.fill(3000)(s"w${math.min(rnd.nextInt(400), rnd.nextInt(400))}")
      Seq(8, 64, 1000).foreach { cap =>
        val agg = new SpaceSaving(cap, 20)
        val got = stream.foldLeft(agg.zero)(agg.reduce)
        val want = stream.foldLeft(RefBuf(Map.empty, Map.empty))(refReduce(cap))
        assert(agg.finish(got).map(h => (h.word, h.n, h.err)) ===
          refFinish(20)(want), s"trial $trial cap $cap diverged from r4 semantics")
      }
    }
    // eviction-heavy throughput: capacity 1024, ~every update evicts
    val heavy = Seq.fill(60000)(s"k${rnd.nextInt(100000)}")
    val agg = new SpaceSaving(1024, 10)
    def time(f: => Unit): Double = {
      val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
    }
    // warm
    heavy.take(5000).foldLeft(agg.zero)(agg.reduce)
    heavy.take(5000).foldLeft(RefBuf(Map.empty, Map.empty))(refReduce(1024))
    val tNew = time(heavy.foldLeft(agg.zero)(agg.reduce))
    val tRef = time(heavy.foldLeft(RefBuf(Map.empty, Map.empty))(refReduce(1024)))
    info(f"eviction-heavy 60k updates @cap 1024: map ${tRef}%.3fs vs stream-summary ${tNew}%.3fs — ${tRef / tNew}%.1fx")
    assert(tRef / tNew >= 3.0,
      f"stream-summary only ${tRef / tNew}%.1fx the O(capacity)-scan formulation")
  }

  test("KL drift: non-negative (Gibbs), zero iff source matches the corpus mix") {
    val rows = CorpusOps.sourceDrift(spark, dir)
      .as[(String, Double, Long)].collect()
    assert(rows.length === 20)
    rows.foreach { case (_, kl, nTerms) =>
      // Gibbs inequality: KL >= 0 up to round-6 slack
      assert(kl >= -1e-6, s"negative KL $kl")
      assert(nTerms >= 1)
    }
    assert(rows.exists(_._2 > 0), "all sources identical to corpus?")
  }

  test("entropy: within [0, ln(n_distinct)], maximal for uniform docs") {
    val rows = CorpusOps.textEntropy(spark, dir)
      .as[(Long, Double, Long)].collect()
    assert(rows.length === 500)
    rows.foreach { case (_, h, nd) =>
      assert(h >= -1e-9, s"negative entropy $h")
      assert(h <= math.log(nd.toDouble) + 1e-6,
        s"entropy $h exceeds ln($nd)")
    }
  }
}
