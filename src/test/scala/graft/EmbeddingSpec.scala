package graft

import org.apache.spark.sql.functions.col

import graft.operators.EmbeddingOps

/** Similarity search: brute-force is the ground truth; the LSH variant is
  * measured for recall against it. */
class EmbeddingSpec extends SparkSuite {
  import spark.implicits._

  private val dir = sf("sf0.001")

  test("brute-force top-k is deterministic, k rows per query, rank ordered by similarity") {
    val rows = EmbeddingOps.bruteTopK(spark, dir, nQueries = 10, k = 5)
      .select("qid", "nid", "sim", "rank")
      .as[(Long, Long, Double, Int)].collect()
    assert(rows.length === 50)
    rows.groupBy(_._1).foreach { case (_, g) =>
      val sorted = g.sortBy(_._4)
      assert(sorted.map(_._4).toSeq === (1 to 5))
      assert(sorted.sliding(2).forall { case Array(a, b) => a._3 >= b._3; case _ => true })
    }
  }

  test("LSH ANN achieves >= 40% top-5 recall vs brute force (single-probe)") {
    val truth = EmbeddingOps.bruteTopK(spark, dir, 10, 5)
      .select("qid", "nid").as[(Long, Long)].collect().toSet
    val ann = EmbeddingOps.lshTopK(spark, dir, 10, 5)
      .select("qid", "nid").as[(Long, Long)].collect().toSet
    val recall = truth.intersect(ann).size.toDouble / truth.size
    info(f"single-probe LSH top-5 recall: $recall%.2f")
    assert(recall >= 0.4, f"recall $recall%.2f below floor")
  }

  test("IVF ANN achieves >= 60% top-5 recall vs brute force (4/16 cells probed)") {
    val truth = EmbeddingOps.bruteTopK(spark, dir, 10, 5)
      .select("qid", "nid").as[(Long, Long)].collect().toSet
    val ivf = EmbeddingOps.ivfTopK(spark, dir, 10, 5)
      .select("qid", "nid").as[(Long, Long)].collect().toSet
    val recall = truth.intersect(ivf).size.toDouble / truth.size
    info(f"IVF top-5 recall: $recall%.2f")
    assert(recall >= 0.6, f"recall $recall%.2f below floor")
  }

  test("multi-probe LSH recall dominates single-probe at the same index size") {
    val truth = EmbeddingOps.bruteTopK(spark, dir, 10, 5)
      .select("qid", "nid").as[(Long, Long)].collect().toSet
    def recall(ann: Set[(Long, Long)]) = truth.intersect(ann).size.toDouble / truth.size
    val single = recall(EmbeddingOps.lshTopK(spark, dir, 10, 5)
      .select("qid", "nid").as[(Long, Long)].collect().toSet)
    val multi = recall(EmbeddingOps.lshTopK(spark, dir, 10, 5, multiProbe = true)
      .select("qid", "nid").as[(Long, Long)].collect().toSet)
    info(f"single-probe $single%.2f vs multi-probe $multi%.2f")
    assert(multi >= single)
    assert(multi >= 0.7, f"multi-probe recall $multi%.2f below floor")
  }

  test("LSH at 48 tables x 4 planes equals brute force exactly (oracle config)") {
    val truth = EmbeddingOps.bruteTopK(spark, dir, 10, 5)
      .as[(Long, Long, Double, Int)].collect().toSet
    val ann = EmbeddingOps.lshTopK(spark, dir, 10, 5, nTables = 48, planesPer = 4)
      .as[(Long, Long, Double, Int)].collect().toSet
    assert(ann === truth)
  }

  test("IVF probing every cell equals brute force exactly (oracle config)") {
    val truth = EmbeddingOps.bruteTopK(spark, dir, 10, 5)
      .as[(Long, Long, Double, Int)].collect().toSet
    val ivf = EmbeddingOps.ivfTopK(spark, dir, 10, 5, nProbe = 16, nCells = 16)
      .as[(Long, Long, Double, Int)].collect().toSet
    assert(ivf === truth)
  }

  test("PQ with the lossless codebook equals brute force exactly (ground-truth config)") {
    val truth = EmbeddingOps.bruteTopK(spark, dir, 10, 5)
      .as[(Long, Long, Double, Int)].collect().toSet
    val books = EmbeddingOps.exactPqCodebooks(EmbeddingOps.embeddings(spark, dir))
    val pq = EmbeddingOps.pqTopK(spark, dir, 10, 5, codebooks = Some(books))
      .as[(Long, Long, Double, Int)].collect().toSet
    assert(pq === truth)
  }

  test("shipped PQ re-rank (trained codebooks + ADC + exact re-rank) equals brute force") {
    // the q_ann_pq oracle configuration: the compressed candidate scan must
    // carry the true top-5 into the re-rank stage at every test sf
    for (d <- Seq(sf("sf0.001"), sf("sf0.01"), sf("sf0.1"))) {
      val truth = EmbeddingOps.bruteTopK(spark, d, 10, 5)
        .as[(Long, Long, Double, Int)].collect().toSet
      val pq = EmbeddingOps.pqTopKRerank(spark, d, 10, 5)
        .as[(Long, Long, Double, Int)].collect().toSet
      assert(pq === truth, s"re-rank recall < 1.0 at $d")
    }
  }

  test("PQ codes are m small ints (the 32-64x storage story); trained recall floor holds") {
    val all = EmbeddingOps.embeddings(spark, dir)
    val books = EmbeddingOps.trainPqCodebooks(all, m = 8, k = 64)
    val codes = EmbeddingOps.pqIndex(all, books)
      .select("codes").as[Seq[Int]].collect()
    assert(codes.forall(c => c.length == 8 && c.forall(x => x >= 0 && x < 64)))
    val truth = EmbeddingOps.bruteTopK(spark, dir, 10, 5)
      .select("qid", "nid").as[(Long, Long)].collect().toSet
    val ann = EmbeddingOps.pqTopK(spark, dir, 10, 5, codebooks = Some(books))
      .select("qid", "nid").as[(Long, Long)].collect().toSet
    val recall = truth.intersect(ann).size.toDouble / truth.size
    info(f"PQ (8 subspaces x 64 codewords, 8-byte codes) top-5 recall: $recall%.2f")
    assert(recall >= 0.3, f"recall $recall%.2f below floor")
  }

  test("ADC lookup-table scoring returns the same neighbours as decode scoring") {
    val decode = EmbeddingOps.pqTopK(spark, dir, 10, 5)
      .as[(Long, Long, Double, Int)].collect()
    val adc = EmbeddingOps.pqTopKAdc(spark, dir, 10, 5)
      .as[(Long, Long, Double, Int)].collect()
    assert(adc.map(r => (r._1, r._2)).toSet === decode.map(r => (r._1, r._2)).toSet)
    // the LUT computes cos(q, decode(v)) — values agree to rounding
    val sims = decode.map(r => (r._1, r._2) -> r._3).toMap
    adc.foreach { case (q, n, s, _) =>
      assert(math.abs(s - sims((q, n))) <= 2e-6, s"($q,$n): $s vs ${sims((q, n))}")
    }
  }

  test("persisted IVF index: full-probe equals brute force; probe scan is partition-pruned") {
    val idx = tempDir("ivfidx")
    EmbeddingOps.buildIvfIndexOn(spark, EmbeddingOps.embeddings(spark, dir), idx, nCells = 16)
    // codebook round-trips
    assert(EmbeddingOps.loadCodebook(spark, idx).length === 16)
    val queries = EmbeddingOps.embeddings(spark, dir)
      .filter(org.apache.spark.sql.functions.col("vec_id") < 10)
      .select(org.apache.spark.sql.functions.col("vec_id").as("qid"),
        org.apache.spark.sql.functions.col("embedding").as("qv"))
    val full = EmbeddingOps.ivfTopKIndexed(spark, idx, queries, k = 5, nProbe = 16)
    val truth = EmbeddingOps.bruteTopK(spark, dir, 10, 5)
      .as[(Long, Long, Double, Int)].collect().toSet
    assert(full.as[(Long, Long, Double, Int)].collect().toSet === truth)
    // narrow probe reads only the probed cells: partition filter in the scan
    val narrow = EmbeddingOps.ivfTopKIndexed(spark, idx, queries, k = 5, nProbe = 2)
    val plan = narrow.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("cluster"),
      s"probe must prune index partitions:\n$plan")
    // recall under narrow probing is still useful (floor, not exactness)
    val got = narrow.as[(Long, Long, Double, Int)].collect().toSet
    assert(got.intersect(truth).size >= truth.size / 2)
  }

  test("incremental IVF append: frozen centroids absorb batches, full-probe stays exact") {
    import org.apache.spark.sql.functions.col
    val idx = tempDir("ivfinc")
    val emb = EmbeddingOps.embeddings(spark, dir)
    EmbeddingOps.buildIvfIndexOn(spark, emb.filter(col("vec_id") % 3 === 0),
      idx, nCells = 16)
    val cents0 = EmbeddingOps.loadCodebook(spark, idx)
    EmbeddingOps.appendToIvfIndex(spark, idx, emb.filter(col("vec_id") % 3 === 1))
    EmbeddingOps.appendToIvfIndex(spark, idx, emb.filter(col("vec_id") % 3 === 2))
    // appends never retrain: the codebook is byte-identical
    assert(EmbeddingOps.loadCodebook(spark, idx).map(_.toSeq).toSeq
      === cents0.map(_.toSeq).toSeq)
    // every vector present exactly once after the two appends
    val ids = spark.read.parquet(s"$idx/vectors").select("vec_id")
      .as[Long].collect().sorted
    val all = emb.select("vec_id").as[Long].collect().sorted
    assert(ids.toSeq === all.toSeq)
    // full-probe over the appended index ≡ brute force (the oracle config)
    val queries = emb.filter(col("vec_id") < 10)
      .select(col("vec_id").as("qid"), col("embedding").as("qv"))
    val got = EmbeddingOps.ivfTopKIndexed(spark, idx, queries, k = 5, nProbe = 16)
      .as[(Long, Long, Double, Int)].collect().toSet
    val truth = EmbeddingOps.bruteTopK(spark, dir, 10, 5)
      .as[(Long, Long, Double, Int)].collect().toSet
    assert(got === truth)
  }

  test("multi-table bucketed near-dup: superset of single-table, recall rises toward ground truth") {
    val truth = EmbeddingOps.nearDupPairsGroundTruth(spark, dir, 0.4)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val single = EmbeddingOps.nearDupPairsBucketed(spark, dir, 0.4)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val multi = EmbeddingOps.nearDupPairsBucketedMulti(spark, dir, 0.4, nTables = 4)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(single.subsetOf(multi), "table 0 pairs must survive the union")
    assert(multi.subsetOf(truth), "bucketing can only restrict, never invent")
    val r1 = single.size.toDouble / truth.size
    val r4 = multi.size.toDouble / truth.size
    info(f"near-dup recall: 1 table $r1%.2f -> 4 tables $r4%.2f over ${truth.size} pairs")
    assert(multi.size > single.size, "more tables must buy recall on this corpus")
  }

  test("IVF-PQ index: exact at full probe/re-rank; narrow probes partition-pruned with recall floor") {
    import org.apache.spark.sql.functions._
    val idx = tempDir("ivfpq")
    EmbeddingOps.buildIvfPqIndex(spark, dir, idx, nCells = 16, m = 8, kCodes = 64)
    val queries = EmbeddingOps.embeddings(spark, dir)
      .filter(col("vec_id") < 10)
      .select(col("vec_id").as("qid"), col("embedding").as("qv"))
    val truth = EmbeddingOps.bruteTopK(spark, dir, 10, 5)
      .as[(Long, Long, Double, Int)].collect().toSet
    // probing every cell + re-ranking every candidate must reproduce brute
    // force exactly (the compressed scan only ORDERS the re-rank input)
    val full = EmbeddingOps.ivfPqTopK(spark, idx, dir, queries,
      k = 5, nProbe = 16, rerank = 1000)
      .as[(Long, Long, Double, Int)].collect().toSet
    assert(full === truth)
    // production shape: 4/16 cells, 64-candidate re-rank — pruned scan
    val narrow = EmbeddingOps.ivfPqTopK(spark, idx, dir, queries,
      k = 5, nProbe = 4, rerank = 64)
    val plan = narrow.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("cluster"),
      s"probe must prune index partitions:\n$plan")
    val got = narrow.select("qid", "nid").as[(Long, Long)].collect().toSet
    val recall = truth.map(t => (t._1, t._2)).intersect(got).size.toDouble / truth.size
    info(f"IVF-PQ 4/16-cell 64-re-rank top-5 recall: $recall%.2f")
    assert(recall >= 0.5, f"recall $recall%.2f below floor")
  }

  test("cosine near-dup pairs are symmetric-free (a<b) and above threshold") {
    val rows = EmbeddingOps.nearDupPairsGroundTruth(spark, dir, 0.4)
      .select("id_a", "id_b", "sim").as[(Long, Long, Double)].collect()
    assert(rows.forall(r => r._1 < r._2 && r._3 >= 0.4))
  }

  test("bucketed near-dup = ground truth restricted to shared cells (SemDeDup semantics)") {
    import org.apache.spark.sql.functions._
    val pl = EmbeddingOps.planes(64, 1, EmbeddingOps.NearDupPlanes)
    val cells = EmbeddingOps.embeddings(spark, dir)
      .select(col("vec_id"),
        element_at(EmbeddingOps.bucketsOf(col("embedding"), pl), 1).as("cell"))
      .as[(Long, Long)].collect().toMap
    val truth = EmbeddingOps.nearDupPairsGroundTruth(spark, dir, 0.4)
      .select("id_a", "id_b", "sim").as[(Long, Long, Double)].collect().toSet
    val expected = truth.filter(p => cells(p._1) == cells(p._2))
    val got = EmbeddingOps.nearDupPairsBucketed(spark, dir, 0.4)
      .select("id_a", "id_b", "sim").as[(Long, Long, Double)].collect().toSet
    assert(got === expected)
    // within-cell fraction is the recall SemDeDup trades for linearity —
    // report it so a degenerate cell assignment (recall 0 or 1.0 with one
    // giant cell) would be visible
    info(f"within-cell recall vs all-pairs ground truth: ${
      expected.size.toDouble / truth.size}%.2f over ${truth.size} pairs")
    assert(expected.nonEmpty && expected.size < truth.size)
  }

  test("int8 quant audit: error bounded by scale/2, cosine near 1, zero-vector sentinel") {
    val rows = EmbeddingOps.quantAudit(spark, dir)
      .as[(Long, Double, Double, Double)].collect()
    assert(rows.nonEmpty)
    rows.foreach { case (_, scale, err, cos) =>
      assert(scale > 0)
      // |x - q*scale| <= scale/2 everywhere (the clamp only binds at the
      // max element, which quantizes exactly) + round-6 slack
      assert(err <= scale / 2 + 1e-6, s"err $err vs scale $scale")
      assert(cos > 0.999 && cos <= 1.0 + 1e-9)
    }
    // direct expression: zero vector degenerates to (0,0,0); scale is
    // max|x|/127 on a mixed-sign vector
    val m = Seq((1L, Array(0.0, 0.0)), (2L, Array(1.0, -1.0, 0.5)))
      .toDF("id", "v")
      .select(col("id"),
        graft.functions.Int8QuantAudit.int8QuantAudit(col("v")).as("a"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    assert(m(1L) === Seq(0.0, 0.0, 0.0))
    assert(math.abs(m(2L).head - 1.0 / 127) < 1e-15)
  }

  test("fixed-point PCA: gram + power iteration match a brute in-JVM reference") {
    import graft.functions.PcaOps
    // brute reference on the collected table (sf0.001 is 500 × 64)
    val raw = EmbeddingOps.embeddings(spark, dir)
      .select("vec_id", "embedding").as[(Long, Seq[Double])].collect()
    val d = 64
    val q = raw.map { case (id, v) =>
      id -> v.map(x => math.floor(x * 1000).toLong).toArray }
    val gRef = Array.ofDim[Long](d, d)
    q.foreach { case (_, x) =>
      var i = 0
      while (i < d) { var j = 0
        while (j < d) { gRef(i)(j) += x(i) * x(j); j += 1 }; i += 1 } }
    // distributed gram == brute gram (upper triangle, row-major)
    val upper = EmbeddingOps.embeddings(spark, dir)
      .agg(PcaOps.gram(d, 1000L, col("embedding"))).head().getSeq[Long](0)
    val upperRef = for (i <- 0 until d; j <- i until d) yield gRef(i)(j)
    assert(upper === upperRef)
    // power iteration: reference in BigInt, identical update rule
    var vRef = Array.fill(d)(BigInt(1000000L))
    (1 to 12).foreach { _ =>
      val w = Array.tabulate(d)(i =>
        (0 until d).map(j => BigInt(gRef(i)(j)) * vRef(j)).sum)
      val m = w.map(_.abs).max
      if (m > 0) vRef = w.map(x => x * 1000000L / m)
    }
    val v = PcaOps.powerIterate(upper, d, 12)
    assert(v.toSeq === vRef.map(_.toLong).toSeq)
    // the end-to-end query projects with the same vector
    val got = EmbeddingOps.pcaProjectQuery(spark, dir)
      .as[(Long, Long)].collect().toMap
    val want = q.map { case (id, x) =>
      id -> x.zip(v).map { case (a, b) => a * b }.sum }.toMap
    assert(got === want)
    // the component actually discriminates (not a degenerate direction)
    assert(got.values.toSet.size > 100)
  }

  test("hard negatives: k per query, never the query's own label, rank-ordered") {
    val labels = EmbeddingOps.embeddings(spark, dir)
      .select("vec_id", "label").as[(Long, Long)].collect().toMap
    val rows = EmbeddingOps.hardNegatives(spark, dir, nQueries = 10, k = 5)
      .as[(Long, Long, Double, Int)].collect()
    assert(rows.length === 50)
    rows.foreach { case (qid, nid, _, _) =>
      assert(labels(nid) !== labels(qid), s"negative $nid shares label with query $qid")
    }
    rows.groupBy(_._1).foreach { case (_, g) =>
      val sorted = g.sortBy(_._4)
      assert(sorted.map(_._4).toSeq === (1 to 5))
      assert(sorted.sliding(2).forall {
        case Array(a, b) => a._3 >= b._3; case _ => true })
    }
  }

  test("SQ8 binary index: 4x smaller codes, compressed scan + re-rank equals brute force") {
    for (d <- Seq(sf("sf0.001"), sf("sf0.01"), sf("sf0.1"))) {
      val idx = tempDir("sq8")
      EmbeddingOps.buildSq8Index(spark, d, idx)
      val stored = spark.read.parquet(idx)
      val dim = EmbeddingOps.embeddings(spark, d)
        .select(org.apache.spark.sql.functions.size(col("embedding")))
        .first().getInt(0)
      // one byte per dimension, scale positive
      stored.select("codes", "scale").collect().foreach { r =>
        assert(r.getAs[Array[Byte]](0).length === dim)
        assert(r.getDouble(1) > 0)
      }
      val truth = EmbeddingOps.bruteTopK(spark, d, 10, 5)
        .as[(Long, Long, Double, Int)].collect().toSet
      val got = EmbeddingOps.sq8TopK(spark, d, idx, 10, 5, rerank = 64)
        .as[(Long, Long, Double, Int)].collect().toSet
      assert(got === truth, s"SQ8 re-rank not exact at $d")
      // margin: int8 ranking alone is already near-exact — a much
      // tighter candidate window than the shipped 64 stays exact
      val tight = EmbeddingOps.sq8TopK(spark, d, idx, 10, 5, rerank = 8)
        .as[(Long, Long, Double, Int)].collect().toSet
      info(s"$d: rerank=8 exact: ${tight == truth}")
      assert(tight.intersect(truth).size >= 45,
        s"rerank=8 recall collapsed at $d: ${tight.intersect(truth).size}/50")
    }
  }
}
