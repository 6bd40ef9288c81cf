package graft

import org.apache.spark.sql.functions._

import graft.operators.TextOps

/** Training-data dedup/analysis operators over the documents table:
  * the probabilistic signatures are checked against the exact ground truth
  * (jaccardPairs) computed on the same data. */
class TextOpsSpec extends SparkSuite {
  import spark.implicits._

  private val dir = sf("sf0.001")

  test("minhash LSH finds every exact-jaccard pair (recall) with perfect precision") {
    val exact = TextOps.jaccardPairs(spark, dir, threshold = 0.5)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val lsh = TextOps.minhashLshPairs(spark, dir, threshold = 0.5)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(exact.nonEmpty, "fixture should contain planted near-dups")
    assert(lsh === exact) // verification step makes precision exact; bands give ~1.0 recall
  }

  test("simhash banded+verified pairs equal the brute-force hamming<=3 set") {
    // completeness: 4×16-bit bands + pigeonhole — the banded path must
    // reproduce the quadratic scan exactly at hamming ≤ 3
    val sigs = TextOps.simhashDocs(spark, dir)
    val brute = sigs.as("a").crossJoin(sigs.as("b"))
      .filter($"a.doc_id" < $"b.doc_id")
      .withColumn("hamming",
        bit_count($"a.simhash".bitwiseXOR($"b.simhash")).cast("long"))
      .filter($"hamming" <= 3)
      .select($"a.doc_id", $"b.doc_id", $"hamming")
      .as[(Long, Long, Long)].collect().toSet
    val banded = TextOps.simhashPairs(spark, dir)
      .as[(Long, Long, Long)].collect().toSet
    assert(banded === brute)
    assert(banded.nonEmpty, "fixture should contain ultra-similar pairs")
  }

  test("simhash candidate volume stays near-linear on a 10x corpus (banding selectivity)") {
    // r1's 8-bit bands (256 keys) degenerated toward all-pairs/256; 16-bit
    // bands must keep candidate growth close to the planted-pair growth
    def corpus(n: Int) = {
      val rows = (0 until n).map { i =>
        val base = i / 2 // planted near-dup partner for every odd i
        val ws = (0 until 15).map(w => s"w${graft.sources.Synth.mix(base * 31 + w, 977L) % 100000}")
        val text = if (i % 2 == 1) (ws.dropRight(1) :+ "tail").mkString(" ") else ws.mkString(" ")
        (i.toLong, text)
      }
      rows.toDF("doc_id", "text")
    }
    def candidates(n: Int): Long = TextOps.simhashCandidates(
      corpus(n).select(col("doc_id"), TextOps.simhash(col("text")).as("simhash"))).count()
    val small = candidates(200)
    val big = candidates(2000)
    assert(big.toDouble / small < 25.0,
      s"candidate growth $small -> $big is super-linear (quadratic would be ~100x)")
  }

  test("fingerprint is deterministic and order-sensitive") {
    def fingerprints = TextOps.documents(spark, dir)
      .select(col("doc_id"), TextOps.fingerprintCol(col("text")))
      .as[(Long, Long)].collect().toMap
    val fp1 = fingerprints
    val fp2 = fingerprints
    assert(fp1 === fp2)
    // shuffled word order must change the fingerprint (rolling hash)
    val df = Seq((1L, "alpha beta gamma"), (2L, "gamma beta alpha")).toDF("doc_id", "text")
    val fps = df.select(col("doc_id"),
      aggregate(transform(split(col("text"), " "),
          w => xxhash64(w).bitwiseAND(lit(2147483647L))),
        lit(0L), (acc, x) => pmod(acc * lit(31L) + x, lit(2147483647L))))
      .as[(Long, Long)].collect().toMap
    assert(fps(1L) !== fps(2L))
  }

  test("exact dedup groups byte-identical texts") {
    val docs = Seq((1L, "same text"), (2L, "same text"), (3L, "other")).toDF("doc_id", "text")
    val out = docs.groupBy("text")
      .agg(min("doc_id").as("keep_id"), count(lit(1)).as("n_copies"))
    val m = out.select("keep_id", "n_copies").as[(Long, Long)].collect().toMap
    assert(m === Map(1L -> 2L, 3L -> 1L))
  }

  test("language-ID prediction equals argmax of profile hits") {
    val out = TextOps.langId(spark, dir).collect()
    out.foreach { r =>
      val (h1, h2, h3) = (r.getLong(1), r.getLong(2), r.getLong(3))
      val expected = if (h1 >= h2 && h1 >= h3) "p1" else if (h2 >= h3) "p2" else "p3"
      assert(r.getString(4) === expected)
    }
  }

  // frame sampling now lives in MediaOps (real extracted sample bytes) —
  // see MediaOpsSpec's q_mp4_samples/q_frame_sample contract tests

  test("multimodal metadata is a pure function of the payload bytes") {
    val a = TextOps.multimodalMeta(spark, dir).orderBy("doc_id").collect()
    val b = TextOps.multimodalMeta(spark, dir).orderBy("doc_id").collect()
    assert(a === b)
    assert(a.forall(r => r.getLong(1) > 0 && r.getLong(2) >= 64 && r.getLong(3) >= 64))
  }

test("hash embedding: unit L2 norm and bit-parity with a direct md5 recompute") {
    val rows = TextOps.hashEmbed(spark, dir).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getDouble(2)))
    // round-6 normalized slots must still sum to ~1 in squared norm
    rows.groupBy(_._1).foreach { case (id, g) =>
      val ss = g.map(v => v._3 * v._3).sum
      assert(math.abs(ss - 1.0) < 1e-4, s"doc $id norm^2 = $ss")
    }
    // independent JVM recompute for a handful of documents
    val texts = TextOps.documents(spark, dir).filter("doc_id < 5")
      .select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1))).toMap
    val md = java.security.MessageDigest.getInstance("MD5")
    texts.foreach { case (id, text) =>
      val counts = new Array[Long](16)
      text.split(" ", -1).foreach { w =>
        md.reset()
        val d = md.digest(w.getBytes("UTF-8"))
        val h = ((d(0) & 0xffL) << 24) | ((d(1) & 0xffL) << 16) |
          ((d(2) & 0xffL) << 8) | (d(3) & 0xffL)
        val sgn = if (((d(4) >> 4) & 1) == 0) 1L else -1L
        counts((h % 16).toInt) += sgn
      }
      val nrm = math.sqrt(counts.map(v => v.toDouble * v).sum)
      val expected = counts.zipWithIndex.collect { case (v, i) if v != 0 =>
        (i, BigDecimal(v / nrm).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
      }.toMap
      val got = rows.filter(_._1 == id).map(r => (r._2, r._3)).toMap
      assert(got === expected, s"doc $id")
    }
  }

  test("hash-embed top-k: dense ranks, non-increasing similarity, k rows per query") {
    val out = TextOps.hashEmbedTopK(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3)))
    out.groupBy(_._1).foreach { case (q, g) =>
      val byRank = g.sortBy(_._4)
      assert(byRank.map(_._4).toSeq === (1L to g.length).toSeq, s"query $q ranks")
      assert(byRank.length === 10, s"query $q expected k=10 rows")
      byRank.sliding(2).foreach { case Array(a, b) =>
        assert(a._3 > b._3 || (a._3 == b._3 && a._2 < b._2),
          s"query $q rank order violated")
      case _ => ()
      }
      g.foreach(r => assert(r._3 <= 1.0 + 1e-9 && r._3 >= -1.0 - 1e-9))
    }
  }

  test("ngram novelty: first doc is fully novel, counts conserve the shingle universe") {
    val rows = TextOps.ngramNovelty(spark, dir)
      .as[(Long, Long, Long, Double)].collect()
    assert(rows.nonEmpty)
    val byId = rows.map(r => r._1 -> r).toMap
    // the smallest doc_id owns every one of its shingles
    val first = byId(rows.map(_._1).min)
    assert(first._4 === 1.0)
    rows.foreach { case (_, nSh, nNew, nov) =>
      assert(nSh > 0 && nNew >= 0 && nNew <= nSh)
      assert(math.abs(nov - math.round(nNew.toDouble / nSh * 1e6) / 1e6) < 1e-9)
    }
    // every distinct corpus shingle has exactly one first owner
    val universe = TextOps.documents(spark, dir)
      .select(explode(TextOps.shingleArr(col("text"), 3)).as("s"))
      .distinct().count()
    assert(rows.map(_._3).sum === universe)
  }

  test("source sim: bounded pair fan-out, jaccard consistent with set sizes") {
    val ex = TextOps.documents(spark, dir)
      .select(col("source"), explode(TextOps.shingleArr(col("text"), 3)).as("s"))
      .distinct()
    val sizes = ex.groupBy("source").count().as[(String, Long)].collect().toMap
    val rows = TextOps.sourceSim(spark, dir)
      .as[(String, String, Long, Double)].collect()
    assert(rows.nonEmpty)
    val k = sizes.size
    assert(rows.length <= k * (k - 1) / 2)
    rows.foreach { case (a, b, i, j) =>
      assert(a < b)
      assert(i >= 1 && i <= math.min(sizes(a), sizes(b)))
      val expect = math.round(i.toDouble / (sizes(a) + sizes(b) - i) * 1e6) / 1e6
      assert(math.abs(j - expect) < 1e-9)
    }
  }

  test("normalization: case, punctuation and space runs collapse to the canonical form") {
    val rows = Seq(
      (1L, "Hello,   WORLD!!"),
      (2L, "hello world"),
      (3L, "  a--b  c__9  "),
      (4L, "..."))
      .toDF("doc_id", "text")
      .select(col("doc_id"), TextOps.normalizeCol(col("text")).as("n"))
      .as[(Long, String)].collect().toMap
    assert(rows(1L) === "hello world")
    assert(rows(2L) === "hello world")
    assert(rows(3L) === "ab c9")
    assert(rows(4L) === "")
    // the point of the normal form: case/punct variants now hash-collide
    assert(rows(1L) === rows(2L))
  }

  test("containment pairs: exact against an in-memory shingle-set ground truth") {
    val docs = TextOps.documents(spark, dir)
      .select(col("doc_id"), col("text")).as[(Long, String)].collect()
    val sets = docs.map { case (id, t) =>
      val w = t.split(" ")
      id -> w.sliding(3).filter(_.length == 3).map(_.mkString(" ")).toSet
    }.toMap
    val expect = (for {
      (a, sa) <- sets.toSeq; (b, sb) <- sets.toSeq if a < b
      i = sa.intersect(sb).size if i > 0
      c = math.round(i.toDouble / math.min(sa.size, sb.size) * 1e6) / 1e6
      if c >= 0.9
    } yield (a, b, c)).toSet
    val got = TextOps.containmentPairs(spark, dir)
      .as[(Long, Long, Double)].collect().toSet
    assert(got === expect)
    assert(got.nonEmpty)
  }
}
