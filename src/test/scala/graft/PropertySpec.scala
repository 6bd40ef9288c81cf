package graft

import org.scalacheck.{Gen, Prop, Test => SCTest}
import org.scalacheck.Prop.forAll

import graft.functions.{TokenCodec, Uuid5, XapiEquivalent}

/** Property-based invariants (the analogue of the reference's polyfactory
  * model factories, tests/factories.py): randomized inputs over the codec,
  * id derivation, and equivalence relations. */
class PropertySpec extends SparkSuite {

  private def check(prop: Prop, minSuccessful: Int = 200): Unit = {
    val res = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(minSuccessful), prop)
    assert(res.passed, res.status.toString)
  }

  /** `rows` as a frame over an RDD, so the projection on top runs in
    * whole-stage codegen (a local relation would be folded by the
    * optimizer with interpreted `eval`). */
  private def rddFrame(rows: Seq[org.apache.spark.sql.Row],
                       schema: org.apache.spark.sql.types.StructType) =
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)

  /** The builtin composition the set-Jaccard kernel replaces. */
  private def builtinJaccard(a: org.apache.spark.sql.Column,
                             b: org.apache.spark.sql.Column) = {
    import org.apache.spark.sql.functions._
    round(size(array_intersect(a, b)).cast("double") / size(array_union(a, b)), 6)
  }

  /** Run `body` with generated code only: a codegen compile error then
    * fails the test instead of silently falling back to `eval`. */
  private def codegenOnly[T](body: => T): T = {
    val keys = Seq("spark.sql.codegen.fallback" -> "false",
      "spark.sql.codegen.factoryMode" -> "CODEGEN_ONLY")
    val prev = keys.map { case (k, _) => k -> spark.conf.getOption(k) }
    keys.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  /** Equality of two nullable doubles down to the bit pattern. */
  private def sameDouble(a: Any, b: Any): Boolean = (a, b) match {
    case (null, null) => true
    case (x: Double, y: Double) =>
      java.lang.Double.doubleToRawLongBits(x) == java.lang.Double.doubleToRawLongBits(y)
    case _ => false
  }

  private val unicodeText: Gen[String] =
    Gen.listOf(Gen.frequency(
      8 -> Gen.alphaNumChar.map(_.toString),
      2 -> Gen.oneOf("é", "ü", "日", "本", "😀" /* emoji */, " ", "\"", "\\", "{", "}")))
      .map(_.mkString)

  test("token codec round-trips every string (token-array equality invariant)") {
    check(forAll(unicodeText) { s =>
      TokenCodec.decodeString(TokenCodec.encodeString(s).toIndexedSeq) == s
    })
  }

  test("uuid5 is deterministic, version-5, and injective-in-practice") {
    check(forAll(unicodeText, unicodeText) { (a, b) =>
      val ua = Uuid5.uuid5(sources.Synth.UuidNamespace, a)
      val ub = Uuid5.uuid5(sources.Synth.UuidNamespace, b)
      ua == Uuid5.uuid5(sources.Synth.UuidNamespace, a) &&
        ua.charAt(14) == '5' && // version nibble
        ((a == b) == (ua == ub)) // no collisions expected at this scale
    })
  }

  test("xAPI equivalence is reflexive and symmetric; authority never matters") {
    val stmt: Gen[String] = for {
      verb <- Gen.oneOf("v://1", "v://2")
      obj <- Gen.oneOf("act://1", "act://2")
      ts <- Gen.option(Gen.oneOf("2024-01-01T00:00:00+00:00", "2024-01-02T00:00:00+00:00"))
    } yield {
      val tsPart = ts.map(t => s""", "timestamp": "$t"""").getOrElse("")
      s"""{"id": "x", "actor": {"mbox": "mailto:a@x.io"}, "verb": {"id": "$verb"}, "object": {"id": "$obj"}$tsPart}"""
    }
    check(forAll(stmt, stmt) { (a, b) =>
      val auth = """, "authority": {"mbox": "mailto:other@x.io"}"""
      val aAuth = a.dropRight(1) + auth + "}"
      XapiEquivalent.equivalent(a, a) &&
        (XapiEquivalent.equivalent(a, b) == XapiEquivalent.equivalent(b, a)) &&
        XapiEquivalent.equivalent(a, aAuth) // authority ignored (utils.py:181)
    })
  }

  test("synth generator is a pure function of the index") {
    check(forAll(Gen.chooseNum(0L, 100000L)) { i =>
      sources.Synth.edxJson(i) == sources.Synth.edxJson(i) &&
        sources.Synth.docId(i) == sources.Synth.docId(i)
    })
  }

  test("media sniff/resize never throw on arbitrary bytes (fuzz)") {
    // the quarantine contract: at 10^12 rows every corruption exists; the
    // parsers must classify, never crash
    val junk: Gen[Array[Byte]] = Gen.oneOf(
      Gen.listOf(Gen.chooseNum(-128, 127).map(_.toByte)).map(_.toArray),
      // adversarial: valid magics with corrupt interiors
      Gen.listOfN(60, Gen.chooseNum(-128, 127).map(_.toByte)).map { l =>
        val a = l.toArray; a(0) = 'B'; a(1) = 'M'; a
      },
      Gen.listOfN(60, Gen.chooseNum(-128, 127).map(_.toByte)).map { l =>
        val a = l.toArray
        "RIFF".getBytes.copyToArray(a, 0); "WAVE".getBytes.copyToArray(a, 8); a
      })
    check(forAll(junk, Gen.chooseNum(1, 8), Gen.chooseNum(1, 8)) { (bytes, w, h) =>
      val m = graft.operators.MediaOps.sniff(1L, bytes)
      val r = graft.operators.MediaOps.resizeBmp(bytes, w, h)
      // sniff always classifies; resize only succeeds on genuinely valid
      // BMPs. The kind set is the FULL r3+ classifier range: random bytes
      // hit the 2-byte JPEG magic (FF D8) with probability 2^-16, so a
      // bmp/wav/unknown-only assertion is a latent fuzz failure, not a
      // parser bug (caught live by this property on 2026-08-17)
      Set("bmp", "wav", "png", "jpeg", "mp4", "unknown").contains(m.kind) &&
        (r.isEmpty || graft.operators.MediaOps.sniff(1L, r.get).valid)
    })
  }

  test("PQ encode/decode: codes in range, reconstruction is codewords, members lossless") {
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    val books = Array.tabulate(4) { s =>
      Array.tabulate(4) { c =>
        Array.tabulate(4) { d =>
          graft.sources.Synth.mix(s * 100 + c * 10 + d, 7L).toDouble / Long.MaxValue
        }
      }
    }
    val enc = graft.functions.PqEncode(
      org.apache.spark.sql.catalyst.expressions.Literal(1), books)
    check(forAll(Gen.listOfN(16, Gen.chooseNum(-1.0, 1.0))) { xs =>
      val codes = enc.encodeFast(new GenericArrayData(xs.toArray))
      val dec = graft.functions.PqDecode.decode(codes, books)
      (0 until 4).forall(s => codes.getInt(s) >= 0 && codes.getInt(s) < 4) &&
        dec.numElements() == 16 &&
        (0 until 4).forall(s => (0 until 4).forall(d =>
          dec.getDouble(s * 4 + d) == books(s)(codes.getInt(s))(d)))
    })
    // a vector assembled from codewords round-trips to exactly those codes
    // (drives the exact-match hit path AND its collision guard)
    val member = books(0)(2) ++ books(1)(0) ++ books(2)(3) ++ books(3)(1)
    val codes = enc.encodeFast(new GenericArrayData(member))
    assert((0 until 4).map(codes.getInt) === Seq(2, 0, 3, 1))
  }

  test("IVF-PQ residual expressions: residual+centroid recovers v; decodePlus inverts member residuals") {
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    val cents = Array.tabulate(4) { c =>
      Array.tabulate(16)(d =>
        graft.sources.Synth.mix(c * 50 + d, 11L).toDouble / Long.MaxValue)
    }
    val books = Array.tabulate(4) { s =>
      Array.tabulate(4) { cw =>
        Array.tabulate(4)(d =>
          graft.sources.Synth.mix(s * 100 + cw * 10 + d, 13L).toDouble / Long.MaxValue)
      }
    }
    val enc = graft.functions.PqEncode(
      org.apache.spark.sql.catalyst.expressions.Literal(1), books)
    check(forAll(Gen.listOfN(16, Gen.chooseNum(-1.0, 1.0)),
      Gen.chooseNum(0, 3)) { (xs, cell) =>
      val v = xs.toArray
      val res = graft.functions.CentroidResidual.residual(
        new GenericArrayData(v), cell, cents)
      // (v − c) + c recovers v to float tolerance
      val back = (0 until 16).forall(i =>
        math.abs(res.getDouble(i) + cents(cell)(i) - v(i)) < 1e-12)
      // decodePlus(encode(residual), cell) = centroid + chosen codewords
      val codes = enc.encodeFast(res)
      val dec = graft.functions.PqDecodeResidual.decodePlus(codes, cell, books, cents)
      val composed = (0 until 4).forall(s => (0 until 4).forall(d =>
        math.abs(dec.getDouble(s * 4 + d) -
          (cents(cell)(s * 4 + d) + books(s)(codes.getInt(s))(d))) == 0.0))
      back && composed
    })
    // dimension mismatch fails loudly, never pads or truncates
    intercept[IllegalArgumentException] {
      graft.functions.CentroidResidual.residual(
        new GenericArrayData(Array(1.0, 2.0)), 0, cents)
    }
    intercept[IllegalArgumentException] {
      val shortCents = Array(Array(1.0, 2.0)) // 2 dims vs 16-dim codebooks
      graft.functions.PqDecodeResidual.decodePlus(
        new GenericArrayData(Array(0, 0, 0, 0)), 0, books, shortCents)
    }
  }

  test("timestamp fast path equals the formatter chain on every shape (fuzz)") {
    import graft.functions.EdxModels
    // formatter-chain reference reimplemented here: the production
    // parseTsMicros now tries the digit-scan fast path first, and this
    // property is exactly the claim that the fast path changed nothing
    def slow(s: String): Long = {
      if (s == null || s.isEmpty) return EdxModels.NoTs
      try {
        val odt = java.time.OffsetDateTime.parse(s)
        odt.toEpochSecond * 1000000L + odt.getNano / 1000L
      } catch { case _: Exception =>
        try {
          val ldt = java.time.LocalDateTime.parse(s)
          ldt.toEpochSecond(java.time.ZoneOffset.UTC) * 1000000L + ldt.getNano / 1000L
        } catch { case _: Exception =>
          try {
            // the repo-wide µs definition (floorDiv): the truncating
            // `getTime / 1000L * 1000000L` form diverges by one second on
            // pre-1970 timestamps with a fractional part (caught live by a
            // year-0208 scalacheck seed in r6) — production deliberately
            // routes through Horizon.micros, so the reference must too
            graft.streaming.Horizon.micros(java.sql.Timestamp.valueOf(s))
          } catch { case _: Exception => EdxModels.NoTs }
        }
      }
    }
    // structured generator around the wire shapes + targeted mutations
    val frac = Gen.oneOf(Gen.const(""), Gen.chooseNum(0, 999999).map(f => s".$f"),
      Gen.chooseNum(0, 999999999).map(f => s".$f"))
    // includes OUT-OF-RANGE colon-form offsets (+19:00, +05:99): the fast
    // path must fall back to the formatters, which reject them (review r4
    // #1 — the first generator only emitted in-range offsets and missed a
    // fabricated-epoch acceptance)
    val off = Gen.oneOf(Gen.oneOf("", "Z", "+0200", "junk"),
      for {
        sign <- Gen.oneOf("+", "-")
        oh <- Gen.chooseNum(0, 99); om <- Gen.chooseNum(0, 99)
      } yield f"$sign$oh%02d:$om%02d")
    val shaped = for {
      y <- Gen.chooseNum(1, 9999); mo <- Gen.chooseNum(0, 13)
      d <- Gen.chooseNum(0, 32); h <- Gen.chooseNum(0, 24)
      mi <- Gen.chooseNum(0, 60); se <- Gen.chooseNum(0, 61)
      f <- frac; o <- off
      sep <- Gen.oneOf("T", " ", "x")
    } yield f"$y%04d-$mo%02d-$d%02d$sep$h%02d:$mi%02d:$se%02d$f$o"
    val garbage = Gen.alphaNumStr
    check(forAll(Gen.oneOf(shaped, garbage)) { s =>
      EdxModels.parseTsMicros(s) == slow(s)
    })
    // the exact wire format, heavily
    check(forAll(Gen.chooseNum(0L, 4102444800L), Gen.chooseNum(0, 999999)) { (sec, us) =>
      val iso = java.time.Instant.ofEpochSecond(sec, us * 1000L)
        .atOffset(java.time.ZoneOffset.UTC)
        .format(java.time.format.DateTimeFormatter
          .ofPattern("yyyy-MM-dd'T'HH:mm:ss.SSSSSS'+00:00'"))
      EdxModels.parseTsMicros(iso) == slow(iso) &&
        EdxModels.parseTsMicros(iso) == sec * 1000000L + us
    })
  }

  test("BPE mergeOnce shrinks or preserves length and never emits the merged pair") {
    val seqGen = Gen.listOf(Gen.chooseNum(0, 5)).map(_.toArray)
    check(forAll(seqGen, Gen.chooseNum(0, 5), Gen.chooseNum(0, 5)) { (s, l, r) =>
      val out = graft.operators.BpeTrainer.mergeOnce(s, l, r, 99)
      val noPair = (0 until out.length - 1).forall(i => !(out(i) == l && out(i + 1) == r)) ||
        (l == r && r == 99) // unreachable newId sentinel guard
      out.length <= s.length && (l != r || noPair) &&
        (if (l != r) noPair else true)
    })
  }

  test("set-Jaccard edge values: pinned builtin values, matched by the kernel") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types._
    val at = ArrayType(StringType, containsNull = true)
    val schema = StructType(Seq(StructField("a", at), StructField("b", at)))
    // (a, b, the builtin's value in the engine session: ANSI off)
    val cases: Seq[(Seq[String], Seq[String], java.lang.Double)] = Seq(
      (Seq("x", "x", "y"), Seq("x"), 0.5),         // duplicates count once
      (Seq("a", "b", "c"), Seq("c", "b", "a", "a"), 1.0),
      (Seq("a", "b", "c"), Seq("a"), 0.333333),    // HALF_UP at 6 places
      (Seq("a", "b", "c"), Seq("a", "b"), 0.666667),
      (Seq("日本 語", "é"), Seq("é", "z"), 0.333333),
      (Seq.empty, Seq("x"), 0.0),
      (Seq.empty, Seq.empty, null),                // 0 / 0
      (null, Seq("x"), 1.0),                       // legacy size(null) = -1:
      (null, Seq.empty, 1.0),                      // -1 / -1
      (null, null, 1.0),
      (Seq(null, "x"), Seq(null), 0.5),            // null is one more value
      (Seq(null, null), Seq.empty, 0.0))
    val got = rddFrame(cases.map { case (a, b, _) => Row(a, b) }, schema)
      .select(builtinJaccard(col("a"), col("b")),
        graft.functions.Signatures.setJaccardCol(col("a"), col("b")))
      .collect()
    got.zip(cases).foreach { case (r, (a, b, want)) =>
      assert(sameDouble(r.get(0), want), s"builtin on ($a, $b)")
      assert(sameDouble(r.get(1), want), s"kernel on ($a, $b)")
    }

    // under ANSI evaluation size(null) is null and 0 / 0 raises; the
    // kernel captures the mode at construction, like the builtins
    spark.conf.set("spark.sql.ansi.enabled", "true")
    try {
      def both(a: Seq[String], b: Seq[String]) =
        rddFrame(Seq(Row(a, b)), schema).select(
          builtinJaccard(col("a"), col("b")).as("builtin"),
          graft.functions.Signatures.setJaccardCol(col("a"), col("b")).as("kernel"))
      val r = both(null, Seq("x")).head()
      assert(r.isNullAt(0) && r.isNullAt(1))
      val empty = both(Seq.empty, Seq.empty)
      empty.columns.foreach { c =>
        val e = intercept[Exception](empty.select(c).collect())
        assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
          .exists(_.getMessage.contains("DIVIDE_BY_ZERO")), s"$c: $e")
      }
    } finally spark.conf.set("spark.sql.ansi.enabled", "false")
  }

  test("set-Jaccard kernel equals round(size(array_intersect)/size(array_union), 6)") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.catalyst.expressions.BoundReference
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types._
    import org.apache.spark.unsafe.types.UTF8String
    import graft.functions.{SetJaccardExpr, Signatures}

    // a small alphabet makes shared elements and duplicates frequent;
    // non-ASCII and empty strings ride along, null elements occasionally
    val elem: Gen[String] = Gen.frequency(
      12 -> Gen.oneOf("a b c", "b c d", "c d e", "x", "y", "", "日本 語", "é ü", "😀 z"),
      1 -> Gen.const(null: String))
    val arr: Gen[Seq[String]] = Gen.frequency(
      6 -> Gen.listOf(elem).map(_.take(12)),
      2 -> Gen.const(Seq.empty[String]),
      1 -> Gen.const(null: Seq[String]))
    val pair: Gen[(Seq[String], Seq[String])] = Gen.frequency(
      5 -> Gen.zip(arr, arr),
      1 -> arr.map(a => (a, a)),                                   // identical
      1 -> arr.map(a => (a, if (a == null) null else a.reverse ++ a)), // same set, dups
      1 -> Gen.zip(arr, arr).map { case (a, b) =>                  // disjoint
        (a, if (b == null) null else b.map(x => if (x == null) x else x + "#")) })
    val at = ArrayType(StringType, containsNull = true)
    val schema = StructType(Seq(StructField("a", at), StructField("b", at)))
    val kernel = SetJaccardExpr(BoundReference(0, at, nullable = true),
      BoundReference(1, at, nullable = true))
    def arrayData(xs: Seq[String]): Any =
      if (xs == null) null
      else new GenericArrayData(xs.map(x => if (x == null) null else UTF8String.fromString(x)).toArray[Any])

    codegenOnly(check(forAll(Gen.listOfN(40, pair)) { pairs =>
      val df = rddFrame(pairs.map { case (a, b) => Row(a, b) }, schema)
      val got = df.select(builtinJaccard(col("a"), col("b")).as("builtin"),
          Signatures.setJaccardCol(col("a"), col("b")).as("codegen"))
        .collect()
      got.length == pairs.length && got.zip(pairs).forall { case (r, (a, b)) =>
        val interpreted = kernel.eval(InternalRow(arrayData(a), arrayData(b)))
        sameDouble(r.get(0), r.get(1)) && sameDouble(r.get(0), interpreted)
      }
    }, minSuccessful = 25))
  }

  test("band-key kernel equals xxhash64(concat_ws) over every band slice") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.catalyst.expressions.BoundReference
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types._
    import graft.functions.{BandKeysExpr, Signatures}
    import graft.operators.TextOps.{Bands, Rows}

    val value: Gen[java.lang.Long] = Gen.frequency(
      4 -> Gen.chooseNum(Long.MinValue, Long.MaxValue).map(Long.box),
      2 -> Gen.chooseNum(-1000L, 2147483647L).map(Long.box),
      1 -> Gen.oneOf(Long.MinValue, Long.MaxValue, 0L, -1L, 1L, -10L, 10L).map(Long.box),
      1 -> Gen.const(null: java.lang.Long))
    val sig: Gen[Seq[java.lang.Long]] = Gen.frequency(
      6 -> Gen.listOfN(Bands * Rows, value),      // a full signature
      2 -> Gen.listOf(value).map(_.take(Bands * Rows + 3)), // short or long
      1 -> Gen.const(null: Seq[java.lang.Long]))
    val st = ArrayType(LongType, containsNull = true)
    val schema = StructType(Seq(StructField("sig", st)))
    val kernel = BandKeysExpr(BoundReference(0, st, nullable = true), Bands, Rows)
    val builtin = array((0 until Bands).map(b =>
      xxhash64(concat_ws("_", lit(b), slice(col("sig"), b * Rows + 1, Rows)))): _*)

    codegenOnly(check(forAll(Gen.listOfN(20, sig)) { sigs =>
      val got = rddFrame(sigs.map(Row(_)), schema)
        .select(builtin.as("builtin"),
          Signatures.bandKeysCol(col("sig"), Bands, Rows).as("codegen"))
        .collect()
      got.length == sigs.length && got.zip(sigs).forall { case (r, s) =>
        val want = r.getSeq[Long](0)
        val in = if (s == null) null else new GenericArrayData(s.toArray[Any])
        val interpreted = kernel.eval(InternalRow(in)).asInstanceOf[
          org.apache.spark.sql.catalyst.util.ArrayData].toLongArray().toSeq
        want == r.getSeq[Long](1) && want == interpreted
      }
    }, minSuccessful = 25))
  }
}
