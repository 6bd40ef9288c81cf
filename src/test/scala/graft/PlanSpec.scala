package graft

import org.apache.spark.sql.functions._

import graft.operators.{EmbeddingOps, EventOps, Lrs, Store}

/** Physical-plan assertions: the scale properties SURVEY.md §4 promises —
  * filter/column pushdown into parquet scans, partition pruning on the lake
  * layout, broadcast of request-sized join sides, no stray shuffles in
  * narrow pipelines. These are the properties that decide 100 TB behavior;
  * regressions here are silent at test scale, hence plan-level tests. */
class PlanSpec extends SparkSuite {

  private def planOf(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.toString

  test("LRS filters push down to the parquet scan (PushedFilters)") {
    val df = EventOps.getWindow(spark, sf("sf0.01"))
    val plan = planOf(df)
    assert(plan.contains("PushedFilters"), plan)
    assert(plan.contains("IsNotNull(event_type)") || plan.contains("EqualTo(event_type"),
      s"event_type equality not pushed:\n$plan")
    // column pruning: props (unused) must not be read
    assert(!plan.contains("props"), s"unused column not pruned:\n$plan")
  }

  test("lake-store query prunes partitions by date and pushes verb equality") {
    val path = tempDir("prune")
    Store.write(Pipeline.run(graft.sources.Synth.inputTable(spark, 500)), path, "overwrite")
    val store = Store.read(spark, path)
    val q = Lrs.statements(store, Lrs.Query(
      verb = Some(graft.operators.Convert.Played),
      since = Some("2024-01-01T00:00:00+00:00")))
    val plan = planOf(q)
    assert(plan.contains("PushedFilters") && plan.contains("EqualTo(verb_id"), plan)
    // date/source are partition columns → appear as partition filters, not data filters
    assert(plan.contains("PartitionFilters") || plan.contains("partition"), plan)
  }

  test("lake files are ts-sorted within partitions (tight row-group stats)") {
    // partition pruning gets the day; the in-file ts sort gets the hour —
    // row-group min/max stats only skip when rows are clustered by ts
    import spark.implicits._
    val path = tempDir("sorted")
    Store.write(Pipeline.run(graft.sources.Synth.inputTable(spark, 500)), path, "overwrite")
    val files = spark.read.parquet(path)
      .select(input_file_name().as("f")).distinct().as[String].collect()
    assert(files.nonEmpty)
    files.foreach { f =>
      // read each data file alone: scan order IS file order
      val ts = spark.read.parquet(f).select(col("ts").cast("long"))
        .as[Long].collect().toSeq
      assert(ts === ts.sorted, s"rows not ts-ordered in $f")
    }
  }

  test("validate/convert is a single narrow stage — no shuffle before dedup") {
    val df = Pipeline.validateConvert(graft.sources.Synth.inputTable(spark, 100))
    val plan = planOf(df)
    assert(!plan.contains("Exchange"), s"unexpected shuffle in the map path:\n$plan")
  }

  test("brute-force top-k broadcasts the query side") {
    val plan = planOf(EmbeddingOps.bruteTopK(spark, sf("sf0.001")))
    assert(plan.contains("BroadcastNestedLoopJoin") || plan.contains("BroadcastExchange"),
      s"query side not broadcast:\n$plan")
  }

  test("top-k tails plan NO per-query window sort (two-phase bounded aggregation)") {
    // the r4 shape ranked with row_number() over (partition by qid) — a
    // corpus-sized sort partition per query; the r5 TopKAgg shape must plan
    // an ObjectHashAggregate with a partial stage and no Window/Sort-by-sim
    // anywhere (VERDICT r4 prescription #5)
    val plans = Seq(
      "brute" -> planOf(EmbeddingOps.bruteTopK(spark, sf("sf0.001"))),
      "hard_negatives" -> planOf(EmbeddingOps.hardNegatives(spark, sf("sf0.001"))),
      "hash_embed" -> planOf(graft.operators.TextOps.hashEmbedTopK(spark, sf("sf0.001"))),
      "pq_rerank" -> planOf(EmbeddingOps.pqTopKRerank(spark, sf("sf0.001"))),
      // r6: the quota batch twin — first-n-per-(user,day) through the same
      // bounded aggregator; a hot bot actor must never become a sort task
      "rate_quota" -> planOf(EventOps.rateQuota(spark, sf("sf0.001"))))
    plans.foreach { case (name, plan) =>
      assert(!plan.contains("Window"), s"$name still plans a window sort:\n$plan")
      assert(plan.contains("ObjectHashAggregate") || plan.contains("SortAggregate"),
        s"$name lacks the bounded aggregate:\n$plan")
      // partial (map-side) stage ON THE BOUNDED AGGREGATE ITSELF → the
      // shuffle carries ≤k rows per task. A bare plan.contains("partial")
      // is a tautology (any unrelated partial_count matches); the mode
      // prints on the aggregate node's own line, so gate there.
      assert(plan.linesIterator.exists(l =>
          (l.contains("ObjectHashAggregate") || l.contains("SortAggregate")) &&
            l.toLowerCase.contains("partial")),
        s"$name lacks a partial stage on the bounded aggregate:\n$plan")
    }
  }

  test("sketch aggregations plan a partial (map-side) stage — the shuffle carries buffers, not rows") {
    // the r5 sketches exist so the shuffle carries one bounded buffer per
    // (task, group) instead of the value stream; losing partial mode makes
    // the plan a corpus-sized shuffle with a sketch bolted on
    val plans = Seq(
      "quantile" -> planOf(EventOps.quantileSketchQuery(spark, sf("sf0.001"))),
      "kmv" -> planOf(graft.operators.TextOps.kmvPerSource(spark, sf("sf0.001"), 1 << 15)))
    plans.foreach { case (name, plan) =>
      assert(plan.linesIterator.exists(l =>
          (l.contains("ObjectHashAggregate") || l.contains("SortAggregate")) &&
            l.toLowerCase.contains("partial")),
        s"$name sketch lacks a partial aggregation stage:\n$plan")
      assert(!plan.contains("Window"), s"$name plans a window:\n$plan")
    }
  }

  test("zorder key is one pruned codegen scan-projection — no shuffle, no fallback") {
    spark.conf.set("spark.sql.codegen.fallback", "false")
    spark.conf.set("spark.sql.codegen.factoryMode", "CODEGEN_ONLY")
    try {
      val df = graft.operators.LayoutOps.zorderKeyQuery(spark, sf("sf0.001"))
      assert(df.count() > 0) // throws if the shift-or-mask ladder falls back
      val plan = planOf(df)
      assert(!plan.contains("Exchange"), s"zkey projection shuffles:\n$plan")
      // column pruning must reach the scan: the kernel touches only
      // (event_id, user_id, ts) — a scan hauling value/props/event_type
      // reads 2-3× the bytes for nothing at 100 TB
      val read = plan.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
      assert(!read.contains("props") && !read.contains("value"),
        s"zkey scan reads unused columns:\n$read")
    } finally {
      spark.conf.set("spark.sql.codegen.factoryMode", "FALLBACK")
      spark.conf.set("spark.sql.codegen.fallback", "true")
    }
  }

  test("pii redaction is one narrow codegen projection — no shuffle, no fallback") {
    spark.conf.set("spark.sql.codegen.fallback", "false")
    spark.conf.set("spark.sql.codegen.factoryMode", "CODEGEN_ONLY")
    try {
      val df = graft.operators.TextOps.piiRedact(spark, sf("sf0.001"))
      assert(df.count() > 0) // throws if any expression falls back
      val plan = planOf(df)
      assert(!plan.contains("Exchange"), s"pii redaction shuffles:\n$plan")
    } finally {
      spark.conf.set("spark.sql.codegen.factoryMode", "FALLBACK")
      spark.conf.set("spark.sql.codegen.fallback", "true")
    }
  }

  test("validate→convert hot path compiles under whole-stage codegen — no fallback") {
    // r1's giant when()-chain blew Janino's limits and silently fell back to
    // interpreted eval on the hottest projection (VERDICT r1 §wrong-1).
    // With fallback disabled, any codegen compile failure throws — this is
    // the hard no-regression gate for the per-row map path.
    spark.conf.set("spark.sql.codegen.fallback", "false")
    spark.conf.set("spark.sql.codegen.factoryMode", "CODEGEN_ONLY")
    try {
      val df = Pipeline.validateConvert(graft.sources.Synth.inputTable(spark, 500))
      assert(df.count() > 0)
      assert(planOf(df).contains("*(1)"),
        s"no WholeStageCodegen stage in:\n${planOf(df)}")
    } finally {
      spark.conf.set("spark.sql.codegen.fallback", "true")
      spark.conf.set("spark.sql.codegen.factoryMode", "FALLBACK")
    }
  }

  test("int8 quant audit compiles under whole-stage codegen — no fallback") {
    // pins the static-forwarder dependency of Int8QuantAudit.doGenCode (the
    // documented companion-method-collision trap silently falls back to
    // interpreted eval, a 3-50× class of regression no value test catches)
    spark.conf.set("spark.sql.codegen.fallback", "false")
    spark.conf.set("spark.sql.codegen.factoryMode", "CODEGEN_ONLY")
    try {
      val df = EmbeddingOps.quantAudit(spark, sf("sf0.001"))
      assert(df.count() > 0)
      assert(planOf(df).contains("*(1)"),
        s"no WholeStageCodegen stage in:\n${planOf(df)}")
      // the SQ8 pair (encode to binary, byte-domain cosine) under the same
      // CODEGEN_ONLY regime — over the PARQUET-backed table: a
      // LocalRelation collapses to LocalTableScan at optimization time
      // (ConvertToLocalRelation runs InterpretedMutableProjection) and
      // would never exercise doGenCode, making the gate a no-op
      val sq8 = EmbeddingOps.embeddings(spark, sf("sf0.001"))
        .select(col("vec_id"),
          graft.functions.Int8Codes.int8Codes(col("embedding")).as("codes"),
          col("embedding"))
        .select(col("vec_id"),
          graft.functions.Int8CosSim.int8CosSim(
            col("codes"), col("embedding")).as("s"))
      val sims = sq8.collect().map(_.getDouble(1))
      assert(sims.nonEmpty && sims.forall(_ > 0.99))
      assert(planOf(sq8).contains("*(1)"),
        s"no WholeStageCodegen stage in:\n${planOf(sq8)}")
    } finally {
      spark.conf.set("spark.sql.codegen.fallback", "true")
      spark.conf.set("spark.sql.codegen.factoryMode", "FALLBACK")
    }
  }

  test("near-dup candidate generation never plans a cartesian product") {
    // the banded/shingled paths must meet candidates via equi-joins — a
    // CartesianProduct/BroadcastNestedLoop here is the difference between
    // O(near-dups) and O(corpus²) at 100 TB (brute-force ground-truth ops
    // excepted by design)
    val plans = Seq(
      planOf(graft.operators.TextOps.jaccardPairs(spark, sf("sf0.001"))),
      planOf(graft.operators.TextOps.minhashLshPairs(spark, sf("sf0.001"))),
      planOf(graft.operators.TextOps.simhashPairs(spark, sf("sf0.001"))),
      planOf(EmbeddingOps.lshTopK(spark, sf("sf0.001"))),
      planOf(EmbeddingOps.nearDupPairsBucketed(spark, sf("sf0.001"))),
      planOf(graft.operators.CorpusOps.spanDedup(spark, sf("sf0.001"))),
      planOf(graft.operators.CorpusOps.bigramLogProb(spark, sf("sf0.001"))))
    plans.foreach { p =>
      assert(!p.contains("CartesianProduct"), s"cartesian product in:\n$p")
      assert(!p.contains("BroadcastNestedLoopJoin") ||
        p.contains("BroadcastHashJoin") || p.contains("SortMergeJoin"),
        s"no hash/merge join path in:\n$p")
    }
  }

  test("NO shipped query plans a CartesianProduct (both-sides-unbounded join)") {
    // VERDICT r2 wrong-3: q_cos_neardup shipped an all-pairs crossJoin.
    // Gate: across EVERY SparkEntry.queries plan, the only cross-join shape
    // allowed is BroadcastNestedLoopJoin with a request-sized broadcast
    // side (the brute-force/ANN query fan-outs); a CartesianProduct node —
    // Spark's both-sides-partitioned cartesian — is corpus² at scale.
    SparkEntry.queries.foreach { case (name, fn) =>
      val p = planOf(fn(spark, sf("sf0.001")))
      assert(!p.contains("CartesianProduct"), s"cartesian product in $name:\n$p")
      // and no interpreted Scala UDF anywhere in a shipped plan — every
      // per-row extension is a native codegen expression
      assert(!p.contains("ScalaUDF"), s"Scala UDF in $name:\n$p")
    }
  }

  test("shipped q_ann_pq carries bounded trained codebooks, never the lossless collect") {
    // VERDICT r2 wrong-2: the lossless codebook (exactPqCodebooks) collects
    // the FULL embeddings table to the driver. The shipped query must carry
    // codebooks bounded by the trained size (k codewords per subspace), so
    // walk the executed plan's PqEncode expressions and check.
    val df = SparkEntry.queries("q_ann_pq")(spark, sf("sf0.001"))
    // walk the analyzed logical plan (AQE wraps the physical tree)
    val encoders = df.queryExecution.analyzed.flatMap(_.expressions)
      .flatMap(_.collect { case e: graft.functions.PqEncode => e })
    assert(encoders.nonEmpty, "q_ann_pq no longer uses PQ encoding?")
    encoders.foreach { e =>
      e.codebooks.foreach(book =>
        assert(book.length <= 256, // = kCodes: trained size, not table size
          s"codebook has ${book.length} codewords — lossless full-table config shipped"))
    }
  }

  test("span audit is join-free: exactly two exchanges (window hash, then doc)") {
    // the corpus-wide span audit must stay a two-shuffle pipeline — a third
    // Exchange or any Join node means the single-evaluation rewrite
    // regressed to the aggregate-join-aggregate shape (3× the scan+md5 work)
    val plan = planOf(graft.operators.CorpusOps.spanDedup(spark, sf("sf0.001")))
    assert(!plan.contains("Join"), s"span audit must not join:\n$plan")
    val nExchanges = "(?<!Reused)Exchange hashpartitioning".r
      .findAllIn(plan).size
    assert(nExchanges == 2, s"expected 2 exchanges, got $nExchanges:\n$plan")
  }

  test("epoch shuffle is one exchange per epoch set — no global single-reducer sort") {
    val plan = planOf(graft.operators.CorpusOps.epochShuffle(spark, sf("sf0.001")))
    assert(!plan.contains("Join"), plan)
    // the training order must be computed per (epoch, shard) cell: the only
    // exchange hash-partitions on the cell key, never a SinglePartition sort
    assert(plan.contains("Exchange hashpartitioning(epoch"), plan)
    assert(!plan.contains("Exchange SinglePartition"),
      s"global sort would single-reduce at scale:\n$plan")
  }

  test("bucketed tables co-locate the join — no Exchange on either side") {
    // the 100 TB co-located-join path: two tables bucketed on the join key
    // land in SortMergeJoin with ZERO shuffle (only per-partition sorts).
    // At cluster scale this is the difference between re-shuffling both fact
    // tables per query and reading them pre-placed.
    val wh = spark.conf.get("spark.sql.warehouse.dir")
    spark.sql("DROP TABLE IF EXISTS corpus_bkt_a")
    spark.sql("DROP TABLE IF EXISTS corpus_bkt_b")
    val docs = graft.operators.TextOps.documents(spark, sf("sf0.001"))
    docs.select("doc_id", "source").write
      .bucketBy(8, "doc_id").sortBy("doc_id").saveAsTable("corpus_bkt_a")
    docs.select("doc_id", "n_chars").write
      .bucketBy(8, "doc_id").sortBy("doc_id").saveAsTable("corpus_bkt_b")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val joined = spark.table("corpus_bkt_a")
        .join(spark.table("corpus_bkt_b"), "doc_id")
      val plan = planOf(joined)
      assert(plan.contains("SortMergeJoin"), plan)
      assert(!plan.contains("Exchange"),
        s"bucketed join must not shuffle either side:\n$plan")
      assert(joined.count() === docs.count())
    } finally {
      spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
      spark.sql("DROP TABLE IF EXISTS corpus_bkt_a")
      spark.sql("DROP TABLE IF EXISTS corpus_bkt_b")
    }
    assert(wh != null) // warehouse dir resolved (in-memory catalog default)
  }

  test("AQE splits a skewed join at runtime (skew=true in the final plan)") {
    // hot-key skew is handled two ways in this engine: explicit salting for
    // streaming state (tumblingCounts saltBuckets) and AQE skew-join for
    // batch joins — this pins the latter so a config regression is caught.
    import spark.implicits._
    val conf = spark.conf
    val saved = Seq("spark.sql.adaptive.enabled",
      "spark.sql.adaptive.skewJoin.enabled",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes",
      "spark.sql.autoBroadcastJoinThreshold").map(k => k -> conf.getOption(k))
    try {
      conf.set("spark.sql.adaptive.enabled", "true")
      conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
      conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "1")
      conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "20KB")
      conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "20KB")
      conf.set("spark.sql.autoBroadcastJoinThreshold", "-1") // force SMJ
      // one hot key dominating the left side
      val left = (1 to 60000).map(i => (if (i % 100 == 0) i.toLong else 0L,
        s"payload-$i-${"x" * 64}")).toDF("k", "v")
      val right = (0 to 600).map(i => (i.toLong, s"dim-$i")).toDF("k", "d")
      val joined = left.join(right, "k")
      // execute THIS DataFrame's plan (count() would plan a sibling query
      // and leave this AdaptiveSparkPlan unfinalised)
      assert(joined.collect().length > 0)
      val finalPlan = joined.queryExecution.executedPlan.toString
      assert(finalPlan.contains("skew=true"),
        s"expected a skew-split SortMergeJoin in:\n$finalPlan")
    } finally saved.foreach { case (k, v) =>
      v match { case Some(x) => conf.set(k, x); case None => conf.unset(k) }
    }
  }

  test("uuid5/token-codec expressions stay inside whole-stage codegen") {
    val df = EventOps.events(spark, sf("sf0.001"))
      .select(graft.functions.Uuid5.uuid5Col(
        lit(graft.sources.Synth.UuidNamespace), col("event_type")).as("u"),
        graft.functions.TokenCodec.encodeTokens(col("event_type")).as("t"))
      .filter(col("u").isNotNull)
    val plan = planOf(df)
    // '*(n)' prefixes mark operators inside a WholeStageCodegen stage
    assert(plan.contains("*(1) Project [uuid5") ||
      plan.contains("*(1) Project [codepoints"), plan)
    // and over literal input they constant-fold away entirely (foldable)
    import spark.implicits._
    val folded = Seq("x").toDF("s").select(
      graft.functions.TokenCodec.encodeTokens(lit("hello")).as("t"))
    assert(planOf(folded).contains("LocalTableScan"))
  }
}
