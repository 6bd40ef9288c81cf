package graft

import org.apache.spark.sql.functions._

import graft.operators.{Lrs, Store}

/** Robustness against the reference's quick-start corpus — 22,000
  * real-shaped xAPI video statements (`/root/reference/data/
  * statements.json.gz`, README.md:105-118). Read-only input; the suite
  * skips when the reference checkout is absent so the repo stays
  * standalone. */
class RealCorpusSpec extends SparkSuite {

  private val corpus = "/root/reference/data/statements.json.gz"
  private def available = new java.io.File(corpus).exists()

  lazy val store = {
    val raw = spark.read.text(corpus).toDF("xapi")
      .withColumn("source", lit("corpus"))
    Store.project(raw, "xapi").cache()
  }

  test("all 22k real statements parse into the lake layout (no nulls on key columns)") {
    assume(available)
    assert(store.count() === 22000)
    assert(store.filter(col("event_id").isNull).count() === 0)
    assert(store.filter(col("ts").isNull).count() === 0)
    assert(store.filter(col("verb_id").isNull).count() === 0)
    assert(store.filter(col("stmt.actor.account.name").isNull).count() === 0)
    // lax passthrough: the original line is carried verbatim
    assert(store.select("event").first().getString(0).startsWith("{"))
  }

  test("LRS queries run over the real corpus: verb filter, agent filter, paging") {
    assume(available)
    val played = "https://w3id.org/xapi/video/verbs/played"
    val byVerb = Lrs.statements(store, Lrs.Query(verb = Some(played)))
    assert(byVerb.count() > 0 && byVerb.count() <= Lrs.MaxHits)
    // pick a real actor and query by its account IFI
    val anyActor = store.select(col("stmt.actor.account.name"),
      col("stmt.actor.account.homePage")).first()
    val agent = Lrs.Agent(accountName = Some(anyActor.getString(0)),
      accountHomePage = Some(anyActor.getString(1)))
    assert(Lrs.statements(store, Lrs.Query(agent = Some(agent))).count() > 0)
    // page walk produces a more-link cursor on a full page
    val page = Lrs.statements(store, Lrs.Query(limit = 100))
      .select(col("ts"), col("event_id")).collect()
      .map(r => (r.getTimestamp(0), r.getString(1)))
    val cursor = Lrs.nextCursor(page, 100)
    assert(cursor.isDefined)
    val url = Lrs.moreUrl("/xAPI/statements/", Lrs.Query(limit = 100), cursor.get)
    assert(url.contains("search_after=") && url.contains("limit=100"))
  }

  test("corpus-prep ops over the real 22k statements: exact dedup, near-dup, vocab") {
    assume(available)
    import spark.implicits._
    // deterministic ids: statement id IS unique per line (verified above)
    val docs = spark.read.text(corpus).toDF("text")
      .withColumn("doc_id",
        xxhash64(get_json_object(col("text"), "$.id")))
      // canonicalize JSON punctuation to whitespace words for shingling
      .withColumn("words_text",
        regexp_replace(col("text"), "[^A-Za-z0-9]+", " "))
      .cache()
    assert(docs.select("doc_id").distinct().count() === 22000)
    // exact dedup: every statement distinct (ids are uuids)
    val exact = docs.select(sha2(col("text"), 256).as("h"))
      .groupBy("h").count().filter(col("count") > 1).count()
    assert(exact === 0L)
    // near-dup: real statements are template-heavy — the LSH path must
    // surface pairs at high jaccard, every pair exact-verified >= threshold
    val pairs = graft.operators.TextOps.minhashLshPairsOn(
      docs.limit(2000).select(col("doc_id"),
        graft.operators.TextOps.shingleArr(col("words_text"), 5).as("sh")),
      threshold = 0.8)
      .as[(Long, Long, Double)].collect()
    assert(pairs.nonEmpty, "template-heavy real corpus should contain near-dups")
    assert(pairs.forall(p => p._3 >= 0.8 && p._1 < p._2))
    // vocabulary: the corpus's own IRIs dominate term frequency
    val vocab = docs.select(explode(split(col("words_text"), " ")).as("word"))
      .filter(length(col("word")) > 2)
      .groupBy("word").count()
      .orderBy(col("count").desc, col("word")).limit(10)
      .as[(String, Long)].collect()
    assert(vocab.map(_._1).exists(w =>
      w == "xapi" || w == "w3id" || w == "video" || w == "https"))
    docs.unpersist()
  }

  test("span audit over the real corpus: template spans detected") {
    assume(available)
    import spark.implicits._
    val docs = spark.read.text(corpus).toDF("text").limit(2000)
      .withColumn("doc_id", xxhash64(get_json_object(col("text"), "$.id")))
      .withColumn("words_text",
        regexp_replace(col("text"), "[^A-Za-z0-9]+", " "))
    // xAPI statements share whole template regions (verb IRIs, extension
    // keys): the span audit must find heavy cross-doc window sharing
    val spans = graft.operators.CorpusOps.spanDedupOn(
      docs.select(col("doc_id"), col("words_text").as("text")))
      .select("doc_id", "n_windows", "n_shared", "dup_frac")
      .as[(Long, Long, Long, Double)].collect()
    assert(spans.length === 2000)
    val meanFrac = spans.map(_._4).sum / spans.length
    assert(meanFrac > 0.5,
      f"template-heavy statements should share most spans, got $meanFrac%.3f")
    spans.foreach { case (_, nw, ns, _) => assert(ns >= 0 && ns <= nw) }
  }
}
