package graft

/** Driver-contract smoke: entry() must return rows on a plain session. */
class EntrySpec extends SparkSuite {
  test("entry() produces a non-empty lake frame") {
    val df = SparkEntry.entry(spark)
    assert(df.count() > 0)
    assert(df.columns.contains("event_id"))
  }

  test("every oracle key has a matching queries entry — and vice versa") {
    val missing = SparkEntry.oracleSql.keySet.diff(SparkEntry.queries.keySet)
    assert(missing.isEmpty, s"oracle without query: $missing")
    // every shipped query carries the hard DuckDB signal (0 rows-only
    // checks since r2 — keep it that way)
    val unchecked = SparkEntry.queries.keySet.diff(SparkEntry.oracleSql.keySet)
    assert(unchecked.isEmpty, s"query without oracle: $unchecked")
  }

  test("two concurrent builds of an index-building ANN query each read their own index") {
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration._
    implicit val ec: ExecutionContext = ExecutionContext.global
    // builds an IVF index, appends to it twice, then scans it
    val q = SparkEntry.queries("q_ann_ivf_incremental")
    def run() = q(spark, sf()).collect().map(_.toString).sorted.toSeq
    val solo = run()
    assert(solo.size === 50) // 10 queries x top-5
    val both = Seq.fill(2)(Future(run()))
    both.foreach(f => assert(Await.result(f, 10.minutes) === solo))
  }
}
