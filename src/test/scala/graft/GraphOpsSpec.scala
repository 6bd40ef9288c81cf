package graft

import org.apache.spark.sql.functions._

import graft.operators.GraphOps

/** Fixed-point PageRank: value parity with an in-JVM reference power
  * iteration on a hand-built graph, the no-vertex-loss invariant, and the
  * iterative-plan hygiene (checkpoint truncation keeps the plan flat).
  * `q_pagerank`'s DuckDB recursive CTE covers corpus-scale value parity. */
class GraphOpsSpec extends SparkSuite {
  import spark.implicits._

  /** Reference power iteration, same fixed-point arithmetic as the op. */
  private def refPageRank(n: Int, edges: Seq[(Long, Long)], outDeg: Int,
                          iters: Int): Map[Long, Long] = {
    var score = (0L until n.toLong).map(_ -> 1000000L).toMap
    (1 to iters).foreach { _ =>
      val in = edges.groupBy(_._2).map { case (dst, es) =>
        dst -> es.map { case (src, _) => score(src) / outDeg }.sum
      }
      score = (0L until n.toLong)
        .map(d => d -> (150000L + (85L * in.getOrElse(d, 0L)) / 100L)).toMap
    }
    score
  }

  test("pageRank matches the reference power iteration on a skewed hand graph") {
    val n = 20
    val ids = (0L until n.toLong)
    // the q_pagerank graph shape: cycle + two funnels
    val edges = ids.map(i => (i, (i + 1) % n)) ++
      ids.map(i => (i, (i * i + 1) % n)) ++
      ids.map(i => (i, (i / 3 + 7) % n))
    val nodes = ids.toDF("doc_id")
    val e = edges.toDF("src", "dst")
    val got = GraphOps.pageRank(nodes, e, outDeg = 3, iters = 10)
      .as[(Long, Long)].collect().toMap
    val want = refPageRank(n, edges, 3, 10)
    assert(got === want)
    // skew actually exists (the ranking is non-trivial)
    assert(got.values.toSet.size > 1)
    // no vertex lost: zero-in-degree handling via the left join
    assert(got.keySet === ids.toSet)
  }

  test("pageRankQuery: empty documents table → empty result, not an NPE") {
    // the contiguity require reads min/max from a 1-row agg — on zero rows
    // those are null, so the guard must short-circuit before getLong
    val dir = tempDir("graft-prq")
    spark.range(0).select(col("id").as("doc_id"), col("id").cast("string").as("text"))
      .write.parquet(s"$dir/documents.parquet")
    val out = GraphOps.pageRankQuery(spark, dir)
    assert(out.columns.toSeq === Seq("doc_id", "pagerank_fp"))
    assert(out.count() === 0L)
  }

  /** In-JVM reference: brute-force triple enumeration. */
  private def refTriangles(edges: Set[(Long, Long)]): Map[Long, Long] = {
    val nodes = edges.flatMap(e => Seq(e._1, e._2)).toSeq.sorted
    val has = (a: Long, b: Long) => edges((math.min(a, b), math.max(a, b)))
    val tris = for {
      i <- nodes.indices; j <- (i + 1) until nodes.size
      k <- (j + 1) until nodes.size
      (a, b, c) = (nodes(i), nodes(j), nodes(k))
      if has(a, b) && has(b, c) && has(a, c)
    } yield (a, b, c)
    tris.flatMap { case (a, b, c) => Seq(a, b, c) }
      .groupBy(identity).map { case (v, xs) => v -> xs.size.toLong }
  }

  test("triangleCounts: planted cliques + chains + skewed hub, exact counts") {
    // K5 (ids 0-4: C(4,2)=6 triangles per vertex... actually each vertex of
    // K5 is in C(4,2)=6), a 6-node chain (no triangles), a hub (node 100)
    // fanning to 20 leaves with ONE closed pair (exactly 1 triangle), and
    // K3 (ids 50-52)
    val k5 = for (a <- 0L to 4L; b <- (a + 1) to 4L) yield (a, b)
    val chain = (10L to 15L).sliding(2).map(s => (s(0), s(1))).toSeq
    val hub = (200L until 220L).map(l => (100L, l)) :+ (200L, 201L)
    val k3 = Seq((50L, 51L), (51L, 52L), (50L, 52L))
    val edges = (k5 ++ chain ++ hub ++ k3).toSet
    val got = GraphOps
      .triangleCountsFromPairs(edges.toSeq.toDF("id_a", "id_b"))
      .as[(Long, Long)].collect().toMap
    val want = refTriangles(edges)
    assert(got === want)
    // shape sanity: K5 vertices in 6 each, hub in exactly 1, chain absent
    assert((0L to 4L).forall(got(_) === 6L))
    assert(got(100L) === 1L && got(200L) === 1L && got(201L) === 1L)
    assert((10L to 15L).forall(!got.contains(_)))
    assert(got(50L) === 1L && got(51L) === 1L && got(52L) === 1L)
  }

  test("iterative plan stays flat: 10 iterations don't nest the logical plan") {
    val nodes = (0L until 50L).toDF("doc_id")
    val e = (0L until 50L).map(i => (i, (i + 1) % 50)).toDF("src", "dst")
    val out = GraphOps.pageRank(nodes, e, outDeg = 1, iters = 10)
    // localCheckpoint per iteration truncates lineage: the final plan is a
    // scan of the last checkpoint, not 10 nested join+agg rounds
    val plan = out.queryExecution.optimizedPlan.toString
    assert(!plan.contains("Join"), s"plan not truncated:\n$plan")
  }
}
