package graft

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}

/** `graft.Profile`'s per-query line: every field present, the job count
  * equal to an independent listener's, and a line even when the query
  * fails. */
class ProfileSpec extends SparkSuite {

  private val fields = Seq("query", "repeat", "wall_ms", "rows", "jobs", "stages",
    "tasks", "executor_run_ms", "executor_cpu_ms", "shuffle_read_bytes",
    "shuffle_write_bytes", "analysis_ms", "optimization_ms", "planning_ms", "error")

  /** The parsed line of one profiled run, and the jobs `jobsIn` saw. */
  private def profiled(name: String): (JsonNode, Long) = {
    var line = ""
    val jobs = jobsIn { line = Profile.line(spark, sf(), name, 1) }
    val node = new ObjectMapper().readTree(line)
    fields.foreach(f => assert(node.has(f), s"$name: no $f in $line"))
    (node, jobs)
  }

  test("Profile line: all fields, jobs equal to an independent count") {
    // q_bpe_roundtrip trains its merge table while the frame is built
    Seq("q_lrs_by_id", "q_bpe_roundtrip").foreach { name =>
      val (node, jobs) = profiled(name)
      assert(node.get("query").asText === name && node.get("repeat").asInt === 1)
      assert(node.get("error").isNull, node.toString)
      assert(node.get("jobs").asLong === jobs && jobs > 0)
      assert(node.get("rows").asLong === SparkEntry.queries(name)(spark, sf()).count())
      assert(node.get("tasks").asLong >= node.get("stages").asLong)
    }
  }

  test("Profile line: an unknown query gives an error line") {
    val (node, jobs) = profiled("q_no_such_query")
    assert(node.get("error").asText.contains("q_no_such_query"))
    assert(node.get("rows").isNull && node.get("jobs").asLong === 0 && jobs === 0)
  }
}
