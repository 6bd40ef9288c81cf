package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

/** One benchmark run in one JVM:
  * `perfbench.Main --workload W --seed N --seconds S --trace 0|1 --work DIR --out FILE`.
  * Writes the run's full report as one JSON object to FILE; `run.py` turns
  * it into the result line. */
object Main {

  def parse(args: Array[String]): Opts = {
    val kv = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = kv.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Opts(need("workload"), need("seed").toLong, need("seconds").toDouble, need("trace") == "1",
      need("work"), need("out"))
  }

  def main(args: Array[String]): Unit = {
    val opts = parse(args)
    val w = Workloads(opts.workload)
    Files.createDirectories(Paths.get(opts.work))
    val res = new Result
    val tracer = new Tracer
    val census = new Census
    val spark = Harness.session(opts.work)
    spark.sparkContext.addSparkListener(census)
    val ctx = new Ctx(spark, opts, tracer, census, res)
    try Harness.run(ctx, w, System.currentTimeMillis())
    catch {
      case e: Throwable =>
        res.ops(1)
        res.fail(s"${opts.workload}: ${e.getClass.getName}: ${e.getMessage}")
        e.printStackTrace()
    } finally spark.stop()
    if (opts.trace) Catalog.fill(res)
    val tags = (Catalog.PerLayer ++ Catalog.LayerTimes).map(x =>
      x.name -> Map("layer" -> x.layer, "moves" -> x.moves, "where" -> x.where)).toMap
    val report = Json.obj(Seq(
      "workload" -> opts.workload, "seed" -> opts.seed, "trace" -> opts.trace,
      "attempted" -> res.attempted, "failed" -> res.failed, "failures" -> res.failures.toSeq,
      "end_to_end" -> res.e2e.map { case (k, (v, u)) => k -> Map("value" -> v, "unit" -> u) },
      "per_layer" -> res.layer.map { case (k, (v, u)) => k -> Map("value" -> v, "unit" -> u) },
      "layer_tags" -> tags,
      "detail" -> res.detail,
      "host" -> Harness.host(opts.work).toMap))
    Files.write(Paths.get(opts.out), report.getBytes(StandardCharsets.UTF_8))
  }
}
