package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.TokenCodec
import graft.operators._
import graft.sources.FsJsonl

/** The user-facing facade: the reference's UNIX-pipeline CLI
  * (`ralph read | extract | validate | convert | write`,
  * /root/reference/src/ralph/cli.py:253-259) as composable DataFrame
  * stages. Each stage is lazy — chaining builds one Catalyst plan, the
  * direct analogue of the reference's generator pipelines (backpressure by
  * pull ≈ one fused job).
  *
  * {{{
  * val g = Graft(spark)
  * val out = g.write(
  *   g.convert(g.validate(g.extract(g.read("logs/"), "gelf"))),
  *   "out/statements", FsJsonl.Append)
  * }}}
  */
case class Graft(spark: SparkSession,
                 uuidNamespace: String = sources.Synth.UuidNamespace,
                 platformUrl: String = sources.Synth.PlatformUrl) {

  /** `ralph read` — JSONL lines from a file/directory (S1), or from an
    * object store (S9/S10: an `s3a://` or `swift://` URI once
    * [[sources.ObjectStore]] has configured the connector). */
  def read(path: String, maxStatements: Option[Int] = None): DataFrame =
    FsJsonl.read(spark, path, maxStatements = maxStatements)

  /** `ralph read -b ldp` (S11): consume unread gz archives, history-gated. */
  def readLdp(dir: String, historyPath: String): DataFrame =
    sources.Ldp.readNew(spark, dir, historyPath)

  /** `ralph extract -p gelf|es` (S15/S16): raw log lines → event JSON. */
  def extract(df: DataFrame, parser: String, line: Column = col("raw")): DataFrame =
    parser match {
      case "gelf" => Extract.gelf(df, line)
      case "es"   => Extract.esDump(df, line)
      case other  => throw new IllegalArgumentException(s"unknown parser: $other")
    }

  /** `ralph validate -f edx` over event-JSON rows (V1/V2/V3). */
  def validate(df: DataFrame, eventCol: String = "event_str"): DataFrame = {
    val input = df.select(
      lit(null).cast("string").as("doc_id"),
      TokenCodec.encodeTokens(col(eventCol)).as("tokens"),
      length(col(eventCol)).as("n_tok"),
      get_json_object(col(eventCol), "$.event_source").as("source"))
    Validate.observed(Validate(input)).filter(col("status") === Validate.StatusOk)
  }

  /** `ralph validate -f xapi` over statement-JSON rows. */
  def validateXapi(df: DataFrame, stmtCol: String = "raw"): DataFrame =
    XapiValidate(df, stmtCol).filter(col("xapi_status") === Validate.StatusOk)

  /** `ralph convert -f edx -t xapi` (C1–C7): validated edX → xAPI JSON. */
  def convert(validated: DataFrame): DataFrame =
    Convert(validated, uuidNamespace, platformUrl)
      .filter(Convert.convertible(col("model")))

  /** `ralph write -b fs` (S2): statement JSON → JSONL file. */
  def write(df: DataFrame, path: String, op: FsJsonl.WriteOp = FsJsonl.Create,
            stmtCol: String = "xapi"): Unit =
    FsJsonl.write(df, stmtCol, path, op)

  /** Ingest into the lake (enrich → dedup → store layout), the POST path. */
  def ingest(statements: DataFrame, storePath: String, storedIso: String,
             stmtCol: String = "xapi"): Unit = {
    val enriched = Enrich(statements, stmtCol, storedIso, uuidNamespace = uuidNamespace)
    Store.write(Store.project(enriched.dropDuplicates("stmt_id"), stmtCol), storePath)
  }

  /** `GET /xAPI/statements` over the lake. */
  def statements(storePath: String, q: Lrs.Query = Lrs.Query()): DataFrame =
    Lrs.statements(Store.read(spark, storePath), q)

  /** Z-order-cluster `df` on two integral columns and build the file zone
    * map — afterwards [[readPruned]] range queries on either column skip
    * non-intersecting files entirely. See [[operators.LayoutOps]]. */
  def zorderWrite(df: DataFrame, cols: Seq[String], path: String,
                  numFiles: Int = 128): operators.LayoutOps.ZoneMap =
    operators.LayoutOps.zorderWrite(df, cols, path, numFiles)

  /** Zone-map-pruned read of a [[zorderWrite]] layout: only files whose
    * (min, max) ranges may intersect `box` are scanned. Callers still
    * apply the exact row predicate. */
  def readPruned(path: String,
                 box: Map[String, (Long, Long)]): DataFrame =
    operators.LayoutOps.readPruned(spark, path,
      box.map { case (c, (lo, hi)) =>
        c -> operators.LayoutOps.ColRange(lo, hi) })._1
}
