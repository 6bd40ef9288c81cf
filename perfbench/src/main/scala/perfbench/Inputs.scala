package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.security.MessageDigest

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

import graft.functions.{TokenCodec, Uuid5}
import graft.sources.{InputRow, Synth}

/** Seeded benchmark inputs. For statements the seed picks the generator's
  * row-index offset (files arrive in index order, so that no row is later
  * than the 10-minute watermark); for near-duplicate documents it picks the
  * base ids, the replica tokens, and which file and arrival slot each
  * document gets; elsewhere it draws the query parameters. The program
  * under test only ever sees the generated files; the index ranges stay
  * with the harness, which uses them to derive the expected outputs. */
object Inputs {

  /** One input file: the generator index range [lo, hi). */
  final case class FileSpan(lo: Long, hi: Long)

  /** Statement input files, in arrival order. */
  final case class Layout(dir: String, files: Seq[FileSpan]) {
    def rows: Long = files.map(f => f.hi - f.lo).sum
  }

  /** Generator row-index offset for a seed. */
  def offset(seed: Long): Long = Math.floorMod(Synth.mix(seed, 0x5eedL), 20000000L)

  /** Move the single part file of each written partition into `dir` as
    * `f-<pos>.parquet`, stamping modification times in arrival order (the
    * file source hands files to triggers in modification-time order). */
  private def place(parts: Seq[Path], positions: Seq[Int], dir: String): Unit = {
    Files.createDirectories(Paths.get(dir))
    parts.zip(positions).foreach { case (p, pos) =>
      val dst = Paths.get(dir, f"f-$pos%05d.parquet")
      Files.move(p, dst, StandardCopyOption.REPLACE_EXISTING)
      dst.toFile.setLastModified(1600000000000L + pos * 1000L)
    }
  }

  private def partFiles(dir: String): Seq[Path] = {
    val s = Files.list(Paths.get(dir))
    try s.iterator().asScala.filter { p =>
      val n = p.getFileName.toString
      n.startsWith("part-") && n.endsWith(".parquet")
    }.toSeq.sortBy(_.getFileName.toString)
    finally s.close()
  }

  /** Write `n` seeded Synth edX rows as `nFiles` input files. Row i of the
    * generator window is exactly `Synth.edxJson(offset + i)`, with the
    * generator's built-in duplicate, invalid and unknown-event rates. */
  def writeStatements(spark: SparkSession, dir: String, seed: Long, n: Long, nFiles: Int): Layout = {
    import spark.implicits._
    val off = offset(seed)
    val tmp = dir + "-gen"
    spark.range(off, off + n, 1, nFiles).as[Long].mapPartitions { it =>
      it.map { i =>
        val toks = TokenCodec.encodeString(Synth.edxJson(i))
        InputRow(Synth.docId(i), toks, toks.length, Synth.sourceOf(i))
      }
    }.write.parquet(tmp)
    val parts = partFiles(tmp)
    require(parts.size == nFiles, s"expected $nFiles part files, got ${parts.size}")
    val l = layout(dir, seed, n, nFiles)
    place(parts, l.files.indices, dir)
    Files.walk(Paths.get(tmp)).iterator().asScala.toSeq.reverse.foreach(Files.delete)
    l
  }

  /** The index range of each statement input file (file k is partition k
    * of `spark.range`, which slices [off, off + n) at k * n / nFiles); it
    * arrives k-th. */
  def layout(dir: String, seed: Long, n: Long, nFiles: Int): Layout = {
    val off = offset(seed)
    Layout(dir, (0 until nFiles).map { k =>
      FileSpan(off + k * n / nFiles, off + (k + 1) * n / nFiles)
    })
  }

  /** Digest of what the program receives: every input row, file by file in
    * arrival order. */
  def statementDigest(l: Layout): String = {
    val md = MessageDigest.getInstance("SHA-256")
    l.files.zipWithIndex.foreach { case (f, k) =>
      md.update(s"file $k\n".getBytes(StandardCharsets.UTF_8))
      (f.lo until f.hi).foreach { i =>
        md.update((Synth.docId(i) + "\t" + Synth.edxJson(i) + "\n").getBytes(StandardCharsets.UTF_8))
      }
    }
    md.digest().map("%02x".format(_)).mkString
  }

  // ---- near-duplicate maintenance documents ---------------------------------

  /** Replica r of base document b has doc_id = b + r * ReplicaStride. */
  val ReplicaStride = 100000000L

  private val vocab = Vector("batch", "part", "spark", "line", "column", "order", "small",
    "sort", "fast", "value", "scan", "a", "hash", "slow", "group", "agg", "filter", "query",
    "big", "key", "window", "row", "table", "stream", "merge", "data", "vector", "customer",
    "the", "join", "index", "plan", "cache", "file", "page", "node")

  final case class Doc(doc_id: Long, text: String)

  /** Base document ids of a seed's window (always below ReplicaStride). */
  def baseIds(seed: Long, nBase: Int): Seq[Long] = {
    val off = offset(seed)
    (0 until nBase).map(off + _)
  }

  /** A base document: 16–63 words drawn from a small vocabulary, a pure
    * function of its id. */
  def baseText(id: Long): String = {
    val len = 16 + Math.floorMod(Synth.mix(id, 71L), 48L).toInt
    (0 until len).map(j => vocab(Math.floorMod(Synth.mix(id * 131 + j, 73L), vocab.size.toLong).toInt))
      .mkString(" ")
  }

  /** The seeded suffix token that makes replica r a planted near-duplicate
    * of its base document (Jaccard ≈ w/(w+1) on w word shingles). */
  def replicaTag(seed: Long, r: Int): String =
    s"replicatag${Math.floorMod(Synth.mix(seed, 1000L + r), 1000000L)}"

  def docs(seed: Long, nBase: Int, reps: Int): Seq[Doc] =
    for {
      b <- baseIds(seed, nBase)
      r <- 0 until reps
    } yield
      if (r == 0) Doc(b, baseText(b))
      else Doc(b + r * ReplicaStride, baseText(b) + " " + replicaTag(seed, r))

  /** Input file of a document: a seeded hash, so every microbatch mixes
    * replicas of groups whose other members arrive in other batches. */
  def fileOf(seed: Long, docId: Long, nFiles: Int): Int =
    Math.floorMod(Synth.mix(docId, seed ^ 0xd0c5L), nFiles.toLong).toInt

  /** Write the replicated document table as `nFiles` parquet files. */
  def writeDocs(spark: SparkSession, dir: String, seed: Long, nBase: Int, reps: Int,
                nFiles: Int): Unit = {
    import spark.implicits._
    val tmp = dir + "-gen"
    docs(seed, nBase, reps).map(d => (d.doc_id, d.text, fileOf(seed, d.doc_id, nFiles)))
      .toDF("doc_id", "text", "f").coalesce(1)
      .write.partitionBy("f").parquet(tmp)
    val parts = (0 until nFiles).map { f =>
      val p = partFiles(s"$tmp/f=$f")
      require(p.size == 1, s"document file $f: expected one part file, got ${p.size}")
      p.head
    }
    place(parts, docOrder(seed, nFiles), dir)
    Files.walk(Paths.get(tmp)).iterator().asScala.toSeq.reverse.foreach(Files.delete)
  }

  /** Arrival position of each document file. */
  def docOrder(seed: Long, nFiles: Int): Seq[Int] =
    new scala.util.Random(seed ^ 0xf11eL).shuffle((0 until nFiles).toVector)

  def docDigest(seed: Long, nBase: Int, reps: Int, nFiles: Int): String = {
    val md = MessageDigest.getInstance("SHA-256")
    md.update(docOrder(seed, nFiles).mkString("order ", ",", "\n").getBytes(StandardCharsets.UTF_8))
    docs(seed, nBase, reps).foreach { d =>
      md.update(s"${fileOf(seed, d.doc_id, nFiles)}\t${d.doc_id}\t${d.text}\n"
        .getBytes(StandardCharsets.UTF_8))
    }
    md.digest().map("%02x".format(_)).mkString
  }

  /** The uuid5 statement id the converter assigns to generator row i. */
  def statementId(i: Long): String = Uuid5.uuid5(Synth.UuidNamespace, Synth.edxJson(i))
}
