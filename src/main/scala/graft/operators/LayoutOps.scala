package graft.operators

import java.nio.file.{Files, Paths, StandardCopyOption}

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.ZOrder

/** Data-layout operators: Z-order clustering + file-level zone maps +
  * a pruned reader — the data-skipping layer a 100-TB lake lives or dies
  * by. Spark's own predicate pushdown prunes ROW GROUPS once a file is
  * open; what it cannot do is avoid LISTING AND OPENING files whose value
  * ranges cannot match. Writing files as Z-order cells and keeping a
  * per-file (min, max) zone map per indexed column lets the reader drop
  * most files from the scan plan entirely — metadata-sized work on the
  * driver, exactly how Delta/Iceberg data skipping operates.
  *
  * Everything stays declarative: the Z-key is composed codegen'd bitwise
  * arithmetic ([[graft.functions.ZOrder]]), the layout write is one
  * `repartitionByRange` (a single range shuffle whose sampling pass Spark
  * already optimizes), the zone-map build is one column-pruned aggregate
  * over the indexed columns, and the pruned read is a plain parquet scan
  * over the surviving file list (pushdown and row-group pruning still
  * apply on top).
  *
  * The reference engine has no layout layer (its stores index internally);
  * this is part of the training-data-pipeline surface (brief: operations a
  * large-scale pipeline needs).
  */
object LayoutOps {

  /** One indexed column's inclusive value range. */
  final case class ColRange(min: Long, max: Long)

  /** Zone map: per-file ranges for each indexed column, plus the global
    * bounds used for Z-scaling (readers need them to reason about cells).
    * Driver-resident by design — one entry per FILE, the same cardinality
    * a lake manifest already carries (~10^5-10^6 at 100 TB). */
  final case class ZoneMap(cols: Seq[String], bounds: Map[String, ColRange],
                           files: Seq[(String, Long, Map[String, ColRange])]) {
    def filesTotal: Int = files.size
    /** Files (names relative to the dataset dir) whose every indexed range
      * overlaps the query box — callers resolve against THEIR dir. */
    def surviving(box: Map[String, ColRange]): Seq[String] =
      files.collect { case (f, _, rs)
        if box.forall { case (c, q) =>
          rs.get(c).forall(r => r.min <= q.max && r.max >= q.min) } => f }
  }

  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()

  /** tmpfs-backed scratch dir when available: ephemeral per-query state
    * (scratch lakes, always-rebuilt index layouts, Z-order scratch) follows
    * the bench's checkpoint policy — the sandbox's virtio disk has slow,
    * high-variance fsync, an artifact of the harness (a cluster holds this
    * state on local NVMe / object storage). Falls back to java.io.tmpdir. */
  def scratchBase(): java.nio.file.Path = {
    val shm = Paths.get("/dev/shm")
    if (Files.isDirectory(shm) && Files.isWritable(shm)) shm
    else Paths.get(System.getProperty("java.io.tmpdir"))
  }

  def scratchDir(prefix: String): java.nio.file.Path =
    Files.createTempDirectory(scratchBase(), prefix)

  /** A fresh [[scratchDir]] deleted when the JVM exits: for state a
    * returned frame reads lazily (an index a query builds and then scans),
    * which the builder cannot delete before the caller has run it. Every
    * call gets its own dir, so concurrent builds never share files. */
  def scratchDirUntilExit(prefix: String): java.nio.file.Path = {
    val d = scratchDir(prefix)
    untilExit.add(d)
    d
  }

  private lazy val untilExit = {
    val dirs = java.util.concurrent.ConcurrentHashMap.newKeySet[java.nio.file.Path]()
    sys.addShutdownHook(dirs.forEach(d => deleteTree(d)))
    dirs
  }

  /** Recursive delete for scratch dirs (deepest-first; missing tolerated). */
  def deleteTree(root: java.nio.file.Path): Unit = {
    if (Files.exists(root)) {
      val walk = Files.walk(root)
      try walk.sorted(java.util.Comparator.reverseOrder())
        .forEach(p => Files.deleteIfExists(p))
      finally walk.close()
    }
  }

  /** Global min/max of the indexed columns — one tiny aggregate row
    * (bounded collect: 1 row, 3×|cols|+1 longs). Rejects PARTIALLY-null
    * indexed columns too (min/max skip nulls, so anyNull alone would pass
    * them and the per-file stats collect would NPE later): a null has no
    * place on the Z-curve — filter or impute upstream. */
  def colBounds(df: DataFrame, cols: Seq[String]): Map[String, ColRange] = {
    val aggs = count(lit(1)) +: cols.flatMap(c =>
      Seq(min(col(c)).cast("long"), max(col(c)).cast("long"), count(col(c))))
    val row = df.agg(aggs.head, aggs.tail: _*).head()
    val total = row.getLong(0)
    cols.zipWithIndex.foreach { case (c, i) =>
      require(row.getLong(3 * i + 3) == total,
        s"zorderWrite: indexed column $c has ${total - row.getLong(3 * i + 3)} " +
          s"null(s) of $total rows — nulls have no Z-curve position") }
    require(!row.anyNull, s"zorderWrite: empty input for indexed columns $cols")
    cols.zipWithIndex.map { case (c, i) =>
      c -> ColRange(row.getLong(3 * i + 1), row.getLong(3 * i + 2)) }.toMap
  }

  /** Z-key column for a row given global bounds (2 indexed columns). */
  def zkeyFor(cols: Seq[String], bounds: Map[String, ColRange]): Column = {
    require(cols.length == 2, s"zkey16 interleaves exactly 2 columns, got $cols")
    val scaled = cols.map { c =>
      val b = bounds(c); ZOrder.scale16(col(c).cast("long"), b.min, b.max) }
    ZOrder.zkey16(scaled.head, scaled(1))
  }

  /** Write `df` Z-order-clustered on two long-valued columns, then build
    * the zone map: one range shuffle on the Z-key (each output file ≈ one
    * Morton cell range = a small rectangle in value space), one
    * column-pruned scan to collect per-file min/max. At cluster scale the
    * stats scan reads only the indexed columns' pages — O(files) driver
    * memory, never data-sized. */
  def zorderWrite(df: DataFrame, cols: Seq[String], path: String,
                  numFiles: Int): ZoneMap = {
    val spark = df.sparkSession
    val bounds = colBounds(df, cols)
    df.withColumn("__zkey", zkeyFor(cols, bounds))
      .repartitionByRange(numFiles, col("__zkey"))
      .sortWithinPartitions("__zkey")
      .drop("__zkey")
      .write.mode("overwrite").parquet(path)
    // zone map: per-file ranges of the indexed columns (bounded collect:
    // one row per written file)
    val aggs = count(lit(1)).as("__n") +:
      cols.flatMap(c => Seq(min(col(c)).cast("long").as(s"__min_$c"),
        max(col(c)).cast("long").as(s"__max_$c")))
    val stats = spark.read.parquet(path)
      .groupBy(input_file_name().as("__file"))
      .agg(aggs.head, aggs.tail: _*)
      .collect()
    // persist file names RELATIVE to the dataset dir (input_file_name gives
    // a write-time absolute URI): a relocated/copied lake must resolve its
    // zone-mapped files against its NEW location, never the old one —
    // every other read path derives from `path` at read time, so this one
    // does too. Parquet writes a flat dir, so the basename is the name.
    val files = stats.map { r =>
      val ranges = cols.zipWithIndex.map { case (c, i) =>
        c -> ColRange(r.getLong(2 + 2 * i), r.getLong(3 + 2 * i)) }.toMap
      (r.getString(0).substring(r.getString(0).lastIndexOf('/') + 1),
        r.getLong(1), ranges)
    }.toSeq.sortBy(_._1)
    val zm = ZoneMap(cols, bounds, files)
    writeZoneMap(path, zm)
    zm
  }

  /** Persist the zone map as `_zstats.json` inside the dataset dir —
    * `_`-prefixed, so Spark's file listing ignores it; temp-file +
    * ATOMIC_MOVE so readers never see a torn map. */
  private def writeZoneMap(path: String, zm: ZoneMap): Unit = {
    val root = mapper.createObjectNode()
    val colsA = root.putArray("cols"); zm.cols.foreach(c => colsA.add(c))
    val bo = root.putObject("bounds")
    zm.cols.foreach { c =>
      val a = bo.putArray(c); a.add(zm.bounds(c).min); a.add(zm.bounds(c).max) }
    val fa = root.putArray("files")
    zm.files.foreach { case (f, n, rs) =>
      val o = fa.addObject(); o.put("file", f); o.put("count", n)
      val ro = o.putObject("ranges")
      zm.cols.foreach { c => val a = ro.putArray(c); a.add(rs(c).min); a.add(rs(c).max) }
    }
    val tmp = Paths.get(path, "_zstats.json.tmp")
    Files.writeString(tmp, root.toString)
    Files.move(tmp, Paths.get(path, "_zstats.json"),
      StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
  }

  def readZoneMap(path: String): ZoneMap = {
    val root = mapper.readTree(Files.readString(Paths.get(path, "_zstats.json")))
    import scala.jdk.CollectionConverters._
    val cols = root.get("cols").elements().asScala.map(_.asText()).toSeq
    val bounds = cols.map { c =>
      val a = root.get("bounds").get(c); c -> ColRange(a.get(0).asLong(), a.get(1).asLong()) }.toMap
    val files = root.get("files").elements().asScala.map { o =>
      val rs = cols.map { c =>
        val a = o.get("ranges").get(c); c -> ColRange(a.get(0).asLong(), a.get(1).asLong()) }.toMap
      // normalize to the basename even if an older map stored a full URI
      val f = o.get("file").asText()
      (f.substring(f.lastIndexOf('/') + 1), o.get("count").asLong(), rs)
    }.toSeq
    ZoneMap(cols, bounds, files)
  }

  // ---------------------------------------------------------------- queries

  /** Kernel proof: Z-keys over (user_id, event-time µs) on a deterministic
    * sample of events, bit-for-bit recomputable by the oracle's unrolled
    * shift-or-mask SQL. One scan, one bounded 1-row stats collect, pure
    * codegen projection. */
  def zorderKeyQuery(spark: SparkSession, dir: String): DataFrame = {
    val ev = spark.read.parquet(s"$dir/events.parquet")
      .withColumn("ts_us", unix_micros(col("ts").cast("timestamp")))
    val b = colBounds(ev, Seq("user_id", "ts_us"))
    val (u, t) = (b("user_id"), b("ts_us"))
    ev.filter(col("event_id") % 101 === 0)
      .select(col("event_id"),
        ZOrder.scale16(col("user_id"), u.min, u.max).as("za"),
        ZOrder.scale16(col("ts_us"), t.min, t.max).as("zb"))
      .withColumn("zkey", ZOrder.zkey16(col("za"), col("zb")))
  }

  /** End-to-end data-skipping proof: events Z-order-written on
    * (user_id, ts_us) into a scratch layout, read back through the zone
    * map with a 2-D box predicate, aggregated with exact integer
    * aggregates. The oracle filters the RAW table — hash equality proves
    * pruning lost nothing; [[ZOrderSpec]] separately proves it actually
    * skipped files. The box edges use the same truncating integer
    * arithmetic as the oracle (25-40% of the user span × 33-60% of the
    * time span). Scratch layout reclaimed in a finally. */
  def zorderPruneQuery(spark: SparkSession, dir: String): DataFrame = {
    val ev = spark.read.parquet(s"$dir/events.parquet")
      .withColumn("ts_us", unix_micros(col("ts").cast("timestamp")))
    val scratch = scratchDir("graft-zorder")
    try {
      // scale-adaptive file count: target ~64 MB clustered files (guide §6)
      // with a floor of 8 so the pruning demonstration keeps real
      // resolution at test scale — a constant 32 wrote 64 KB files here
      // and would write multi-GB files at 100 TB
      val bytes = Files.size(Paths.get(s"$dir/events.parquet"))
      val numFiles = math.max(8L,
        math.min(4096L, (bytes + (64L << 20) - 1) / (64L << 20))).toInt
      val zm = zorderWrite(ev, Seq("user_id", "ts_us"),
        scratch.toString, numFiles = numFiles)
      val (u, t) = (zm.bounds("user_id"), zm.bounds("ts_us"))
      val box = Map(
        "user_id" -> ColRange(u.min + (u.max - u.min) / 4,
                              u.min + (u.max - u.min) * 2 / 5),
        "ts_us"   -> ColRange(t.min + (t.max - t.min) / 3,
                              t.min + (t.max - t.min) * 3 / 5))
      val (pruned, _, _) = readPruned(spark, scratch.toString, box)
      pruned
        .filter(col("user_id").between(box("user_id").min, box("user_id").max) &&
          col("ts_us").between(box("ts_us").min, box("ts_us").max))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"), sum("event_id").as("sum_eid"),
          min("event_id").as("min_eid"), max("event_id").as("max_eid"))
        .localCheckpoint(true)
    } finally deleteTree(scratch)
  }

  /** Pruned scan: drop every file whose zone cannot intersect the box,
    * then hand Spark only the survivors. The box is a CONSERVATIVE file
    * filter — callers still apply the exact row predicate (which parquet
    * pushdown then also uses for row-group pruning inside survivors).
    * Returns (frame, filesKept, filesTotal). */
  def readPruned(spark: SparkSession, path: String,
                 box: Map[String, ColRange]): (DataFrame, Int, Int) = {
    val zm = readZoneMap(path)
    val keep = zm.surviving(box).map(f => s"$path/$f")
    val df =
      if (keep.isEmpty) spark.read.parquet(path).limit(0)
      else spark.read.parquet(keep: _*)
    (df, keep.size, zm.filesTotal)
  }
}
