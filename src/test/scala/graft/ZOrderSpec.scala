package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.functions.ZOrder
import graft.operators.LayoutOps
import graft.operators.LayoutOps.ColRange

class ZOrderSpec extends SparkSuite {
  import spark.implicits._

  /** Reference Morton implementation — bit-by-bit, independently derived. */
  private def mortonRef(a: Long, b: Long): Long =
    (0 until 16).foldLeft(0L) { (acc, i) =>
      acc | (((a >> i) & 1L) << (2 * i)) | (((b >> i) & 1L) << (2 * i + 1)) }

  test("zkey16 matches the bit-by-bit Morton reference across the domain") {
    val rnd = new scala.util.Random(7)
    val pts = Seq((0L, 0L), (65535L, 65535L), (0L, 65535L), (65535L, 0L),
      (1L, 2L), (32768L, 32767L)) ++
      Seq.fill(500)((rnd.nextInt(65536).toLong, rnd.nextInt(65536).toLong))
    val got = pts.toDF("a", "b")
      .select(col("a"), col("b"), ZOrder.zkey16(col("a"), col("b")).as("z"))
      .as[(Long, Long, Long)].collect()
    got.foreach { case (a, b, z) => assert(z === mortonRef(a, b), s"($a,$b)") }
  }

  test("zkey16 is monotone in each coordinate holding the other fixed") {
    // not total-order monotone (that's the point of Z-order), but fixing one
    // coordinate the key must increase with the other — the property file
    // pruning relies on: a cell's key range bounds its coordinate ranges
    for (fixed <- Seq(0L, 1234L, 65535L)) {
      var prev = -1L
      for (v <- 0L to 65535L by 257L) {
        val k = mortonRef(v, fixed)
        assert(k > prev); prev = k
      }
    }
  }

  test("scale16: exact bounds, interior trunc division, degenerate column") {
    val df = Seq(10L, 20L, 110L).toDF("v")
    val got = df.select(ZOrder.scale16(col("v"), 10L, 110L).as("s"))
      .as[Long].collect().sorted
    assert(got === Array(0L, 6553L, 65535L)) // (20-10)*65535/100 = 6553.5 → trunc
    val deg = df.select(ZOrder.scale16(col("v"), 42L, 42L).as("s"))
      .as[Long].collect()
    assert(deg.forall(_ == 0L))
    intercept[IllegalArgumentException] {
      ZOrder.scale16(col("v"), 0L, Long.MaxValue / 65535L + 1L) }
  }

  private def writeClustered(n: Int, files: Int): (String, LayoutOps.ZoneMap) = {
    // two independent uniform dims — the layout's worst honest case
    val rnd = new scala.util.Random(11)
    val rows = (0 until n).map(i =>
      (i.toLong, rnd.nextInt(100000).toLong, rnd.nextInt(1000000).toLong))
    val df = rows.toDF("id", "ua", "tb")
    val dir = tempDir("graft-zspec")
    val zm = LayoutOps.zorderWrite(df, Seq("ua", "tb"), dir, files)
    (dir, zm)
  }

  test("zorderWrite zone map: counts sum to rows, bounds hold, json round-trips") {
    val (dir, zm) = writeClustered(20000, 16)
    try {
      assert(zm.files.nonEmpty && zm.files.size <= 16)
      assert(zm.files.map(_._2).sum === 20000L)
      val u = zm.bounds("ua")
      zm.files.foreach { case (_, _, rs) =>
        assert(rs("ua").min >= u.min && rs("ua").max <= u.max) }
      assert(LayoutOps.readZoneMap(dir) === zm)
    } finally LayoutOps.deleteTree(java.nio.file.Paths.get(dir))
  }

  test("pruned read: skips files AND loses no rows, random boxes") {
    val (dir, zm) = writeClustered(20000, 16)
    try {
      val full = spark.read.parquet(dir)
      val rnd = new scala.util.Random(3)
      var anyPruned = false
      for (_ <- 1 to 8) {
        val (ul, uh) = { val a = rnd.nextInt(100000); val b = rnd.nextInt(100000)
          (math.min(a, b).toLong, math.max(a, b).toLong) }
        val (tl, th) = { val a = rnd.nextInt(1000000); val b = rnd.nextInt(1000000)
          (math.min(a, b).toLong, math.max(a, b).toLong) }
        val box = Map("ua" -> ColRange(ul, uh), "tb" -> ColRange(tl, th))
        val (pruned, kept, total) = LayoutOps.readPruned(spark, dir, box)
        if (kept < total) anyPruned = true
        val exact = (d: org.apache.spark.sql.DataFrame) => d
          .filter(col("ua").between(ul, uh) && col("tb").between(tl, th))
          .agg(count(lit(1)), coalesce(sum("id"), lit(0L))).as[(Long, Long)].head()
        assert(exact(pruned) === exact(full), s"box $box kept=$kept/$total")
      }
      assert(anyPruned, "no box pruned any file — zone map never engaged")
      assert(zm.filesTotal === 16)
    } finally LayoutOps.deleteTree(java.nio.file.Paths.get(dir))
  }

  test("Z-order prunes on BOTH dims; a single-column sort cannot") {
    // same data, two layouts; a box constraining ONLY the second dim:
    // the ua-sorted layout keeps every file (each spans the full tb range),
    // the Z-order layout must keep strictly fewer
    val rnd = new scala.util.Random(5)
    val rows = (0 until 20000).map(i =>
      (i.toLong, rnd.nextInt(100000).toLong, rnd.nextInt(1000000).toLong))
    val df = rows.toDF("id", "ua", "tb")
    val zDir = tempDir("graft-zd")
    val sDir = tempDir("graft-sd")
    try {
      LayoutOps.zorderWrite(df, Seq("ua", "tb"), zDir, 16)
      // linear layout, SAME zone-map machinery — only the ordering differs
      val linear = df.repartitionByRange(16, col("ua")).sortWithinPartitions("ua")
      linear.write.mode("overwrite").parquet(sDir)
      val statsDf = spark.read.parquet(sDir)
        .groupBy(input_file_name().as("f"))
        .agg(count(lit(1)).as("n"), min("ua").as("ual"), max("ua").as("uah"),
          min("tb").as("tbl"), max("tb").as("tbh"))
      val sFiles = statsDf.collect().map { r =>
        (r.getString(0), r.getLong(1), Map(
          "ua" -> ColRange(r.getLong(2), r.getLong(3)),
          "tb" -> ColRange(r.getLong(4), r.getLong(5)))) }.toSeq
      val sZm = LayoutOps.ZoneMap(Seq("ua", "tb"),
        Map("ua" -> ColRange(0, 99999), "tb" -> ColRange(0, 999999)), sFiles)
      val box = Map("tb" -> ColRange(100000L, 180000L)) // ~8% of the tb span
      val zKept = LayoutOps.readZoneMap(zDir).surviving(box).size
      val sKept = sZm.surviving(box).size
      assert(sKept === sFiles.size, "ua-sorted layout unexpectedly pruned on tb")
      assert(zKept < sKept, s"zorder kept $zKept of ${sKept} — no 2-D benefit")
    } finally {
      LayoutOps.deleteTree(java.nio.file.Paths.get(zDir))
      LayoutOps.deleteTree(java.nio.file.Paths.get(sDir))
    }
  }

  test("empty-survivor box returns an empty frame with the full schema") {
    val (dir, _) = writeClustered(2000, 4)
    try {
      val box = Map("ua" -> ColRange(200000L, 300000L)) // outside global bounds
      val (df, kept, total) = LayoutOps.readPruned(spark, dir, box)
      assert(kept === 0 && total === 4)
      assert(df.columns.toSet === Set("id", "ua", "tb"))
      assert(df.count() === 0L)
    } finally LayoutOps.deleteTree(java.nio.file.Paths.get(dir))
  }

  test("zorderPruneQuery matches the raw-table computation at sf0.001") {
    val got = graft.operators.LayoutOps.zorderPruneQuery(spark, sf())
      .orderBy("event_type").as[(String, Long, Long, Long, Long)].collect()
    val ev = spark.read.parquet(s"${sf()}/events.parquet")
      .withColumn("ts_us", unix_micros(col("ts").cast("timestamp")))
    val b = LayoutOps.colBounds(ev, Seq("user_id", "ts_us"))
    val (u, t) = (b("user_id"), b("ts_us"))
    val want = ev.filter(
      col("user_id").between(u.min + (u.max - u.min) / 4,
        u.min + (u.max - u.min) * 2 / 5) &&
      col("ts_us").between(t.min + (t.max - t.min) / 3,
        t.min + (t.max - t.min) * 3 / 5))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"), sum("event_id").as("s"),
        min("event_id").as("mn"), max("event_id").as("mx"))
      .orderBy("event_type").as[(String, Long, Long, Long, Long)].collect()
    assert(got.nonEmpty && got === want)
    // scratch layouts reclaimed
    val tmp = java.nio.file.Files.list(java.nio.file.Paths.get("/tmp"))
    val leaked = try {
      val b = Seq.newBuilder[String]
      tmp.forEach(p => b += p.getFileName.toString)
      b.result()
    } finally tmp.close()
    assert(!leaked.exists(_.startsWith("graft-zorder")),
      "scratch zorder layout leaked under /tmp")
  }
}
