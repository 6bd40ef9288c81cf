package graft.streaming

import java.nio.file.{Files, Path => NioPath, Paths}

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.execution.datasources.{FileIndex, FileStatusWithMetadata, PartitionDirectory}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.util.sketch.BloomFilter

import graft.streaming.LakeSink.Committed

/** The files of one [[LakeSink]] read, as the scan of a `HadoopFsRelation`
  * sees them: the data files of the committed entries being read (a
  * snapshot of the manifest at read time, so `refresh()` does nothing),
  * listed once with NIO and sorted by segment id, then by file name. Two
  * indexes over the same entries are equal, so a cached read is reused
  * only while the manifest is unchanged. Not partitioned; `sizeInBytes` is
  * the sum of the file lengths, as `InMemoryFileIndex` reports it.
  *
  * `listFiles` drops the segments a query cannot match, from the manifest
  * alone. The scan still applies the exact predicate, so every rule only
  * subtracts segments that certainly hold no matching row, and anything it
  * does not understand keeps the segment:
  *  - event-time range: comparisons (`<`, `<=`, `>`, `>=`, `=`, `<=>`) of
  *    the entry's `ts_col` with non-null `TimestampType` literals give an
  *    interval (intersected over `And`, hulled over `Or`, so a keyset
  *    disjunction `ts < c OR (ts = c AND id < i)` yields `ts <= c`); an
  *    entry whose `min_ts`/`max_ts` misses it is dropped. The range is
  *    `unix_micros(ts.cast("timestamp"))`, which is the column's value only
  *    for a `TimestampType` column, so no other type is range-pruned;
  *  - zone stats: the same intervals over integral columns, against the
  *    entry's `stats` ([[Committed.mayContain]]);
  *  - id bloom: `id_col = v` or `id_col IN (…)` keeps the segment only if
  *    its `_bloom/batch-N.bin` might contain a value, probed as
  *    `stat.bloomFilter` built it (`mightContainString` for a string
  *    column, `mightContainLong` for an integral one). A bloom has no false
  *    negatives, so a false positive costs a read, never a row.
  * An entry without `ts_col` or `id_col` (written before they existed) is
  * never range- or bloom-pruned.
  */
private[streaming] final case class LakeFileIndex(lake: String, entries: Seq[Committed])
    extends FileIndex {

  /** Each entry with its data files, by segment id. */
  private lazy val segments: Seq[(Committed, Seq[FileStatus])] =
    entries.sortBy(_.batch).map { e =>
      e -> LakeSink.dataFiles(LakeFileIndex.segmentDir(lake, e.batch)).map { p =>
        val a = Files.readAttributes(p, classOf[java.nio.file.attribute.BasicFileAttributes])
        new FileStatus(a.size, false, 1, 0L, a.lastModifiedTime.toMillis, new Path(p.toUri))
      }
    }

  override def rootPaths: Seq[Path] =
    segments.map { case (e, _) => new Path(LakeFileIndex.segmentDir(lake, e.batch).toUri) }

  override def listFiles(partitionFilters: Seq[Expression],
                         dataFilters: Seq[Expression]): Seq[PartitionDirectory] = {
    val filters = dataFilters.reduceOption(And)
    def interval(c: String, ok: DataType => Boolean) =
      filters.flatMap(LakeFileIndex.interval(_, c, ok))
    val kept = segments.flatMap { case (e, files) =>
      val inRange = e.tsCol.zip(e.range).forall { case (c, (lo, hi)) =>
        interval(c, _ == TimestampType).forall { case (a, b) => a <= b && a <= hi && b >= lo } }
      val box = e.stats.keys.flatMap(c => interval(c, LakeFileIndex.integral).map(c -> _)).toMap
      val inBloom = e.idCol.forall(c => filters.flatMap(LakeFileIndex.values(_, c))
        .forall(vs => LakeFileIndex.mightContainAny(LakeSink.bloomFile(lake, e.batch), vs)))
      if (inRange && e.mayContain(box) && inBloom) files else Seq.empty
    }
    Seq(PartitionDirectory(InternalRow.empty, kept.map(FileStatusWithMetadata(_))))
  }

  override def inputFiles: Array[String] = allFiles.map(_.getPath.toUri.toString).toArray

  override def refresh(): Unit = ()

  override def sizeInBytes: Long = allFiles.map(_.getLen).sum

  override def partitionSchema: StructType = new StructType()

  private def allFiles: Seq[FileStatus] = segments.flatMap(_._2)
}

private[streaming] object LakeFileIndex {

  def segmentDir(lake: String, batch: Long): NioPath = Paths.get(lake, s"batch=$batch")

  private def integral(t: DataType): Boolean = t match {
    case ByteType | ShortType | IntegerType | LongType => true
    case _ => false
  }

  /** The inclusive interval `c` lies in on every row where `e` is true,
    * or None when `e` does not bound it: comparisons of attribute `c` (of
    * a type `ok` accepts) with a non-null literal of the same type. An
    * empty interval (lo > hi) means no row can match. */
  private def interval(e: Expression, c: String,
                       ok: DataType => Boolean): Option[(Long, Long)] = {
    def lit(a: Expression, l: Expression) = (a, l) match {
      case (a: Attribute, Literal(v: Number, t)) if a.name == c && t == a.dataType && ok(t) =>
        Some(v.longValue)
      case _ => None
    }
    val empty = (0L, -1L)
    def below(v: Long) = if (v == Long.MinValue) empty else (Long.MinValue, v - 1)
    def above(v: Long) = if (v == Long.MaxValue) empty else (v + 1, Long.MaxValue)
    // each comparison as (column op literal, literal op column)
    def cmp(l: Expression, r: Expression, asIs: Long => (Long, Long),
            flipped: Long => (Long, Long)) =
      lit(l, r).map(asIs).orElse(lit(r, l).map(flipped))
    e match {
      case And(l, r) => (interval(l, c, ok), interval(r, c, ok)) match {
        case (Some(a), Some(b)) => Some((math.max(a._1, b._1), math.min(a._2, b._2)))
        case (a, b) => a.orElse(b)
      }
      case Or(l, r) =>
        for (a <- interval(l, c, ok); b <- interval(r, c, ok))
          yield (math.min(a._1, b._1), math.max(a._2, b._2))
      case EqualTo(l, r) => cmp(l, r, v => (v, v), v => (v, v))
      case EqualNullSafe(l, r) => cmp(l, r, v => (v, v), v => (v, v))
      case LessThan(l, r) => cmp(l, r, below, above)
      case LessThanOrEqual(l, r) => cmp(l, r, (Long.MinValue, _), (_, Long.MaxValue))
      case GreaterThan(l, r) => cmp(l, r, above, below)
      case GreaterThanOrEqual(l, r) => cmp(l, r, (_, Long.MaxValue), (Long.MinValue, _))
      case _ => None
    }
  }

  /** The values `c` can hold on every row where `e` is true, from
    * equality and `IN` with non-null literals of a string or integral
    * column; None when `e` does not bound them. */
  private def values(e: Expression, c: String): Option[Seq[Any]] = {
    def col(a: Expression) = a match {
      case a: Attribute => a.name == c && (a.dataType == StringType || integral(a.dataType))
      case _ => false
    }
    def lit(a: Expression, l: Expression): Option[Any] = (a, l) match {
      case (a, Literal(v, t)) if col(a) && v != null && t == a.dataType => Some(v)
      case _ => None
    }
    e match {
      case And(l, r) => values(l, c).orElse(values(r, c))
      case Or(l, r) => for (a <- values(l, c); b <- values(r, c)) yield a ++ b
      case EqualTo(l, r) => lit(l, r).orElse(lit(r, l)).map(Seq(_))
      case In(a, list) =>
        val vs = list.map(lit(a, _))
        if (vs.forall(_.isDefined)) Some(vs.flatten) else None
      case InSet(a, hset) if col(a) && !hset.contains(null) => Some(hset.toSeq)
      case _ => None
    }
  }

  /** Might the bloom at `f` contain any of `vs`? True when there is no
    * bloom file or a value is of a type the bloom was not built for. */
  private def mightContainAny(f: NioPath, vs: Seq[Any]): Boolean =
    !Files.exists(f) || {
      val bf = BloomFilter.readFrom(Files.readAllBytes(f))
      // stat.bloomFilter puts a string's UTF-8 bytes and an integral as a long
      vs.exists {
        case s: UTF8String => bf.mightContainString(s.toString)
        case n: Number => bf.mightContainLong(n.longValue)
        case _ => true
      }
    }
}
