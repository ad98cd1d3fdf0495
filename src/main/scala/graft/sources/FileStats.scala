package graft.sources

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{Path => HPath}
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.io.api.Binary
import org.apache.parquet.schema.LogicalTypeAnnotation
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName._

/** Per-file column min/max statistics for data skipping (the Delta/Iceberg
  * file-stats idea in miniature). Stats come from parquet FOOTERS — a
  * metadata-only read per file at write time, never a second data scan —
  * and are persisted next to the version manifest so a selective scan can
  * drop whole files before Spark ever lists them.
  *
  * Partition pruning eliminates directories; this eliminates files WITHIN
  * surviving partitions, which is the layer that matters at 100 TB where a
  * single partition is still thousands of files.
  *
  * Comparison domains: numbers (exact, via BigDecimal), strings (unsigned
  * UTF-8 byte order — the comparator parquet used to compute the stats),
  * booleans (as 0/1). Columns of any other physical type, or whose stats a
  * writer omitted/truncated, are simply not recorded — the scan keeps
  * those files (skipping is only ever an optimization, never a filter).
  * Date columns compare by epoch days, timestamps by their raw physical
  * value (micros for Spark writers).
  */
object FileStats {

  /** Inclusive bounds on one column; None = unbounded on that side.
    * Equality is `ColumnRange(c, Some(v), Some(v))`. SQL semantics: a
    * range never matches NULL. */
  final case class ColumnRange(column: String, lo: Option[Any], hi: Option[Any])

  final case class ScanReport(filesTotal: Int, filesRead: Int)

  /** One column's merged stats within one file. kind: "num" | "str".
    * hasNonNull=false means every value in the file is NULL. */
  final case class ColStat(kind: String, hasNonNull: Boolean, min: String, max: String)

  /** `schema`: the file's Spark schema as JSON — the footer's
    * `org.apache.spark.sql.parquet.row.metadata` value, the exact string
    * Spark's schema inference reads — or None for files no Spark writer
    * produced. */
  final case class FileStat(relPath: String, rows: Long, cols: Map[String, ColStat],
                            schema: Option[String] = None)

  /** Footer key-value entry holding a Spark writer's schema JSON. */
  private[sources] val SparkSchemaKey = "org.apache.spark.sql.parquet.row.metadata"

  // ---- footer reading -------------------------------------------------

  /** Read merged min/max stats for one parquet file from its footer. */
  def readFooter(abs: String, relPath: String, conf: Configuration): FileStat = {
    val reader = ParquetFileReader.open(HadoopInputFile.fromPath(new HPath(abs), conf))
    try {
      import scala.jdk.CollectionConverters._
      val md = reader.getFooter
      val blocks = md.getBlocks.asScala.toSeq
      val rows = blocks.map(_.getRowCount).sum
      // merge chunk stats across row groups; any group with missing stats
      // for a column makes that column unknown (conservative)
      val perCol = scala.collection.mutable.Map[String, Option[ColStat]]()
      for (b <- blocks; cc <- b.getColumns.asScala) {
        val name = cc.getPath.toDotString
        val st = cc.getStatistics
        val cur: Option[ColStat] =
          if (st == null || st.isEmpty) None
          else if (!st.hasNonNullValue) {
            // min/max absent. Only when the null count proves EVERY value
            // is NULL may we record the matches-nothing marker; writers
            // also drop bounds while keeping values (parquet-mr omits
            // min/max for float/double chunks containing NaN) — those
            // columns must stay unknown, not "all null".
            if (st.isNumNullsSet && st.getNumNulls == cc.getValueCount)
              Some(ColStat("num", hasNonNull = false, "", ""))
            else None
          }
          else {
            val pt = cc.getPrimitiveType
            (pt.getPrimitiveTypeName, pt.getLogicalTypeAnnotation) match {
              case (INT32, l) if l.isInstanceOf[LogicalTypeAnnotation.DateLogicalTypeAnnotation] ||
                                 l == null || l.isInstanceOf[LogicalTypeAnnotation.IntLogicalTypeAnnotation] =>
                Some(num(st.genericGetMin.toString, st.genericGetMax.toString))
              case (INT64, _) => Some(num(st.genericGetMin.toString, st.genericGetMax.toString))
              case (FLOAT, _) =>
                numDouble(st.genericGetMin.asInstanceOf[java.lang.Float].doubleValue(),
                  st.genericGetMax.asInstanceOf[java.lang.Float].doubleValue())
              case (DOUBLE, _) =>
                numDouble(st.genericGetMin.asInstanceOf[java.lang.Double].doubleValue(),
                  st.genericGetMax.asInstanceOf[java.lang.Double].doubleValue())
              case (BOOLEAN, _) =>
                def b01(v: Any) = if (v.asInstanceOf[Boolean]) "1" else "0"
                Some(num(b01(st.genericGetMin), b01(st.genericGetMax)))
              case (BINARY, l) if l.isInstanceOf[LogicalTypeAnnotation.StringLogicalTypeAnnotation] =>
                Some(ColStat("str", hasNonNull = true,
                  st.genericGetMin.asInstanceOf[Binary].toStringUsingUTF8,
                  st.genericGetMax.asInstanceOf[Binary].toStringUsingUTF8))
              case _ => None // INT96, decimals, nested — not recorded
            }
          }
        perCol(name) = merge(perCol.get(name), cur)
      }
      FileStat(relPath, rows, perCol.collect { case (c, Some(s)) => c -> s }.toMap,
        Option(md.getFileMetaData.getKeyValueMetaData.get(SparkSchemaKey)))
    } finally reader.close()
  }

  private def num(mn: String, mx: String) = ColStat("num", hasNonNull = true, mn, mx)

  /** Float/double bounds are persisted as the EXACT decimal expansion of the
    * binary value (`new BigDecimal(double)`), not the shortest-roundtrip
    * string — decimal("1.1") != the float 1.1f, and a bound falling in that
    * gap would skip a file that contains matching rows. NaN/±Infinity have
    * no BigDecimal form; a file whose bounds include them gets no stats for
    * that column (the scan then always keeps it). */
  private def numDouble(mn: Double, mx: Double): Option[ColStat] =
    if (java.lang.Double.isFinite(mn) && java.lang.Double.isFinite(mx))
      Some(num(new java.math.BigDecimal(mn).toPlainString,
        new java.math.BigDecimal(mx).toPlainString))
    else None

  /** Merge stats across row groups. outer None = first group; inner None =
    * some group unknown → whole column unknown. */
  private def merge(prev: Option[Option[ColStat]], cur: Option[ColStat]): Option[ColStat] =
    prev match {
      case None => cur
      case Some(None) => None
      case Some(Some(p)) => cur match {
        case None => None
        case Some(c) =>
          if (!p.hasNonNull) Some(c)
          else if (!c.hasNonNull) Some(p)
          else {
            require(p.kind == c.kind)
            (cmpSafe(p.kind, c.min, p.min), cmpSafe(p.kind, c.max, p.max)) match {
              case (Some(dMin), Some(dMax)) =>
                Some(ColStat(p.kind, hasNonNull = true,
                  if (dMin < 0) c.min else p.min,
                  if (dMax > 0) c.max else p.max))
              case _ => None // uncomparable group bounds → whole column unknown
            }
          }
      }
    }

  // ---- comparison -----------------------------------------------------

  /** None = at least one side is not comparable (e.g. an "Infinity"/"NaN"
    * numeric string from an old manifest) — callers must treat that as
    * unknown, never as a skip. */
  private def cmpSafe(kind: String, a: String, b: String): Option[Int] = kind match {
    case "num" =>
      try Some(new java.math.BigDecimal(a).compareTo(new java.math.BigDecimal(b)))
      catch { case _: NumberFormatException => None }
    case _ => Some(utf8Cmp(a, b))
  }

  /** Unsigned UTF-8 byte order — parquet's comparator for string stats. */
  private def utf8Cmp(a: String, b: String): Int = {
    val x = a.getBytes("UTF-8"); val y = b.getBytes("UTF-8")
    var i = 0
    while (i < x.length && i < y.length) {
      val d = (x(i) & 0xff) - (y(i) & 0xff)
      if (d != 0) return d
      i += 1
    }
    x.length - y.length
  }

  /** Normalize a user bound into (kind, encoded) or None if unsupported.
    * Float/double bounds use the exact binary value (matching the persisted
    * stats encoding); non-finite bounds are unsupported → the scan keeps
    * every file rather than guessing an ordering for NaN. */
  private def norm(v: Any): Option[(String, String)] = v match {
    case d: java.lang.Double =>
      if (java.lang.Double.isFinite(d)) Some("num" -> new java.math.BigDecimal(d.doubleValue()).toPlainString) else None
    case f: java.lang.Float =>
      if (java.lang.Float.isFinite(f)) Some("num" -> new java.math.BigDecimal(f.doubleValue()).toPlainString) else None
    case n: java.lang.Number  => Some("num" -> new java.math.BigDecimal(n.toString).toPlainString)
    case b: java.lang.Boolean => Some("num" -> (if (b) "1" else "0"))
    case d: java.sql.Date     => Some("num" -> d.toLocalDate.toEpochDay.toString)
    case t: java.sql.Timestamp =>
      Some("num" -> (t.getTime / 1000 * 1000000L + t.getNanos / 1000).toString)
    case s: String            => Some("str" -> s)
    case _ => None
  }

  /** Could any row of a file with stats `fs` have `column` equal to ANY of
    * `values`? The IN-set sibling of [[mightMatch]]: keep iff at least one
    * value falls inside the file's [min, max] for the column. Unknown
    * stats answer yes (keep); an EMPTY value set keeps nothing with known
    * stats (no value can match) but still keeps stat-less files — the
    * caller's exact predicate filters those to zero rows. */
  def mightContainAny(fs: FileStat, column: String, values: Seq[Any]): Boolean =
    fs.cols.get(column) match {
      case None => true
      case Some(_) =>
        values.exists(v => mightMatch(fs, Seq(ColumnRange(column, Some(v), Some(v)))))
    }

  /** Could any row of a file with stats `fs` have `column` equal to ANY id
    * in `sorted` (ascending)? The large-probe-set sibling of
    * [[mightContainAny]]: one binary search against the file's [min, max]
    * instead of a per-value scan, so callers can prune with probe sets of
    * millions of ids. Unknown or non-integer stats keep the file; an
    * all-NULL column matches no id. */
  def mightContainAnyId(fs: FileStat, column: String, sorted: Array[Long]): Boolean =
    fs.cols.get(column) match {
      case None => true
      case Some(st) =>
        if (!st.hasNonNull) false
        else if (st.kind != "num") true
        else {
          // our own store writes integer strings for long columns; any
          // other shape (decimals, old manifests) conservatively keeps
          val bounds =
            try Some((st.min.toLong, st.max.toLong))
            catch { case _: NumberFormatException => None }
          bounds match {
            case None => true
            case Some((lo, hi)) =>
              val i = java.util.Arrays.binarySearch(sorted, lo)
              i >= 0 || {
                val ip = -i - 1
                ip < sorted.length && sorted(ip) <= hi
              }
          }
        }
    }

  /** Could any row of a file with stats `fs` satisfy ALL the ranges?
    * Unknown columns / unnormalizable bounds answer yes (keep). */
  def mightMatch(fs: FileStat, ranges: Seq[ColumnRange]): Boolean =
    ranges.forall { r =>
      fs.cols.get(r.column) match {
        case None => true
        case Some(st) =>
          if (!st.hasNonNull) // all-NULL column: a range matches nothing
            r.lo.isEmpty && r.hi.isEmpty
          else {
            // A bound only ever REMOVES a file when it normalized to the
            // stats' kind AND the comparison succeeded; unnormalizable
            // bounds (exotic JVM types, NaN) and unparseable stats both
            // answer "keep" — skipping is an optimization, not a filter.
            def ok(bound: Option[Any], pass: String => Option[Boolean]): Boolean =
              bound.flatMap(norm) match {
                case Some((k, v)) if k == st.kind => pass(v).getOrElse(true)
                case _ => true // absent, cross-kind, or unnormalizable bound
              }
            val loOk = ok(r.lo, v => cmpSafe(st.kind, st.max, v).map(_ >= 0))
            val hiOk = ok(r.hi, v => cmpSafe(st.kind, st.min, v).map(_ <= 0))
            loOk && hiOk
          }
      }
    }

  // ---- persistence (TSV; string values URL-encoded to stay line-safe) --

  /** One sidecar per version dir. Its first line is `S\t<schema>` when
    * every file carries the same Spark schema (one write's files always
    * do); sidecars without that line — written before schemas were
    * recorded, or over foreign files — still parse, and [[schemaLine]]
    * answers None for them. */
  def render(stats: Seq[FileStat]): String = {
    val schema = stats.map(_.schema).distinct match {
      case Seq(Some(json)) => Seq(s"S\t${enc(json)}")
      case _ => Nil
    }
    (schema ++ stats.flatMap { f =>
      val head = s"F\t${f.relPath}\t${f.rows}"
      head +: f.cols.toSeq.sortBy(_._1).map { case (c, s) =>
        s"C\t${f.relPath}\t$c\t${s.kind}\t${if (s.hasNonNull) 1 else 0}\t${enc(s.min)}\t${enc(s.max)}"
      }
    }).mkString("\n")
  }

  /** The shared Spark schema JSON from a sidecar's first line, if
    * [[render]] recorded one. */
  def schemaLine(firstLine: String): Option[String] =
    Option(firstLine).filter(_.startsWith("S\t")).map(l => dec(l.substring(2)))

  def parse(body: String): Seq[FileStat] = {
    val lines = body.split("\n").toSeq.filter(_.nonEmpty)
    val schema = lines.headOption.flatMap(schemaLine)
    val rows = lines.collect { case l if l.startsWith("F\t") =>
      val a = l.split("\t"); a(1) -> a(2).toLong
    }.toMap
    val cols = lines.collect { case l if l.startsWith("C\t") =>
      val a = l.split("\t", -1)
      a(1) -> (a(2) -> ColStat(a(3), a(4) == "1", dec(a(5)), dec(a(6))))
    }.groupBy(_._1).view.mapValues(_.map(_._2).toMap).toMap
    rows.toSeq.sortBy(_._1).map { case (p, n) =>
      FileStat(p, n, cols.getOrElse(p, Map.empty), schema)
    }
  }

  private def enc(s: String) = java.net.URLEncoder.encode(s, "UTF-8")
  private def dec(s: String) = java.net.URLDecoder.decode(s, "UTF-8")
}
