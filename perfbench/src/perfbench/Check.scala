package perfbench

import java.math.{BigDecimal => JBigDecimal, RoundingMode}
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}
import java.security.MessageDigest

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.col

/** Order-insensitive digest of a frame, canonicalised as FIXTURES.md §3
  * says and computed exactly as `gen.py` does: the row count plus the sum,
  * modulo 2^64, of the first 8 bytes of each canonical row's SHA-256. */
object Digest {
  def canon(v: Any): String = v match {
    case null => "\\N"
    case d: Double => double(d)
    case f: Float => double(f.toDouble)
    case b: Boolean => if (b) "true" else "false"
    case other => other.toString
  }

  private def double(d: Double): String =
    if (d.isNaN) "nan"
    else if (d.isInfinite) (if (d > 0) "inf" else "-inf")
    else {
      val s = new JBigDecimal(d).setScale(6, RoundingMode.HALF_EVEN).toPlainString
      if (s == "-0.000000") "0.000000" else s
    }

  def rowHash(md: MessageDigest, r: Row): Long = {
    val line = (0 until r.length).map(i => canon(r.get(i))).mkString("\u001f")
    val h = md.digest(line.getBytes(StandardCharsets.UTF_8))
    (0 until 8).foldLeft(0L)((acc, i) => (acc << 8) | (h(i) & 0xffL))
  }

  /** (rows, 16-hex-digit digest) over every column of `df`, in order. */
  def of(df: DataFrame): (Long, String) = {
    val parts = df.rdd.mapPartitions { it =>
      val md = MessageDigest.getInstance("SHA-256")
      var n = 0L
      var sum = 0L
      it.foreach { r => n += 1; sum += rowHash(md, r) }
      Iterator((n, sum))
    }.collect()
    val n = parts.map(_._1).sum
    val sum = parts.map(_._2).foldLeft(0L)(_ + _)
    (n, f"$sum%016x")
  }
}

/** What one sink held after a run, against what it should hold. */
final case class SinkResult(name: String, rows: Long, digest: String, expected: SinkCheck,
    bytes: Long, files: Long) {
  def ok: Boolean = rows == expected.rows && digest == expected.digest
}

object Check {
  /** Reads back every sink of `p` and digests its declared columns. */
  def sinks(spark: SparkSession, p: Pipe): Seq[SinkResult] = p.sinks.map { s =>
    val df = s.format match {
      case "parquet" => spark.read.parquet(s.path)
      case "json" => spark.read.json(s.path)
      case other => throw new IllegalArgumentException(s"cannot read back $other")
    }
    val (n, d) = Digest.of(df.select(s.columns.map(col): _*))
    val (bytes, files) = dataFiles(Paths.get(s.path))
    SinkResult(s.name, n, d, s, bytes, files)
  }

  /** Bytes and count of the data files under a sink directory (Hadoop's
    * hidden `_SUCCESS` and `.crc` files excluded). */
  def dataFiles(dir: Path): (Long, Long) = {
    if (!Files.exists(dir)) return (0L, 0L)
    val fs = Files.walk(dir)
    try {
      val data = fs.iterator().asScala.filter(Files.isRegularFile(_)).filter { f =>
        val n = f.getFileName.toString
        !n.startsWith(".") && !n.startsWith("_")
      }.toSeq
      (data.map(Files.size).sum, data.size.toLong)
    } finally fs.close()
  }

  /** Total bytes of every file under `p` (a catalog file or directory). */
  def treeBytes(p: Path): Long = {
    if (!Files.exists(p)) return 0L
    val fs = Files.walk(p)
    try fs.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
    finally fs.close()
  }
}
