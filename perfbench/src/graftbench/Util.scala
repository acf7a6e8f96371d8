package graftbench

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8
import java.security.MessageDigest

import org.apache.spark.sql.Row
import org.apache.spark.sql.types._

/** Minimal JSON rendering for the result and span files (no library on
  * the classpath is part of Spark's stable surface).
  */
object Json {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case '\t' => b ++= "\\t"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }

  def apply(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => apply(x)
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double =>
      if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
    case f: Float => apply(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: collection.Map[_, _] =>
      m.map { case (k, x) => str(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case s: Iterable[_] => s.map(apply).mkString("[", ",", "]")
    case a: Array[_] => apply(a.toSeq)
    case other => str(other.toString)
  }
}

object Stats {
  /** Linear-interpolated quantile (the same rule as numpy's default). */
  def quantile(xs: Seq[Double], q: Double): Double = {
    if (xs.isEmpty) return Double.NaN
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.ceil(pos).toInt
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size
}

object Files {
  def rm(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty[File]).foreach(rm)
    f.delete()
  }

  /** Every regular file under `f` (recursively). */
  def walk(f: File): Seq[File] =
    if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty[File]).toSeq.flatMap(walk)
    else if (f.isFile) Seq(f) else Seq.empty

  def bytes(f: File): Long = walk(f).map(_.length).sum

  /** Data files of a COLE table directory, relative path -> size. Hidden
    * (`.`/`_`-prefixed) entries hold versions, claims and sidecars.
    */
  def dataFiles(dir: File): Map[String, Long] = {
    val root = dir.getAbsolutePath
    walk(dir).filter { f =>
      val rel = f.getAbsolutePath.stripPrefix(root)
      f.getName.endsWith(".col") &&
        !rel.split('/').exists(p => p.startsWith(".") || p.startsWith("_"))
    }.map(f => f.getAbsolutePath.stripPrefix(root) -> f.length).toMap
  }

  def copyTree(src: File, dst: File): Unit = {
    if (src.isDirectory) {
      dst.mkdirs()
      Option(src.listFiles()).getOrElse(Array.empty[File])
        .foreach(c => copyTree(c, new File(dst, c.getName)))
    } else {
      java.nio.file.Files.copy(src.toPath, dst.toPath,
        java.nio.file.StandardCopyOption.COPY_ATTRIBUTES)
    }
  }

  def write(f: File, s: String): Unit = {
    f.getParentFile.mkdirs()
    java.nio.file.Files.write(f.toPath, s.getBytes(UTF_8))
  }
}

/** Order-independent digest of a result set, computed identically by
  * `oracle.py` over DuckDB's answer: columns in name order, each cell
  * rendered canonically, each row hashed with SHA-256, the first eight
  * bytes of the row hashes summed modulo 2^64.
  */
object Digest {
  final case class D(columns: Seq[String], rows: Long, sum: String)

  def cell(v: Any, t: DataType): String = (v, t) match {
    case (null, _) => "\\N"
    case (d: Double, _) => "d:" + java.lang.Long.toHexString(java.lang.Double.doubleToLongBits(d))
    case (f: Float, _) => "d:" + java.lang.Long.toHexString(java.lang.Double.doubleToLongBits(f.toDouble))
    case (b: java.math.BigDecimal, _) => b.toPlainString
    case (b: scala.math.BigDecimal, _) => b.bigDecimal.toPlainString
    case (b: Boolean, _) => if (b) "true" else "false"
    case (d: java.sql.Date, _) => d.toLocalDate.toString
    case (d: java.time.LocalDate, _) => d.toString
    case (ts: java.sql.Timestamp, _) =>
      "t:" + (Math.floorDiv(ts.getTime, 1000L) * 1000000L + ts.getNanos / 1000)
    case (i: java.time.Instant, _) =>
      "t:" + (i.getEpochSecond * 1000000L + i.getNano / 1000)
    case (l: java.time.LocalDateTime, _) =>
      val i = l.toInstant(java.time.ZoneOffset.UTC)
      "t:" + (i.getEpochSecond * 1000000L + i.getNano / 1000)
    case (s: collection.Seq[_], ArrayType(et, _)) => s.map(cell(_, et)).mkString("[", ",", "]")
    case (other, _) => other.toString
  }

  def of(schema: StructType, rows: Array[Row]): D = {
    val cols = schema.fields.map(_.name).zipWithIndex.sortBy(_._1)
    val md = MessageDigest.getInstance("SHA-256")
    var sum = 0L
    rows.foreach { r =>
      val line = cols.map { case (_, i) => cell(r.get(i), schema.fields(i).dataType) }
        .mkString("\u0001")
      val h = md.digest(line.getBytes(UTF_8))
      sum += java.nio.ByteBuffer.wrap(h, 0, 8).getLong
    }
    D(cols.map(_._1).toSeq, rows.length.toLong, java.lang.Long.toHexString(sum))
  }
}
