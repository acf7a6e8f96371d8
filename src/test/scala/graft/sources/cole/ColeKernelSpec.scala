package graft.sources.cole

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files

import org.apache.hadoop.conf.Configuration
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.cole.ColeCodec._
import graft.sources.cole.ColeFormat._

/** The L0 codec kernels against stored bytes and hand-built layouts:
  *  - re-encoding every chunk of the in-repo `benchmark_data.col` (the
  *    reference engine's own output) reproduces its stored page bodies
  *    bit for bit, and a rewrite through [[ColeFileWriter]] reproduces the
  *    whole file, page headers and stats included;
  *  - multi-page chunks (which the writer never emits: it writes one page
  *    per chunk) decode to the concatenation of their pages' decodes,
  *    with and without v2 nulls, and with DICT pages whose ids need
  *    offsetting into one entry table.
  */
class ColeKernelSpec extends AnyFunSuite {

  private val RefFile = "benchmark_data.col"
  private def conf = new Configuration()

  test("re-encoding every chunk of benchmark_data.col reproduces its stored page bodies") {
    val r = new ColeFileReader(RefFile, conf)
    try {
      val m = r.meta
      var chunks = 0
      for (g <- m.rowGroups.indices; ci <- m.columns.indices) {
        val col = m.columns(ci)
        assert(m.rowGroups(g).chunks(ci).pages.size === 1)
        val stored = r.readChunkBytes(g, ci)
        val c = new Cursor(stored, 0)
        val ph = readPageHeader(c, m.version)
        assert(ph.compressedSize === ph.uncompressedSize)
        val body = java.util.Arrays.copyOfRange(stored, c.pos, c.pos + ph.compressedSize)
        val cd = r.readChunk(g, ci)
        val again = (col.colType, ph.encoding) match {
          case (TInt32, Plain) => encodePlainInt(cd.ints)
          case (TInt32, Rle) => encodeRleInt(cd.ints)
          case (TInt32, Delta) => encodeDeltaInt(cd.ints)
          case (TInt64, Plain) => encodePlainLong(cd.longs)
          case (TInt64, Rle) => encodeRleLong(cd.longs)
          case (TInt64, Delta) => encodeDeltaLong(cd.longs)
          case (TString, Plain) => encodePlainStrings(cd.strings)
          case (TString, Dict) => encodeDictStrings(cd.strings)
          case other => fail(s"unexpected chunk layout $other")
        }
        assert(java.util.Arrays.equals(again, body),
          s"row group $g column ${col.name} (${ph.encoding}): re-encoded body differs")
        chunks += 1
      }
      assert(chunks === 80)
    } finally r.close()
  }

  test("a ColeFileWriter rewrite of benchmark_data.col is byte-identical to the file") {
    val out = Files.createTempDirectory("cole_kernel").resolve("rewrite.col").toString
    val r = new ColeFileReader(RefFile, conf)
    try {
      val m = r.meta
      val w = new ColeFileWriter(out, m.columns, conf)
      try m.rowGroups.indices.foreach { g =>
        w.writeRowGroup(m.columns.indices.map(r.readChunk(g, _)), m.rowGroups(g).numRows,
          m.rowGroups(g).chunks.map(_.pages.head.encoding))
      } finally w.close()
    } finally r.close()
    val want = Files.readAllBytes(java.nio.file.Paths.get(RefFile))
    val got = Files.readAllBytes(java.nio.file.Paths.get(out))
    assert(got.length === want.length)
    assert(java.util.Arrays.equals(got, want), "rewrite differs from the stored file")
  }

  // ---- multi-page chunks, spliced by hand

  /** One page: encoding, the encoded PRESENT values, and per-row null
    * flags (null = dense page of `rows` rows).
    */
  private case class Page(enc: Enc, encoded: Array[Byte], rows: Int, isNull: Array[Boolean])

  private def page(enc: Enc, encoded: Array[Byte], isNull: Array[Boolean]): Page =
    Page(enc, encoded, isNull.length, isNull)

  private def dense(enc: Enc, encoded: Array[Byte], rows: Int): Page =
    Page(enc, encoded, rows, null)

  /** A one-row-group file whose single column chunk is `pages`, written
    * through the raw-splice lane so the footer is the writer's own.
    */
  private def fileOf(col: ColeColumn, version: Int, pages: Seq[Page]): String = {
    val o = new Out()
    val headers = pages.map { p =>
      val nullCount = if (p.isNull == null) 0 else p.isNull.count(identity)
      val body = if (nullCount == 0) p.encoded else packValidity(p.isNull) ++ p.encoded
      val ph = PageHeader(body.length, body.length, p.rows, p.enc,
        PageStats(None, None, nullCount), nullCount,
        if (version >= Version2) bodyCrc(body, 0, body.length) else 0)
      writePageHeader(o, ph, version, col.colType == TDouble)
      o.raw(body)
      ph
    }
    val bytes = o.toBytes
    val rows = pages.map(_.rows).sum
    val src = FileMeta(Seq(col),
      Seq(RowGroupMeta(rows, Seq(ColumnChunkMeta(0L, bytes.length.toLong, headers)))),
      rows.toLong, version)
    val path = Files.createTempDirectory("cole_kernel").resolve("multi.col").toString
    val c = conf
    c.set(ColeFileWriter.VersionKey, version.toString)
    val w = new ColeFileWriter(path, Seq(col), c)
    try w.writeRawRowGroup(src, 0, IndexedSeq(bytes)) finally w.close()
    path
  }

  private def withReader[T](path: String)(f: ColeFileReader => T): T = {
    val r = new ColeFileReader(path, conf)
    try f(r) finally r.close()
  }

  /** Every lane of a decoded chunk in comparable form. */
  private def lanes(cd: ColumnData): Seq[Any] = Seq(
    Option(cd.ints).map(_.toSeq), Option(cd.longs).map(_.toSeq),
    Option(cd.strings).map(_.toSeq.map(b => if (b == null) null else new String(b, UTF_8))),
    Option(cd.doubles).map(_.toSeq.map(java.lang.Double.doubleToRawLongBits)),
    Option(cd.nulls).map(_.toSeq), Option(cd.vecs).map(_.toSeq.map(v =>
      if (v == null) null else v.toSeq.map(java.lang.Float.floatToRawIntBits))),
    Option(cd.wides).map(_.toSeq))

  /** Concatenation of the per-page decodes: each page read back alone
    * from a single-page file, lanes joined, a dense page's flags all false
    * once any page carries nulls.
    */
  private def perPage(col: ColeColumn, version: Int, pages: Seq[Page]): Seq[Any] = {
    val decoded = pages.map(p => withReader(fileOf(col, version, Seq(p)))(_.readChunk(0, 0)))
    val anyNulls = decoded.exists(_.nulls != null)
    def join[A](f: ColumnData => Array[A]): Array[A] =
      if (f(decoded.head) == null) null
      else decoded.map(f).reduce((a, b) => (a ++ b)(scala.reflect.ClassTag(a.getClass.getComponentType)))
    val nulls = if (!anyNulls) null
      else decoded.zip(pages).flatMap { case (d, p) =>
        if (d.nulls == null) Array.fill(p.rows)(false) else d.nulls }.toArray
    lanes(ColumnData(join(_.ints), join(_.longs), join(_.strings), join(_.doubles),
      nulls, join(_.vecs), join(_.wides)))
  }

  /** readChunk and chunkValidity of the multi-page file against the
    * per-page decodes; chunkValidity is checked on a fresh reader (its
    * own bitmap sweep) and after readChunk (the decoded chunk's flags).
    */
  private def checkChunk(col: ColeColumn, version: Int, pages: Seq[Page]): ColumnData = {
    val path = fileOf(col, version, pages)
    val want = perPage(col, version, pages)
    val wantNulls = want(4).asInstanceOf[Option[Seq[Boolean]]]
    withReader(path) { r =>
      assert(r.meta.rowGroups.head.chunks.head.pages.size === pages.size)
      assert(Option(r.chunkValidity(0, 0)).map(_.toSeq) === wantNulls)
    }
    withReader(path) { r =>
      val cd = r.readChunk(0, 0)
      assert(lanes(cd) === want)
      assert(Option(r.chunkValidity(0, 0)).map(_.toSeq) === wantNulls)
      assert(r.readChunk(0, 0) eq cd, "a second read of the row group decodes again")
      cd
    }
  }

  private def strs(s: String*): Array[Array[Byte]] = s.map(_.getBytes(UTF_8)).toArray

  test("multi-page INT32 and INT64 chunks without nulls equal their pages joined") {
    val i32 = ColeColumn("i", TInt32, Plain)
    val cd = checkChunk(i32, 1, Seq(
      dense(Plain, encodePlainInt(Array(5, -1, 7)), 3),
      dense(Rle, encodeRleInt(Array(9, 9, 9, 2)), 4),
      dense(Delta, encodeDeltaInt(Array(10, 12, 11)), 3)))
    assert(cd.ints.toSeq === Seq(5, -1, 7, 9, 9, 9, 2, 10, 12, 11))
    assert(cd.nulls === null)
    val i64 = ColeColumn("l", TInt64, Plain)
    checkChunk(i64, 1, Seq(
      dense(Delta, encodeDeltaLong(Array(Long.MinValue, 0L, Long.MaxValue)), 3),
      dense(Plain, encodePlainLong(Array(42L)), 1)))
  }

  test("multi-page v2 chunks with nulls in some pages: values and flags join") {
    val i32 = ColeColumn("i", TInt32, Plain)
    val cd = checkChunk(i32, Version2, Seq(
      dense(Plain, encodePlainInt(Array(1, 2, 3)), 3),
      page(Rle, encodeRleInt(Array(7, 7)), Array(true, false, true, false, true))))
    assert(cd.ints.toSeq === Seq(1, 2, 3, 0, 7, 0, 7, 0))
    assert(cd.nulls.toSeq === Seq(false, false, false, true, false, true, false, true))
    // nulls in the FIRST page only: the dense page after it gets all-false flags
    val dbl = ColeColumn("d", TDouble, Plain)
    checkChunk(dbl, Version2, Seq(
      page(Plain, encodePlainDouble(Array(-0.0, Double.NaN)),
        Array(false, true, false, true, true, true, true, true, true)),
      dense(Plain, encodePlainDouble(Array(1.5, Double.NegativeInfinity)), 2)))
    val vec = ColeColumn("v", TFloatVec, Plain)
    checkChunk(vec, Version2, Seq(
      dense(Plain, encodePlainVecs(Array(Array(1f, 2f), Array.emptyFloatArray)), 2),
      page(Plain, encodePlainVecs(Array(Array(3f, Float.NaN, 4f))), Array(true, false))))
    val lng = ColeColumn("t", TTimestamp, Plain)
    checkChunk(lng, Version2, Seq(
      page(Delta, encodeDeltaLong(Array(100L, 90L)), Array(false, true, false)),
      page(Plain, encodePlainLong(Array(7L)), Array(true, false))))
  }

  test("multi-page DICT chunks: ids offset into one entry table") {
    val s = ColeColumn("s", TString, Dict)
    val a = strs("x", "y", "x", "z")
    val b = strs("z", "w", "w")
    val pages = Seq(dense(Dict, encodeDictStrings(a), a.length),
      dense(Dict, encodeDictStrings(b), b.length))
    val cd = checkChunk(s, Version2, pages)
    assert(cd.strings.map(new String(_, UTF_8)).toSeq === Seq("x", "y", "x", "z", "z", "w", "w"))
    withReader(fileOf(s, 1, pages)) { r =>
      val (entries, ids) = r.readStringChunkDict(0, 0)
      // page 2's dictionary [z, w] follows page 1's [x, y, z]
      assert(entries.map(new String(_, UTF_8)).toSeq === Seq("x", "y", "z", "z", "w"))
      assert(ids.toSeq === Seq(0, 1, 0, 2, 3, 4, 4))
      assert(r.readStringChunkDict(0, 0)._2 eq ids, "a second read of the row group decodes again")
      // the dictionary view and the materialized strings agree row by row
      assert(ids.map(i => new String(entries(i), UTF_8)).toSeq ===
        r.readChunk(0, 0).strings.map(new String(_, UTF_8)).toSeq)
    }
  }

  test("multi-page string chunks with nulls or a PLAIN page have no dictionary view") {
    val s = ColeColumn("s", TString, Dict)
    val withNulls = Seq(
      page(Dict, encodeDictStrings(strs("p", "q")), Array(false, true, false)),
      dense(Dict, encodeDictStrings(strs("q")), 1))
    val cd = checkChunk(s, Version2, withNulls)
    assert(cd.strings.map(b => if (b == null) null else new String(b, UTF_8)).toSeq ===
      Seq("p", null, "q", "q"))
    withReader(fileOf(s, Version2, withNulls))(r => assert(r.readStringChunkDict(0, 0) === null))
    val mixed = Seq(dense(Dict, encodeDictStrings(strs("a", "a")), 2),
      dense(Plain, encodePlainStrings(strs("b", "", "c")), 3))
    checkChunk(s, 1, mixed)
    withReader(fileOf(s, 1, mixed))(r => assert(r.readStringChunkDict(0, 0) === null))
  }

  test("the decoded row group is dropped when another one is read") {
    val path = Files.createTempDirectory("cole_kernel").resolve("two_groups.col").toString
    val cols = Seq(ColeColumn("i", TInt32, Plain))
    val w = new ColeFileWriter(path, cols, conf)
    try {
      w.writeRowGroup(Seq(ColumnData(Array(1, 2), null, null)), 2)
      w.writeRowGroup(Seq(ColumnData(Array(3), null, null)), 1)
    } finally w.close()
    withReader(path) { r =>
      val first = r.readChunk(0, 0)
      assert(r.readChunk(1, 0).ints.toSeq === Seq(3))
      val again = r.readChunk(0, 0)
      assert(!(again eq first), "row group 0 should have been decoded afresh")
      assert(again.ints.toSeq === Seq(1, 2))
    }
  }
}
