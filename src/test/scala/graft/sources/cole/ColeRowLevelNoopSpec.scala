package graft.sources.cole

import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** No-op rewrite detection for group-based UPDATE / MERGE INTO
  * (ColeRowHash + ColeReplaceWrite commit): a conditional DML whose
  * matched rows change NOTHING must leave every file byte-identical and
  * rewrite zero files — the idempotent-pipeline shape (re-run MERGE with
  * a WHEN MATCHED condition that excludes already-processed rows) must
  * not fragment the table or pay write amplification on re-runs.
  */
class ColeRowLevelNoopSpec extends AnyFunSuite {

  private lazy val warehouse = Files.createTempDirectory("cole_noop_wh").toString

  private lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    s.conf.set("spark.sql.catalog.noopw", "graft.sources.cole.ColeCatalog")
    s.conf.set("spark.sql.catalog.noopw.warehouse", warehouse)
    s
  }

  /** (path, len, mtime) of every live data file — byte-identity proxy
    * that catches both rewrites (path changes: replacements get new
    * names) and in-place modification.
    */
  private def fileStamps(dir: String): Set[(String, Long, Long)] =
    ColeIO.listPartitioned(dir, ColeIO.driverConf()).map { case (st, _) =>
      (st.getPath.toString, st.getLen, st.getModificationTime)
    }.toSet

  test("re-run MERGE with matched-but-unchanged rows rewrites 0 files") {
    val s = spark
    import s.implicits._
    val t = s"$warehouse/db/mrg"
    (0 until 4).foreach { part =>
      (part * 500 until (part + 1) * 500).map(i => (i.toLong, "new", i * 2L))
        .toDF("k", "state", "v").coalesce(1)
        .write.format("cole").mode(if (part == 0) "overwrite" else "append").save(t)
    }
    Seq.range(0L, 2000L, 7L).map(k => (k, k + 100000L)).toDF("k", "nv")
      .createOrReplaceTempView("noop_src")
    def merge(): Unit = spark.sql(
      """MERGE INTO noopw.db.mrg t USING noop_src s ON t.k = s.k
        |WHEN MATCHED AND t.state = 'new' THEN
        |  UPDATE SET v = s.nv, state = 'done'""".stripMargin)
    merge() // first run: real changes, files rewrite
    val processed = spark.table("noopw.db.mrg")
      .filter(col("state") === "done").count()
    assert(processed === Seq.range(0L, 2000L, 7L).size)
    val stamps = fileStamps(t)
    // re-runs: every source key still MATCHES (join hits), but state is
    // 'done' so no WHEN clause changes any row — the engine must leave
    // every file byte-identical, five runs in a row
    (1 to 5).foreach { i =>
      merge()
      assert(fileStamps(t) === stamps,
        s"re-run $i rewrote files: a no-op MERGE must not touch the table")
    }
    assert(spark.table("noopw.db.mrg").filter(col("state") === "done").count()
      === processed)
  }

  test("identity UPDATE (SET v = v) rewrites 0 files") {
    val s = spark
    import s.implicits._
    val t = s"$warehouse/db/idu"
    (0 until 3).foreach { part =>
      (part * 400 until (part + 1) * 400).map(i => (i.toLong, s"t$i", i.toDouble))
        .toDF("k", "tag", "v").coalesce(1)
        .write.format("cole").mode(if (part == 0) "overwrite" else "append").save(t)
    }
    val stamps = fileStamps(t)
    assert(stamps.size === 3)
    spark.sql("UPDATE noopw.db.idu SET v = v WHERE k >= 100 AND k < 900")
    assert(fileStamps(t) === stamps,
      "an identity UPDATE matched rows but changed nothing — 0 rewrites expected")
    assert(spark.table("noopw.db.idu").count() === 1200)
  }

  test("partial no-op: only the file whose rows actually change rewrites") {
    val s = spark
    import s.implicits._
    val t = s"$warehouse/db/part"
    // file A holds k in [0,500), file B k in [500,1000)
    (0 until 2).foreach { part =>
      (part * 500 until (part + 1) * 500).map(i => (i.toLong, i * 3L))
        .toDF("k", "v").coalesce(1)
        .write.format("cole").mode(if (part == 0) "overwrite" else "append").save(t)
    }
    val before = fileStamps(t)
    assert(before.size === 2)
    // condition MATCHES rows in both files (k % 2 = 0 everywhere), but
    // the assignment only changes rows with k < 500 (file A): v = v + k
    // adds 0 for... no — use a CASE-shaped no-op: new value equals old
    // for every k >= 500
    spark.sql(
      """UPDATE noopw.db.part
        |SET v = CASE WHEN k < 500 THEN v + 1 ELSE v END
        |WHERE k % 2 = 0""".stripMargin)
    val after = fileStamps(t)
    val untouched = before intersect after
    assert(untouched.size === 1,
      s"exactly the unchanged file must survive byte-identical, got $untouched")
    assert(untouched.forall(_._1.contains(t)))
    // and the changed file really changed
    val got = spark.table("noopw.db.part")
    assert(got.filter(col("k") === 100L).select("v").head.getLong(0) === 301L)
    assert(got.filter(col("k") === 600L).select("v").head.getLong(0) === 1800L)
    assert(got.count() === 1000)
  }

  test("no-op re-run MERGE on a BUCKETED table rewrites 0 files") {
    val s = spark
    import s.implicits._
    val t = s"$warehouse/db/bmrg"
    (0 until 4000).map(i => (i.toLong, "new", i.toLong)).toDF("k", "state", "v")
      .write.format("cole").mode("overwrite").option("bucketBy", "4:k").save(t)
    Seq.range(0L, 4000L, 11L).map(k => (k, k * 5L)).toDF("k", "nv")
      .createOrReplaceTempView("noop_bsrc")
    def merge(): Unit = spark.sql(
      """MERGE INTO noopw.db.bmrg t USING noop_bsrc s ON t.k = s.k
        |WHEN MATCHED AND t.state = 'new' THEN
        |  UPDATE SET v = s.nv, state = 'done'""".stripMargin)
    merge()
    val stamps = fileStamps(t)
    (1 to 3).foreach { i =>
      merge()
      assert(fileStamps(t) === stamps,
        s"bucketed re-run $i rewrote files despite changing nothing")
    }
    assert(spark.table("noopw.db.bmrg").filter(col("state") === "done").count()
      === Seq.range(0L, 4000L, 11L).size)
  }

  test("MERGE with inserts: correct results, and the re-run is a no-op") {
    val s = spark
    import s.implicits._
    val t = s"$warehouse/db/ins"
    (0 until 2).foreach { part =>
      (part * 300 until (part + 1) * 300).map(i => (i.toLong, "old"))
        .toDF("k", "tag").coalesce(1)
        .write.format("cole").mode(if (part == 0) "overwrite" else "append").save(t)
    }
    // every target row matches (k < 600) and none changes; new keys
    // insert. A NOT MATCHED clause plans a shuffled outer join, so
    // original-file rows MIX across replacement files — per-file keep is
    // structurally impossible there (same copy-on-write bound as
    // Delta/Iceberg) and the first run may rewrite matched files. What
    // the engine DOES guarantee: results are exact, and the re-run —
    // where nothing changes at all — rewrites ZERO files via the
    // alignment-independent whole-operation fingerprint.
    (0L until 700L by 50L).map(k => (k, s"src$k")).toDF("k", "stag")
      .createOrReplaceTempView("noop_isrc")
    def merge(): Unit = spark.sql(
      """MERGE INTO noopw.db.ins t USING noop_isrc s ON t.k = s.k
        |WHEN MATCHED THEN UPDATE SET tag = t.tag
        |WHEN NOT MATCHED THEN INSERT (k, tag) VALUES (s.k, 'ins')""".stripMargin)
    merge()
    assert(spark.table("noopw.db.ins").filter(col("tag") === "ins").count() === 2)
    assert(spark.table("noopw.db.ins").count() === 602)
    val stamps = fileStamps(t)
    (1 to 3).foreach { i =>
      merge() // all source keys now match; UPDATE keeps values → no-op
      assert(fileStamps(t) === stamps,
        s"re-run $i with inserts-now-matched rewrote files")
    }
    assert(spark.table("noopw.db.ins").count() === 602)
  }

  test("a batch fingerprinted a column at a time equals the same rows hashed one by one") {
    import org.apache.spark.sql.catalyst.expressions.{GenericInternalRow, UnsafeProjection}
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    import org.apache.spark.sql.execution.vectorized.OnHeapColumnVector
    import org.apache.spark.sql.types._
    import org.apache.spark.sql.vectorized.{ColumnVector, ColumnarBatch}
    import org.apache.spark.unsafe.types.UTF8String

    val schema = StructType(Seq(
      IntegerType, LongType, TimestampType, TimestampNTZType, DoubleType,
      FloatType, StringType, BinaryType, DecimalType(9, 2), DecimalType(18, 4),
      DecimalType(25, 4), ArrayType(FloatType, containsNull = false)
    ).zipWithIndex.map { case (t, i) => StructField(s"c${(i * 7) % 12}", t) })
    val rnd = new scala.util.Random(20261017L)
    // Catalyst values, NULL one cell in five; strings span the 8-byte
    // word boundary and carry multi-byte characters
    def value(t: DataType): Any = if (rnd.nextInt(5) == 0) null else t match {
      case IntegerType => rnd.nextInt()
      case LongType | TimestampType | TimestampNTZType => rnd.nextLong()
      case DoubleType => if (rnd.nextInt(10) == 0) Double.NaN else rnd.nextDouble()
      case FloatType => rnd.nextFloat()
      case StringType => UTF8String.fromString(
        Seq.fill(rnd.nextInt(20))("aé東"(rnd.nextInt(3))).mkString)
      case BinaryType => Array.fill(rnd.nextInt(20))(rnd.nextInt(256).toByte)
      case d: DecimalType => Decimal(BigDecimal(BigInt(d.precision * 3, rnd) *
        (if (rnd.nextBoolean()) 1 else -1), d.scale), d.precision, d.scale)
      case _ => new GenericArrayData(Array.fill[Any](rnd.nextInt(6))(rnd.nextFloat()))
    }
    def batchOf(rows: Seq[GenericInternalRow]): ColumnarBatch = {
      val vecs = schema.fields.zipWithIndex.map { case (f, c) =>
        val v = new OnHeapColumnVector(rows.size, f.dataType)
        rows.zipWithIndex.foreach { case (row, r) =>
          if (row.isNullAt(c)) v.putNull(r)
          else f.dataType match {
            case IntegerType => v.putInt(r, row.getInt(c))
            case LongType | TimestampType | TimestampNTZType => v.putLong(r, row.getLong(c))
            case DoubleType => v.putDouble(r, row.getDouble(c))
            case FloatType => v.putFloat(r, row.getFloat(c))
            case StringType => v.putByteArray(r, row.getUTF8String(c).getBytes)
            case BinaryType => v.putByteArray(r, row.getBinary(c))
            case d: DecimalType => v.putDecimal(r, row.getDecimal(c, d.precision, d.scale),
              d.precision)
            case _ =>
              val a = row.getArray(c).toFloatArray()
              val at = v.arrayData().getElementsAppended
              v.arrayData().appendFloats(a.length, a, 0)
              v.putArray(r, at, a.length)
          }
        }
        v: ColumnVector
      }
      new ColumnarBatch(vecs, rows.size)
    }

    val columnar = new ColeRowHash.RowHasher(schema)
    val batchRows = new ColeRowHash.RowHasher(schema)
    val unsafeRows = new ColeRowHash.RowHasher(schema)
    val toUnsafe = UnsafeProjection.create(schema)
    // batch sizes shrink and grow, so the per-row scratch is reused
    Seq(700, 1, 0, 64, 4096, 3, 1500).foreach { n =>
      val rows = Seq.fill(n)(new GenericInternalRow(
        schema.fields.map(f => value(f.dataType))))
      val batch = batchOf(rows)
      columnar.addBatch(batch)
      batch.rowIterator().forEachRemaining(r => batchRows.add(r))
      rows.foreach(r => unsafeRows.add(toUnsafe(r)))
      batch.close()
    }
    val fp = ColeRowHash.Fp.of(columnar)
    assert(fp.count === 6364L)
    assert(fp === ColeRowHash.Fp.of(batchRows))
    assert(fp === ColeRowHash.Fp.of(unsafeRows))
  }
}
