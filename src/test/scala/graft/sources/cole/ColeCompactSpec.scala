package graft.sources.cole

import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.Tables

/** Compaction: fewer files, identical data, partition layout preserved,
  * re-layout (row groups + optional compression) applied, no-op when
  * already compact.
  */
class ColeCompactSpec extends AnyFunSuite {

  private lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.session.timeZone", "UTC")
    .getOrCreate()

  private val sfDir = "/root/testdata/sf0.001"
  private def li = Tables.lineitem(spark, sfDir)
    .select("l_orderkey", "l_partkey", "l_suppkey", "l_returnflag")

  test("unpartitioned: many small files become few, data identical") {
    val dir = Files.createTempDirectory("cole_compact_flat").toString
    li.repartition(8).write.format("cole").mode("overwrite").save(dir)
    val before = spark.read.format("cole").load(dir).collect().toSeq
    assert(ColeUtil.listFiles(dir).size === 8)

    val stats = ColeCompact.compact(spark, dir, targetBytes = 1L << 30)
    assert(stats.filesBefore === 8 && stats.filesAfter === 1 &&
      stats.compactedDirs === 1)
    val after = spark.read.format("cole").load(dir)
    assert(after.collect().toSeq.sortBy(_.toString) === before.sortBy(_.toString))
    assert(ColeUtil.listFiles(dir).size === 1)

    // idempotent: a second pass finds nothing to do
    val again = ColeCompact.compact(spark, dir, targetBytes = 1L << 30)
    assert(again.compactedDirs === 0 && again.filesAfter === 1)
  }

  test("partitioned: per-directory compaction keeps layout and pruning") {
    val dir = Files.createTempDirectory("cole_compact_part").toString
    li.repartition(4).write.format("cole").mode("overwrite")
      .partitionBy("l_returnflag").save(dir)
    val perDirBefore = ColeIO.listPartitioned(dir, ColeIO.driverConf())
      .groupBy(_._1.getPath.getParent).map(_._2.size)
    assert(perDirBefore.exists(_ > 1), "fixture should have multi-file partitions")
    val before = spark.read.format("cole").load(dir)
      .filter(col("l_returnflag") === "A")
      .agg(sum("l_orderkey"), count(lit(1))).head()

    ColeCompact.compact(spark, dir, targetBytes = 1L << 30)
    val grouped = ColeIO.listPartitioned(dir, ColeIO.driverConf())
      .groupBy(_._1.getPath.getParent)
    assert(grouped.values.forall(_.size === 1), "one file per partition dir")
    // partition dirs (and so pruning) survive
    assert(grouped.keys.exists(_.getName.startsWith("l_returnflag=")))
    val after = spark.read.format("cole").load(dir)
      .filter(col("l_returnflag") === "A")
      .agg(sum("l_orderkey"), count(lit(1))).head()
    assert(after === before)
  }

  test("compaction carries bloom sidecars across the rewrite") {
    val dir = Files.createTempDirectory("cole_compact_bloom").toString
    val keyed = Tables.lineitem(spark, sfDir)
      .select(concat(lit("k_"), col("l_orderkey"), lit("_"), col("l_linenumber")).as("line_id"),
        col("l_orderkey"))
    keyed.repartition(4).write.format("cole").mode("overwrite")
      .option("rowGroupSize", "512").save(dir)
    val built = ColeBloomIndex.build(dir, Seq("line_id"), ColeIO.driverConf())
    assert(built === 4)
    def hasSidecar(f: String): Boolean = {
      val (fs, _) = ColeIO.resolve(f, ColeIO.driverConf())
      fs.exists(new org.apache.hadoop.fs.Path(ColeBloomIndex.sidecarPath(f)))
    }
    assert(ColeUtil.listFiles(dir).forall(hasSidecar))

    ColeCompact.compact(spark, dir, targetBytes = 1L << 30)
    val files = ColeUtil.listFiles(dir)
    assert(files.size === 1)
    // old sidecars gone with their files; the compacted file is re-indexed
    assert(hasSidecar(files.head),
      "compaction dropped the bloom index instead of rebuilding it")
    // and the rebuilt index still prunes: a missing key skips everything
    ColeBloomIndex.skippedRowGroups.set(0)
    assert(spark.read.format("cole").load(dir)
      .filter(col("line_id") === "absent_key").count() === 0L)
    assert(ColeBloomIndex.skippedRowGroups.get() > 0,
      "rebuilt sidecar did not engage")
  }

  test("synthetic-key table: compaction keeps the derivation, natural-key sort, and appends") {
    val s = spark
    import s.implicits._
    val dir = Files.createTempDirectory("cole_compact_synth").toString
    // several append batches land many small files per bucket
    (0 until 3).foreach { b =>
      (0 until 3000).map(i => ((b * 3000 + i).toLong / 4, i % 4, s"t$i"))
        .toDF("k1", "k2", "tag").repartition(3)
        .write.format("cole")
        .mode(if (b == 0) "overwrite" else "append")
        .option("bucketBy", "4:k1,k2").option("bucketKey", "ck").save(dir)
    }
    val before = ColeIO.listPartitioned(dir, ColeIO.driverConf()).size
    val stats = ColeCompact.compact(spark, dir, targetBytes = 64L << 20)
    assert(stats.filesAfter < before, s"no compaction happened: $stats")
    // the derivation survives the rewrite (appends depend on it)
    assert(ColeBucket.readSpec(dir, ColeIO.driverConf()) === Some((4, Seq("ck"))))
    assert(ColeBucket.readDerivation(dir, ColeIO.driverConf())
      === Some(("ck", Seq("k1", "k2"))))
    assert(spark.read.format("cole").load(dir).count() === 9000)
    // compacted files sort by the NATURAL key tuple, not the hash column
    ColeIO.listPartitioned(dir, ColeIO.driverConf()).foreach { case (st, _) =>
      val ks = spark.read.format("cole").load(st.getPath.toString)
        .select("k1", "k2").collect().map(r => (r.getLong(0), r.getInt(1)))
      assert(ks.sameElements(ks.sorted),
        s"compacted file ${st.getPath.getName} lost the natural-key sort")
    }
    // rows still route by the recomputed combined hash
    for (b <- 0 until 4) {
      spark.read.format("cole").load(s"$dir/_bucket=$b")
        .select("k1", "k2", "ck").collect().foreach { r =>
          val ck = ColeBucket.combine(ColeBucket.keyHashLong(r.getLong(0)),
            ColeBucket.keyHashLong(r.getInt(1).toLong))
          assert(r.getLong(2) === ck && ColeBucket.bucketOf(ck, 4) === b)
        }
    }
    // an option-less append AFTER compaction still re-derives
    Seq((99999L, 2, "late")).toDF("k1", "k2", "tag")
      .write.format("cole").mode("append").save(dir)
    val lateCk = ColeBucket.combine(ColeBucket.keyHashLong(99999L),
      ColeBucket.keyHashLong(2L))
    val late = spark.read.format("cole")
      .load(s"$dir/_bucket=${ColeBucket.bucketOf(lateCk, 4)}")
      .filter(col("k1") === 99999L).select("ck").collect()
    assert(late.length === 1 && late.head.getLong(0) === lateCk,
      "post-compaction append lost the derivation")
  }

  test("interrupted swaps recover: forward when complete, backward when partial") {
    val dir = Files.createTempDirectory("cole_compact_recover").toString
    li.repartition(3).write.format("cole").mode("overwrite").save(dir)
    val (fs, root) = ColeIO.resolve(dir, ColeIO.driverConf())
    val rows = li.count()

    // FORWARD case: all new files landed, olds + manifest remain (crash
    // between rename loop and deletes) → recovery deletes the olds
    val olds = ColeUtil.listFiles(dir).map(f => new org.apache.hadoop.fs.Path(f).getName)
    spark.read.format("cole").load(dir).coalesce(1)
      .write.format("cole").mode("overwrite").save(s"$dir/.staging")
    val newFile = fs.listStatus(new org.apache.hadoop.fs.Path(s"$dir/.staging"))
      .filter(_.getPath.getName.endsWith(".col")).head.getPath
    fs.rename(newFile, new org.apache.hadoop.fs.Path(s"$dir/compact-test-0.col"))
    fs.delete(new org.apache.hadoop.fs.Path(s"$dir/.staging"), true)
    // duplicated state: olds + the compacted copy
    assert(spark.read.format("cole").load(dir).count() === 2 * rows)
    val manifest = olds.map("old:" + _) :+ "new:compact-test-0.col"
    val out = fs.create(new org.apache.hadoop.fs.Path(s"$dir/.compact-manifest"), true)
    out.write(manifest.mkString("\n").getBytes); out.close()
    ColeSwap.recover(fs, root, dir, ColeIO.driverConf())
    assert(spark.read.format("cole").load(dir).count() === rows,
      "forward recovery must delete the superseded originals")
    assert(ColeUtil.listFiles(dir).size === 1)

    // BACKWARD case: manifest names a new file that never landed →
    // recovery deletes the partial news and keeps the current data
    val out2 = fs.create(new org.apache.hadoop.fs.Path(s"$dir/.compact-manifest"), true)
    out2.write("old:compact-test-0.col\nnew:compact-never-0.col\nnew:compact-never-1.col"
      .getBytes); out2.close()
    ColeSwap.recover(fs, root, dir, ColeIO.driverConf())
    assert(spark.read.format("cole").load(dir).count() === rows,
      "backward recovery must keep the old copy when news are incomplete")
  }

  test("vacuum removes stale crash leftovers, keeps live data and recent in-flight files") {
    val s = spark
    import s.implicits._
    val dir = Files.createTempDirectory("cole_vacuum").toString
    (0L until 100L).map(i => (i, i * 2.0)).toDF("id", "v")
      .write.format("cole").mode("overwrite").save(dir)
    val live = spark.read.format("cole").load(dir).count()
    // plant leftovers: an abandoned in-progress file, a tmp, a scratch dir
    val old = System.currentTimeMillis() - 48L * 3600 * 1000
    def plant(name: String, asDir: Boolean): java.io.File = {
      val f = new java.io.File(dir, name)
      if (asDir) { f.mkdirs(); new java.io.File(f, "x.col").createNewFile() }
      else f.createNewFile()
      f.setLastModified(old); f
    }
    val p1 = plant(".part-99999-1.col.inprogress", asDir = false)
    val p2 = plant(".junk.tmp", asDir = false)
    val p3 = plant(".delete-deadbeef", asDir = true)
    // a FRESH in-progress file (an epoch still in flight) must survive
    val fresh = new java.io.File(dir, ".part-00001-2.col.inprogress-7")
    fresh.createNewFile()
    val removed = ColeCompact.vacuum(dir, ColeIO.driverConf(),
      olderThanMs = 24L * 3600 * 1000)
    assert(removed === 3, s"expected 3 leftovers removed, got $removed")
    assert(!p1.exists && !p2.exists && !p3.exists)
    assert(fresh.exists, "vacuum must not touch a recent in-flight file")
    assert(spark.read.format("cole").load(dir).count() === live,
      "vacuum touched live data")
  }

  test("vacuum sweeps every swap's stale scratch, a crashed rebucket's included") {
    val s = spark
    import s.implicits._
    val dir = Files.createTempDirectory("cole_vacuum_scratch").toString
    (0L until 100L).map(i => (i, i * 2.0)).toDF("id", "v")
      .write.format("cole").mode("overwrite").save(dir)
    val old = System.currentTimeMillis() - 48L * 3600 * 1000
    val planted = Seq("delete", "update", "merge", "compact", "rebucket").map { op =>
      val f = new java.io.File(dir, ColeSwap.scratchName(op, "5eed"))
      f.mkdirs(); new java.io.File(f, "x.col").createNewFile()
      f.setLastModified(old); f
    }
    assert(ColeCompact.vacuum(dir, ColeIO.driverConf(), olderThanMs = 24L * 3600 * 1000) === 5)
    assert(planted.forall(!_.exists))
    assert(spark.read.format("cole").load(dir).count() === 100L)
  }

  test("compaction can re-layout: compression applied during the rewrite") {
    val dir = Files.createTempDirectory("cole_compact_zip").toString
    li.repartition(6).write.format("cole").mode("overwrite").save(dir)
    val stats = ColeCompact.compact(spark, dir, targetBytes = 1L << 30,
      compress = Some("deflate"))
    assert(stats.filesAfter === 1)
    assert(stats.bytesAfter < stats.bytesBefore,
      s"deflate rewrite should shrink: ${stats.bytesAfter} !< ${stats.bytesBefore}")
    // data still matches the source
    val got = spark.read.format("cole").load(dir).count()
    assert(got === li.count())
  }

  test("a swap manifest is never readable half-written") {
    val dir = new org.apache.hadoop.fs.Path(
      Files.createTempDirectory("cole_manifest_atomic").toString)
    val fs = dir.getFileSystem(ColeIO.driverConf())
    val lines = (0 until 50).map(i => s"old:part-$i.col") :+ "new:compact-x-0.col"
    // one swap after another writes its manifest and removes it; a
    // concurrent recover() reading meanwhile must see all of one or none
    val writer = new Thread(() => (0 until 100).foreach { _ =>
      ColeSwap.writeManifest(fs, dir, lines)
      fs.delete(ColeSwap.manifestPath(dir), false)
    })
    writer.start()
    val seen = scala.collection.mutable.Set.empty[Int]
    while (writer.isAlive) ColeSwap.manifestLines(fs, dir).foreach(ls => seen += ls.size)
    writer.join()
    assert(seen.subsetOf(Set(lines.size)), s"torn manifest reads: line counts $seen")
    assert(fs.listStatus(dir).map(_.getPath.getName).filter(_.endsWith(".tmp")).isEmpty)
  }

  test("a sidecar publishes through a non-local filesystem's rename") {
    // the branch of ColeIO.writeReplacing that HDFS and object stores
    // take, driven over local files by a wrapper reporting another scheme
    val dir = Files.createTempDirectory("cole_publish_fs").toString
    val conf = ColeIO.driverConf()
    val wrapped = new org.apache.hadoop.fs.FilterFileSystem(
        org.apache.hadoop.fs.FileSystem.getLocal(conf)) {
      override def getUri: java.net.URI = java.net.URI.create("colewrap:///")
    }
    wrapped.setConf(conf)
    val dst = new org.apache.hadoop.fs.Path(dir, "spec")
    Seq("first", "second").foreach(v =>
      ColeIO.writeReplacing(wrapped, dst, v.getBytes("UTF-8"), "spec"))
    assert(new String(Files.readAllBytes(java.nio.file.Paths.get(dir, "spec")), "UTF-8") ===
      "second")
    assert(new java.io.File(dir).list().filter(_.endsWith(".tmp")).isEmpty)
  }
}
