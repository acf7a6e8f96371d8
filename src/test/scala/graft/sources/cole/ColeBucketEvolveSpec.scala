package graft.sources.cole

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode
import org.scalatest.funsuite.AnyFunSuite

/** Bucket spec evolution (r13): `CALL cole.system.evolve_bucket` re-declares
  * the hash layout on a grown table with ZERO rewrites — old files stay
  * byte-identical under their era's `_bucket=` directories, appends route
  * by the new era's `_bucket<e>=` key, and every read prunes each era by
  * its own spec (a file is only judged by the key its directory carries).
  * Mixed-era tables withdraw the SPJ claim (eras are not co-bucketed);
  * `CALL cole.system.rebucket` rewrites the old eras into the active
  * layout and the claim returns. Pinned here: byte-identity, per-era
  * pruned file-open counts, SPJ withdraw/return, rebucket row fidelity +
  * versioning, and the loud rejections.
  */
class ColeBucketEvolveSpec extends AnyFunSuite {

  private lazy val warehouse =
    Files.createTempDirectory("cole_bevolve_wh").toString

  private lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.sources.v2.bucketing.enabled", "true")
      .config("spark.sql.sources.v2.bucketing.pushPartValues.enabled", "true")
      .getOrCreate()
    s.conf.set("spark.sql.catalog.bev", "graft.sources.cole.ColeCatalog")
    s.conf.set("spark.sql.catalog.bev.warehouse", warehouse)
    s
  }

  private def countShuffles(df: DataFrame): Int = {
    df.collect()
    def walk(p: org.apache.spark.sql.execution.SparkPlan): Int =
      (if (p.isInstanceOf[ShuffleExchangeLike]) 1 else 0) +
        p.children.map(walk).sum +
        p.subqueries.map(walk).sum +
        (p match {
          case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
            walk(a.executedPlan)
          case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
            walk(q.plan)
          case _ => 0
        })
    walk(df.queryExecution.executedPlan)
  }

  private def filesWithKey(t: String, key: String): Seq[ColeMetaCache.FileInfo] =
    ColeMetaCache.infos(t, ColeIO.driverConf())
      .filter(_.partValues.toMap.contains(key))

  test("evolve: old era byte-identical, appends route by the new era, both eras exact") {
    val s = spark
    import s.implicits._
    val t = s"$warehouse/db/ev"
    (0 until 20000).map(i => (i.toLong, i.toLong % 1000))
      .toDF("k", "v").write.format("cole").mode("overwrite")
      .option("bucketBy", "4:k").save(t)
    val conf = ColeIO.driverConf()
    val before = ColeMetaCache.infos(t, conf).map(i => (i.path, i.len, i.mtime))
    val hist = s.sql("CALL bev.system.evolve_bucket('db.ev', '8:k')")
      .head.getString(0)
    assert(hist === "4:k -> 8:k")
    (20000 until 40000).map(i => (i.toLong, i.toLong % 1000))
      .toDF("k", "v").write.format("cole").mode("append").save(t)
    // zero rewrites: era-0 files byte-identical (same (path, len, mtime))
    val after = ColeMetaCache.infos(t, conf)
      .filter(_.partValues.toMap.contains(ColeBucket.DirKey))
      .map(i => (i.path, i.len, i.mtime))
    assert(after.toSet === before.toSet, "evolve must not touch old-era files")
    // appends landed under the NEW era's key only
    val newEra = filesWithKey(t, ColeBucket.dirKeyOf(1))
    assert(newEra.nonEmpty, "append after evolve must route by _bucket1")
    assert(newEra.map(_.meta.totalRows).sum === 20000L)
    // values exact across the era boundary
    val full = s.read.format("cole").load(t)
    assert(full.count() === 40000L)
    assert(full.filter(col("k") === 123L).head.getLong(1) === 123L)
    assert(full.filter(col("k") === 31234L).head.getLong(1) === 234L)
    // per-era pruning: a point lookup opens only (era-0 bucket of k) +
    // (era-1 bucket of k) files — never the whole table
    val k = 777L
    val era0Dir = ColeBucket.bucketOf(k, 4).toString
    val era1Dir = ColeBucket.bucketOf(k, 8).toString
    val expectOpen =
      filesWithKey(t, ColeBucket.DirKey)
        .count(_.partValues.toMap.get(ColeBucket.DirKey).contains(era0Dir)) +
        newEra.count(_.partValues.toMap.get(ColeBucket.dirKeyOf(1))
          .contains(era1Dir))
    val allFiles = ColeMetaCache.infos(t, conf).size
    val openedBefore = ColeIO.opens.get()
    assert(full.filter(col("k") === k).count() === 1L)
    val opened = ColeIO.opens.get() - openedBefore
    assert(opened <= expectOpen,
      s"point lookup opened $opened files; per-era pruning allows $expectOpen")
    assert(expectOpen < allFiles, "fixture must actually exercise pruning")
  }

  private def withConf[T](pairs: (String, String)*)(body: => T): T = {
    val olds = pairs.map { case (k, _) => k -> spark.conf.getOption(k) }
    pairs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally olds.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("SPJ withdraws on a mixed-era table and returns after rebucket") {
    withConf("spark.sql.autoBroadcastJoinThreshold" -> "-1") {
    val s = spark
    import s.implicits._
    val ord = s"$warehouse/db/sord"
    val li = s"$warehouse/db/sli"
    (0 until 20000).map(i => (i.toLong, (i % 97).toDouble))
      .toDF("okey", "oval").write.format("cole").mode("overwrite")
      .option("bucketBy", "8:okey").save(ord)
    (0 until 60000).map(i => (i.toLong / 3, (i % 13).toDouble))
      .toDF("lkey", "lval").write.format("cole").mode("overwrite")
      .option("bucketBy", "8:lkey").save(li)
    def join(): DataFrame = {
      val o = s.table("bev.db.sord")
      val l = s.table("bev.db.sli")
      o.join(l, o("okey") === l("lkey"))
        .groupBy(o("okey")).agg(sum(l("lval")).as("s"))
    }
    def joined(): Map[Long, Double] =
      join().collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val truth = joined()
    assert(countShuffles(join().sortWithinPartitions("okey")) <= 1,
      "co-bucketed baseline must storage-partition-join") // agg re-key only
    // evolve BOTH sides to 16 buckets and append fresh keys
    s.sql("CALL bev.system.evolve_bucket('db.sord', '16:okey')").collect()
    s.sql("CALL bev.system.evolve_bucket('db.sli', '16:lkey')").collect()
    (20000 until 22000).map(i => (i.toLong, 1.0)).toDF("okey", "oval")
      .write.format("cole").mode("append").save(ord)
    (60000 until 66000).map(i => (20000L + (i - 60000) / 3, 2.0))
      .toDF("lkey", "lval").write.format("cole").mode("append").save(li)
    val truthMixed = joined()
    assert(truthMixed.size === 22000)
    // mixed eras: the SPJ claim is withdrawn — the join SHUFFLES (never
    // wrong results, just the safe fallback)
    assert(countShuffles(join()) >= 2,
      "mixed-era tables must not claim co-partitioning")
    // rebucket rewrites the old eras into the active layout
    val st = s.sql("CALL bev.system.rebucket('db.sord')").head
    assert(st.getLong(0) > 0L) // files_rewritten
    s.sql("CALL bev.system.rebucket('db.sli')").collect()
    // every file now carries the active era's key
    val conf = ColeIO.driverConf()
    assert(ColeMetaCache.infos(ord, conf)
      .forall(_.partValues.toMap.contains(ColeBucket.dirKeyOf(1))))
    // rows exact and SPJ is back: zero join Exchange (agg re-key only)
    assert(joined() === truthMixed)
    assert(countShuffles(join().sortWithinPartitions("okey")) <= 1,
      "rebucketed tables must storage-partition-join again")
    truth.foreach { case (k, v) => assert(truthMixed(k) === v) }
    }
  }

  test("rebucket on a versioned table: history replays, time travel crosses the rewrite") {
    val s = spark
    import s.implicits._
    val t = s"$warehouse/db/vre"
    (0 until 8000).map(i => (i.toLong, i.toLong)).toDF("k", "v")
      .write.format("cole").mode("overwrite").option("bucketBy", "4:k").save(t)
    val conf = ColeIO.driverConf()
    ColeVersions.enable(t, conf) // v1
    s.sql("CALL bev.system.evolve_bucket('db.vre', '8:k')").collect() // v2
    (8000 until 10000).map(i => (i.toLong, i.toLong)).toDF("k", "v")
      .write.format("cole").mode("append").save(t) // v3
    val preRebucket = ColeVersions.currentVersion(t, conf)
    val sumBefore = s.read.format("cole").load(t).agg(sum("v")).head.getLong(0)
    s.sql("CALL bev.system.rebucket('db.vre')").collect() // v4
    assert(s.read.format("cole").load(t).count() === 10000L)
    assert(s.read.format("cole").load(t).agg(sum("v")).head.getLong(0)
      === sumBefore)
    // the rewrite is one commit; time travel to the mixed-era version
    // still serves the retired era-0 bytes
    val tt = s.read.format("cole")
      .option("versionAsOf", preRebucket.toString).load(t)
    assert(tt.count() === 10000L)
    assert(tt.agg(sum("v")).head.getLong(0) === sumBefore)
    assert(tt.filter(col("k") === 100L).count() === 1L)
    // a second rebucket is a no-op
    assert(s.sql("CALL bev.system.rebucket('db.vre')").head.getLong(0) === 0L)
  }

  test("synthetic-key era: evolve with bucket_key, appends derive and lookups prune") {
    val s = spark
    import s.implicits._
    val t = s"$warehouse/db/syn"
    (0 until 10000).map(i => (i.toLong % 500, i.toLong / 500, i.toLong))
      .toDF("k1", "k2", "v").write.format("cole").mode("overwrite")
      .option("bucketBy", "4:k1,k2").option("bucketKey", "kb").save(t)
    s.sql("CALL bev.system.evolve_bucket('db.syn', '8:k1,k2', 'kb')").collect()
    (0 until 1000).map(i => (500L + i % 100, i.toLong / 100, -i.toLong))
      .toDF("k1", "k2", "v").write.format("cole").mode("append").save(t)
    val full = s.read.format("cole").load(t)
    assert(full.count() === 11000L)
    // composite point lookups on both eras stay exact and prune
    val openedBefore = ColeIO.opens.get()
    assert(full.filter(col("k1") === 123L && col("k2") === 7L).count() === 1L)
    assert(full.filter(col("k1") === 550L && col("k2") === 3L).count() > 0L)
    val opened = ColeIO.opens.get() - openedBefore
    val allFiles = ColeMetaCache.infos(t, ColeIO.driverConf()).size
    assert(opened < allFiles, "composite lookups must bucket-prune per era")
  }

  test("temporal + bucket evolution compose: per-era prunes, rebucket keeps the unit layout") {
    val s = spark
    import s.implicits._
    val t = s"$warehouse/db/tb"
    val day = 86400L * 1000000L // micros
    def rows(lo: Int, hi: Int) = (lo until hi).map { i =>
      (new java.sql.Timestamp((i % 8) * day / 1000L + 1000L), i.toLong, i.toLong % 100)
    }.toDF("ts", "k", "v")
    rows(0, 8000).write.format("cole").mode("overwrite")
      .option("partitionByTemporal", "days:ts")
      .option("bucketBy", "4:k").save(t)
    s.sql("CALL bev.system.evolve_bucket('db.tb', '8:k')").collect()
    rows(8000, 12000).write.format("cole").mode("append").save(t)
    val conf = ColeIO.driverConf()
    val full = s.read.format("cole").load(t)
    assert(full.count() === 12000L)
    // both prunes compose across the era boundary: a (day, key) point
    // read opens only the pinned day's pinned buckets — one per era
    val k = 4321L // day ordinal (4321 % 8) = 1
    val dayOrd = "1"
    val infos = ColeMetaCache.infos(t, conf)
    val expectOpen = infos.count { i =>
      val pv = i.partValues.toMap
      pv.get("_t_days_ts").contains(dayOrd) && (
        pv.get(ColeBucket.DirKey).contains(ColeBucket.bucketOf(k, 4).toString) ||
        pv.get(ColeBucket.dirKeyOf(1)).contains(ColeBucket.bucketOf(k, 8).toString))
    }
    val before = ColeIO.opens.get()
    assert(full.filter(col("k") === k &&
      col("ts") === new java.sql.Timestamp((k % 8) * day / 1000L + 1000L))
      .count() === 1L)
    val opened = ColeIO.opens.get() - before
    assert(opened <= expectOpen,
      s"composed point read opened $opened files, pruning allows $expectOpen")
    assert(expectOpen < infos.size)
    // rebucket rewrites old-era files INTO the composed layout: unit
    // directories preserved (the writer re-derives from the stored ts)
    val st = s.sql("CALL bev.system.rebucket('db.tb')").head
    assert(st.getLong(0) > 0L)
    val after = ColeMetaCache.infos(t, conf)
    assert(after.forall(_.partValues.toMap.contains(ColeBucket.dirKeyOf(1))))
    assert(after.forall(_.partValues.toMap.contains("_t_days_ts")),
      "rebucket must keep the temporal unit layout")
    assert(s.read.format("cole").load(t).count() === 12000L)
    assert(s.read.format("cole").load(t)
      .filter(col("k") === k).head.getLong(2) === k % 100)
  }

  test("concurrent evolves serialize under the claims seam: no era ever lost") {
    val s = spark
    import s.implicits._
    val t = s"$warehouse/db/crace"
    (0 until 1000).map(i => (i.toLong, i.toLong)).toDF("k", "v")
      .write.format("cole").mode("overwrite").option("bucketBy", "4:k").save(t)
    val conf = ColeIO.driverConf()
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    val start = new java.util.concurrent.CountDownLatch(1)
    val ns = Seq(8, 16, 32, 64)
    val futs = ns.map { n =>
      pool.submit(new java.util.concurrent.Callable[Option[Throwable]] {
        override def call(): Option[Throwable] = {
          start.await()
          try { ColeBucket.evolve(t, conf, n, Seq("k")); None }
          catch { case e: Throwable => Some(e) }
        }
      })
    }
    start.countDown()
    val errs = futs.flatMap(_.get(60, java.util.concurrent.TimeUnit.SECONDS))
    pool.shutdown()
    assert(errs.isEmpty, s"concurrent evolves failed: ${errs.map(_.getMessage)}")
    // the read-modify-write serialized: base era + ALL four appended, in
    // SOME order, each under its own era index — nothing silently lost
    val hist = ColeBucket.readHistory(t, conf)
    assert(hist.size === 5, s"expected 5 eras, got $hist")
    assert(hist.head.n === 4)
    assert(hist.tail.map(_.n).toSet === ns.toSet)
    assert(hist.map(_.idx) === (0 until 5))
  }

  test("rebucket unifies renamed/dropped columns across eras (leaf reads apply the table-root mapping)") {
    val s = spark
    import s.implicits._
    // catalog table so ALTER TABLE works; bucketed via DDL transform
    s.sql("CREATE TABLE bev.db.rn (k BIGINT, v BIGINT) USING cole " +
      "PARTITIONED BY (bucket(4, k))")
    s.sql("INSERT INTO bev.db.rn SELECT id, id * 3 FROM range(0, 1000)")
    s.sql("ALTER TABLE bev.db.rn RENAME COLUMN v TO w")
    val t = s"$warehouse/db/rn"
    val conf = ColeIO.driverConf()
    ColeBucket.evolve(t, conf, 8, Seq("k"))
    s.sql("INSERT INTO bev.db.rn SELECT id, id * 3 FROM range(1000, 1500)")
    val st = s.sql("CALL bev.system.rebucket('db.rn')").head
    assert(st.getLong(0) > 0L)
    // the rewrite must NOT null-split the renamed column: pre-rename
    // files store 'v', post-rename ones 'w' — the leaf reads unify
    // through the table-root rename map before the union
    val back = s.table("bev.db.rn")
    assert(back.count() === 1500L)
    assert(back.filter(col("w").isNull).count() === 0L,
      "rebucket null-split the renamed column")
    assert(back.filter(col("k") === 100L).select("w").head.getLong(0) === 300L)
    assert(back.filter(col("k") === 1200L).select("w").head.getLong(0) === 3600L)
    assert(back.agg(sum("w")).head.getLong(0) ===
      (0L until 1500L).map(_ * 3).sum)

    // renamed-THEN-DROPPED: the drop filter must see the column under
    // its current name (renames apply first), or pre-rename eras would
    // resurrect the dropped column's stored values into the rewrite
    s.sql("CREATE TABLE bev.db.rn2 (k BIGINT, v BIGINT, x BIGINT) " +
      "USING cole PARTITIONED BY (bucket(4, k))")
    s.sql("INSERT INTO bev.db.rn2 SELECT id, id * 3, id FROM range(0, 400)")
    s.sql("ALTER TABLE bev.db.rn2 RENAME COLUMN v TO w")
    val t2 = s"$warehouse/db/rn2"
    ColeBucket.evolve(t2, conf, 8, Seq("k"))
    s.sql("INSERT INTO bev.db.rn2 SELECT id, id * 3, id FROM range(400, 600)")
    s.sql("ALTER TABLE bev.db.rn2 DROP COLUMN w")
    assert(s.sql("CALL bev.system.rebucket('db.rn2')").head.getLong(0) > 0L)
    val back2 = s.table("bev.db.rn2")
    assert(back2.columns.toSeq === Seq("k", "x"))
    assert(back2.count() === 600L)
    assert(back2.agg(sum("x")).head.getLong(0) === (0L until 600L).sum)
    // the REBUCKETED outputs must not physically carry the dropped
    // column under EITHER of its names (files already in the active era
    // keep their bytes — DROP is metadata-only until a rewrite)
    val outs = ColeMetaCache.infos(t2, conf)
      .filter(_.path.contains("/rebucket-"))
    assert(outs.nonEmpty)
    outs.foreach { i =>
      val names = i.meta.columns.map(_.name).toSet
      assert(!names.contains("v") && !names.contains("w"),
        s"${i.path} resurrected the dropped column: $names")
    }
  }

  test("a streamed append into an evolved table keeps both eras and routes by the active one") {
    val s = spark
    import s.implicits._
    val t = s"$warehouse/db/evstream"
    (0 until 2000).map(i => (i.toLong, i.toLong % 100)).toDF("id", "v")
      .write.format("cole").mode("overwrite").option("bucketBy", "4:id").save(t)
    val conf = ColeIO.driverConf()
    ColeBucket.evolve(t, conf, 8, Seq("id"))
    val cp = Files.createTempDirectory("cole_bevolve_cp").toString
    val source = MemoryStream[(Long, Long)](spark)
    val q = source.toDF().toDF("id", "v").writeStream.format("cole")
      .option("path", t).option("checkpointLocation", cp)
      .outputMode(OutputMode.Append).start()
    source.addData((2000 until 2600).map(i => (i.toLong, i.toLong % 100)))
    q.processAllAvailable()
    q.stop()
    // the sidecar keeps the era history the old files prune by
    assert(ColeBucket.readHistory(t, conf).map(e => (e.n, e.cols)) ===
      Seq((4, Seq("id")), (8, Seq("id"))))
    // streamed files sit under the active era's key only
    val streamed = ColeMetaCache.infos(t, conf)
      .filter(_.path.split('/').last.startsWith("part-e"))
    assert(streamed.nonEmpty && streamed.forall(i =>
      i.partValues.toMap.contains(ColeBucket.dirKeyOf(1)) &&
        !i.partValues.toMap.contains(ColeBucket.DirKey)),
      streamed.map(_.path).mkString(", "))
    // every key, old or streamed, is found exactly once through pruning
    val back = spark.read.format("cole").load(t)
    val keys = (0 until 2000 by 20) ++ (2000 until 2600 by 6)
    assert(keys.size === 200)
    val wrong = keys.filter(k => back.filter(col("id") === k.toLong).count() != 1L)
    assert(wrong.isEmpty, s"${wrong.size} of 200 point lookups miscounted: $wrong")
    assert(back.count() === 2600L)
  }

  test("loud rejections: unbucketed table, identical re-declaration") {
    val s = spark
    import s.implicits._
    val flat = s"$warehouse/db/flat"
    (0 until 100).map(i => (i.toLong, i.toLong)).toDF("k", "v")
      .write.format("cole").mode("overwrite").save(flat)
    val e1 = intercept[Exception] {
      ColeBucket.evolve(flat, ColeIO.driverConf(), 8, Seq("k"))
    }
    assert(e1.getMessage.contains("no bucket layout"))
    val t = s"$warehouse/db/rej"
    (0 until 100).map(i => (i.toLong, i.toLong)).toDF("k", "v")
      .write.format("cole").mode("overwrite").option("bucketBy", "4:k").save(t)
    val e2 = intercept[Exception] {
      ColeBucket.evolve(t, ColeIO.driverConf(), 4, Seq("k"))
    }
    assert(e2.getMessage.contains("already routes"))
  }
}
