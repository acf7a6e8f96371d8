package graft.sources.cole

import java.nio.file.Files

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.FileSystem
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Decode-once scans: a claimed filter's selection and the loader that
  * follows it share one decode of the predicate column, so a filtered scan
  * reads no more bytes than the unfiltered one. Bytes are Hadoop's own
  * `FileSystem` statistics for the `file` scheme (executors share this JVM
  * in local mode), taken on a second run so footers come from the cache.
  */
class ColeDecodeOnceSpec extends AnyFunSuite {

  private lazy val spark: SparkSession = SparkSession.builder()
    .master("local[2]")
    .config("spark.sql.shuffle.partitions", "2")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.session.timeZone", "UTC")
    .getOrCreate()

  private lazy val dir: String = {
    val d = Files.createTempDirectory("cole_decode_once").resolve("t").toString
    graft.Cli.write(spark, d, 300000L, seed = 5L)
    d
  }

  private def cole: DataFrame = spark.read.format("cole").load(dir)

  private def fileBytesRead(): Long =
    FileSystem.getAllStatistics.asScala.filter(_.getScheme == "file").map(_.getBytesRead).sum

  /** Bytes read by the second of two runs of `f`. */
  private def bytesRead(f: => Unit): Long = {
    f
    val b0 = fileBytesRead()
    f
    fileBytesRead() - b0
  }

  private def scanAll(df: DataFrame): Unit = df.queryExecution.toRdd.foreach(_ => ())

  private def scanOf(df: DataFrame): org.apache.spark.sql.connector.read.Scan =
    df.queryExecution.optimizedPlan.collect {
      case r: org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation => r.scan
    }.head

  test("a filtered full-projection scan reads no more bytes than the full scan") {
    val full = bytesRead(scanAll(cole))
    val filtered = bytesRead(scanAll(cole.filter(col("value") > 5000)))
    info(s"bytes read: full scan $full, filtered scan $filtered")
    assert(full > 0)
    assert(filtered <= full, s"filtered scan read $filtered bytes, full scan $full")
  }

  test("a filtered SUM reads its column once: no more bytes than the unfiltered SUM") {
    // a fresh plan per run: a planned aggregate keeps its answer
    def filteredSum = cole.filter(col("value") > 5000).agg(sum("value"))
    assert(scanOf(filteredSum).isInstanceOf[ColeAggScan], "filtered SUM should push")
    val unfiltered = bytesRead(cole.agg(sum("value")).collect())
    val filtered = bytesRead(filteredSum.collect())
    info(s"bytes read: unfiltered SUM $unfiltered, filtered SUM $filtered")
    assert(unfiltered > 0)
    assert(filtered <= unfiltered, s"filtered SUM read $filtered bytes, unfiltered $unfiltered")
    // and the answer is the decoded one
    val want = cole.collect().map(_.getAs[Long]("value")).filter(_ > 5000).sum
    assert(filteredSum.collect().head.getLong(0) === want)
  }
}
