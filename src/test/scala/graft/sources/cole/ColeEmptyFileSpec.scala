package graft.sources.cole

import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Write tasks that receive no rows leave no file behind: every write
  * task opens its file eagerly, and the commit drops the 0-row ones by
  * the row count the task reports — except that a write empty in every
  * task keeps exactly one file, so a path table's schema still resolves.
  */
class ColeEmptyFileSpec extends AnyFunSuite {

  private lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.session.timeZone", "UTC")
    .getOrCreate()

  private lazy val dir = Files.createTempDirectory("cole_empty").toString

  private def rowCounts(t: String): Seq[Long] =
    ColeIO.listPartitioned(t, ColeIO.driverConf()).map { case (st, _) =>
      val r = new ColeFileReader(st.getPath.toString, ColeIO.driverConf())
      try r.meta.totalRows finally r.close()
    }

  test("a sparse write leaves no 0-row file; appends keep the table free of them") {
    val s = spark
    import s.implicits._
    val t = s"$dir/sparse"
    // eight tasks, two rows: six tasks receive nothing
    Seq((1L, "a"), (2L, "b")).toDF("id", "tag").repartition(8)
      .write.format("cole").mode("overwrite").save(t)
    assert(rowCounts(t).forall(_ > 0L), rowCounts(t).toString)
    assert(rowCounts(t).sum === 2L)
    Seq((3L, "c")).toDF("id", "tag").repartition(4)
      .write.format("cole").mode("append").save(t)
    assert(rowCounts(t).forall(_ > 0L), rowCounts(t).toString)
    assert(spark.read.format("cole").load(t).orderBy("id")
      .collect().map(_.getLong(0)).toSeq === Seq(1L, 2L, 3L))
  }

  test("an all-empty write keeps one file and still reads back its schema") {
    val t = s"$dir/none"
    // three tasks, every row filtered out inside them
    spark.range(0L, 30L, 1L, 3).filter(col("id") < 0L)
      .select(col("id"), lit("x").as("tag"))
      .write.format("cole").mode("overwrite").save(t)
    assert(rowCounts(t) === Seq(0L))
    val back = spark.read.format("cole").load(t)
    assert(back.columns.toSeq === Seq("id", "tag"))
    assert(back.count() === 0L)
  }
}
