package graft.sources.cole

import java.nio.file.Files

import org.apache.hadoop.conf.Configuration
import org.apache.spark.sql.connector.distributions.{ClusteredDistribution,
  OrderedDistribution, UnspecifiedDistribution}
import org.apache.spark.sql.connector.expressions.{Expression, SortOrder}
import org.apache.spark.sql.connector.write.{RequiresDistributionAndOrdering, Write}
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** What [[ColeWriteBuilder.build]] asks Spark for before a write, per
  * layout: the required distribution and the in-task ordering. A plain
  * write asks for nothing; sortBy and identity partitions ask for a
  * per-task sort; temporal layouts add a range distribution; bucketed
  * layouts cluster by the bucket keys (the source tuple of a synthetic
  * key) and sort by the timestamp first when composed with a temporal
  * layout.
  */
class ColeWriteRequirementsSpec extends AnyFunSuite {

  private val schema = StructType(Seq(
    StructField("id", LongType), StructField("grp", StringType),
    StructField("v", LongType), StructField("ts", TimestampType),
    StructField("a", IntegerType), StructField("b", StringType)))

  // a fresh directory: no sidecars, so build() sees a first write
  private def requirements(partCols: Seq[String] = Seq.empty,
      bucketSpec: Option[(Int, Seq[String])] = None,
      bucketDerive: Option[(String, Seq[String])] = None,
      temporal: Option[ColeTemporal.Spec] = None,
      sortBy: Seq[String] = Seq.empty): (String, Seq[String]) = {
    val dir = Files.createTempDirectory("cole_write_req").toString
    val w: Write = new ColeWriteBuilder(schema, dir, 64, new Configuration(),
      partCols, bucketSpec, bucketDerive, temporal, sortBy).build()
    def ref(e: Expression): String =
      e.references().map(_.fieldNames().mkString(".")).mkString(",")
    def sort(o: SortOrder): String = s"${ref(o.expression())} ${o.direction()}"
    w match {
      case r: RequiresDistributionAndOrdering =>
        val d = r.requiredDistribution() match {
          case _: UnspecifiedDistribution => "unspecified"
          case c: ClusteredDistribution =>
            c.clustering().map(ref).mkString("clustered(", ", ", ")")
          case o: OrderedDistribution =>
            o.ordering().map(sort).mkString("ordered(", ", ", ")")
          case other => other.toString
        }
        (d, r.requiredOrdering().map(sort).toSeq)
      case _ => ("unspecified", Seq.empty)
    }
  }

  private val days = Some(ColeTemporal.Spec("days", "ts"))

  test("plain: no distribution, no ordering") {
    assert(requirements() === ("unspecified", Seq.empty))
  }

  test("sortBy: per-task sort on the keys") {
    assert(requirements(sortBy = Seq("v", "id")) ===
      ("unspecified", Seq("v ASC", "id ASC")))
  }

  test("partitioned + sortBy: partition keys first, then the sort keys") {
    assert(requirements(partCols = Seq("grp"), sortBy = Seq("v")) ===
      ("unspecified", Seq("grp ASC", "v ASC")))
  }

  test("partitioned without sortBy keeps Spark's own clustering") {
    assert(requirements(partCols = Seq("grp")) === ("unspecified", Seq.empty))
  }

  test("temporal: range distribution and sort on the timestamp") {
    assert(requirements(temporal = days) ===
      ("ordered(ts ASC)", Seq("ts ASC")))
    assert(requirements(partCols = Seq("grp"), temporal = days) ===
      ("ordered(grp ASC, ts ASC)", Seq("grp ASC", "ts ASC")))
  }

  test("bucketed: clustered by the bucket keys, sorted on them") {
    assert(requirements(bucketSpec = Some((4, Seq("id")))) ===
      ("clustered(id)", Seq("id ASC")))
  }

  test("bucketed + temporal: timestamp first, then the bucket keys") {
    assert(requirements(bucketSpec = Some((4, Seq("id"))), temporal = days) ===
      ("clustered(id)", Seq("ts ASC", "id ASC")))
  }

  test("synthetic bucketKey: clustered and sorted by the source key tuple") {
    assert(requirements(bucketSpec = Some((4, Seq("bk"))),
        bucketDerive = Some(("bk", Seq("a", "b")))) ===
      ("clustered(a, b)", Seq("a ASC", "b ASC")))
  }
}
