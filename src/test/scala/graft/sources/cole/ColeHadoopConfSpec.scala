package graft.sources.cole

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, DataOutputStream,
  ObjectInputStream, ObjectOutputStream}

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** [[ColeHadoopConf]]'s wire form: the key/value pairs of the session's
  * Hadoop conf, plus a programmatically set key, a value past the 64 KiB
  * `writeUTF` limit and a non-ASCII value, must read back as exactly the
  * same map — and ship in fewer bytes than `Configuration.write`'s form.
  */
class ColeHadoopConfSpec extends AnyFunSuite {

  private lazy val spark: SparkSession = SparkSession.builder()
    .master("local[2]")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private def entries(c: Configuration): Map[String, String] =
    c.iterator().asScala.map(e => e.getKey -> e.getValue).toMap

  test("the session's conf round-trips as the same key/value set, in fewer bytes") {
    val conf = spark.sessionState.newHadoopConf()
    conf.set(ColeFileWriter.CompressKey, "true")
    val long = "v" * (70 * 1024)
    conf.set("graft.test.long", long)
    conf.set("graft.test.unicode", "Zürich · 東京 · 🚀")

    val bytes = new ByteArrayOutputStream()
    val out = new ObjectOutputStream(bytes)
    out.writeObject(new ColeHadoopConf(conf))
    out.close()
    val back = new ObjectInputStream(new ByteArrayInputStream(bytes.toByteArray))
      .readObject().asInstanceOf[ColeHadoopConf].value

    val expected = entries(conf)
    assert(expected.size > 100, s"the session conf carries ${expected.size} keys")
    assert(entries(back) === expected)
    assert(back.get(ColeFileWriter.CompressKey) === "true")
    assert(back.get("graft.test.long") === long)
    assert(back.get("graft.test.unicode") === "Zürich · 東京 · 🚀")

    val writable = new ByteArrayOutputStream()
    val dout = new DataOutputStream(writable)
    conf.write(dout)
    dout.close()
    assert(bytes.size < writable.size,
      s"serialized ${bytes.size} bytes, Configuration.write ${writable.size}")
  }
}
