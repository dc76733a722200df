package graft

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, ObjectInputStream, ObjectOutputStream}
import java.nio.file.Files
import org.apache.hadoop.conf.Configuration
import org.apache.spark.util.SerializableConfiguration
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** graft sessions' Hadoop conf records no per-property source
  * ([[HadoopConfSources]], installed by [[GraftExtensions]]), so the conf
  * Spark serializes into every job stays small. */
class HadoopConfSourcesSpec extends AnyFunSuite {
  private def spark = TestSpark.spark

  /** Keys of `conf` whose recorded sources name a resource file
    * (`core-default.xml`, `hdfs-default.xml`, ...). */
  private def fromResources(conf: Configuration): Seq[String] =
    conf.iterator().asScala.map(_.getKey).filter { k =>
      Option(conf.getPropertySources(k)).exists(_.exists(_.endsWith(".xml")))
    }.toSeq

  private def entries(conf: Configuration): Map[String, String] =
    conf.iterator().asScala.map(e => e.getKey -> e.getValue).toMap

  private def serialize(conf: Configuration): Array[Byte] = {
    val bytes = new ByteArrayOutputStream()
    val out = new ObjectOutputStream(bytes)
    out.writeObject(new SerializableConfiguration(conf))
    out.close()
    bytes.toByteArray
  }

  // one parquet write and read first: the HDFS client classes register
  // their default resources, which reloads every registered conf
  private lazy val written: Unit = {
    val dir = Files.createTempDirectory("graft-conf-sources").resolve("t").toString
    spark.range(20).write.parquet(dir)
    assert(spark.read.parquet(dir).count() == 20)
  }

  test("a session conf records no resource as the source of any key") {
    written
    val conf = spark.sessionState.newHadoopConf()
    assert(conf.size() > 1000, "the defaults are still loaded")
    assert(fromResources(conf).isEmpty)
    assert(fromResources(spark.sparkContext.hadoopConfiguration).isEmpty)
  }

  test("a reload of the context's conf records no source either") {
    written
    val shared = spark.sparkContext.hadoopConfiguration
    shared.reloadConfiguration()
    assert(shared.get("fs.file.impl") == classOf[graft.core.LocalFileSystem].getName)
    assert(fromResources(shared).isEmpty)
    assert(fromResources(spark.sessionState.newHadoopConf()).isEmpty)
  }

  test("a serialized session conf round-trips every key and value, in under 90,000 bytes") {
    written
    val conf = spark.sessionState.newHadoopConf()
    val bytes = serialize(conf)
    val back = new ObjectInputStream(new ByteArrayInputStream(bytes))
      .readObject().asInstanceOf[SerializableConfiguration].value
    assert(entries(back) == entries(conf))
    // 114,007 bytes with every key's sources
    assert(bytes.length < 90000, s"${bytes.length} bytes")
  }
}
