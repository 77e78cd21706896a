package graft.tools

import org.scalatest.funsuite.AnyFunSuite

/** [[Sessions.envInt]], the one parser behind every integer env override
  * (`SPARK_GRAFT_CPUS`, `SPARK_GRAFT_SHUFFLE_PARTITIONS`,
  * `SPARK_GRAFT_CELL_SALT`), and [[Sessions.envBytes]] /
  * [[Sessions.envCodec]] behind the two string overrides
  * (`SPARK_GRAFT_ADVISORY_PARTITION_BYTES`, `SPARK_GRAFT_SHUFFLE_CODEC`):
  * a malformed value fails at the read with a message naming the variable
  * and the value, not later inside Spark. */
class SessionsEnvSpec extends AnyFunSuite {

  private def read(name: String, value: Option[String]): Int =
    Sessions.envInt(name, 16, n => if (n == name) value else None)

  for (name <- Seq("SPARK_GRAFT_CPUS", "SPARK_GRAFT_CELL_SALT");
       bad <- Seq("abc", "0", "-1")) {
    test(s"$name='$bad' fails naming the variable") {
      val e = intercept[IllegalArgumentException](read(name, Some(bad)))
      assert(e.getMessage.contains(name), e.getMessage)
      assert(e.getMessage.contains(s"'$bad'"), e.getMessage)
    }
  }

  test("unset falls back to the default; a positive value is read") {
    assert(read("SPARK_GRAFT_CPUS", None) == 16)
    assert(read("SPARK_GRAFT_CELL_SALT", Some("8")) == 8)
  }

  private val Bytes = "SPARK_GRAFT_ADVISORY_PARTITION_BYTES"
  private val Codec = "SPARK_GRAFT_SHUFFLE_CODEC"

  private def only(name: String, value: String): String => Option[String] =
    n => if (n == name) Some(value) else None

  private def failsNaming(name: String, v: String)(parse: => Any): Unit = {
    val e = intercept[IllegalArgumentException](parse)
    assert(e.getMessage.contains(name), e.getMessage)
    assert(e.getMessage.contains(s"'$v'"), e.getMessage)
  }

  for (v <- Seq("abc", "0", "-1", "12q", "1.5x", ""))
    test(s"$Bytes='$v' fails naming the variable") {
      failsNaming(Bytes, v)(Sessions.envBytes(Bytes, only(Bytes, v)))
    }

  for (v <- Seq("gzip", "lz5", "java.lang.String", "no.such.Codec"))
    test(s"$Codec='$v' fails naming the variable") {
      failsNaming(Codec, v)(Sessions.envCodec(Codec, only(Codec, v)))
    }

  test("byte sizes and codecs Spark accepts are forwarded as given") {
    for (v <- Seq("268435456", "256m", "1g"))
      assert(Sessions.envBytes(Bytes, only(Bytes, v)) == Some(v))
    for (v <- Seq("zstd", "LZ4", "org.apache.spark.io.ZStdCompressionCodec"))
      assert(Sessions.envCodec(Codec, only(Codec, v)) == Some(v))
    assert(Sessions.envBytes(Bytes, _ => None).isEmpty)
    assert(Sessions.envCodec(Codec, _ => None).isEmpty)
  }

  test("ShortCodecs is Spark's own short-name table") {
    val table = Class.forName("org.apache.spark.io.CompressionCodec$")
    val obj = table.getField("MODULE$").get(null)
    val names = table.getMethod("shortCompressionCodecNames").invoke(obj)
      .asInstanceOf[scala.collection.Map[String, String]]
    assert(names.keySet == Sessions.ShortCodecs.toSet)
  }
}
