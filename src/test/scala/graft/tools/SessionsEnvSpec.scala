package graft.tools

import org.scalatest.funsuite.AnyFunSuite

/** [[Sessions.envInt]], the one parser behind every integer env override
  * (`SPARK_GRAFT_CPUS`, `SPARK_GRAFT_SHUFFLE_PARTITIONS`,
  * `SPARK_GRAFT_CELL_SALT`): a malformed or non-positive value fails at
  * the read with a message naming the variable, not later inside Spark. */
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
}
