package graft

import org.scalatest.funsuite.AnyFunSuite

/** The probe tools' shared `SPARK_GRAFT_CONF` parser. */
class ParseConfSpec extends AnyFunSuite {
  test("parses key=value entries, keeps '=' inside values, skips empty entries") {
    assert(tools.parseConf("a.b=1,c=x=y,,d=") ==
      Seq("a.b" -> "1", "c" -> "x=y", "d" -> ""))
    assert(tools.parseConf("").isEmpty)
  }

  test("a malformed entry fails with a message naming it") {
    for (bad <- Seq("a=1,oops,c=2", "=v")) {
      val e = intercept[IllegalArgumentException](tools.parseConf(bad))
      val entry = if (bad.contains("oops")) "oops" else "=v"
      assert(e.getMessage.contains(s"'$entry'"), e.getMessage)
    }
  }
}
