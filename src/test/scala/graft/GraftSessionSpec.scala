package graft

import graft.core.GraftSession
import org.scalatest.funsuite.AnyFunSuite

/** `SPARK_GRAFT_CPUS`: unset falls back to the host's cores; a set value
  * must be a positive integer and a bad one fails naming the variable.
  */
class GraftSessionSpec extends AnyFunSuite {

  test("SPARK_GRAFT_CPUS: unset means the JVM's cores, bad values fail by name") {
    assert(GraftSession.parseCpus(None) == Runtime.getRuntime.availableProcessors)
    assert(GraftSession.parseCpus(Some("4")) == 4)
    for (bad <- Seq("0", "-2", "four", "2.5", "")) {
      val e = intercept[IllegalArgumentException](
        GraftSession.parseCpus(Some(bad)))
      assert(e.getMessage.contains("SPARK_GRAFT_CPUS"), e.getMessage)
    }
  }
}
