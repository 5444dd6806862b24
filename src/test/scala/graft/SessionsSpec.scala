package graft

import org.scalatest.funsuite.AnyFunSuite

/** The local core default: `SPARK_GRAFT_CPUS` when set, else the
  * machine's core count. */
class SessionsSpec extends AnyFunSuite {

  test("default cores: the machine's core count when SPARK_GRAFT_CPUS is unset") {
    assert(Sessions.defaultCores(Map.empty) ==
      Runtime.getRuntime.availableProcessors())
  }

  test("default cores: SPARK_GRAFT_CPUS wins; a malformed value throws") {
    assert(Sessions.defaultCores(Map("SPARK_GRAFT_CPUS" -> "6")) == 6)
    intercept[NumberFormatException](
      Sessions.defaultCores(Map("SPARK_GRAFT_CPUS" -> "many")))
  }
}
