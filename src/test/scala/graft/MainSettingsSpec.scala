package graft

import org.scalatest.funsuite.AnyFunSuite

/** A main's integer setting that is not an integer fails with the
  * setting and its value named, before any session starts. */
class MainSettingsSpec extends AnyFunSuite {

  test("a non-integer runs setting names the setting and the value") {
    assert(GraftSession.intSetting("SPARK_GRAFT_RUNS", "3") == 3)
    val env = intercept[IllegalArgumentException](GraftSession.intSetting("SPARK_GRAFT_RUNS", "two"))
    assert(env.getMessage == "SPARK_GRAFT_RUNS must be an integer, got 'two'")
    val arg = intercept[IllegalArgumentException](JobTrace.main(Array("avro_to_json", "3x")))
    assert(arg.getMessage == "JobTrace runs must be an integer, got '3x'")
  }
}
