package graft

import org.scalatest.funsuite.AnyFunSuite

/** The positive-integer parser behind the SPARK_GRAFT_* numeric
  * overrides (blind-join candidate limit, stream state partitions). */
class SessionsSpec extends AnyFunSuite {

  test("positiveLong accepts positive integers") {
    assert(Sessions.positiveLong("SPARK_GRAFT_BLIND_LIMIT", "16000000") == 16000000L)
    assert(Sessions.positiveLong("SPARK_GRAFT_BLIND_LIMIT", "1") == 1L)
  }

  test("positiveLong rejects malformed, zero and negative values, naming the setting") {
    for (raw <- Seq("", "abc", "1.5", "16e6", " 7", "9223372036854775808", "0", "-1", "-16000000")) {
      val ex = intercept[IllegalArgumentException] {
        Sessions.positiveLong("SPARK_GRAFT_BLIND_LIMIT", raw)
      }
      assert(ex.getMessage.contains("SPARK_GRAFT_BLIND_LIMIT must be a positive integer"),
        s"for '$raw': ${ex.getMessage}")
      assert(ex.getMessage.contains(s"'$raw'"))
    }
  }
}
