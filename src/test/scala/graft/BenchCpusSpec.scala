package graft

import org.scalatest.funsuite.AnyFunSuite

/** `SPARK_GRAFT_CPUS` is parsed once into the `local[N]` width that the
  * bench's load gate and its `cores` field also report. */
class BenchCpusSpec extends AnyFunSuite {

  test("SPARK_GRAFT_CPUS: unset defaults to 4, positive integers parse") {
    assert(Bench.parseCpus(None) == 4)
    assert(Bench.parseCpus(Some("8")) == 8)
    assert(Bench.parseCpus(Some(" 32 ")) == 32)
  }

  test("SPARK_GRAFT_CPUS: anything else fails naming the variable") {
    for (bad <- Seq("", "0", "-2", "4.5", "eight", "*", "99999999999")) {
      val e = intercept[IllegalArgumentException](Bench.parseCpus(Some(bad)))
      assert(e.getMessage.contains("SPARK_GRAFT_CPUS"), s"'$bad': ${e.getMessage}")
    }
  }
}
