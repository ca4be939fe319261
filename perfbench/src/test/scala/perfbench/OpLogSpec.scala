package perfbench

import org.scalatest.funsuite.AnyFunSuite

class OpLogSpec extends AnyFunSuite {
  test("a throwing op counts as failed and leaves no timing") {
    val log = new OpLog
    val r = log.op("q")(throw new IllegalStateException("boom"))(_ => ())
    assert(r.isEmpty)
    assert(log.attempted == 1 && log.failed == 1)
    assert(log.latencies("q").isEmpty)
  }

  test("a wrong result counts as failed, a right one is timed") {
    val log = new OpLog
    log.op("q")(41)(x => Verify.that(x == 42, "off by one"))
    log.op("q")(42)(x => Verify.that(x == 42, "off by one"))
    assert(log.attempted == 2 && log.failed == 1)
    assert(log.latencies("q").length == 1)
    assert(log.failureMessages.head.contains("off by one"))
  }

  test("verification time is not part of the op's timing") {
    val log = new OpLog
    log.op("q")(())(_ => Thread.sleep(200))
    assert(log.latencies("q").head < 100)
  }
}
