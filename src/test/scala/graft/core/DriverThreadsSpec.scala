package graft.core

import java.util.concurrent.atomic.AtomicInteger

import org.scalatest.funsuite.AnyFunSuite

class DriverThreadsSpec extends AnyFunSuite {

  test("concurrently joins every task and surfaces every failure: the " +
    "earliest task's error is thrown with the others suppressed") {
    val ran = new AtomicInteger()
    val e = intercept[IllegalStateException] {
      DriverThreads.concurrently(
        () => { ran.incrementAndGet(); throw new IllegalStateException("first") },
        () => { Thread.sleep(50); ran.incrementAndGet(); () },
        () => { ran.incrementAndGet(); throw new IllegalArgumentException("third") })
    }
    assert(ran.get == 3, "siblings of a failed task still run to completion")
    assert(e.getMessage == "first")
    assert(e.getSuppressed.map(_.getMessage).toSeq == Seq("third"))
  }
}
