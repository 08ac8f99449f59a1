package graft.core

import org.scalatest.funsuite.AnyFunSuite

/** The session width the CLIs (`Pixetl`, `Addo`, `PixetlPrep`) get when
  * they pass none. Checked without building a session: the suites share
  * one JVM, and a session built here would be the one they all reuse. */
class GraftSessionSpec extends AnyFunSuite {
  test("a session without an explicit width gets one core per host processor") {
    val host = Runtime.getRuntime.availableProcessors.toString
    assert(GraftSession.hostCores == host)
    // the compiler's getters for the `cores` default of local/builder
    assert(GraftSession.local$default$2 == host)
    assert(GraftSession.builder$default$2 == host)
  }
}
