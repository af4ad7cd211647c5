package graft.perfbench

import org.scalatest.funsuite.AnyFunSuite

/** The benchmark's oracle and checker cases, one test each. The same
  * cases run at the start of every benchmark run. */
class SelfTestSpec extends AnyFunSuite {
  SelfTest.cases.foreach { case (name, check) =>
    test(name) {
      assert(check().isEmpty, check().getOrElse(""))
    }
  }
}
