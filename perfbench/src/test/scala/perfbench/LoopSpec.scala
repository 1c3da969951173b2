package perfbench

import org.apache.logging.log4j.LogManager
import org.scalatest.funsuite.AnyFunSuite

import graft.tools.CodegenGuard

class LoopSpec extends AnyFunSuite {

  /** Fails its output check on iteration 1, throws on 3 and logs a
    * codegen compile error on 4. */
  private object Flaky extends Workload {
    val name = "flaky"
    val records = 1L
    var ran = 0
    def iterate(i: Int, t: Tracer): Unit = {
      ran += 1
      i match {
        case 1 => Workload.check(ok = false, "output differs")
        case 3 => throw new IllegalStateException("boom")
        case 4 => LogManager.getLogger(
          "org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator").error("failed to compile: test")
        case _ =>
      }
    }
  }

  test("every iteration is attempted and each kind of failure counts once") {
    CodegenGuard.install()
    val its = Main.loop(Flaky, new Tracer(false), seconds = 0, minIter = 6, first = 0)
    assert(its.map(_.i) == (0 until 6))
    assert(Flaky.ran == 6, "a failed iteration does not stop the closed loop")
    val failed = its.filter(_.error.nonEmpty).map(_.i)
    assert(failed == Seq(1, 3, 4))
    assert(its(1).error.get.contains("CheckFailed: output differs"))
    assert(its(3).error.get.contains("boom"))
    assert(its(4).error.get.contains("codegen fallback"))
    assert(its.forall(i => i.wallS >= 0 && i.cpuS >= 0))
  }

  test("the loop runs at least minIter iterations and then until time is up") {
    object Quick extends Workload {
      val name = "quick"
      val records = 1L
      def iterate(i: Int, t: Tracer): Unit = Thread.sleep(20)
    }
    assert(Main.loop(Quick, new Tracer(false), seconds = 0, minIter = 3, first = 10).map(_.i) == Seq(10, 11, 12))
    assert(Main.loop(Quick, new Tracer(false), seconds = 0.3, minIter = 1, first = 0).size >= 10)
  }
}
