package graft

import scala.sys.process.{Process, ProcessLogger}

import org.scalatest.funsuite.AnyFunSuite

/** `tools/dead_defs.py` finds no def that nothing calls and no stale
  * Scaladoc link under `src/main/scala`. */
class DeadDefsSpec extends AnyFunSuite {
  test("the dead-def scan prints nothing and exits 0") {
    val out = new StringBuilder
    val log = ProcessLogger(l => out ++= l + "\n", l => out ++= l + "\n")
    val root = new java.io.File(sys.props("user.dir"))
    val code =
      try Process(Seq("python3", "tools/dead_defs.py"), root).!(log)
      catch {
        case e: java.io.IOException => cancel(s"python3 is not available: ${e.getMessage}")
      }
    assert(out.isEmpty, out.toString)
    assert(code === 0)
  }
}
