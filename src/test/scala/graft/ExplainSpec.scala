package graft

import scala.sys.process._
import org.scalatest.funsuite.AnyFunSuite

/** Explain's loud argument checks, each in a fresh JVM: both exit before
  * any Spark work starts. */
class ExplainSpec extends AnyFunSuite {

  /** Runs graft.Explain with `args`; returns (exit status, stdout, stderr). */
  private def explain(args: String*): (Int, String, String) = {
    val (out, err) = (new StringBuilder, new StringBuilder)
    val code = Process(Seq(s"${System.getProperty("java.home")}/bin/java",
      "-Xmx512m", "-cp", System.getProperty("java.class.path"),
      "graft.Explain") ++ args)
      .!(ProcessLogger(l => out.append(l).append('\n'),
        l => err.append(l).append('\n')))
    (code, out.toString, err.toString)
  }

  test("Explain exits 2 naming an unknown query name") {
    val (code, out, err) = explain("unused", "dedup_savings", "no_such_query")
    assert(code === 2, err)
    assert(err.contains("no_such_query"))
    assert(!err.contains("dedup_savings"))
    assert(out.isEmpty)
    assert(explain()._1 === 2) // the sf directory is required
  }
}
