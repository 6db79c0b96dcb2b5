package graft

import org.scalatest.funsuite.AnyFunSuite

/** The skew-proof window families cut, size and dispatch their blocks in
  * one place: [[graft.operators.Blocks]]. A `div ${…}` block cut or a
  * call of the dispatch probe anywhere else would bring back a family
  * with its own cut, default size or dispatch rule. */
class BlockRuleGuardSpec extends AnyFunSuite {

  test("block cuts and dispatch calls appear in src/main only inside Blocks.scala") {
    val offenders = SourceLines.mainSources()
      .filter(_.getFileName.toString != "Blocks.scala")
      .flatMap(p => SourceLines.codeLinesWith(p,
          "div ${", "dispatch(", "KeyDensityStats(")
        .map { case (n, line) => s"${SourceLines.mainRoot.relativize(p)}:$n: $line" })
    assert(offenders.isEmpty,
      s"cut and dispatch through Blocks.time/rows/adaptive: ${offenders.mkString("; ")}")
  }
}
