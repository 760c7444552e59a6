package graft

import org.scalatest.funsuite.AnyFunSuite

/** `tools/census.py` as a tier-1 gate: a new caller-less public def of
  * src/main, or an `ALLOW` entry whose def has gained a caller, fails the
  * suite instead of waiting for someone to run the census by hand.
  */
class CensusSpec extends AnyFunSuite {

  test("tools/census.py exits 0: every caller-less def is named in ALLOW") {
    val out = new StringBuilder
    val log = scala.sys.process.ProcessLogger(l => out.append(l).append('\n'))
    val code = scala.sys.process.Process(Seq("python3", "tools/census.py")).!(log)
    assert(code == 0, s"tools/census.py exited $code:\n$out")
  }
}
