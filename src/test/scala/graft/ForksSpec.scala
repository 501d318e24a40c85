package graft

import org.scalatest.funsuite.AnyFunSuite

/** What the fork counter counts and what it leaves out. */
class ForksSpec extends AnyFunSuite with LocalSpark {

  test("a process the body starts is counted") {
    val (code, forks) = Forks.counted(new ProcessBuilder("true").start().waitFor())
    assert(code == 0)
    assert(forks == 1)
  }

  test("a session's artifact cleanup is left out, though it forks rm -rf") {
    // closing the artifact manager runs the cleanup GC would run, on this thread
    val artifacts = spark.newSession().sessionState.artifactManager
    val (_, forks) = Forks.counted(artifacts.close())
    assert(forks == 0)
  }
}
