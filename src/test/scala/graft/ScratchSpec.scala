package graft

import java.nio.file.{Files, Paths}

import org.scalatest.funsuite.AnyFunSuite

import graft.io.Scratch

/** [[Scratch.staged]]: one build per key, and a failed build leaves
  * neither a dir nor a memo behind. */
class ScratchSpec extends AnyFunSuite {

  test("staged: a throwing build leaves no dir, and the next call builds again") {
    var failedDir: String = null
    val e = intercept[IllegalStateException] {
      Scratch.staged("fail-once", "graft-staged-test") { d =>
        failedDir = d
        Files.writeString(Paths.get(d, "half-written"), "x")
        throw new IllegalStateException("build failed")
      }
    }
    assert(e.getMessage == "build failed")
    assert(!Files.exists(Paths.get(failedDir)), "failed build left its dir behind")
    var builds = 0
    val dir = Scratch.staged("fail-once", "graft-staged-test") { d =>
      builds += 1
      Files.writeString(Paths.get(d, "done"), "x")
    }
    assert(builds == 1)
    assert(dir != failedDir && Files.exists(Paths.get(dir, "done")))
  }

  test("staged: a second call after a success returns the same dir without building") {
    var builds = 0
    def call(): String = Scratch.staged(("sf", 0.7), "graft-staged-test") { _ => builds += 1 }
    val first = call()
    val second = call()
    assert(first == second && builds == 1)
    // the key is scoped by prefix: another prefix stages its own dir
    val other = Scratch.staged(("sf", 0.7), "graft-staged-other") { _ => builds += 1 }
    assert(other != first && builds == 2)
  }
}
