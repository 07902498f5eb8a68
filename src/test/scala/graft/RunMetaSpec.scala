package graft

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

/** Provenance stamps: a run from outside the checkout still names the
  * commit its classes were built from. */
class RunMetaSpec extends AnyFunSuite {

  test("commitSha reports the checkout's commit from a directory without .git") {
    val noGit = Files.createTempDirectory("graft-no-git")
    try {
      // the test JVM runs in the checkout; its .git names the commit the
      // build wrote into the graft/commit resource
      val checkout = RunMeta.gitSha(".")
      assert(RunMeta.gitSha(noGit.toString) == "unknown")
      assert(RunMeta.commitSha(noGit.toString) == checkout)
      if (Files.isDirectory(java.nio.file.Paths.get(".git")))
        assert(checkout.matches("[0-9a-f]{40}"), checkout)
    } finally Files.delete(noGit)
  }
}
