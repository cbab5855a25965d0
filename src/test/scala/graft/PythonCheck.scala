package graft

import org.scalatest.Assertions._

/** Runs a repo-root python check script under `sbt test`; the script's exit
  * code is the verdict and its output goes to the test log.
  */
object PythonCheck {
  def apply(script: String, what: String): Unit = {
    val path = java.nio.file.Paths.get(script)
    assume(java.nio.file.Files.exists(path)) // repo-root working dir
    val rc = new ProcessBuilder("python3", script).inheritIO().start().waitFor()
    assert(rc == 0, what)
  }
}
