package graft

import org.apache.spark.sql.SparkSession

/** One shared local session for the whole test run. */
object SparkTestSession {
  /** Built by [[Tables.session]] exactly as the CLIs build theirs: the
    * suite sets no property of its own, so what it measures and pins
    * is the configuration users run (local FS without forked `chmod`,
    * driver-side partition listing — see that method's scaladoc). */
  lazy val get: SparkSession = Tables.session("graft-test", "4")

  /** All test scratch lives under target/test-tmp — ignored by git,
    * never in /tmp (a long host session used to accumulate graft_*
    * dirs there across suite runs). Each test JVM writes into its own
    * run-<pid> directory and removes it on exit: a full suite leaves
    * ~500 MB of warehouses and staged streams behind otherwise. */
  private lazy val base: java.nio.file.Path = {
    val p = java.nio.file.Files.createDirectories(java.nio.file.Paths.get(
      "target", "test-tmp", s"run-${ProcessHandle.current().pid()}"))
    sys.addShutdownHook(org.apache.commons.io.FileUtils.deleteQuietly(p.toFile))
    p
  }
  def tmpDir(prefix: String): java.nio.file.Path =
    java.nio.file.Files.createTempDirectory(base, prefix)
  def tmpFile(prefix: String, suffix: String): java.nio.file.Path =
    java.nio.file.Files.createTempFile(base, prefix, suffix)
  def tmpIoFile(prefix: String, suffix: String): java.io.File =
    tmpFile(prefix, suffix).toFile
}
