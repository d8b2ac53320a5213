package graft

import org.apache.spark.sql.SparkSession

/** One shared local session for the whole test run. */
object SparkTestSession {
  /** Two settings, read from system properties when the context is
    * built, keep the suite's many ~1,000-day warehouse writes and reads
    * cheap without changing what they produce: `file://` goes through
    * [[NioLocalFileSystem]] (no forked `chmod` per file), and a
    * directory's partition subdirectories are listed on the driver
    * instead of by a 1,000-task listing job per read. */
  lazy val get: SparkSession = {
    System.setProperty("spark.hadoop.fs.file.impl", classOf[NioLocalFileSystem].getName)
    System.setProperty("spark.sql.sources.parallelPartitionDiscovery.threshold", "100000")
    Tables.session("graft-test", "4")
  }

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
