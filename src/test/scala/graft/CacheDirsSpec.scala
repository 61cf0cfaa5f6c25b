package graft

import java.io.File
import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

/** Staged query caches live in `java.io.tmpdir` under a per-process
  * prefix; [[SparkEntry.deleteCacheDirs]] (also run by a shutdown hook)
  * removes them and nothing else. */
class CacheDirsSpec extends AnyFunSuite {

  test("deleteCacheDirs removes this process's staged query caches only") {
    // a private tmpdir, so other suites' cached directories are untouched
    val tmp = Files.createTempDirectory("graft-cachedirs").toFile
    val prior = System.getProperty("java.io.tmpdir")
    System.setProperty("java.io.tmpdir", tmp.toString)
    try {
      val other = new File(tmp, "graft-p0-x52-0")
      assert(other.mkdir())
      SparkEntry.queries("x52_manifest_skip")(TestSpark.spark, TestSpark.sf)
      val pid = ProcessHandle.current().pid()
      val staged = tmp.listFiles().filter(_.getName.startsWith(s"graft-p$pid-x52-"))
      assert(staged.length == 1 && new File(staged.head, "lineitem_z").isDirectory)
      SparkEntry.deleteCacheDirs()
      assert(!staged.head.exists())
      assert(other.isDirectory) // another process's directory survives
    } finally {
      System.setProperty("java.io.tmpdir", prior)
      org.apache.commons.io.FileUtils.deleteQuietly(tmp)
    }
  }
}
