package graft

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileAlreadyExistsException, FileSystem, Path}
import org.scalatest.funsuite.AnyFunSuite

import graft.warehouse.Commit

/** The commit core's primitives on the local filesystem, and the lint
  * that keeps their decisions in one module: no main source other than
  * `warehouse/Commit.scala` renames, hard-links, tests for `_SUCCESS` or
  * declares a fault hook. */
class CommitSpec extends AnyFunSuite {

  private val fs = FileSystem.getLocal(new Configuration())
  private def tmpDir(): Path =
    new Path(Files.createTempDirectory("graft-commit").toUri)
  private def names(p: Path) = fs.listStatus(p).map(_.getPath.getName).toSet

  test("claims, completeness tests and fault points live only in Commit.scala") {
    val spellings = Seq(".rename(", "Files.createLink", "\"_SUCCESS\"", "faultHook")
    val root = new File("src/main/scala")
    assert(root.isDirectory, s"run from the project root (no ${root.getAbsolutePath})")
    val sources = org.apache.commons.io.FileUtils
      .listFiles(root, Array("scala"), true).toArray(Array.empty[File]).toSeq
    assert(sources.exists(_.getName == "Commit.scala"))
    val hits = for {
      f <- sources if f.getName != "Commit.scala"
      (line, i) <- new String(Files.readAllBytes(f.toPath), UTF_8)
        .split("\n").zipWithIndex
      s <- spellings if line.contains(s)
    } yield s"${f.getPath}:${i + 1}: $s"
    assert(hits.isEmpty, hits.mkString("\n", "\n", ""))
  }

  test("claim: the first claim of a target wins, a second loses, no tmp file stays") {
    val dir = tmpDir()
    val target = new Path(dir, "7")
    assert(Commit.claim(fs, target, "a".getBytes(UTF_8)))
    assert(!Commit.claim(fs, target, "b".getBytes(UTF_8)))
    assert(Commit.Ledger(fs, dir).read(7) === "a")
    assert(names(dir).forall(n => !n.contains(".tmp-")), names(dir))
  }

  test("ledger: ids skip dotfiles, pruneExcept keeps one marker") {
    val ledger = Commit.Ledger(fs, new Path(tmpDir(), "_graft_commits"))
    assert(ledger.ids.isEmpty)
    Seq(3L, 1L, 2L).foreach(ledger.mark)
    fs.create(new Path(ledger.dir, ".tmp-x"), true).close()
    assert(ledger.ids === Seq(1L, 2L, 3L))
    ledger.pruneExcept(2L)
    assert(ledger.ids === Seq(2L) && ledger.has(2L) && !ledger.has(3L))
  }

  test("move refuses an existing target and leaves the source; delete of an " +
    "absent path succeeds; complete needs _SUCCESS") {
    val dir = tmpDir()
    val (a, b) = (new Path(dir, "a"), new Path(dir, "b"))
    fs.mkdirs(new Path(a, "_temporary/0"))
    fs.mkdirs(b)
    assert(!Commit.complete(fs, a))
    intercept[FileAlreadyExistsException](Commit.move(fs, a, b))
    assert(fs.exists(a) && !fs.exists(new Path(b, "a")))
    Commit.delete(fs, b)
    Commit.delete(fs, b)
    Commit.move(fs, a, b)
    assert(!fs.exists(a) && fs.exists(new Path(b, "_temporary/0")))
    fs.create(new Path(b, "_SUCCESS"), true).close()
    assert(Commit.complete(fs, b))
  }

  test("withCleanup: a cleanup failure is suppressed into the body's failure") {
    val e = intercept[IllegalStateException] {
      Commit.withCleanup[Unit](throw new IllegalStateException("body"))(
        throw new InterruptedException("cleanup"))
    }
    assert(e.getMessage === "body")
    assert(e.getSuppressed.map(_.getMessage).toSeq === Seq("cleanup"))
    var cleaned = false
    assert(Commit.withCleanup(42) { cleaned = true } === 42 && cleaned)
  }

  test("fault points must be registered") {
    intercept[IllegalArgumentException](Commit.fault("Snapshots.no-such-point"))
    Commit.FaultPoints.foreach(p => assert(p.matches("[A-Za-z]+\\.[a-z-]+"), p))
  }
}
