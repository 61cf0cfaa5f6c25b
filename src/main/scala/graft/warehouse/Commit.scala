package graft.warehouse

import java.nio.charset.StandardCharsets.UTF_8
import java.util.UUID
import java.util.concurrent.atomic.AtomicReference

import org.apache.hadoop.fs.{FileAlreadyExistsException, FileSystem, Path}

/** The commit decisions every storage layer shares (`Snapshots`,
  * `IncrementalMv`, `IncrementalCorpus`, `Compaction`, `ResultCache`):
  * how a file is claimed atomically, how marker ledgers are kept, when a
  * Spark write counts as finished, how moves and deletes report failure,
  * and where a crash may be injected. Each layer keeps its own layout
  * and step order; this module decides what each step means. */
object Commit {

  /** Atomically create `target` holding `bytes`; false when another
    * committer claimed it first. The bytes go to a `.tmp-<uuid>`
    * sibling, removed afterwards. On HDFS/ABFS the rename IS the atomic
    * claim (server-side, fails on an existing destination). Hadoop's
    * LOCAL rename is check-then-rename(2): two concurrent renames to the
    * same absent target both return true and one file silently vanishes
    * (found by the 8-way concurrent-append stress spec), so local claims
    * use a POSIX hard link, which fails EEXIST atomically and leaves the
    * target without a `.crc` sidecar. On S3 neither primitive is atomic:
    * front the claim with a conditional PUT. */
  def claim(fs: FileSystem, target: Path, bytes: Array[Byte]): Boolean = {
    val tmp = new Path(target.getParent, s".tmp-${UUID.randomUUID()}")
    withCleanup {
      val out = fs.create(tmp, false)
      try out.write(bytes) finally out.close()
      if (fs.getScheme != "file") fs.rename(tmp, target)
      else try {
        java.nio.file.Files.createLink(java.nio.file.Paths.get(target.toUri.getPath),
          java.nio.file.Paths.get(tmp.toUri.getPath))
        true
      } catch {
        case _: java.nio.file.FileAlreadyExistsException => false
        case _: UnsupportedOperationException => fs.rename(tmp, target)
      }
    }(delete(fs, tmp, recursive = false))
  }

  /** A Spark write to `dir` finished: its job commit writes `_SUCCESS`
    * last. A directory without it is an interrupted writer's leftover
    * (e.g. only `_temporary/0`), never a result. */
  def complete(fs: FileSystem, dir: Path): Boolean =
    fs.exists(new Path(dir, "_SUCCESS"))

  /** Rename `src` to an absent `dst`. Throws [[FileAlreadyExistsException]]
    * when `dst` exists (the race is lost; `src` stays) and an
    * IOException naming both paths when the rename reports failure.
    * Hadoop moves a directory renamed onto an existing one INSIDE it
    * (HDFS semantics; the local FS copies and still returns true), so a
    * move that raced a creator of `dst` is undone afterwards. */
  def move(fs: FileSystem, src: Path, dst: Path): Unit = {
    def rename(a: Path, b: Path): Unit =
      if (!fs.rename(a, b)) throw new java.io.IOException(s"rename failed: $a -> $b")
    def lost() = new FileAlreadyExistsException(s"move target exists: $dst")
    if (fs.exists(dst)) throw lost()
    rename(src, dst)
    val nested = new Path(dst, src.getName)
    if (fs.exists(nested)) { rename(nested, src); throw lost() }
  }

  /** Delete `p`; an absent path counts as deleted, any other `false`
    * throws naming the path. */
  def delete(fs: FileSystem, p: Path, recursive: Boolean = true): Unit =
    if (!fs.delete(p, recursive) && fs.exists(p))
      throw new java.io.IOException(s"could not delete $p")

  /** `body`, then `cleanup` whatever happened. A cleanup failure after a
    * failed body is attached to it with `addSuppressed`, never thrown in
    * its place. */
  def withCleanup[A](body: => A)(cleanup: => Unit): A = {
    val out =
      try body
      catch {
        case t: Throwable =>
          try cleanup catch { case c: Throwable => t.addSuppressed(c) }
          throw t
      }
    cleanup
    out
  }

  /** A directory of marker files, one per committed id (`<dir>/<id>`).
    * Names starting with `.` are never ids (claims in flight, checksum
    * sidecars). `mark` writes an empty marker, the commit point of a
    * marker-last protocol; `claim` writes one with content atomically. */
  final case class Ledger(fs: FileSystem, dir: Path) {
    private def at(id: Long) = new Path(dir, id.toString)
    def has(id: Long): Boolean = fs.exists(at(id))
    def ids: Seq[Long] =
      if (!fs.exists(dir)) Seq.empty
      else fs.listStatus(dir).iterator.map(_.getPath.getName)
        .filterNot(_.startsWith(".")).map(_.toLong).toSeq.sorted
    def mark(id: Long): Unit = fs.create(at(id), true).close()
    def claim(id: Long, content: String): Boolean =
      Commit.claim(fs, at(id), content.getBytes(UTF_8))
    def read(id: Long): String = {
      val in = fs.open(at(id))
      try new String(org.apache.commons.io.IOUtils.toByteArray(in), UTF_8)
      finally in.close()
    }
    def pruneExcept(keep: Long): Unit =
      ids.filter(_ != keep).foreach(i => delete(fs, at(i), recursive = false))
  }

  /** Every fault point, named `<module>.<point>`: a place between two
    * durable steps where a crash leaves a state that readers and the
    * replay must handle. `CommitSweepSpec` crashes each one once. */
  val FaultPoints: Seq[String] = Seq(
    "Snapshots.post-data", "Snapshots.post-claim", "Snapshots.cache",
    "IncrementalMv.pre-stage", "IncrementalMv.post-stage", "IncrementalMv.post-install",
    "IncrementalCorpus.post-docs", "IncrementalCorpus.post-index",
    "IncrementalCorpus.post-bands", "IncrementalCorpus.post-evict",
    "IncrementalCorpus.post-gen", "IncrementalCorpus.post-compact-marker",
    "ResultCache.pre-publish", "Compaction.mid-swap")

  /** Test-only: called at every [[fault]] with the point's name; throwing
    * simulates a crash there. Default no-op. */
  private[graft] val faultHook = new AtomicReference[String => Unit](_ => ())

  def fault(point: String): Unit = {
    require(FaultPoints.contains(point), s"unregistered fault point $point")
    faultHook.get()(point)
  }
}
