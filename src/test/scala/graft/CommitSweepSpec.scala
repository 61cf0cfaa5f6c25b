package graft

import java.io.File
import java.nio.file.Files

import scala.collection.mutable

import org.apache.commons.io.FileUtils
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ext.IncrementalCorpus
import graft.stream.IncrementalMv
import graft.warehouse.{Commit, Compaction, DataSkipping, ResultCache, Snapshots}

/** Crash-point sweep over every registered fault point
  * ([[Commit.FaultPoints]]). For each point: build the state before the
  * operation in a fresh root, crash the operation once at the point,
  * check that readers see exactly the state before or the state after
  * it, replay, check the state after it, and check that no staged file
  * or `.tmp-*` claim is left behind. The reference states come from the
  * same operation run without a fault. The last test checks that the
  * sweep reached every registered point. */
class CommitSweepSpec extends AnyFunSuite {
  import TestSpark.spark
  import spark.implicits._

  /** `prepare` builds the state before the operation under a root;
    * `run` is the operation (and its replay); `state` is what readers
    * see. `afterCrash` reads the state right after the crash (Compaction
    * documents it at `<dir>.graft-compact-old`) and `recover` is what an
    * operator does before the replay. */
  private case class Scenario(
      prepare: String => Unit, run: String => Unit, state: String => Any,
      afterCrash: Option[String => Any] = None,
      recover: String => Unit = _ => ())

  private def rows(df: org.apache.spark.sql.DataFrame): Set[String] =
    df.collect().map(_.mkString("|")).toSet

  private val snapshotBatch = Scenario(
    root => Snapshots.appendBatch(spark, s"$root/t", Seq(1, 2).toDF("id"), 0),
    root => Snapshots.appendBatch(spark, s"$root/t", Seq(3).toDF("id"), 1),
    root => rows(Snapshots.read(spark, s"$root/t")))

  // the stats caches of two commits are built, a third commit's is not:
  // the operation builds that one (a single writer) and must answer like
  // the uncached read; readers see how many caches are finished
  private val snapshotCache = {
    val band = Seq(DataSkipping.Band("id", Some(50L), Some(250L)))
    def commit(root: String, lo: Long) = Snapshots.append(spark, s"$root/t",
      spark.range(lo, lo + 100).toDF("id").coalesce(1))
    Scenario(
      root => {
        commit(root, 0); commit(root, 100)
        Snapshots.statsManifest(spark, s"$root/t", Seq("id"))
        commit(root, 200)
      },
      root => assert(rows(Snapshots.skipRead(spark, s"$root/t", band)) ===
        rows(Snapshots.read(spark, s"$root/t").filter(col("id").between(50, 250)))),
      root => new File(s"$root/t/_stats").listFiles()
        .count(f => new File(f, "_SUCCESS").exists))
  }

  private def mvBatch(day: String, keys: String*) =
    keys.map(k => (java.sql.Timestamp.valueOf(s"$day 12:00:00"), k)).toDF("ts", "key")
  private val mv = Scenario(
    root => IncrementalMv.applyDailyCountsDelta(
      mvBatch("2024-01-01", "a", "b", "a"), 0, s"$root/mv", "ts", "key"),
    root => IncrementalMv.applyDailyCountsDelta(
      mvBatch("2024-01-01", "a") unionByName mvBatch("2024-01-02", "c"),
      1, s"$root/mv", "ts", "key"),
    root => rows(IncrementalMv.read(spark, s"$root/mv")))

  private val text = "the cat and the dog walk of the town is big with joy today"
  private val other = "the bird and the fish of this lake is calm with mist at dawn"
  private val cfg = IncrementalCorpus.Config("t", "id", decontaminateK = 8)
  private def vocab = (text + " " + other).split(" ").distinct.toSeq.toDF("token")
  private def bench = Seq("the quiz and the exam of this bench is secret").toDF("text")
  private def ingest(root: String, batch: Long, docs: (Long, String)*): Unit =
    IncrementalCorpus.applyDelta(docs.toDF("id", "t"), batch, s"$root/c", cfg,
      vocab, bench, "text")
  private def accepted(root: String) =
    rows(IncrementalCorpus.readAccepted(spark, s"$root/c").select("id", "ingest_batch"))
  private val corpusIngest = Scenario(
    root => ingest(root, 0, 1L -> text),
    root => ingest(root, 1, 2L -> other),
    accepted)
  private val corpusEvict = Scenario(
    root => { ingest(root, 0, 1L -> text); ingest(root, 1, 2L -> other) },
    root => IncrementalCorpus.evict(Seq((2L, 1L)).toDF("id", "ingest_batch"),
      0L, s"$root/c", cfg),
    accepted)
  private val corpusCompact = Scenario(
    root => {
      corpusEvict.prepare(root)
      corpusEvict.run(root)
    },
    root => IncrementalCorpus.compact(spark, s"$root/c", cfg, 0L),
    root => (accepted(root),
      new File(s"$root/c/docs/ingest_batch=0").exists))

  private val resultCache = Scenario(
    root => spark.range(10).toDF("id").write.parquet(s"$root/in"),
    root => ResultCache.withCache(spark,
      spark.read.parquet(s"$root/in").groupBy().sum("id"), s"$root/cache").df.collect(),
    root => Option(new File(s"$root/cache").listFiles()).toSeq.flatten
      .count(f => !f.getName.startsWith(".") && new File(f, "_SUCCESS").exists))

  private def table(dir: String) =
    (rows(spark.read.parquet(dir)), new File(dir).list().count(_.endsWith(".parquet")))
  private val compaction = Scenario(
    root => spark.range(40).toDF("id").repartition(4).write.parquet(s"$root/t"),
    root => Compaction.compact(spark, s"$root/t", targetBytes = 1L << 30),
    root => table(s"$root/t"),
    afterCrash = Some(root => table(s"$root/t.graft-compact-old")),
    recover = root => new File(s"$root/t.graft-compact-old")
      .renameTo(new File(s"$root/t")))

  private val sweep: Seq[(String, Scenario)] = Seq(
    "Snapshots.post-data" -> snapshotBatch,
    "Snapshots.post-claim" -> snapshotBatch,
    "Snapshots.cache" -> snapshotCache,
    "IncrementalMv.pre-stage" -> mv,
    "IncrementalMv.post-stage" -> mv,
    "IncrementalMv.post-install" -> mv,
    "IncrementalCorpus.post-docs" -> corpusIngest,
    "IncrementalCorpus.post-index" -> corpusIngest,
    "IncrementalCorpus.post-bands" -> corpusIngest,
    "IncrementalCorpus.post-evict" -> corpusEvict,
    "IncrementalCorpus.post-gen" -> corpusCompact,
    "IncrementalCorpus.post-compact-marker" -> corpusCompact,
    "ResultCache.pre-publish" -> resultCache,
    "Compaction.mid-swap" -> compaction)

  private val hit = mutable.Set.empty[String]

  /** Files left by an unfinished commit: staged data and claims. */
  private def leftovers(root: String): Seq[String] = {
    val all = FileUtils.listFiles(new File(root), null, true)
    all.toArray(Array.empty[File]).toSeq.map(_.getPath.stripPrefix(root))
      .filter(p => p.contains("/_graft_staging/") || p.contains(".tmp-"))
  }

  private def withRoot[A](tag: String)(body: String => A): A = {
    val root = Files.createTempDirectory(s"graft-sweep-$tag").toString
    try body(root) finally FileUtils.deleteQuietly(new File(root))
  }

  test("the sweep names every registered fault point exactly once") {
    assert(sweep.map(_._1).sorted === Commit.FaultPoints.sorted)
  }

  sweep.foreach { case (point, sc) =>
    test(s"crash at $point: readers see the old or the new state; the replay " +
      "lands the new one and leaves no staged file or claim") {
      val (before, after) = withRoot("ref") { root =>
        sc.prepare(root)
        val b = sc.state(root)
        sc.run(root)
        (b, sc.state(root))
      }
      assert(before != after, s"$point: the operation changes nothing")
      withRoot("crash") { root =>
        sc.prepare(root)
        val armed = new java.util.concurrent.atomic.AtomicBoolean(true)
        Commit.faultHook.set { p =>
          hit.synchronized(hit += p)
          if (p == point && armed.getAndSet(false))
            throw new RuntimeException(s"injected crash at $p")
        }
        try {
          val e = intercept[RuntimeException](sc.run(root))
          assert(!armed.get, s"$point was not reached: $e")
        } finally Commit.faultHook.set(p => hit.synchronized(hit += p))
        val seen = sc.afterCrash.getOrElse(sc.state)(root)
        assert(seen == before || seen == after,
          s"$point: readers saw neither state: $seen")
        sc.recover(root)
        sc.run(root)
        assert(sc.state(root) == after, s"$point: the replay diverged")
        assert(leftovers(root).isEmpty, s"$point left ${leftovers(root)}")
      }
    }
  }

  test("every registered fault point was hit") {
    Commit.faultHook.set(_ => ())
    assert(Commit.FaultPoints.filterNot(hit).isEmpty)
  }
}
