package graft.warehouse

import java.nio.charset.StandardCharsets
import java.security.MessageDigest

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}

/** Materialized query-result cache keyed on WHAT the query computes and
  * WHAT it reads — the poor-man's result-set cache every warehouse
  * grows eventually (Snowflake result reuse, BigQuery cached results),
  * expressed with nothing but Catalyst metadata and parquet:
  *
  *  - the semantic key is the CANONICALIZED logical plan (expression
  *    ids normalized, cosmetic aliases erased — the same structure
  *    `Dataset.sameResult` compares), so two independently-built but
  *    equivalent DataFrames share one cache entry;
  *  - the data key is the (path, length, mtime) fingerprint of every
  *    file the plan reads, collected from its `HadoopFsRelation`
  *    scans — append/overwrite/compaction of ANY input changes the
  *    key, so staleness is impossible by construction (an entry is
  *    never updated, only superseded; old keys age out via [[vacuum]]).
  *
  * Correctness guards:
  *  - a plan containing a NON-DETERMINISTIC expression (rand, uuid,
  *    current_timestamp…) BYPASSES the cache — replaying a stored
  *    result would freeze what the query semantics say must vary;
  *  - a plan reading any non-file source (streams, views over temp
  *    data, pure `LocalRelation` literals are fine but e.g. JDBC is
  *    not fingerprintable) also bypasses, conservatively.
  *
  * Concurrency: results write to a `.tmp-<uuid>` dir and publish by
  * [[Commit.move]]; losing a publish race just means reading the winner's
  * identical bytes. At 100 TB the cache holds query RESULTS (usually
  * KB–MB aggregates), not inputs — the win is skipping the scan, and
  * the key check is metadata-only (one file listing, no data read).
  */
object ResultCache {

  /** A cache decision: the DataFrame to use and whether it was served
    * from the cache (false = computed and stored, or bypassed). */
  final case class Cached(df: DataFrame, hit: Boolean, key: Option[String])

  /** Cache-or-compute `df` under `cacheDir`. See class doc for the
    * bypass rules. */
  def withCache(spark: SparkSession, df: DataFrame, cacheDir: String): Cached =
    key(df) match {
      case None => Cached(df, hit = false, None)
      case Some(k) =>
        val dir = new Path(cacheDir, k)
        val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
        if (Commit.complete(fs, dir))
          Cached(spark.read.parquet(dir.toString), hit = true, Some(k))
        else {
          val tmp = new Path(cacheDir, s".tmp-${java.util.UUID.randomUUID()}")
          // publish by move; a lost race leaves the winner's identical
          // entry in place — drop ours (the cleanup) and read theirs
          Commit.withCleanup {
            df.write.mode("overwrite").parquet(tmp.toString)
            Commit.fault("ResultCache.pre-publish")
            try Commit.move(fs, tmp, dir)
            catch { case _: org.apache.hadoop.fs.FileAlreadyExistsException => }
          }(Commit.delete(fs, tmp))
          Cached(spark.read.parquet(dir.toString), hit = false, Some(k))
        }
    }

  /** The cache key, or None when the plan must bypass (nondeterminism
    * or a non-fingerprintable source). */
  def key(df: DataFrame): Option[String] = {
    val outer = df.queryExecution.analyzed
    // subquery plans (scalar/IN/EXISTS) are NOT reached by the outer
    // tree's collectLeaves/exists — their inputs and any
    // nondeterminism they carry must count, or a subquery-side table
    // change would serve stale results
    val plans = outer +: outer.subqueriesAll
    val nonDet = plans.exists(_.exists(_.expressions.exists(e =>
      e.exists(!_.deterministic))))
    if (nonDet) return None
    // every leaf must be a file scan (fingerprintable) or a literal
    // LocalRelation (self-contained); anything else bypasses
    val leaves = plans.flatMap(_.collectLeaves())
    val fingerprintable = leaves.forall {
      case LogicalRelation(_: HadoopFsRelation, _, _, _, _) => true
      case _: org.apache.spark.sql.catalyst.plans.logical.LocalRelation => true
      case _ => false
    }
    if (!fingerprintable) return None
    val files = leaves.flatMap {
      case LogicalRelation(fsRel: HadoopFsRelation, _, _, _, _) =>
        val conf = df.sparkSession.sparkContext.hadoopConfiguration
        fsRel.location.inputFiles.sorted.map { f =>
          val p = new Path(f)
          val st = p.getFileSystem(conf).getFileStatus(p)
          s"$f:${st.getLen}:${st.getModificationTime}"
        }
      case _ => Nil
    }
    val md = MessageDigest.getInstance("SHA-256")
    plans.foreach(p =>
      md.update(p.canonicalized.toString.getBytes(StandardCharsets.UTF_8)))
    files.foreach(f => md.update(f.getBytes(StandardCharsets.UTF_8)))
    Some(md.digest().map("%02x".format(_)).mkString.take(32))
  }

  /** Drop cache entries older than `maxAgeMs` (superseded keys never
    * get read again — their inputs changed — so age is the right
    * eviction axis). In-flight `.tmp-*` dirs younger than the window
    * are left alone. */
  def vacuum(spark: SparkSession, cacheDir: String, maxAgeMs: Long): Int = {
    val dir = new Path(cacheDir)
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(dir)) return 0
    val cutoff = System.currentTimeMillis() - maxAgeMs
    fs.listStatus(dir).count { st =>
      st.getModificationTime < cutoff && {
        fs.delete(st.getPath, true); true
      }
    }
  }
}
