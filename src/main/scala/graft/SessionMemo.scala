package graft

import org.apache.spark.SparkFiles
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.storage.StorageLevel

/** The one per-session cache of graft: derived frames, committed-layout
  * handles and driver values computed once per (session, key), plus the
  * work directories their builds write into. A compute-once memo, not a
  * data cache.
  *
  * Lifetimes. `frame` entries stay persisted for the session's life:
  * the map is weak-keyed by session, but a memoized DataFrame strongly
  * references its session through its QueryExecution, so such entries
  * pin their key and live as long as the JVM's SparkContext. That is
  * acceptable because every harness JVM holds a handful of sessions and
  * the memo's job is once-per-session cost, not memory reclamation.
  * `memo` entries that hold session-independent values (byte arrays,
  * paths) keep the full weak-key semantics. `workDir` directories live
  * until the SparkContext stops, which deletes them.
  *
  * Staleness caveat: table reads see in-place rewrites (`Tables` keys
  * its resolved schemas on a fingerprint of the table's files, and every
  * read lists the files afresh), but entries keyed on a bare data
  * directory have no invalidation: rewriting the data under the same dir
  * mid-session silently returns the old derived frames. That is
  * acceptable for the harness (testdata is immutable per run and every
  * bench/verify process is a fresh JVM); a deployment that rewrites
  * inputs in place must open a new session per dataset version, or key
  * those entries on a dataset fingerprint instead of the bare dir. */
private[graft] object SessionMemo {
  private val maps = new java.util.WeakHashMap[
    SparkSession, scala.collection.concurrent.TrieMap[String, Any]]()

  private def of(spark: SparkSession): scala.collection.concurrent.TrieMap[String, Any] =
    maps.synchronized {
      var m = maps.get(spark)
      if (m == null) {
        m = scala.collection.concurrent.TrieMap.empty[String, Any]
        maps.put(spark, m)
      }
      m
    }

  def memo[T](spark: SparkSession, key: String)(body: => T): T =
    of(spark).getOrElseUpdate(key, body).asInstanceOf[T]

  /** `build`, persisted `MEMORY_AND_DISK` and materialized by one
    * `count()` on the first call per (session, key); later calls return
    * the same frame without evaluating `build` or running a job.
    *
    * Materialization is eager because a memoized frame is shared: its
    * consumers are concurrent AQE stages, and on a lazily persisted frame
    * their tasks race on the unpopulated cache blocks (the compute runs
    * several times and the other tasks block on the BlockInfoManager
    * lock; one query measured 126 s of task run at 43 % CPU on 2 000-row
    * frames). */
  def frame(spark: SparkSession, key: String)(build: => DataFrame): DataFrame =
    memo(spark, key) {
      val df = build.persist(StorageLevel.MEMORY_AND_DISK)
      df.count()
      df
    }

  /** A fresh directory named `prefix…` under the driver's Spark-managed
    * temp dir (`SparkFiles.getRootDirectory()`), deleted when the
    * SparkContext stops. For builds that write the tables they return. */
  def workDir(spark: SparkSession, prefix: String): java.nio.file.Path = {
    require(!spark.sparkContext.isStopped, "a stopped SparkContext has deleted its temp dir")
    java.nio.file.Files.createTempDirectory(
      java.nio.file.Paths.get(SparkFiles.getRootDirectory()), prefix)
  }

  /** Drops this session's entries whose key satisfies `drop`. */
  private[graft] def forget(spark: SparkSession)(drop: String => Boolean): Unit =
    of(spark).filterInPlace { case (k, _) => !drop(k) }
}
