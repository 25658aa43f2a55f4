package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Session factory + table catalog for the graft engine.
  *
  * Design note (100 TB target): every knob here is chosen so the same code
  * runs unchanged on a real cluster — AQE on (runtime re-planning, skew-join
  * splitting, partition coalescing), shuffle partitions sized to the local
  * harness but overridable, UTC session time zone for engine-independent
  * timestamp semantics. Nothing in the engine assumes local mode.
  */
object Engine {

  /** Entries in Spark's JVM-wide generated-class cache
    * (`spark.sql.codegen.cache.maxEntries`, Spark's default 100). The cache
    * is an LRU over compiled classes: one curation warm pass (the eight
    * `perfbench` curation queries) uses about 180 distinct classes, so at
    * 100 a cyclic pass never hits and recompiles all of them through
    * Janino on every pass, a quarter to a third of a warm pass's wall
    * time on a 4-core host. A whole curation run uses 277 distinct classes;
    * 1 000 leaves about 3.6× headroom, and the JVM's metaspace after five
    * curation passes read 173 MB at 100 entries and 169 MB at 1 000
    * (recompiled classes are garbage until a GC unloads them). */
  val CodegenCacheEntries = 1000

  /** Build a tuned local session. `cores` maps to local[N] threads; on a real
    * cluster the same configs apply with master supplied by spark-submit.
    *
    * `file://` paths go through graft's java.nio local file system
    * (`graft.io`), which sets permissions and resolves links without
    * forking `chmod`/`readlink`; other schemes are untouched. Hadoop caches
    * FileSystem instances per scheme regardless of configuration, so a
    * `file://` FileSystem created in this JVM before the first session keeps
    * the stock (slower, equally correct) class, and [[tune]] cannot switch
    * an external session's.
    *
    * Generated code compiles once: the codegen cache holds
    * [[CodegenCacheEntries]] classes. Spark sizes that cache when its
    * `CodeGenerator` object first loads, from the conf active at that
    * moment, and keeps it for the life of the JVM. So a codegen use in this
    * JVM before the first graft session keeps Spark's 100 entries, and
    * [[tune]] cannot resize an external session's cache. */
  def session(cores: Int = 32, appName: String = "graft"): SparkSession = {
    val spark = SparkSession
      .builder()
      .master(s"local[$cores]")
      .appName(appName)
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.hadoop.fs.file.impl", classOf[graft.io.NioLocalFileSystem].getName)
      .config("spark.hadoop.fs.AbstractFileSystem.file.impl", classOf[graft.io.NioLocalFs].getName)
      .config("spark.sql.codegen.cache.maxEntries", CodegenCacheEntries.toString)
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Classes compiled by Spark's code generator in this JVM so far: a cache
    * miss compiles, a hit does not. Deltas around an action count its
    * compiles; the counter is JVM-wide, so concurrent actions share it. */
  def codegenCompiles: Long =
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  /** Apply the engine's tuning to a session created elsewhere. Safe to
    * call repeatedly. It sets runtime confs only: the codegen cache size
    * (see [[session]]) and the `file://` binding are fixed per JVM before
    * any session here can touch them. */
  def tune(spark: SparkSession): SparkSession = {
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark
  }

  /** The narrow child session of `spark` that graft's streaming queries
    * and ingest replays run on: one per (parent, `rocksDbState`), made
    * through [[SessionMemo]] on first use with every conf below, and never
    * changed after. So its resolved table schemas carry over from one
    * construction to the next, and no query mutates a session's confs.
    *  - Shuffle width 4: a streaming aggregation opens one state store per
    *    shuffle partition, so the parent's batch-sized width multiplies
    *    pure startup cost. A fresh checkpoint adopts the width at its first
    *    run, as a deployment sizes it to state volume.
    *  - AQE off: the ingest replays are many tiny sequential exchanges
    *    (q200 about 15 per batch), and AQE's per-stage re-planning turns
    *    each into its own job round-trip; static planning ran q200's
    *    four-batch replay about 2× faster.
    *  - `nanosAsLong`, which [[Tables.events]] needs.
    *  - With `rocksDbState`, the RocksDB state-store provider, for the
    *    queries with per-key state. The others keep Spark's default: the
    *    stream-stream interval join (q66) ran slower under RocksDB.
    *
    * A memory-sink name can run again on the same child: the frame an
    * earlier run returned keeps its own rows, and the child's temp view
    * holds the latest run's rows until the next run. The same query must
    * not run concurrently on the same parent: both runs would share one
    * child and one sink name. */
  def narrowSession(spark: SparkSession, rocksDbState: Boolean = false): SparkSession =
    SessionMemo.memo(spark, s"narrowSession|$rocksDbState") {
      val s = spark.newSession()
      s.conf.set("spark.sql.shuffle.partitions", "4")
      s.conf.set("spark.sql.adaptive.enabled", "false")
      s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      if (rocksDbState)
        s.conf.set("spark.sql.streaming.stateStore.providerClass",
          "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      s
    }
}

/** Loaders for the harness's parquet star schema (TESTDATA.md). Each table is
  * one parquet directory under the scale-factor dir. Column pruning and
  * predicate pushdown reach the scan because these return raw relations —
  * callers compose select/filter lazily.
  *
  * Table schemas resolve once per session. Spark's parquet schema
  * inference runs one job per `spark.read.parquet` (about 100 ms on a
  * warm 4-core local session, more than many warm queries' own work), so
  * [[load]] infers a table's schema once, memoizes it in [[SessionMemo]],
  * and reads with `spark.read.schema(schema)`, which runs no job. The memo key
  * is the path, a fingerprint of the names, sizes and modification times
  * of the files under it (one driver-side stat through the path's Hadoop
  * FileSystem per call; no job, no forked process), and the session confs
  * that change what inference returns. So a table rewritten in place
  * mid-session resolves again, and its rows are always listed afresh by
  * the read itself. Scope: the memo is per session. An
  * [[Engine.narrowSession]] is made once per parent, so it resolves each
  * table once per parent too; any other `newSession()` child resolves
  * each table once more. */
object Tables {
  import org.apache.hadoop.fs.{FileStatus, Path}
  import org.apache.spark.sql.functions.{col, expr, timestamp_micros}
  import org.apache.spark.sql.types.StructType

  def load(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    val path = s"$sfDir/$name.parquet"
    spark.read.schema(schemaOf(spark, path)).parquet(path)
  }

  /** Session confs that change what parquet schema inference returns, and
    * so belong in the key of a resolved schema. */
  private val InferenceConfs = Seq(
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.mergeSchema",
    "spark.sql.parquet.respectSummaryFiles",
    "spark.sql.files.ignoreCorruptFiles",
    "spark.sql.sources.partitionColumnTypeInference.enabled",
    "spark.sql.caseSensitive")

  /** The schema parquet inference returns for `path`, inferred once per
    * (session, file fingerprint, inference confs). A path that does not
    * exist is not memoized: its read throws Spark's own
    * `AnalysisException`, and so does a failed inference. */
  private def schemaOf(spark: SparkSession, path: String): StructType =
    fingerprint(spark, path) match {
      case Some(files) =>
        val confs = InferenceConfs.map(spark.conf.getOption(_).orNull).mkString(",")
        SessionMemo.memo(spark, s"tableSchema|$path|$files|$confs") {
          spark.read.parquet(path).schema
        }
      case None => spark.read.parquet(path).schema
    }

  /** MD5 of the (path, size, modification time) of every file under
    * `path` (the IvfPqIndex staleness idiom), or None when `path` does
    * not exist as written (missing, or a glob). Statuses come from
    * `listStatus`/`getFileStatus`, which read no permissions, so the local
    * file system forks no process. */
  private def fingerprint(spark: SparkSession, path: String): Option[String] = {
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def files(st: FileStatus): Seq[FileStatus] =
      if (st.isDirectory) fs.listStatus(st.getPath).toSeq.flatMap(files) else Seq(st)
    try {
      val listing = files(fs.getFileStatus(p))
        .map(st => s"${st.getPath}|${st.getLen}|${st.getModificationTime}").sorted.mkString("\n")
      Some(java.security.MessageDigest.getInstance("MD5")
        .digest(listing.getBytes("UTF-8")).map("%02x".format(_)).mkString)
    } catch { case _: java.io.FileNotFoundException => None }
  }

  /** Widen a scan-rooted frame to the session's shuffle width for
    * CPU-shaped map stages (r13 optimization, guide §2.5/§6 parallelism
    * floor): every harness table is ONE parquet row group, so a scan is
    * one task and all pre-shuffle map work (tokenize, hash, explode,
    * edit distance, cosine, partial aggregation) would otherwise run
    * single-threaded regardless of core count — the r13 probe measured
    * q140's whole cost as one 3.2 s two-task stage. One keyed exchange
    * of the (projected) input spreads it. Applied per-site where map
    * work dominates, never blanket: the exchange costs one pass of the
    * projected bytes, which a cluster-scale input with natural splits
    * would not need — but there it is also a vanishing fraction of the
    * job. Hash-keyed, not round-robin: keyless repartition pays the
    * sort-before-repartition tax (SPARK-23207) and key-derived hashing
    * stays deterministic under retries. */
  def fan(df: DataFrame, key: org.apache.spark.sql.Column, keys: org.apache.spark.sql.Column*): DataFrame =
    df.repartition(shuffleWidth(df.sparkSession), (key +: keys): _*)

  /** The session's shuffle width, parsed defensively (r13 advice — the
    * GlobalRank rule shared by every explicit-width site): a non-numeric
    * value (e.g. "auto" under an AQE coordinator) or a non-positive one
    * falls back to 200 instead of throwing out of a query plan. */
  private[graft] def shuffleWidth(spark: SparkSession): Int =
    scala.util.Try(
      spark.conf.get("spark.sql.shuffle.partitions", "200").toInt)
      .toOption.filter(_ > 0).getOrElse(200)

  /** Earlier harness drops wrote `events.ts` as parquet TIMESTAMP(NANOS),
    * which Spark's reader rejects; current drops write TIMESTAMP(MICROS,
    * isAdjustedToUTC=false), which Spark reads as TIMESTAMP_NTZ. Keep the
    * legacy conf on (it is a no-op for micros files) and normalize either
    * encoding to a plain TIMESTAMP instant below. Graft's own sessions
    * ([[Engine.session]], [[Engine.tune]], [[Engine.narrowSession]]) set
    * it from the start; on another session the first events read sets it
    * here, and since the conf is part of every resolved schema's key,
    * tables resolved before that read resolve once more. */
  private def nanosAsLong(spark: SparkSession): Unit =
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")

  /** Nanos-as-long → micros instant. Integer division — `div`, not `/`,
    * because a double round-trip of epoch-nanos (~1.7e18 > 2^53) would
    * corrupt microseconds. */
  private[graft] val tsFromNanos = timestamp_micros(expr("ts div 1000"))

  /** TIMESTAMP_NTZ wall clock (stored as UTC-naive) → the same instant as
    * a session TIMESTAMP, independent of the session/JVM zone: interpret
    * the naive value as UTC first (convert_timezone), so a non-UTC host
    * cannot shift every event — the q91-advice failure mode. On a UTC
    * session this is the identity. */
  private[graft] val tsFromNtz =
    expr("CAST(convert_timezone('UTC', current_timezone(), ts) AS TIMESTAMP)")

  /** Normalize `ts` to a TIMESTAMP instant whatever the file encoding. */
  private[graft] def normalizeTs(df: DataFrame): DataFrame =
    df.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType => df.withColumn("ts", tsFromNanos)
      case org.apache.spark.sql.types.TimestampNTZType => df.withColumn("ts", tsFromNtz)
      case _ => df
    }

  def lineitem(s: SparkSession, d: String): DataFrame = load(s, d, "lineitem")
  def orders(s: SparkSession, d: String): DataFrame = load(s, d, "orders")
  def customer(s: SparkSession, d: String): DataFrame = load(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame = load(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame = load(s, d, "part")
  def nation(s: SparkSession, d: String): DataFrame = load(s, d, "nation")
  def region(s: SparkSession, d: String): DataFrame = load(s, d, "region")
  def events(s: SparkSession, d: String): DataFrame = {
    nanosAsLong(s)
    normalizeTs(load(s, d, "events"))
  }

  /** The events table's file schema (`ts` still in its file encoding), from
    * the same resolved entry that [[events]] reads with. */
  private[graft] def eventsSchema(s: SparkSession, d: String): StructType = {
    nanosAsLong(s)
    schemaOf(s, s"$d/events.parquet")
  }

  /** Streaming view of the events table (file source). Same nano→micro
    * conversion, applied on the incremental plan. */
  def eventsStream(s: SparkSession, d: String): DataFrame = {
    val path = s"$d/events.parquet"
    val schema = eventsSchema(s, d)
    // The file stream source requires a directory; the harness table is a
    // single file. Stage a symlink dir (no data copy).
    val linkDir = SessionMemo.workDir(s, "graft_stream_src")
    java.nio.file.Files.createSymbolicLink(
      linkDir.resolve("events.parquet"), java.nio.file.Paths.get(path).toAbsolutePath)
    normalizeTs(s.readStream.schema(schema).parquet(linkDir.toString))
  }
  def documents(s: SparkSession, d: String): DataFrame = load(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = load(s, d, "embeddings")
}
