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
    spark
  }
}

/** Loaders for the harness's parquet star schema (TESTDATA.md). Each table is
  * one parquet directory under the scale-factor dir. Column pruning and
  * predicate pushdown reach the scan because these return raw relations —
  * callers compose select/filter lazily. */
object Tables {
  import org.apache.spark.sql.functions.{col, expr, timestamp_micros}

  def load(spark: SparkSession, sfDir: String, name: String): DataFrame =
    spark.read.parquet(s"$sfDir/$name.parquet")

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
    * encoding to a plain TIMESTAMP instant below. */
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

  /** Streaming view of the events table (file source). Same nano→micro
    * conversion, applied on the incremental plan. */
  def eventsStream(s: SparkSession, d: String): DataFrame = {
    nanosAsLong(s)
    val path = s"$d/events.parquet"
    val schema = s.read.parquet(path).schema
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
