package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** Sink operators (SURVEY.md §2.7 K1–K6).
  *
  * The reference lands Snappy Parquet on a 10-second micro-batch trigger
  * with a per-sink checkpoint (write_swords_stream.py:60–66,
  * README.md:415–421). At 100 TB the parquet layout is the performance
  * contract: output is partitioned by low-cardinality routing columns so
  * downstream scans partition-prune, and compression stays Snappy (cheap
  * CPU, splittable pages).
  *
  * K1 (the streaming parquet sink) and K6 (waiting on several sinks) are
  * [[graft.streaming.StreamPipeline.demuxToParquet]]: one query lands all
  * three routes per micro-batch, so there is no second query to await.
  */
object Sinks {

  val DefaultTrigger: Trigger = Trigger.ProcessingTime("10 seconds")

  /** K2: console sink (debug; filter_swords_stream.py:62–65). */
  def console(df: DataFrame, trigger: Trigger = DefaultTrigger): StreamingQuery =
    df.writeStream.format("console").trigger(trigger).start()

  /** K3: batch parquet overwrite (filtered_writes.py:46–49). */
  def batchParquet(df: DataFrame, path: String, partitionBy: Seq[String] = Nil): Unit = {
    val w = df.write.mode("overwrite").option("compression", "snappy")
    (if (partitionBy.nonEmpty) w.partitionBy(partitionBy: _*) else w).parquet(path)
  }

  /** K5: external-table DDL over a parquet location (README.md:394–410),
    * re-expressed against Spark's built-in catalog — no Hive metastore
    * needed. Readers get schema-on-read decoupled from the writer. */
  def registerExternalTable(spark: SparkSession, table: String, location: String): Unit = {
    spark.sql(s"DROP TABLE IF EXISTS $table")
    spark.sql(s"CREATE TABLE $table USING PARQUET LOCATION '$location'")
  }
}
