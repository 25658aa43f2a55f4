package graft.operators

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Small-file compaction + validated snapshot publish — the lake
  * maintenance every partitioned-parquet deployment runs on a schedule:
  * streaming sinks and frequent small batch appends fragment each
  * partition into hundreds of KB-sized files, and scan cost degrades from
  * data-bounded to file-open-bounded. The cycle here is the standard
  * exactly-once shape for plain parquet:
  *
  *   1. '''plan''' (metadata-only): list each partition directory's file
  *      count and bytes; target files per partition =
  *      ⌈bytes / targetFileBytes⌉. Driver work is O(#files) listing — the
  *      cost of planning any scan.
  *   2. '''rewrite to staging''' (one shuffle of the data): rows cluster
  *      by (partition, bucket) where bucket = xxhash64(bucketKey) mod
  *      target — deterministic, skew-oblivious bin-packing. The shuffle
  *      width is 4× the total target file count so two buckets of one
  *      partition rarely share a task: a collision merges them into one
  *      (larger) output file — compaction never over-splits
  *      (files-per-partition ≤ target by construction).
  *   3. '''validation gate''' (the q97 pattern): per partition, row count
  *      and an order-free content fingerprint (sum of xxhash64 over the
  *      full row) must match the source exactly; any mismatch aborts
  *      before anything is published.
  *   4. '''publish''': dynamic partition overwrite from staging into the
  *      live table — only the rewritten partitions are replaced, each
  *      swapped atomically by the committer (the same exactly-once
  *      mechanism StreamPipeline's demux sink uses). Readers see old or
  *      new files, never a mix within a partition.
  *
  * On a transactional table format (Delta/Iceberg) step 4 collapses to a
  * metadata commit and step 2's output is referenced, not re-copied; with
  * plain parquet directories the publish pass re-writes the compacted
  * bytes once more — the documented cost of exactly-once without a log.
  */
object Compaction {

  /** Invert Hive/Spark path escaping (`%xx` per special char, the
    * ExternalCatalogUtils convention): directory names carry the ESCAPED
    * partition value, but joins against the real column and the gate's
    * report must use the actual value ('page view', not 'page%20view') —
    * without this, any partition value containing a space/%/: drops every
    * row of that partition from the rewrite and aborts the cycle. */
  private[graft] def unescapePathName(s: String): String = {
    val out = new StringBuilder(s.length)
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == '%' && i + 2 < s.length) {
        val hex = s.substring(i + 1, i + 3)
        val v = try Integer.parseInt(hex, 16) catch { case _: NumberFormatException => -1 }
        if (v >= 0) { out.append(v.toChar); i += 3 }
        else { out.append(c); i += 1 }
      } else { out.append(c); i += 1 }
    }
    out.toString
  }

  /** Per-partition layout stats from a filesystem listing (metadata-only,
    * no data scan): (partition value, n_files, bytes). Hive-style single
    * partition column (`col=value` directories); values are UNESCAPED to
    * the real column values. */
  def layoutStats(spark: SparkSession, table: String, partCol: String): Seq[(String, Int, Long)] = {
    val root = new Path(table)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.listStatus(root)
      .filter(s => s.isDirectory && s.getPath.getName.startsWith(s"$partCol="))
      .map { d =>
        val files = fs.listStatus(d.getPath)
          .filter(f => f.isFile && !f.getPath.getName.startsWith("_"))
        (unescapePathName(d.getPath.getName.stripPrefix(s"$partCol=")),
          files.length, files.map(_.getLen).sum)
      }
      .toSeq
      .sortBy(_._1)
  }

  /** Order-free per-partition content fingerprint: COUNT + bit_xor of a
    * full-row hash (xor, not sum: overflow-free under ANSI, still
    * order-free; a dropped-AND-duplicated row pair cancelling is ruled
    * out by the row count riding alongside). Engine-internal (gate only,
    * never oracled), so the codegen'd xxhash64 is the right tool. */
  private def contentSummary(df: DataFrame, partCol: String): DataFrame = {
    df.groupBy(col(partCol))
      .agg(count(lit(1)).as("n_rows"),
        expr(s"bit_xor(xxhash64(${df.columns.sorted.map(c => s"`$c`").mkString(", ")}))")
          .as("content_sum"))
  }

  /** Run the full cycle; returns the per-partition report
    * (partition, n_files_before, bytes_before, target_files,
    * n_files_after, rows_unchanged, content_unchanged). Throws — without
    * publishing — if the staged rewrite fails the content gate. */
  def compactAndPublish(spark: SparkSession, table: String, partCol: String,
      bucketKey: String, targetFileBytes: Long, stagingDir: String): DataFrame = {
    import spark.implicits._
    require(targetFileBytes > 0, "targetFileBytes must be positive")
    val before = layoutStats(spark, table, partCol)
    require(before.nonEmpty, s"no $partCol= partitions under $table")
    val targets = before
      .map { case (v, _, bytes) =>
        v -> math.max(1L, (bytes + targetFileBytes - 1) / targetFileBytes)
      }
    val totalTargets = targets.map(_._2).sum

    // 2. Rewrite: broadcast the tiny (partition -> target) plan back onto
    // the rows, bucket deterministically, cluster one shuffle wide enough
    // that same-partition buckets rarely collide (collisions only merge).
    val planDf = broadcast(targets.toDF(partCol, "n_target"))
    val src = spark.read.parquet(table)
    src
      .join(planDf, Seq(partCol))
      .withColumn("bucket", pmod(xxhash64(col(bucketKey)), col("n_target")))
      .repartition((totalTargets * 4).toInt, col(partCol), col("bucket"))
      .drop("n_target", "bucket")
      .write.partitionBy(partCol).mode("overwrite").parquet(stagingDir)

    // 3. Gate: staged content must equal the source exactly, per partition.
    val gate = contentSummary(src, partCol).as("a")
      .join(contentSummary(spark.read.parquet(stagingDir), partCol).as("b"), Seq(partCol), "full")
      .select(col(partCol),
        (col("a.n_rows") <=> col("b.n_rows")).as("rows_ok"),
        (col("a.content_sum") <=> col("b.content_sum")).as("content_ok"))
      .collect()
      .map(r => r.getString(0) -> (r.getBoolean(1), r.getBoolean(2)))
      .toMap
    val bad = gate.filter { case (_, (r, c)) => !r || !c }
    require(bad.isEmpty,
      s"staged compaction failed the content gate for partitions ${bad.keys.toSeq.sorted}; NOT publishing")

    // 4. Publish: dynamic partition overwrite — only staged partitions
    // swap, atomically per partition.
    spark.read.parquet(stagingDir)
      .write.partitionBy(partCol).mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .parquet(table)

    val after = layoutStats(spark, table, partCol).map(s => s._1 -> s._2).toMap
    before
      .map { case (v, nf, bytes) =>
        (v, nf, bytes, targets.toMap.apply(v), after(v),
          gate(v)._1, gate(v)._2)
      }
      .toDF(partCol, "n_files_before", "bytes_before", "target_files",
        "n_files_after", "rows_unchanged", "content_unchanged")
  }
}
