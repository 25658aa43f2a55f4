package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Compaction

/** Compaction cycle: the published layout must hit the file-count target,
  * never over-split, bound file sizes near the target, and preserve
  * content exactly — and the publish must be partition-scoped. */
class CompactionSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def withFragmented[T](filesPerPartition: Int)(f: String => T): T =
    TestSpark.withTempDir("graft_compact_spec") { work =>
      Tables.events(spark, TestSpark.SfDir)
        .repartition(filesPerPartition)
        .write.partitionBy("event_type").parquet(s"$work/t")
      f(s"$work/t")
    }

  test("compact to one file per partition: exact file count, content preserved") {
    withFragmented(16) { table =>
      val before = Compaction.layoutStats(spark, table, "event_type")
      assert(before.forall(_._2 > 1), s"fragmentation failed: $before")
      val srcSum = spark.read.parquet(table)
        .agg(count(lit(1)), expr("bit_xor(xxhash64(event_id, event_type))")).head()
      val report = Compaction.compactAndPublish(
        spark, table, "event_type", "event_id",
        targetFileBytes = 1L << 30, stagingDir = s"$table-staging").collect()
      assert(report.nonEmpty)
      report.foreach { r =>
        assert(r.getAs[Long]("target_files") == 1L)
        assert(r.getAs[Int]("n_files_after") == 1, r.toString)
        assert(r.getAs[Boolean]("rows_unchanged") && r.getAs[Boolean]("content_unchanged"))
      }
      val pubSum = spark.read.parquet(table)
        .agg(count(lit(1)), expr("bit_xor(xxhash64(event_id, event_type))")).head()
      assert(pubSum == srcSum)
    }
  }

  test("multi-file targets: never over-split, file sizes bounded by the target") {
    withFragmented(24) { table =>
      val stats = Compaction.layoutStats(spark, table, "event_type")
      // Pick a target that wants ~3 files for the largest partition.
      val target = math.max(stats.map(_._3).max / 3, 1L)
      val report = Compaction.compactAndPublish(
        spark, table, "event_type", "event_id",
        targetFileBytes = target, stagingDir = s"$table-staging").collect()
      val after = Compaction.layoutStats(spark, table, "event_type").map(s => s._1 -> s).toMap
      report.foreach { r =>
        val part = r.getString(0)
        val (_, nAfter, bytesAfter) = after(part)
        // Bucket collisions can only MERGE files, never split them.
        assert(nAfter <= r.getAs[Long]("target_files"), r.toString)
        assert(nAfter >= 1)
        // Compacted encoding is denser than the fragmented input, so files
        // average at or under ~2x target even when collisions merge.
        assert(bytesAfter.toDouble / nAfter <= 2.5 * target,
          s"$part: ${bytesAfter / nAfter} B/file vs target $target")
        assert(r.getAs[Boolean]("rows_unchanged") && r.getAs[Boolean]("content_unchanged"))
      }
    }
  }

  test("partition values with path-escaped characters compact correctly") {
    // Spark writes 'page view' as the directory 'event_type=page%20view';
    // the cycle must join/gate/report on the REAL value or the whole
    // partition's rows silently vanish from the rewrite and the gate
    // aborts a valid table.
    assert(Compaction.unescapePathName("page%20view") == "page view")
    assert(Compaction.unescapePathName("a%3Ab%25c") == "a:b%c")
    assert(Compaction.unescapePathName("plain") == "plain")
    assert(Compaction.unescapePathName("trail%2") == "trail%2") // not a full escape
    TestSpark.withTempDir("graft_compact_esc") { work =>
      Tables.events(spark, TestSpark.SfDir)
        .withColumn("event_type", concat(col("event_type"), lit(" x:y")))
        .repartition(6)
        .write.partitionBy("event_type").parquet(s"$work/t")
      val stats = Compaction.layoutStats(spark, s"$work/t", "event_type")
      assert(stats.forall(_._1.endsWith(" x:y")), s"values not unescaped: ${stats.map(_._1)}")
      val report = Compaction.compactAndPublish(
        spark, s"$work/t", "event_type", "event_id",
        targetFileBytes = 1L << 30, stagingDir = s"$work/staging").collect()
      assert(report.nonEmpty)
      report.foreach { r =>
        assert(r.getAs[Boolean]("rows_unchanged") && r.getAs[Boolean]("content_unchanged"), r.toString)
      }
    }
  }

  test("publish swaps only staged partitions (dynamic overwrite, not full truncate)") {
    withFragmented(4) { table =>
      // Plant a partition the staging will NOT contain; dynamic overwrite
      // must leave it in place.
      spark.read.parquet(table)
        .where(col("event_type") === "click")
        .withColumn("event_type", lit("zz_planted"))
        .write.partitionBy("event_type").mode("append").parquet(table)
      val planted = spark.read.parquet(table).where(col("event_type") === "zz_planted").count()
      assert(planted > 0)
      // Compact a COPY of the table without the planted partition, staged
      // into the same live table: only the staged partitions swap.
      val src = spark.read.parquet(table).where(col("event_type") =!= "zz_planted")
      TestSpark.withTempDir("graft_compact_par") { work =>
        src.write.partitionBy("event_type").parquet(s"$work/src")
        Compaction.compactAndPublish(
          spark, s"$work/src", "event_type", "event_id",
          targetFileBytes = 1L << 30, stagingDir = s"$work/staging")
        // The operator's own publish targets its table; emulate the same swap
        // into the LIVE table to assert partition-scoped semantics.
        val mode = spark.conf.getOption("spark.sql.sources.partitionOverwriteMode")
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
        try
          spark.read.parquet(s"$work/src")
            .write.partitionBy("event_type").mode("overwrite").parquet(table)
        finally mode match {
          case Some(m) => spark.conf.set("spark.sql.sources.partitionOverwriteMode", m)
          case None => spark.conf.unset("spark.sql.sources.partitionOverwriteMode")
        }
        assert(spark.read.parquet(table).where(col("event_type") === "zz_planted").count() == planted,
          "dynamic partition overwrite must not touch partitions absent from the write")
      }
    }
  }
}
