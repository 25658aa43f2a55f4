package graft

import org.apache.spark.sql.AnalysisException
import org.scalatest.funsuite.AnyFunSuite

/** `Tables` resolves each table's schema once per session: later reads of
  * the same files start no schema-inference job, while a table rewritten
  * in place is read with its new schema and rows, and a missing table
  * fails as `spark.read.parquet` does. */
class TablesCatalogSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  private val d = TestSpark.SfDir

  test("a resolved table is read again without a Spark job") {
    // events first: it sets the nanos conf, which is part of every key.
    Tables.events(spark, d)
    Tables.documents(spark, d)
    val (docs, docJobs) = TestSpark.jobsStartedBy(Tables.documents(spark, d))
    val (_, eventJobs) = TestSpark.jobsStartedBy(Tables.events(spark, d))
    assert(docJobs == 0, s"Tables.documents started $docJobs jobs after resolution")
    assert(eventJobs == 0, s"Tables.events started $eventJobs jobs after resolution")
    val inferred = spark.read.parquet(s"$d/documents.parquet")
    assert(docs.schema == inferred.schema)
    assert(docs.exceptAll(inferred).isEmpty && inferred.exceptAll(docs).isEmpty)
  }

  test("checking a resolved table's files forks no process") {
    Tables.documents(spark, d)
    val (_, commands) = TestSpark.processesStartedBy(Tables.documents(spark, d))
    assert(commands.isEmpty, s"forked: ${commands.mkString("; ")}")
  }

  test("a new session resolves its tables once of its own") {
    val s = spark.newSession()
    val (_, first) = TestSpark.jobsStartedBy(Tables.documents(s, d))
    val (_, again) = TestSpark.jobsStartedBy(Tables.documents(s, d))
    assert(first >= 1 && again == 0, s"first=$first again=$again")
  }

  test("a table rewritten in place is read with its new schema and rows") {
    TestSpark.withTempDir("graft_tables_spec") { dir =>
      import spark.implicits._
      val path = s"$dir/docs.parquet"
      Seq((1L, "a"), (2L, "b")).toDF("doc_id", "text").write.parquet(path)
      val v1 = Tables.load(spark, dir, "docs")
      assert(v1.columns.toSeq == Seq("doc_id", "text"))
      assert(v1.as[(Long, String)].collect().toSet == Set((1L, "a"), (2L, "b")))

      Seq((10L, "x", 7), (11L, "y", 8), (12L, "z", 9)).toDF("doc_id", "text", "extra")
        .write.mode("overwrite").parquet(path)
      val v2 = Tables.load(spark, dir, "docs")
      assert(v2.columns.toSeq == Seq("doc_id", "text", "extra"))
      assert(v2.as[(Long, String, Int)].collect().toSet ==
        Set((10L, "x", 7), (11L, "y", 8), (12L, "z", 9)))
      val (_, jobs) = TestSpark.jobsStartedBy(Tables.load(spark, dir, "docs"))
      assert(jobs == 0, s"the rewritten table resolved again: $jobs jobs")
    }
  }

  test("a missing table throws the same AnalysisException, and resolves once it exists") {
    TestSpark.withTempDir("graft_tables_spec") { dir =>
      val expected = intercept[AnalysisException](spark.read.parquet(s"$dir/late.parquet"))
      val thrown = intercept[AnalysisException](Tables.load(spark, dir, "late"))
      assert(thrown.getCondition == expected.getCondition)
      assert(thrown.getMessage == expected.getMessage)
      spark.range(3).toDF("id").write.parquet(s"$dir/late.parquet")
      assert(Tables.load(spark, dir, "late").count() == 3)
    }
  }

  test("eventsStream starts no inference job once events is resolved") {
    Tables.events(spark, d)
    val (stream, jobs) = TestSpark.jobsStartedBy(Tables.eventsStream(spark, d))
    assert(stream.isStreaming)
    assert(jobs == 0, s"Tables.eventsStream started $jobs jobs")
  }
}
