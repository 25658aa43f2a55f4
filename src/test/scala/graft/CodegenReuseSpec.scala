package graft

import org.apache.spark.sql.functions.{col, lit}
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.StreamPipeline

/** Generated code compiles once: a class the JVM already compiled is served
  * from Spark's codegen cache. Both tests read the compile counter, not
  * `spark.conf` — the conf can name a size the cache was never built with,
  * since Spark sizes the cache once per JVM. */
class CodegenReuseSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def compilesDuring(body: => Unit): Long = {
    val before = Engine.codegenCompiles
    body
    Engine.codegenCompiles - before
  }

  test("a projection re-run after 150 other generated classes compiles nothing") {
    // Each int literal is inlined into its projection's source, so every
    // query is a distinct class; Spark's default 100-entry cache would have
    // evicted the first one by the time it runs again.
    def query(i: Int) = spark.range(10).select(col("id") + lit(1000000 + i)).collect()
    val first = compilesDuring(query(0))
    assert(first >= 1, "the first projection compiled nothing; the check would be vacuous")
    (1 to 150).foreach(query)
    val again = compilesDuring(query(0))
    assert(again == 0, s"re-running the first projection compiled $again classes")
  }

  test("a micro-batch with a new batch id compiles no new classes") {
    import spark.implicits._
    TestSpark.withTempDir("graft_codegen_demux") { dir =>
      val batch = Seq(
        ("purchase_sword", "iron"), ("join_guild", "g"), ("other", ""))
        .toDF("event_type", "detail")
      val classify = graft.operators.Filters.classifyEvent(col("event_type"))
      StreamPipeline.writeRoutedBatch(batch, 7L, dir, classify)
      val next = compilesDuring(StreamPipeline.writeRoutedBatch(batch, 8L, dir, classify))
      assert(next == 0, s"the second batch compiled $next classes")
      val ids = spark.read.parquet(s"$dir/sword_purchases")
        .select("batch_id").distinct().as[Int].collect().sorted.toSeq
      assert(ids == Seq(7, 8))
    }
  }
}
