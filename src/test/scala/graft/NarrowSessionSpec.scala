package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite

import graft.analytics.Queries
import graft.streaming.StreamPipeline

/** `Engine.narrowSession` makes one child session per (parent,
  * state-store choice), with its confs set once at creation, so a stream
  * query constructed again on the same parent resolves nothing again. */
class NarrowSessionSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private val StateStore = "spark.sql.streaming.stateStore.providerClass"
  private val RocksDb =
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"

  test("the same parent and state-store choice get the same session") {
    val plain = Engine.narrowSession(spark)
    val rocks = Engine.narrowSession(spark, rocksDbState = true)
    assert(Engine.narrowSession(spark) eq plain)
    assert(Engine.narrowSession(spark, rocksDbState = true) eq rocks)
    assert((plain ne rocks) && (plain ne spark))
    assert(plain.sparkContext eq spark.sparkContext)
    assert(Engine.narrowSession(spark.newSession()) ne plain)
  }

  test("a narrow session is 4 wide, plans without AQE, reads nanos as long, and uses RocksDB only when asked") {
    for (rocks <- Seq(false, true)) {
      val s = Engine.narrowSession(spark, rocks)
      assert(s.conf.get("spark.sql.shuffle.partitions") == "4")
      assert(s.conf.get("spark.sql.adaptive.enabled") == "false")
      assert(s.conf.get("spark.sql.legacy.parquet.nanosAsLong") == "true")
      assert((s.conf.get(StateStore) == RocksDb) == rocks, s"rocksDbState=$rocks")
    }
    assert(spark.conf.get("spark.sql.adaptive.enabled") == "true")
    assert(spark.conf.get(StateStore) != RocksDb)
  }

  test("a second construction of a stream query starts no Spark job") {
    Queries.streamDedup(spark, TestSpark.SfDir)
    val (df, jobs) = TestSpark.jobsStartedBy(Queries.streamDedup(spark, TestSpark.SfDir))
    assert(jobs == 0, s"the second construction started $jobs jobs")
    assert(df.count() > 0)
  }

  test("a memory-sink name run twice on one narrow session leaves the first frame its own rows") {
    val s = Engine.narrowSession(spark)
    def run(xs: Int*) = {
      val ms = MemoryStream[Int](s)
      ms.addData(xs)
      StreamPipeline.runToMemory(s, ms.toDF(), "graft_narrow_spec")
    }
    val first = run(1, 2)
    val second = run(3)
    assert(first.as[Int].collect().toSet == Set(1, 2))
    assert(second.as[Int].collect().toSet == Set(3))
  }
}
