package graft.tools

import org.apache.spark.sql.SparkSession

/** K5 Hive-catalog parity check (reference README.md:363–367, 394–410: the
  * reference lands external tables in a thrift Hive metastore for Presto).
  * The main query surface uses Spark's built-in catalog — functionally
  * equivalent — but a real migration ALSO needs the HiveExternalCatalog
  * path exercised: this main builds a hive-enabled session (embedded
  * Derby metastore — same `enableHiveSupport()` code path as a thrift
  * deployment, minus the network), registers the reference-shaped external
  * table over parquet, creates a managed table, and verifies both resolve
  * through the Hive catalog with correct counts.
  *
  * A standalone main (not a ScalaTest): `catalogImplementation` is fixed
  * at SparkContext/SharedState creation, so it cannot be toggled inside
  * the shared test JVM. Run:
  *   sbt "runMain graft.tools.HiveCheck /root/testdata/sf0.001"
  * — prints `[hivecheck] ... OK` lines; non-zero exit on any mismatch.
  */
object HiveCheck {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.001"
    val base = java.nio.file.Files.createTempDirectory("graft_hive").toString
    val spark = SparkSession.builder()
      .master("local[4]")
      .appName("graft-hivecheck")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", s"$base/warehouse")
      .config("javax.jdo.option.ConnectionURL",
        s"jdbc:derby:;databaseName=$base/metastore_db;create=true")
      .enableHiveSupport()
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    try {
      require(
        spark.conf.get("spark.sql.catalogImplementation") == "hive",
        "session is not hive-backed")

      // K5: external table over existing parquet (the reference's
      // create-external-table-then-query-from-Presto shape).
      spark.sql("DROP TABLE IF EXISTS lineitem_ext")
      spark.sql(
        s"""CREATE EXTERNAL TABLE lineitem_ext
           |USING parquet LOCATION '$sfDir/lineitem.parquet'""".stripMargin)
      val extCount = spark.sql("SELECT COUNT(*) FROM lineitem_ext").head().getLong(0)
      val directCount = graft.Tables.lineitem(spark, sfDir).count()
      require(extCount == directCount && extCount > 0,
        s"external table count $extCount != direct $directCount")
      println(s"[hivecheck] external table through HiveExternalCatalog: $extCount rows OK")

      // Managed table in the hive warehouse + catalog round-trip.
      spark.sql("DROP TABLE IF EXISTS flag_counts")
      spark.sql(
        """CREATE TABLE flag_counts USING parquet AS
          |SELECT l_returnflag, COUNT(*) AS n FROM lineitem_ext GROUP BY l_returnflag""".stripMargin)
      val flags = spark.sql("SELECT COUNT(*) FROM flag_counts").head().getLong(0)
      require(flags > 0, "managed table empty")
      val tables = spark.sql("SHOW TABLES").collect().map(_.getString(1)).toSet
      require(tables.contains("lineitem_ext") && tables.contains("flag_counts"),
        s"catalog listing missing tables: $tables")
      println(s"[hivecheck] managed CTAS + SHOW TABLES via hive catalog: $flags flag rows OK")
      println("[hivecheck] OK")
    } finally {
      spark.stop()
    }
  }
}
