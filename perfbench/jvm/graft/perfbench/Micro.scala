package graft.perfbench

import java.nio.file.{Path, Paths}

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.functions._
import graft.graph.RegMaxAggregator
import graft.operators.{Filters, GlobalRank, PrefixSum}
import graft.similarity.Ann
import graft.streaming.StreamPipeline

/** Fixed-input microbenchmarks of single layers, run only in the traced
  * run: every `functions/` expression family, the typed top-k and
  * register-max aggregators, `GlobalRank.rowNumber`, `PrefixSum`, the
  * Parse/Filters front of the ingest pipeline, one routed sink write and a
  * six-batch ingest stream.
  *
  * Each input is built and cached before timing, so a call times the
  * primitive plus a scan of cached rows. A call is warmed once, timed
  * three times, and its median is reported. Inputs come from a fixed-seed
  * data set, not from the workload seed, and the suite does not depend on
  * the workload: every traced run of every workload measures the same
  * work. */
final class Micro(spark: SparkSession, dir: String, poolDir: String, workDir: Path,
    probe: Probe, trace: Trace) {
  import spark.implicits._

  val results = mutable.LinkedHashMap.empty[String, Double]
  /** The stream whose per-trigger phases and outputs give `stream.*`. */
  val stream = new IngestStream(spark, Main.listParquet(Paths.get(poolDir)),
    workDir.resolve("micro_stream"), probe, trace)
  private val root = trace.add(0, "micro", "micro", System.nanoTime(), System.nanoTime())
  private val cached = mutable.ArrayBuffer.empty[DataFrame]

  private def cache(df: DataFrame): DataFrame = {
    val c = df.persist(StorageLevel.MEMORY_ONLY)
    c.write.format("noop").mode("overwrite").save()
    cached += c
    c
  }

  /** Median seconds of three timed calls after one warm-up call. */
  private def time(name: String)(body: => Unit): Double = {
    body
    val ts = (1 to 3).map { _ =>
      val t0 = System.nanoTime()
      body
      val t1 = System.nanoTime()
      trace.add(root, name, "micro", t0, t1)
      (t1 - t0) / 1e9
    }.sorted
    ts(1)
  }

  private def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  private def rate(metric: String, rows: Long)(df: => DataFrame): Unit =
    results(metric) = rows / time(metric)(noop(df))

  private def matrix(r: scala.util.Random, rows: Int, cols: Int): Array[Array[Double]] =
    Array.fill(rows, cols)(r.nextGaussian())

  def run(cores: Int): Unit = {
    val reps = 40L
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val copies = spark.range(reps).toDF("copy")
    val tokens = cache(docs.crossJoin(copies)
      .select((col("doc_id") * reps + col("copy")).as("id"), col("text"),
        split(col("text"), " ").as("tokens"))
      .repartition(cores))
    val nTok = tokens.count()
    val hashes = cache(tokens.select(col("id"),
      PortableHashFunctions.md5_token_hashes(col("tokens"), 60).as("h60"),
      array_sort(array_distinct(PortableHashFunctions.md5_token_hashes(col("tokens"), 31))).as("h31")))
    val pairs = cache(hashes.as("a").join(hashes.as("b"), col("b.id") === col("a.id") + 1)
      .select(col("a.h31").as("x"), col("b.h31").as("y")))
    val nPairs = pairs.count()

    rate("fn.minhash_signature.rows_per_s", nTok)(
      tokens.select(MinHashFunctions.minhash_signature(col("tokens"), 16, 4, 42L)))
    rate("fn.minhash_band_keys.rows_per_s", nTok)(
      tokens.select(MinHashFunctions.minhash_band_keys(col("tokens"), 16, 4, 42L)))
    rate("fn.md5_token_hashes.rows_per_s", nTok)(
      tokens.select(PortableHashFunctions.md5_token_hashes(col("tokens"), 31)))
    rate("fn.rolling_fingerprint.rows_per_s", nTok)(
      tokens.select(PortableHashFunctions.rolling_fingerprint(col("tokens"))))
    rate("fn.word_ngrams.rows_per_s", nTok)(
      tokens.select(NgramFunctions.word_ngrams(col("tokens"), 3)))
    rate("fn.simhash64.rows_per_s", nTok)(
      hashes.select(VectorFunctions.simhash64(col("h60"))))
    rate("fn.sorted_intersect.rows_per_s", nPairs)(
      pairs.select(VectorFunctions.sorted_intersect_size(col("x"), col("y"))))
    rate("fn.bpe_doc_symbols.rows_per_s", nTok)(
      tokens.select(BpeFunctions.bpe_doc_symbols(col("text"), Micro.merges)))

    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    val vecs = cache(emb.crossJoin(copies)
      .select((col("vec_id") * reps + col("copy")).as("id"), col("embedding").as("v"))
      .repartition(cores))
    val nVec = vecs.count()
    val r = new scala.util.Random(7L)
    val planes = Array.fill(8)(matrix(r, 12, 64))
    val centroids = matrix(r, 64, 64)
    val books = Array.fill(8)(matrix(r, 16, 8))
    val vpairs = cache(vecs.as("a").join(vecs.as("b"), col("b.id") === col("a.id") + 1)
      .select(col("a.v").as("x"), col("b.v").as("y"),
        PqFunctions.pq_encode(col("b.v"), books).as("enc")))
    val nVp = vpairs.count()
    rate("fn.cosine.rows_per_s", nVp)(
      vpairs.select(VectorFunctions.cosine_sim(col("x"), col("y"))))
    rate("fn.hyperplane_buckets.rows_per_s", nVec)(
      vecs.select(HyperplaneFunctions.hyperplane_buckets(col("v"), planes)))
    rate("fn.nearest_cells.rows_per_s", nVec)(
      vecs.select(IvfFunctions.nearest_cells(col("v"), centroids, 4)))
    rate("fn.pq_encode.rows_per_s", nVec)(
      vecs.select(PqFunctions.pq_encode(col("v"), books)))
    rate("fn.pq_adc.rows_per_s", nVp)(
      vpairs.select(PqFunctions.pq_adc_dist(col("x"), col("enc"), books)))

    val events = spark.read.parquet(s"$dir/events.parquet")
    val rows = cache(events.crossJoin(spark.range(20).toDF("copy"))
      .select((col("event_id") * 20 + col("copy")).as("id"), col("user_id"),
        col("value"), (xxhash64(col("event_id"), col("copy")) % 1000).cast("double").as("score"))
      .repartition(cores))
    val nRows = rows.count()
    rate("op.global_rank.rows_per_s", nRows)(
      GlobalRank.rowNumber(rows, Seq(col("score"), col("id")), "rn"))
    rate("op.prefix_sum.rows_per_s", nRows)(
      PrefixSum.runningSum(rows, Seq("user_id"), Seq("id"), "value",
        floor(col("id") / 4096), "rs"))
    rate("agg.topk.rows_per_s", nRows)(
      rows.select(col("user_id"), col("id"), col("score")).as[(Long, Long, Double)]
        .groupByKey(_._1).mapValues(x => (x._2, x._3))
        .agg(new Ann.TopKAggregator(10).toColumn).toDF())
    val regs = cache(rows.select(col("user_id"),
      expr("unhex(substr(repeat(sha2(cast(id as string), 256), 2), 1, 128))").as("reg")))
    rate("agg.regmax.rows_per_s", nRows)(
      regs.as[(Long, Array[Byte])].groupByKey(_._1).mapValues(_._2)
        .agg(new RegMaxAggregator(64).toColumn).toDF())

    val frames = cache(spark.read.schema(graft.model.EventModel.kafkaValueSchema)
      .parquet(s"$poolDir/*.parquet").repartition(cores))
    rate("parse_filter.rows_per_s", frames.count())(
      StreamPipeline.extractValidEventsObserved(frames))
    val valid = cache(StreamPipeline.extractValidEvents(frames))
    var batchId = 0L
    results("sink_write_ms") = 1000 * time("sink_write") {
      StreamPipeline.writeRoutedBatch(valid, batchId, workDir.resolve("micro_sink").toString,
        Filters.classifyEventGen2(col("event_type")))
      batchId += 1
    }
    cached.foreach(_.unpersist(blocking = true))

    stream.start()
    (1 to 6).foreach(i => stream.next(if (i == 1) "cold" else "timed", traced = false, 0))
    stream.stop()
    trace.end(root, System.nanoTime())
  }
}

object Micro {
  /** A fixed BPE merge list: every prefix merge of the corpus vocabulary. */
  val merges: Seq[(String, String)] =
    ("spark window merge table column vector stream value data small join filter big " +
      "group hash customer sort order slow line part fast row the agg key query scan batch")
      .split(" ").toSeq.flatMap { w =>
        (1 until w.length).map(i => (w.take(i), w.substring(i, i + 1)))
      }.distinct
}
