package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.similarity.{IvfPqIndex, Pq}

/** Committed IVFPQ layout: searches from the committed codes must equal the
  * rebuild-per-run path bit-for-bit; a complete layout is re-served (never
  * rebuilt) for an unchanged corpus; a changed corpus changes the tag and
  * forces a rebuild; the code scan prunes to the probed cells. */
class IvfPqIndexSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def embs = Tables.embeddings(spark, TestSpark.SfDir)
  private def queries = embs.filter(col("vec_id") % 50 === 0)

  private def rows(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getDouble(3))).toSet

  test("committed search is bit-identical to the rebuild-per-run path") {
    val idx = IvfPqIndex.ensure(spark, embs, "vec_id", "embedding")
    val committed = IvfPqIndex.search(spark, idx, queries, "vec_id", "embedding", k = 10)
    val rebuilt = Pq.ivfPqTopKResidual(spark, queries, embs, "vec_id", "embedding", k = 10)
    assert(rows(committed) == rows(rebuilt))
  }

  test("unchanged corpus: a complete layout is re-served, not rebuilt") {
    val idx = IvfPqIndex.ensure(spark, embs, "vec_id", "embedding")
    // Plant a marker inside the layout dir: a rebuild deletes the dir, so
    // marker survival proves the re-register path never rewrote anything.
    val marker = new java.io.File(new java.net.URI(s"${idx.location}/MARKER"))
    marker.createNewFile()
    IvfPqIndex.dropCachedLayouts(spark) // simulate a fresh JVM
    val again = IvfPqIndex.ensure(spark, embs, "vec_id", "embedding")
    assert(again.location == idx.location)
    assert(marker.exists(), "layout was rebuilt despite an unchanged corpus")
    assert(rows(IvfPqIndex.search(spark, again, queries, "vec_id", "embedding", k = 10)) ==
      rows(Pq.ivfPqTopKResidual(spark, queries, embs, "vec_id", "embedding", k = 10)))
    marker.delete()
  }

  test("corpus change at the same path re-tags and rebuilds the index") {
    TestSpark.withTempDir("graft_ivfpq_stale") { dir =>
      val corpusPath = s"$dir/corpus"
      embs.write.parquet(corpusPath)
      val v1 = spark.read.parquet(corpusPath)
      val idx1 = IvfPqIndex.ensure(spark, v1, "vec_id", "embedding")

      // Rewrite the corpus IN PLACE (drop 1/7 of the vectors): same path,
      // different backing files — the metadata signature must change.
      val staged = s"$dir/staged"
      v1.filter(col("vec_id") % 7 =!= 0).write.parquet(staged)
      def rmrf(p: java.nio.file.Path): Unit = {
        java.nio.file.Files.walk(p).sorted(java.util.Comparator.reverseOrder())
          .forEach(f => java.nio.file.Files.delete(f))
      }
      rmrf(java.nio.file.Paths.get(corpusPath))
      java.nio.file.Files.move(java.nio.file.Paths.get(staged),
        java.nio.file.Paths.get(corpusPath))

      val v2 = spark.read.parquet(corpusPath)
      val idx2 = IvfPqIndex.ensure(spark, v2, "vec_id", "embedding")
      assert(idx2.location != idx1.location,
        "changed corpus content must resolve to a different layout tag")
      // And the rebuilt index serves the NEW corpus exactly.
      val q2 = v2.filter(col("vec_id") % 50 === 0)
      assert(rows(IvfPqIndex.search(spark, idx2, q2, "vec_id", "embedding", k = 10)) ==
        rows(Pq.ivfPqTopKResidual(spark, q2, v2, "vec_id", "embedding", k = 10)))
    }
  }

  test("frozen-quantizer append: delta committed once, searched, replay-safe") {
    val base = embs.filter(col("vec_id") % 4 =!= 3)
    val delta = embs.filter(col("vec_id") % 4 === 3)
    val idx = IvfPqIndex.ensure(spark, base, "vec_id", "embedding")
    // The filtered base shares files with the full corpus — the layout tag
    // must still be its own (the full-corpus layout would carry the delta
    // vectors already encoded).
    assert(idx.location != IvfPqIndex.ensure(spark, embs, "vec_id", "embedding").location)

    IvfPqIndex.append(spark, idx, delta, "vec_id", "embedding")
    def codeCount() = IvfPqIndex.codeSegments(spark, idx)
      .map(seg => spark.read.parquet(seg).count()).sum
    val afterFirst = codeCount()
    assert(afterFirst == embs.filter(col("embedding").isNotNull).count(),
      "base segment + delta segment must cover the combined corpus exactly once")
    // Replay: the same delta re-appends to the SAME committed segment.
    IvfPqIndex.append(spark, idx, delta, "vec_id", "embedding")
    assert(codeCount() == afterFirst, "re-appending an identical delta must be a no-op")

    // The appended index genuinely serves delta vectors: some query's
    // top-k contains a % 4 == 3 neighbor (1/4 of the corpus — vacuity
    // here would mean the segments aren't searched).
    val got = IvfPqIndex.search(spark, idx, queries, "vec_id", "embedding", k = 10)
    assert(got.filter(col("neighbor_id") % 4 === 3).count() > 0,
      "no delta neighbor in any top-k: appended segments not searched")
  }

  test("an empty delta commits nothing and leaves search intact") {
    val base = embs.filter(col("vec_id") % 4 =!= 3)
    val idx = IvfPqIndex.ensure(spark, base, "vec_id", "embedding")
    val before = IvfPqIndex.codeSegments(spark, idx)
    IvfPqIndex.append(spark, idx, embs.filter(col("vec_id") < -1), "vec_id", "embedding")
    assert(IvfPqIndex.codeSegments(spark, idx) == before,
      "an empty delta must not commit a segment (a part-file-less parquet " +
        "dir fails schema inference on every later search)")
    assert(IvfPqIndex.search(spark, idx, queries, "vec_id", "embedding", k = 5).count() > 0)
  }

  test("a partial delta segment (no _SUCCESS) is re-encoded, not served") {
    val base = embs.filter(col("vec_id") % 4 =!= 3)
    val delta = embs.filter(col("vec_id") % 4 === 3)
    val idx = IvfPqIndex.ensure(spark, base, "vec_id", "embedding")
    IvfPqIndex.append(spark, idx, delta, "vec_id", "embedding")
    val seg = IvfPqIndex.codeSegments(spark, idx).find(_.contains("delta_")).get
    val success = new java.io.File(new java.net.URI(s"$seg/_SUCCESS"))
    assert(success.exists())
    // Sabotage: drop the commit marker — the segment must vanish from the
    // search surface, and the next append must rebuild it whole.
    success.delete()
    assert(!IvfPqIndex.codeSegments(spark, idx).exists(_.contains("delta_")),
      "an uncommitted segment must not be served")
    IvfPqIndex.append(spark, idx, delta, "vec_id", "embedding")
    assert(IvfPqIndex.codeSegments(spark, idx).exists(_.contains("delta_")))
    assert(IvfPqIndex.codeSegments(spark, idx)
      .map(seg => spark.read.parquet(seg).count()).sum ==
      embs.filter(col("embedding").isNotNull).count())
  }

  test("overlapping deltas do not double-encode: content idempotence, not just tag idempotence") {
    val base = embs.filter(col("vec_id") % 4 =!= 3)
    val idx = IvfPqIndex.ensure(spark, base, "vec_id", "embedding")
    IvfPqIndex.append(spark, idx, embs.filter(col("vec_id") % 4 === 3), "vec_id", "embedding")
    // A SUBSET of the first delta under a different plan → different
    // segment tag; its vectors are already committed and must be skipped.
    IvfPqIndex.append(spark, idx, embs.filter(col("vec_id") % 8 === 3), "vec_id", "embedding")
    val ids = IvfPqIndex.codeSegments(spark, idx)
      .map(seg => spark.read.parquet(seg).select("neighbor_id"))
      .reduce(_.unionByName(_))
    assert(ids.count() == ids.distinct().count(),
      "a vector was encoded into two segments; top-k would carry duplicate neighbors")
  }

  test("vacuum deletes unkept layouts and keeps the served one") {
    val idx = IvfPqIndex.ensure(spark, embs, "vec_id", "embedding")
    val keepTag = new org.apache.hadoop.fs.Path(idx.location).getName.stripPrefix("graft_ivfpq_")
    // Plant a fake stale layout.
    val wh = spark.conf.get("spark.sql.warehouse.dir")
    val stale = new java.io.File(new java.net.URI(s"$wh/graft_ivfpq_deadbeef00000000"))
    stale.mkdirs()
    val deleted = IvfPqIndex.vacuum(spark, keepTags = Set(keepTag))
    assert(deleted.contains("graft_ivfpq_deadbeef00000000"))
    assert(!stale.exists())
    // The kept layout still serves (no rebuild, search works).
    assert(IvfPqIndex.search(spark, idx, queries, "vec_id", "embedding", k = 5).count() > 0)
  }

  /** Remove any prior run's copy of a variant layout: these persist across
    * JVMs WITH their tombstones, and the delete tests need a pre-delete
    * "before" state. */
  private def freshVariant(variant: String): IvfPqIndex.Committed = {
    val p = IvfPqIndex.Params(variant = variant)
    val tag = IvfPqIndex.layoutTag(spark, embs, p)
    val loc = new org.apache.hadoop.fs.Path(
      spark.conf.get("spark.sql.warehouse.dir"), s"graft_ivfpq_$tag")
    loc.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(loc, true)
    IvfPqIndex.dropCachedLayouts(spark)
    IvfPqIndex.ensure(spark, embs, "vec_id", "embedding", p)
  }

  test("tombstone delete: deleted ids vanish from search; pristine layout untouched") {
    val idx = freshVariant("del-spec")
    val before = rows(IvfPqIndex.search(spark, idx, queries, "vec_id", "embedding", k = 10))
    IvfPqIndex.delete(spark, idx,
      embs.filter(col("vec_id") % 7 === 3).select(col("vec_id")), "vec_id")
    val after = rows(IvfPqIndex.search(spark, idx, queries, "vec_id", "embedding", k = 10))
    assert(after.nonEmpty)
    assert(after.forall { case (_, n, _, _) => n % 7 != 3 }, "a tombstoned id surfaced")
    assert(before.exists { case (_, n, _, _) => n % 7 == 3 },
      "vacuous test: no pre-delete result would have been excluded")
    // Ranks stay contiguous per query after the exclusion.
    after.groupBy(_._1).foreach { case (q, rs) =>
      assert(rs.map(_._3).toSeq.sorted == (1 to rs.size), s"rank gap for query $q")
    }
    // The DEFAULT-variant layout over the same corpus shares no state.
    val pristine = IvfPqIndex.ensure(spark, embs, "vec_id", "embedding")
    assert(IvfPqIndex.tombstoneSegments(spark, pristine).isEmpty,
      "tombstones leaked into the default-variant layout")
  }

  test("overlapping tombstone batches: content idempotence, replay-safe") {
    val idx = freshVariant("del-spec2")
    val batch = embs.filter(col("vec_id") % 7 === 3).select(col("vec_id"))
    IvfPqIndex.delete(spark, idx, batch, "vec_id")
    val segs1 = IvfPqIndex.tombstoneSegments(spark, idx)
    // Replay of the identical batch: same tag → skipped, nothing new.
    IvfPqIndex.delete(spark, idx, batch, "vec_id")
    assert(IvfPqIndex.tombstoneSegments(spark, idx) == segs1)
    // A superset under a different plan → different tag; only the NEW ids
    // commit (content idempotence — no id tombstoned twice).
    IvfPqIndex.delete(spark, idx,
      embs.filter(col("vec_id") % 7 === 3 || col("vec_id") % 11 === 5)
        .select(col("vec_id")), "vec_id")
    val ids = IvfPqIndex.tombstoneSegments(spark, idx)
      .map(s => spark.read.parquet(s))
      .reduce(_.unionByName(_))
    assert(ids.count() == ids.distinct().count(), "an id was tombstoned twice")
    val out = rows(IvfPqIndex.search(spark, idx, queries, "vec_id", "embedding", k = 10))
    assert(out.forall { case (_, n, _, _) => n % 7 != 3 && n % 11 != 5 })
  }

  test("tombstones survive a cross-JVM re-register: a fresh ensure still excludes them") {
    val idx = freshVariant("del-spec3")
    IvfPqIndex.delete(spark, idx,
      embs.filter(col("vec_id") % 7 === 3).select(col("vec_id")), "vec_id")
    // Simulate a new JVM: forget loaded layouts, re-register from disk.
    IvfPqIndex.dropCachedLayouts(spark)
    val again = IvfPqIndex.ensure(spark, embs, "vec_id", "embedding",
      IvfPqIndex.Params(variant = "del-spec3"))
    assert(again.location == idx.location)
    val out = rows(IvfPqIndex.search(spark, again, queries, "vec_id", "embedding", k = 10))
    assert(out.nonEmpty && out.forall { case (_, n, _, _) => n % 7 != 3 },
      "a re-registered layout must still honor its committed tombstones")
  }

  test("tombstone write width scales with the delete batch (round-10 verdict #1)") {
    val idx = freshVariant("del-spec4")
    def partFiles(seg: String): Int = {
      val p = new org.apache.hadoop.fs.Path(seg)
      p.getFileSystem(spark.sparkContext.hadoopConfiguration)
        .listStatus(p).count(_.getPath.getName.startsWith("part-"))
    }
    // A small batch still lands one file (no gratuitous tiny files).
    IvfPqIndex.delete(spark, idx, spark.range(100).toDF("vec_id"), "vec_id")
    val segs1 = IvfPqIndex.tombstoneSegments(spark, idx)
    assert(segs1.size == 1 && partFiles(segs1.head) == 1)
    // A corpus-scale sweep (2·budget + 1 ids, disjoint from batch 1)
    // must write ⌈n/TombRowsPerFile⌉ = 3 files — never a single task.
    val n = IvfPqIndex.TombRowsPerFile * 2 + 1
    IvfPqIndex.delete(spark, idx,
      spark.range(1000000L, 1000000L + n).toDF("vec_id"), "vec_id")
    val seg2 = (IvfPqIndex.tombstoneSegments(spark, idx).toSet -- segs1).head
    assert(partFiles(seg2) == 3,
      s"expected 3 part files for a ${n}-row delete batch, got ${partFiles(seg2)}")
  }

  test("a layout with no tombstones plans no anti-join") {
    val idx = IvfPqIndex.ensure(spark, embs, "vec_id", "embedding")
    assert(IvfPqIndex.tombstoneSegments(spark, idx).isEmpty)
    val out = IvfPqIndex.search(spark, idx, queries, "vec_id", "embedding", k = 5)
    out.count()
    assert(!out.queryExecution.executedPlan.toString.contains("LeftAnti"),
      "pre-delete search must not pay a tombstone join")
  }

  test("code scan prunes to the probed cells") {
    val idx = IvfPqIndex.ensure(spark, embs, "vec_id", "embedding")
    val oneQuery = embs.filter(col("vec_id") === 0)
    val out = IvfPqIndex.search(spark, idx, oneQuery, "vec_id", "embedding", k = 5, nprobe = 1)
    assert(out.count() > 0)
    val plan = out.queryExecution.executedPlan.toString
    // e.g. "PartitionFilters: [isnotnull(cell#40), (cell#40 = 0)]"
    assert("PartitionFilters: \\[[^\\]]*cell".r.findFirstIn(plan).isDefined,
      s"code scan must carry a static partition filter on cell:\n$plan")
  }
}
