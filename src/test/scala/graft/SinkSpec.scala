package graft

import java.nio.file.Files
import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import graft.functions.SignalFunctions

/** S4/ST8 file sinks (exactly-once parquet, partitioned fact table) and
  * the remaining SURVEY §5.2 property checks (F3/F4 MAC bijection, A2
  * HLL sketch bounds). */
class SinkSpec extends SparkTestBase {
  import spark.implicits._

  private implicit def sqlCtx = spark.sqlContext

  private def ts(s: String) = Timestamp.valueOf(s)

  test("S4: streaming parquet sink appends a (obs_date, sensorId)-partitioned table") {
    val dir = Files.createTempDirectory("graft_sink").toString
    val in = MemoryStream[(Timestamp, String, Long)]
    val obs = in.toDF().toDF("ts", "mac", "sensorId")
    val q = graft.streaming.IngestPipeline.toParquet(
      obs, s"$dir/obs", s"$dir/ckpt").start()
    try {
      in.addData((ts("2026-01-01 10:00:00"), "A", 1L),
        (ts("2026-01-02 11:00:00"), "B", 2L))
      q.processAllAvailable()
      in.addData((ts("2026-01-01 12:00:00"), "C", 1L))
      q.processAllAvailable()
      val back = spark.read.parquet(s"$dir/obs")
      assert(back.count() == 3)
      // partition pruning: reading one (date, sensor) touches one dir
      val pruned = back.filter(col("obs_date") === "2026-01-01" && col("sensorId") === 1)
      assert(pruned.count() == 2)
      val dirs = new java.io.File(s"$dir/obs").listFiles().filter(_.isDirectory)
        .map(_.getName).filterNot(_ == "_spark_metadata")  // the sink's commit log
      assert(dirs.toSet == Set("obs_date=2026-01-01", "obs_date=2026-01-02"))
    } finally q.stop()
  }

  test("ST10: streaming MERGE sink keeps a current keyed store, replay-idempotent") {
    val dir = Files.createTempDirectory("graft_merge").toString
    val in = MemoryStream[(Long, String, Long, String, Long)]
    val changes = in.toDF().toDF("k", "op", "ver", "name", "v")
    val q = graft.streaming.MergeSink.mergeSink(changes,
      s"$dir/store", s"$dir/ckpt", "k", "op", "ver", Seq("name", "v")).start()
    try {
      in.addData((1L, "upsert", 1L, "a", 10L), (2L, "upsert", 1L, "b", 20L))
      q.processAllAvailable()
      in.addData((1L, "upsert", 2L, "a2", 11L), (2L, "delete", 2L, null, 0L),
        (3L, "upsert", 2L, "c", 30L))
      q.processAllAvailable()
      def store = graft.streaming.MergeSink
        .currentSnapshot(spark, s"$dir/store", "k", Seq("name", "v")).get
        .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
      assert(store == Set((1L, "a2", 11L), (3L, "c", 30L)))
      // crash-replay interleaving 1: _latest already swapped — replaying
      // the batch is a pure no-op (version dirs are immutable once the
      // pointer has passed them)
      val batch1 = Seq((1L, "upsert", 2L, "a2", 11L),
        (2L, "delete", 2L, null.asInstanceOf[String], 0L),
        (3L, "upsert", 2L, "c", 30L)).toDF("k", "op", "ver", "name", "v")
      graft.streaming.MergeSink.applyBatch(batch1, 1L, s"$dir/store",
        "k", "op", "ver", Seq("name", "v"))
      assert(store == Set((1L, "a2", 11L), (3L, "c", 30L)),
        "replaying a committed batch must be a no-op")
      // crash-replay interleaving 2: crash BEFORE the swap — pointer
      // still at v0, v1 partially/fully written; the replay re-derives
      // v1 from v0 and swaps, converging to the same store. A pre-swap
      // crash also means _lastBatch never advanced — reset both.
      Files.write(java.nio.file.Paths.get(s"$dir/store", "_latest"),
        "0".getBytes)
      Files.write(java.nio.file.Paths.get(s"$dir/store", "_lastBatch"),
        "0".getBytes)
      graft.streaming.MergeSink.applyBatch(batch1, 1L, s"$dir/store",
        "k", "op", "ver", Seq("name", "v"))
      assert(store == Set((1L, "a2", 11L), (3L, "c", 30L)),
        "replay from the pre-swap state must converge to the same store")
    } finally q.stop()
  }

  test("ST10: a second writer racing on _latest fails loudly, never clobbers") {
    val dir = Files.createTempDirectory("graft_merge_race").toString
    val store = s"$dir/store"
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(store))
    def snap = graft.streaming.MergeSink
      .currentSnapshot(spark, store, "k", Seq("name", "v")).get
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    val b0 = Seq((1L, "upsert", 1L, "a", 10L)).toDF("k", "op", "ver", "name", "v")
    graft.streaming.MergeSink.applyBatch(b0, 0L, store, "k", "op", "ver", Seq("name", "v"))
    assert(snap == Set((1L, "a", 10L)))
    // both writers read _latest = 0; writer A commits v1 first
    val bA = Seq((2L, "upsert", 2L, "b", 20L)).toDF("k", "op", "ver", "name", "v")
    graft.streaming.MergeSink.applyBatchFrom(Some(0L), bA, 1L, store,
      "k", "op", "ver", Seq("name", "v"))
    assert(snap == Set((1L, "a", 10L), (2L, "b", 20L)))
    // writer B still holds the stale parent v0: its swap of v2 would
    // silently drop A's key 2 — the CAS guard must refuse instead
    val bB = Seq((3L, "upsert", 2L, "c", 30L)).toDF("k", "op", "ver", "name", "v")
    val e = intercept[java.util.ConcurrentModificationException] {
      graft.streaming.MergeSink.applyBatchFrom(Some(0L), bB, 2L, store,
        "k", "op", "ver", Seq("name", "v"))
    }
    assert(e.getMessage.contains("lost update"), e.getMessage)
    // store unharmed: A's commit is intact, B's never became visible
    assert(snap == Set((1L, "a", 10L), (2L, "b", 20L)))
    // B retries from the CURRENT parent and succeeds (marker withdrawn)
    graft.streaming.MergeSink.applyBatchFrom(Some(1L), bB, 2L, store,
      "k", "op", "ver", Seq("name", "v"))
    assert(snap == Set((1L, "a", 10L), (2L, "b", 20L), (3L, "c", 30L)))
    // crash-replay of an UNswapped commit still converges: same batch,
    // same parent, marker already present with a matching parent
    Files.write(java.nio.file.Paths.get(store, "_latest"), "1".getBytes)
    graft.streaming.MergeSink.applyBatchFrom(Some(1L), bB, 2L, store,
      "k", "op", "ver", Seq("name", "v"))
    assert(snap == Set((1L, "a", 10L), (2L, "b", 20L), (3L, "c", 30L)))
  }

  test("ST10 bucketed store: only touched buckets rewrite, untouched stay on their old version") {
    import graft.streaming.MergeSink
    val dir = Files.createTempDirectory("graft_merge_bucketed").toString
    val store = s"$dir/store"
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(store))
    val vcols = Seq("name", "v")
    def bucketOf(k: Long): Long = spark.range(1)
      .select(pmod(xxhash64(lit(k)), lit(4L))).head().getLong(0)
    def snap = MergeSink.currentBucketedSnapshot(spark, store).get
      .select("k", "name", "v").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    // batch 0 seeds 8 keys across the 4 buckets
    val seed = (1L to 8L).map(k => (k, "upsert", 1L, s"n$k", k * 10L))
    MergeSink.applyBucketedBatch(seed.toDF("k", "op", "ver", "name", "v"),
      0L, store, "k", "op", "ver", vcols, nBuckets = 4)
    assert(snap == (1L to 8L).map(k => (k, s"n$k", k * 10L)).toSet)
    // batch 1 touches exactly the buckets of keys 1 (update) and 2 (delete)
    val b1 = Seq((1L, "upsert", 2L, "n1b", 11L),
      (2L, "delete", 2L, null.asInstanceOf[String], 0L))
      .toDF("k", "op", "ver", "name", "v")
    MergeSink.applyBucketedBatch(b1, 1L, store, "k", "op", "ver", vcols, nBuckets = 4)
    assert(snap == ((3L to 8L).map(k => (k, s"n$k", k * 10L)).toSet + ((1L, "n1b", 11L))))
    // the v1 dir holds ONLY the touched buckets — the partial rewrite
    val touched = Set(bucketOf(1L), bucketOf(2L)).map(b => s"_bucket=$b")
    val v1Dirs = new java.io.File(s"$store/v1").listFiles()
      .filter(_.getName.startsWith("_bucket=")).map(_.getName).toSet
    assert(v1Dirs == touched, s"v1 rewrote $v1Dirs, expected $touched")
    // untouched buckets still map to version 0 in the live manifest
    val manifest = new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(store, "_manifests", "1")), "UTF-8")
      .linesIterator.filterNot(_.startsWith("#"))
      .map { l => val a = l.split(' '); (a(0).toLong, a(1).toLong) }.toMap
    val seedBuckets = (1L to 8L).map(bucketOf).toSet // a bucket may be unoccupied
    seedBuckets.foreach { b =>
      val expected = if (touched(s"_bucket=$b")) 1L else 0L
      assert(manifest.get(b).contains(expected), s"bucket $b -> ${manifest.get(b)}")
    }
    // replay of a committed batch is a no-op; a stale-parent writer is refused
    MergeSink.applyBucketedBatch(b1, 1L, store, "k", "op", "ver", vcols, nBuckets = 4)
    assert(snap == ((3L to 8L).map(k => (k, s"n$k", k * 10L)).toSet + ((1L, "n1b", 11L))))
    // deleting a bucket's LAST key drops the bucket from the manifest
    val allOfB0 = (1L to 8L).filter(k => bucketOf(k) == bucketOf(3L))
    val b2 = allOfB0.map(k => (k, "delete", 3L, null.asInstanceOf[String], 0L))
      .toDF("k", "op", "ver", "name", "v")
    MergeSink.applyBucketedBatch(b2, 2L, store, "k", "op", "ver", vcols, nBuckets = 4)
    val manifest2 = new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(store, "_manifests", "2")), "UTF-8")
      .linesIterator.filterNot(_.startsWith("#"))
      .map(_.split(' ')(0).toLong).toSet
    assert(!manifest2.contains(bucketOf(3L)), "emptied bucket must leave the manifest")
    val prev = (3L to 8L).map(k => (k, s"n$k", k * 10L)).toSet + ((1L, "n1b", 11L))
    val want = prev.filterNot { case (k, _, _) => allOfB0.contains(k) }
    assert(snap == want, s"got $snap")
  }

  test("ST10 bucketed sink end-to-end: streaming CDC feed + vacuum retires dead versions") {
    import graft.streaming.MergeSink
    val dir = Files.createTempDirectory("graft_merge_bstream").toString
    val store = s"$dir/store"
    val in = MemoryStream[(Long, String, Long, String, Long)]
    val changes = in.toDF().toDF("k", "op", "ver", "name", "v")
    val q = MergeSink.bucketedMergeSink(changes, store, s"$dir/ckpt",
      "k", "op", "ver", Seq("name", "v"), nBuckets = 2).start()
    def snap = MergeSink.currentBucketedSnapshot(spark, store).get
      .select("k", "name", "v").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    try {
      in.addData((1L, "upsert", 1L, "a", 10L), (2L, "upsert", 1L, "b", 20L))
      q.processAllAvailable()
      assert(snap == Set((1L, "a", 10L), (2L, "b", 20L)))
      // rewrite BOTH buckets so version 0 has no live bucket left
      in.addData((1L, "upsert", 2L, "a2", 11L), (2L, "upsert", 2L, "b2", 21L),
        (3L, "upsert", 2L, "c", 30L))
      q.processAllAvailable()
      assert(snap == Set((1L, "a2", 11L), (2L, "b2", 21L), (3L, "c", 30L)))
      val dead = MergeSink.vacuumBucketedStore(store)
      assert(dead == Seq(0L), s"expected v0 retired, got $dead")
      assert(!new java.io.File(s"$store/v0").exists())
      // the store still reads identically after the vacuum
      assert(snap == Set((1L, "a2", 11L), (2L, "b2", 21L), (3L, "c", 30L)))
      // vacuum is idempotent and never touches the live version
      assert(MergeSink.vacuumBucketedStore(store).isEmpty)
      assert(new java.io.File(s"$store/v1").exists())
    } finally q.stop()
  }

  test("ST10 bucketed: adding a value column evolves in place, old buckets NULL-fill; drops/retypes refuse") {
    import graft.streaming.MergeSink
    val dir = Files.createTempDirectory("graft_merge_evolve").toString
    val store = s"$dir/store"
    val b0 = Seq((1L, "upsert", 1L, "a", 10L), (2L, "upsert", 1L, "b", 20L))
      .toDF("k", "op", "ver", "name", "v")
    MergeSink.applyBucketedBatch(b0, 0L, store, "k", "op", "ver",
      Seq("name", "v"), nBuckets = 4)
    // batch 1 ADDS a `score` column and touches only key 1's bucket;
    // key 2 stays on version 0 (written before the column existed)
    val b1 = Seq((1L, "upsert", 2L, "a2", 11L, 0.5))
      .toDF("k", "op", "ver", "name", "v", "score")
    MergeSink.applyBucketedBatch(b1, 1L, store, "k", "op", "ver",
      Seq("name", "v", "score"), nBuckets = 4)
    val snap = MergeSink.currentBucketedSnapshot(spark, store).get
    assert(snap.columns.toSeq == Seq("k", "name", "v", "score"),
      s"evolved snapshot must expose the new column (and no _bucket leak): ${snap.columns.toSeq}")
    val rows = snap.collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2),
      if (r.isNullAt(3)) None else Some(r.getDouble(3)))).toSet
    assert(rows == Set((1L, "a2", 11L, Some(0.5)), (2L, "b", 20L, None)),
      s"pre-evolution rows must NULL-fill the added column: $rows")
    // dropping a column is destructive — refused with a clear error
    val drop = Seq((3L, "upsert", 3L, "c")).toDF("k", "op", "ver", "name")
    val e1 = intercept[IllegalArgumentException] {
      MergeSink.applyBucketedBatch(drop, 2L, store, "k", "op", "ver",
        Seq("name"), nBuckets = 4)
    }
    assert(e1.getMessage.contains("dropped column"), e1.getMessage)
    // changing a column's type is destructive — refused
    val retype = Seq((3L, "upsert", 3L, "c", "oops", 0.1))
      .toDF("k", "op", "ver", "name", "v", "score")
    val e2 = intercept[IllegalArgumentException] {
      MergeSink.applyBucketedBatch(retype, 2L, store, "k", "op", "ver",
        Seq("name", "v", "score"), nBuckets = 4)
    }
    assert(e2.getMessage.contains("changed type"), e2.getMessage)
    // the refused batches never became visible
    assert(MergeSink.currentBucketedSnapshot(spark, store).get.count() == 2)
  }

  test("ST10 bucketed: rename refuses; compaction preserves an evolved schema and evolution continues after it") {
    import graft.streaming.MergeSink
    val dir = Files.createTempDirectory("graft_merge_evolve_compact").toString
    val store = s"$dir/store"
    def bucketOf(k: Long): Long = spark.range(1)
      .select(pmod(xxhash64(lit(k)), lit(4L))).head().getLong(0)
    val k2 = (2L to 64L).find(k => bucketOf(k) != bucketOf(1L)).get
    MergeSink.applyBucketedBatch(
      Seq((1L, "upsert", 1L, "a", 10L)).toDF("k", "op", "ver", "name", "v"),
      0L, store, "k", "op", "ver", Seq("name", "v"), nBuckets = 4)
    // a RENAME is a drop+add in schema terms — refused as a drop, the
    // new name never sneaks in as a fresh column over lost data
    val ren = Seq((1L, "upsert", 2L, "a", 10L)).toDF("k", "op", "ver", "label", "v")
    val e = intercept[IllegalArgumentException] {
      MergeSink.applyBucketedBatch(ren, 1L, store, "k", "op", "ver",
        Seq("label", "v"), nBuckets = 4)
    }
    assert(e.getMessage.contains("dropped column(s) name"), e.getMessage)
    // evolve (add `score`, touching only k2's bucket), then COMPACT: the
    // rewrite must read the registry schema, not a stale per-file one —
    // the pre-evolution bucket comes out NULL-filled, not dropped
    MergeSink.applyBucketedBatch(
      Seq((k2, "upsert", 2L, "b", 20L, 0.7)).toDF("k", "op", "ver", "name", "v", "score"),
      1L, store, "k", "op", "ver", Seq("name", "v", "score"), nBuckets = 4)
    assert(MergeSink.compactBucketedStore(spark, store).contains(2L))
    def rows = MergeSink.currentBucketedSnapshot(spark, store).get
      .select("k", "name", "v", "score").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2),
        if (r.isNullAt(3)) None else Some(r.getDouble(3)))).toSet
    assert(rows == Set((1L, "a", 10L, None), (k2, "b", 20L, Some(0.7))),
      s"compaction must carry the evolved schema with NULL-fill: $rows")
    // and evolution keeps working on the compacted store (add `tag`)
    MergeSink.applyBucketedBatch(
      Seq((1L, "upsert", 3L, "a3", 11L, 0.9, "x"))
        .toDF("k", "op", "ver", "name", "v", "score", "tag"),
      2L, store, "k", "op", "ver", Seq("name", "v", "score", "tag"), nBuckets = 4)
    val snap = MergeSink.currentBucketedSnapshot(spark, store).get
    assert(snap.columns.toSeq == Seq("k", "name", "v", "score", "tag"))
    val got = snap.collect().map(r => (r.getLong(0), r.getString(1),
      if (r.isNullAt(4)) None else Some(r.getString(4)))).toSet
    assert(got == Set((1L, "a3", Some("x")), (k2, "b", None)), s"$got")
  }

  test("ST10 bucketed: compaction collapses a fragmented manifest to one live version, content-identical") {
    import graft.streaming.MergeSink
    val dir = Files.createTempDirectory("graft_merge_compact").toString
    val store = s"$dir/store"
    val vcols = Seq("name", "v")
    // many small single-key batches fragment the manifest across versions
    (1L to 6L).foreach { k =>
      val b = Seq((k, "upsert", k, s"n$k", k * 10L)).toDF("k", "op", "ver", "name", "v")
      MergeSink.applyBucketedBatch(b, k - 1, store, "k", "op", "ver", vcols, nBuckets = 4)
    }
    def manifest(v: Long) = new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(store, "_manifests", v.toString)), "UTF-8")
      .linesIterator.filterNot(_.startsWith("#"))
      .map { l => val a = l.split(' '); (a(0).toLong, a(1).toLong) }.toMap
    val before = MergeSink.currentBucketedSnapshot(spark, store).get
      .collect().map(_.toString).toSet
    val liveBefore = manifest(5L).values.toSet
    assert(liveBefore.size > 1, s"fixture should fragment, got $liveBefore")
    val compacted = MergeSink.compactBucketedStore(spark, store)
    assert(compacted.contains(6L), s"expected maintenance version 6, got $compacted")
    // read amplification drops to ONE live version; content identical
    assert(manifest(6L).values.toSet == Set(6L))
    val after = MergeSink.currentBucketedSnapshot(spark, store).get
      .collect().map(_.toString).toSet
    assert(after == before, "compaction must not change store content")
    // old versions are now dead; vacuum reclaims them all
    val dead = MergeSink.vacuumBucketedStore(store)
    assert(dead.nonEmpty && dead.forall(_ < 6L), s"got $dead")
    assert(MergeSink.currentBucketedSnapshot(spark, store).get
      .collect().map(_.toString).toSet == before)
    // compacting an already-compact store is a no-op
    assert(MergeSink.compactBucketedStore(spark, store).isEmpty)
    // the stream keeps writing after maintenance: next batch derives
    // from the compacted version
    val b7 = Seq((7L, "upsert", 7L, "n7", 70L)).toDF("k", "op", "ver", "name", "v")
    MergeSink.applyBucketedBatch(b7, 6L, store, "k", "op", "ver", vcols, nBuckets = 4)
    assert(MergeSink.currentBucketedSnapshot(spark, store).get.count() == 7)
  }

  test("ST10 bucketed: rebucketStore migrates the bucket count; mismatched writers refuse loudly") {
    import graft.streaming.MergeSink
    val dir = Files.createTempDirectory("graft_merge_rebucket").toString
    val store = s"$dir/store"
    val vcols = Seq("name", "v")
    val seed = (1L to 8L).map(k => (k, "upsert", 1L, s"n$k", k * 10L))
    MergeSink.applyBucketedBatch(seed.toDF("k", "op", "ver", "name", "v"),
      0L, store, "k", "op", "ver", vcols, nBuckets = 2)
    val before = MergeSink.currentBucketedSnapshot(spark, store).get
      .collect().map(_.toString).toSet
    // a writer configured with the wrong count is refused before it can corrupt
    val b = Seq((9L, "upsert", 2L, "n9", 90L)).toDF("k", "op", "ver", "name", "v")
    val e = intercept[IllegalArgumentException] {
      MergeSink.applyBucketedBatch(b, 1L, store, "k", "op", "ver", vcols, nBuckets = 8)
    }
    assert(e.getMessage.contains("bucketed into 2"), e.getMessage)
    // sanctioned migration: rewrite under the new count
    val v = MergeSink.rebucketStore(spark, store, 8)
    assert(v.contains(1L))
    assert(MergeSink.currentBucketedSnapshot(spark, store).get
      .collect().map(_.toString).toSet == before, "rebucketing preserves content")
    val bucketDirs = new java.io.File(s"$store/v1").listFiles()
      .filter(_.getName.startsWith("_bucket=")).map(_.getName).toSet
    assert(bucketDirs.size > 2, s"8-way hash of 8 keys should occupy >2 buckets: $bucketDirs")
    // writers now must use the new count — and succeed with it
    MergeSink.applyBucketedBatch(b, 1L, store, "k", "op", "ver", vcols, nBuckets = 8)
    assert(MergeSink.currentBucketedSnapshot(spark, store).get.count() == 9)
    val e2 = intercept[IllegalArgumentException] {
      MergeSink.applyBucketedBatch(b, 2L, store, "k", "op", "ver", vcols, nBuckets = 2)
    }
    assert(e2.getMessage.contains("bucketed into 8"), e2.getMessage)
  }

  test("ST10 bucketed: deleting every key leaves an EMPTY typed store, not an error") {
    import graft.streaming.MergeSink
    val dir = Files.createTempDirectory("graft_merge_empty").toString
    val store = s"$dir/store"
    val vcols = Seq("name", "v")
    val b0 = Seq((1L, "upsert", 1L, "a", 10L), (2L, "upsert", 1L, "b", 20L))
      .toDF("k", "op", "ver", "name", "v")
    MergeSink.applyBucketedBatch(b0, 0L, store, "k", "op", "ver", vcols, nBuckets = 4)
    val b1 = Seq((1L, "delete", 2L, null.asInstanceOf[String], 0L),
      (2L, "delete", 2L, null.asInstanceOf[String], 0L))
      .toDF("k", "op", "ver", "name", "v")
    MergeSink.applyBucketedBatch(b1, 1L, store, "k", "op", "ver", vcols, nBuckets = 4)
    val snap = MergeSink.currentBucketedSnapshot(spark, store)
    assert(snap.isDefined, "an existing-but-emptied store must still read")
    assert(snap.get.count() == 0)
    assert(snap.get.columns.toSeq == Seq("k", "name", "v"),
      s"empty snapshot keeps the recorded schema, no _bucket leak: ${snap.get.columns.toSeq}")
    // and it comes back to life on the next upsert
    val b2 = Seq((3L, "upsert", 3L, "c", 30L)).toDF("k", "op", "ver", "name", "v")
    MergeSink.applyBucketedBatch(b2, 2L, store, "k", "op", "ver", vcols, nBuckets = 4)
    assert(MergeSink.currentBucketedSnapshot(spark, store).get.count() == 1)
  }

  test("ST10: a corrupted commit marker fails with a recovery hint, never NumberFormatException") {
    import graft.streaming.MergeSink
    val dir = Files.createTempDirectory("graft_merge_corrupt").toString
    val store = s"$dir/store"
    val b0 = Seq((1L, "upsert", 1L, "a", 10L)).toDF("k", "op", "ver", "name", "v")
    MergeSink.applyBatch(b0, 0L, store, "k", "op", "ver", Seq("name", "v"))
    // simulate a crash between CREATE_NEW and the content reaching disk:
    // the NEXT version's marker exists but is empty
    Files.write(java.nio.file.Paths.get(store, "_commits", "1"), Array.empty[Byte])
    val b1 = Seq((2L, "upsert", 2L, "b", 20L)).toDF("k", "op", "ver", "name", "v")
    val e = intercept[java.util.ConcurrentModificationException] {
      MergeSink.applyBatch(b1, 1L, store, "k", "op", "ver", Seq("name", "v"))
    }
    assert(e.getMessage.contains("corrupted"), e.getMessage)
    assert(e.getMessage.contains("delete the marker"), e.getMessage)
    // the documented recovery: remove the damaged marker, retry
    Files.delete(java.nio.file.Paths.get(store, "_commits", "1"))
    MergeSink.applyBatch(b1, 1L, store, "k", "op", "ver", Seq("name", "v"))
    assert(MergeSink.currentSnapshot(spark, store, "k", Seq("name", "v"))
      .get.count() == 2)
  }

  test("ST10: commit markers stay bounded over a long stream; a pre-horizon writer is refused") {
    import graft.streaming.MergeSink
    val dir = Files.createTempDirectory("graft_merge_prune").toString
    val store = s"$dir/store"
    (0L until 24L).foreach { i =>
      val b = Seq((i % 3, "upsert", i, s"n$i", i)).toDF("k", "op", "ver", "name", "v")
      MergeSink.applyBatch(b, i, store, "k", "op", "ver", Seq("name", "v"))
    }
    val markers = new java.io.File(s"$store/_commits").listFiles()
      .map(_.getName).filterNot(_.startsWith("_")).map(_.toLong).sorted
    assert(markers.length <= 16, s"markers must stay bounded, got ${markers.length}")
    assert(markers.last == 23L)
    // a writer whose parent predates the pruned horizon cannot silently
    // pass the others-check (the evidence aged out) — it is refused
    val stale = Seq((9L, "upsert", 99L, "x", 1L)).toDF("k", "op", "ver", "name", "v")
    val e = intercept[java.util.ConcurrentModificationException] {
      MergeSink.applyBatchFrom(Some(2L), stale, 99L, store, "k", "op", "ver",
        Seq("name", "v"))
    }
    assert(e.getMessage.contains("pruned"), e.getMessage)
  }

  test("ST10: an abandoned claim (crash between CAS and swap) expires; the stream un-wedges") {
    import graft.streaming.MergeSink
    val dir = Files.createTempDirectory("graft_merge_wedge").toString
    val store = s"$dir/store"
    val vcols = Seq("name", "v")
    val b0 = Seq((1L, "upsert", 1L, "a", 10L)).toDF("k", "op", "ver", "name", "v")
    MergeSink.applyBatch(b0, 0L, store, "k", "op", "ver", vcols)
    // a maintenance writer claimed v1 (batchId -1) and died before the
    // _latest swap — every later batch derives the SAME v1 from parent 0
    val marker = java.nio.file.Paths.get(store, "_commits", "1")
    Files.write(marker, "0 -1".getBytes)
    val b1 = Seq((2L, "upsert", 2L, "b", 20L)).toDF("k", "op", "ver", "name", "v")
    // while the lease is fresh the claim holds: refused loudly, with the
    // expiry path named (a LIVE racing writer must never be taken over)
    val e = intercept[java.util.ConcurrentModificationException] {
      MergeSink.applyBatch(b1, 1L, store, "k", "op", "ver", vcols)
    }
    assert(e.getMessage.contains("expires"), e.getMessage)
    // _latest never advanced, so the claimant is provably unswapped; once
    // the marker ages past the lease the next writer takes it over and
    // the stream recovers WITHOUT manual marker surgery
    Files.setLastModifiedTime(marker,
      java.nio.file.attribute.FileTime.fromMillis(0L))
    MergeSink.applyBatch(b1, 1L, store, "k", "op", "ver", vcols)
    assert(MergeSink.currentSnapshot(spark, store, "k", vcols).get
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet ==
      Set((1L, "a", 10L), (2L, "b", 20L)))
  }

  test("ST10 bucketed: a crashed batch claim expires symmetrically; compaction takes over") {
    import graft.streaming.MergeSink
    val dir = Files.createTempDirectory("graft_merge_wedge_maint").toString
    val store = s"$dir/store"
    val vcols = Seq("name", "v")
    def bucketOf(k: Long): Long = spark.range(1)
      .select(pmod(xxhash64(lit(k)), lit(4L))).head().getLong(0)
    val k2 = (2L to 64L).find(k => bucketOf(k) != bucketOf(1L)).get
    MergeSink.applyBucketedBatch(
      Seq((1L, "upsert", 1L, "a", 10L)).toDF("k", "op", "ver", "name", "v"),
      0L, store, "k", "op", "ver", vcols, nBuckets = 4)
    MergeSink.applyBucketedBatch(
      Seq((k2, "upsert", 1L, "b", 20L)).toDF("k", "op", "ver", "name", "v"),
      1L, store, "k", "op", "ver", vcols, nBuckets = 4)
    // a batch writer claimed v2 and died before its swap — compaction
    // (batchId -1) targets the same v2 and would wedge identically
    val marker = java.nio.file.Paths.get(store, "_commits", "2")
    Files.write(marker, "1 7".getBytes)
    val e = intercept[java.util.ConcurrentModificationException] {
      MergeSink.compactBucketedStore(spark, store)
    }
    assert(e.getMessage.contains("expires"), e.getMessage)
    Files.setLastModifiedTime(marker,
      java.nio.file.attribute.FileTime.fromMillis(0L))
    assert(MergeSink.compactBucketedStore(spark, store).contains(2L))
    assert(MergeSink.currentBucketedSnapshot(spark, store).get
      .select("k", "name", "v").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet ==
      Set((1L, "a", 10L), (k2, "b", 20L)))
  }

  test("ST10 bucketed: time travel reads any retained version; vacuumed history refuses loudly") {
    import graft.streaming.MergeSink
    val dir = Files.createTempDirectory("graft_merge_timetravel").toString
    val store = s"$dir/store"
    val vcols = Seq("name", "v")
    def bucketOf(k: Long): Long = spark.range(1)
      .select(pmod(xxhash64(lit(k)), lit(4L))).head().getLong(0)
    val k2 = (2L to 64L).find(k => bucketOf(k) != bucketOf(1L)).get
    def at(v: Long) = MergeSink.bucketedSnapshotAt(spark, store, v)
      .select("k", "name", "v").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    MergeSink.applyBucketedBatch(
      Seq((1L, "upsert", 1L, "a", 10L)).toDF("k", "op", "ver", "name", "v"),
      0L, store, "k", "op", "ver", vcols, nBuckets = 4)
    MergeSink.applyBucketedBatch(
      Seq((k2, "upsert", 2L, "b", 20L)).toDF("k", "op", "ver", "name", "v"),
      1L, store, "k", "op", "ver", vcols, nBuckets = 4)
    MergeSink.applyBucketedBatch(
      Seq((1L, "upsert", 3L, "a2", 11L), (k2, "delete", 3L, null.asInstanceOf[String], 0L))
        .toDF("k", "op", "ver", "name", "v"),
      2L, store, "k", "op", "ver", vcols, nBuckets = 4)
    // each historical version reads back exactly as it was
    assert(at(0L) == Set((1L, "a", 10L)))
    assert(at(1L) == Set((1L, "a", 10L), (k2, "b", 20L)))
    assert(at(2L) == Set((1L, "a2", 11L)))
    // time travel sees the THEN-current schema: evolve with a new
    // column, old versions still read their own shape
    MergeSink.applyBucketedBatch(
      Seq((1L, "upsert", 4L, "a3", 12L, 0.5))
        .toDF("k", "op", "ver", "name", "v", "score"),
      3L, store, "k", "op", "ver", Seq("name", "v", "score"), nBuckets = 4)
    assert(MergeSink.bucketedSnapshotAt(spark, store, 1L).columns.toSeq ==
      Seq("k", "name", "v"), "pre-evolution versions keep their own schema")
    assert(MergeSink.bucketedSnapshotAt(spark, store, 3L).columns.toSeq ==
      Seq("k", "name", "v", "score"))
    // out-of-history and vacuumed read points refuse loudly
    intercept[IllegalArgumentException] { at(9L) }
    // a second live dir (fresh key in another bucket) so compaction
    // has a fragmented manifest to collapse
    val k3 = (2L to 64L).find(k => k != k2 && bucketOf(k) != bucketOf(1L)).get
    MergeSink.applyBucketedBatch(
      Seq((k3, "upsert", 5L, "c", 30L, 0.9))
        .toDF("k", "op", "ver", "name", "v", "score"),
      4L, store, "k", "op", "ver", Seq("name", "v", "score"), nBuckets = 4)
    // compaction + vacuum reclaims dirs no live bucket references;
    // the pruned read points now fail with the retention message
    assert(MergeSink.compactBucketedStore(spark, store).contains(5L))
    val dead = MergeSink.vacuumBucketedStore(store)
    assert(dead.nonEmpty, "vacuum must reclaim at least one version")
    val e = intercept[IllegalStateException] { at(dead.head) }
    assert(e.getMessage.contains("vacuum"), e.getMessage)
    // the surviving current version still reads
    assert(at(5L) == Set((1L, "a3", 12L), (k3, "c", 30L)))
  }

  test("ST10 bucketed: erasure removes a key from ALL retained history; store keeps serving") {
    import graft.streaming.MergeSink
    val dir = Files.createTempDirectory("graft_merge_erase").toString
    val store = s"$dir/store"
    val vcols = Seq("name", "v")
    def bucketOf(k: Long): Long = spark.range(1)
      .select(pmod(xxhash64(lit(k)), lit(4L))).head().getLong(0)
    val k2 = (2L to 64L).find(k => bucketOf(k) != bucketOf(1L)).get
    MergeSink.applyBucketedBatch(
      Seq((1L, "upsert", 1L, "a", 10L), (k2, "upsert", 1L, "b", 20L))
        .toDF("k", "op", "ver", "name", "v"),
      0L, store, "k", "op", "ver", vcols, nBuckets = 4)
    MergeSink.applyBucketedBatch(
      Seq((1L, "upsert", 2L, "a2", 11L)).toDF("k", "op", "ver", "name", "v"),
      1L, store, "k", "op", "ver", vcols, nBuckets = 4)
    def rows(df: org.apache.spark.sql.DataFrame) = df
      .select("k", "name", "v").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    // pre-erasure: both read points hold key 1
    assert(rows(MergeSink.bucketedSnapshotAt(spark, store, 0L)) ==
      Set((1L, "a", 10L), (k2, "b", 20L)))
    val audit = MergeSink.eraseKeys(spark, store, Seq(1L).toDF("k"))
    assert(audit.contains(2L), s"audit version expected v2, got $audit")
    // the subject is gone from the CURRENT snapshot...
    assert(rows(MergeSink.currentBucketedSnapshot(spark, store).get) ==
      Set((k2, "b", 20L)))
    // ...and from EVERY historical read point — retention law outranks
    // time travel; the other key's history is untouched
    assert(rows(MergeSink.bucketedSnapshotAt(spark, store, 0L)) ==
      Set((k2, "b", 20L)))
    assert(rows(MergeSink.bucketedSnapshotAt(spark, store, 1L)) ==
      Set((k2, "b", 20L)))
    // the audit read point equals its parent post-erasure
    assert(rows(MergeSink.bucketedSnapshotAt(spark, store, 2L)) ==
      Set((k2, "b", 20L)))
    // the store keeps serving writes after the maintenance commit
    MergeSink.applyBucketedBatch(
      Seq((1L, "upsert", 5L, "re", 99L)).toDF("k", "op", "ver", "name", "v"),
      2L, store, "k", "op", "ver", vcols, nBuckets = 4)
    assert(rows(MergeSink.currentBucketedSnapshot(spark, store).get) ==
      Set((1L, "re", 99L), (k2, "b", 20L)),
      "a re-registered subject is NEW data, not resurrected history")
    // erasing an absent key is a clean auditable no-op
    assert(MergeSink.eraseKeys(spark, store, Seq(999L).toDF("k")).contains(4L))
    // a wrongly-shaped request refuses loudly
    intercept[IllegalArgumentException] {
      MergeSink.eraseKeys(spark, store, Seq("1").toDF("k"))
    }
    // an empty store has nothing to erase
    assert(MergeSink.eraseKeys(spark, s"$dir/nostore", Seq(1L).toDF("k")).isEmpty)
  }

  test("ST10 bucketed: change feed between versions is typed, exact, and manifest-pruned") {
    import graft.streaming.MergeSink
    val dir = Files.createTempDirectory("graft_merge_cdf").toString
    val store = s"$dir/store"
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(store))
    val vcols = Seq("name", "v")
    def apply(rows: Seq[(Long, String, Long, String, Long)], id: Long): Unit =
      MergeSink.applyBucketedBatch(rows.toDF("k", "op", "ver", "name", "v"),
        id, store, "k", "op", "ver", vcols, nBuckets = 4)
    // v0: seed 8 keys; v1: update 1, delete 2, insert 9; v2: update 1 again
    apply((1L to 8L).map(k => (k, "upsert", 1L, s"n$k", k * 10L)), 0L)
    apply(Seq((1L, "upsert", 2L, "n1b", 11L),
      (2L, "delete", 2L, null.asInstanceOf[String], 0L),
      (9L, "upsert", 2L, "n9", 90L)), 1L)
    apply(Seq((1L, "upsert", 3L, "n1c", 12L)), 2L)
    def feed(a: Long, b: Long) =
      MergeSink.storeChangesBetween(spark, store, a, b)
    assert(feed(0L, 2L).columns.toSeq ==
      Seq("k", "change", "name_old", "name_new", "v_old", "v_new"))
    val d02 = feed(0L, 2L).collect().map(r => (r.getLong(0), r.getString(1),
      r.getString(2), r.getString(3),
      if (r.isNullAt(4)) -1L else r.getLong(4),
      if (r.isNullAt(5)) -1L else r.getLong(5))).toSet
    // exactly the three changed keys — a rewritten bucket's untouched
    // keys are NOT changes, whatever bucket the changed keys hash to
    assert(d02 == Set(
      (1L, "update", "n1", "n1c", 10L, 12L),
      (2L, "delete", "n2", null, 20L, -1L),
      (9L, "insert", null, "n9", -1L, 90L)), d02.toString)
    val d12 = feed(1L, 2L).collect().map(r =>
      (r.getLong(0), r.getString(1), r.getString(3), r.getLong(5))).toSet
    assert(d12 == Set((1L, "update", "n1c", 12L)), d12.toString)
    // MANIFEST PRUNING proof: v1→v2 only needs the dirs owning the
    // changed bucket (v1 and v2) — remove v0's data dir entirely and
    // the feed still answers, while a full time-travel read cannot
    def rm(p: java.nio.file.Path): Unit = {
      if (java.nio.file.Files.isDirectory(p))
        new java.io.File(p.toString).listFiles().foreach(f => rm(f.toPath))
      java.nio.file.Files.deleteIfExists(p)
    }
    rm(java.nio.file.Paths.get(store, "v0"))
    val d12b = feed(1L, 2L).collect().map(r =>
      (r.getLong(0), r.getString(1), r.getString(3), r.getLong(5))).toSet
    assert(d12b == Set((1L, "update", "n1c", 12L)),
      "the pruned feed must never read unchanged buckets' dirs")
    intercept[IllegalStateException] {
      MergeSink.bucketedSnapshotAt(spark, store, 2L).collect()
    }
    // and the feed's own bound: it refuses a dir it genuinely needs
    intercept[IllegalStateException] { feed(0L, 2L).collect() }
    intercept[IllegalArgumentException] { feed(2L, 2L) }
  }

  test("ST10 bucketed: restore rolls the head back without moving data; history and feed see it") {
    import graft.streaming.MergeSink
    val dir = Files.createTempDirectory("graft_merge_restore").toString
    val store = s"$dir/store"
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(store))
    val vcols = Seq("name", "v")
    def apply(rows: Seq[(Long, String, Long, String, Long)], id: Long): Unit =
      MergeSink.applyBucketedBatch(rows.toDF("k", "op", "ver", "name", "v"),
        id, store, "k", "op", "ver", vcols, nBuckets = 4)
    def snap = MergeSink.currentBucketedSnapshot(spark, store).get
      .select("k", "name", "v").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    apply(Seq((1L, "upsert", 1L, "n1", 10L), (2L, "upsert", 1L, "n2", 20L)), 0L)
    apply(Seq((1L, "upsert", 2L, "n1b", 11L)), 1L)
    apply(Seq((2L, "delete", 3L, null.asInstanceOf[String], 0L),
      (3L, "upsert", 3L, "n3", 30L)), 2L)
    val atV1 = Set((1L, "n1b", 11L), (2L, "n2", 20L))
    assert(snap == Set((1L, "n1b", 11L), (3L, "n3", 30L)))
    // restore: a metadata-only commit — the head reads as v1 again
    assert(MergeSink.restoreStore(spark, store, 1L) == 3L)
    assert(snap == atV1, "restored head must read as the restore point")
    // no data moved: v3 owns no data dir, only a manifest
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(store, "v3")))
    // history shows the restore as a maintenance commit...
    val hist = MergeSink.storeHistory(spark, store)
      .select("version", "kind").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(hist(3L) == "maintenance", hist.toString)
    // ...and the change feed across it is exactly the rollback delta
    val feed = MergeSink.storeChangesBetween(spark, store, 2L, 3L)
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(feed == Set((2L, "insert"), (3L, "delete")), feed.toString)
    // the store keeps taking batches after a restore
    apply(Seq((4L, "upsert", 4L, "n4", 40L)), 3L)
    assert(snap == atV1 + ((4L, "n4", 40L)))
    intercept[IllegalArgumentException] {
      MergeSink.restoreStore(spark, store, 99L)
    }
  }

  test("ST10 bucketed: OPTIMIZE clusters rows inside each bucket, content-identical") {
    import graft.streaming.MergeSink
    val dir = Files.createTempDirectory("graft_merge_optimize").toString
    val store = s"$dir/store"
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(store))
    val vcols = Seq("name", "v")
    def apply(rows: Seq[(Long, String, Long, String, Long)], id: Long): Unit =
      MergeSink.applyBucketedBatch(rows.toDF("k", "op", "ver", "name", "v"),
        id, store, "k", "op", "ver", vcols, nBuckets = 2)
    // two batches seed 12 keys with DESCENDING v so no bucket file is
    // accidentally pre-sorted by v
    apply((1L to 6L).map(k => (k, "upsert", 1L, s"n$k", 100L - k)), 0L)
    apply((7L to 12L).map(k => (k, "upsert", 2L, s"n$k", 100L - k)), 1L)
    val before = MergeSink.currentBucketedSnapshot(spark, store).get
      .select("k", "name", "v").collect().map(r =>
        (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    val v = MergeSink.optimizeStore(spark, store, Seq(col("v")))
    assert(v.contains(2L), v.toString)
    // content is a permutation — the snapshot set is unchanged
    val after = MergeSink.currentBucketedSnapshot(spark, store).get
      .select("k", "name", "v").collect().map(r =>
        (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    assert(after == before)
    // and INSIDE each rewritten bucket file the rows are v-ascending
    // (single file per bucket after the rewrite; single-file reads
    // preserve row order)
    val bucketDirs = new java.io.File(s"$store/v2").listFiles()
      .filter(_.getName.startsWith("_bucket=")).map(_.getPath).toSeq
    assert(bucketDirs.nonEmpty)
    bucketDirs.foreach { bd =>
      assert(new java.io.File(bd).listFiles()
        .count(_.getName.startsWith("part-")) == 1, s"$bd not defragmented")
      val vs = spark.read.parquet(bd).select("v").collect().map(_.getLong(0)).toSeq
      assert(vs == vs.sorted, s"$bd rows not clustered: $vs")
    }
    // unlike plain compaction, OPTIMIZE re-runs on a compact store
    assert(MergeSink.compactBucketedStore(spark, store).isEmpty)
    assert(MergeSink.optimizeStore(spark, store, Seq(col("v").desc)).contains(3L))
  }

  test("ST10 bucketed: storeHistory lists retained commits newest-first with kinds") {
    import graft.streaming.MergeSink
    val dir = Files.createTempDirectory("graft_merge_history").toString
    val store = s"$dir/store"
    val vcols = Seq("name", "v")
    def bucketOf(k: Long): Long = spark.range(1)
      .select(pmod(xxhash64(lit(k)), lit(4L))).head().getLong(0)
    val k2 = (2L to 64L).find(k => bucketOf(k) != bucketOf(1L)).get
    MergeSink.applyBucketedBatch(
      Seq((1L, "upsert", 1L, "a", 10L)).toDF("k", "op", "ver", "name", "v"),
      0L, store, "k", "op", "ver", vcols, nBuckets = 4)
    MergeSink.applyBucketedBatch(
      Seq((k2, "upsert", 2L, "b", 20L)).toDF("k", "op", "ver", "name", "v"),
      1L, store, "k", "op", "ver", vcols, nBuckets = 4)
    assert(MergeSink.compactBucketedStore(spark, store).contains(2L))
    assert(MergeSink.eraseKeys(spark, store, Seq(1L).toDF("k")).contains(3L))
    val h = MergeSink.storeHistory(spark, store).collect()
      .map(r => (r.getLong(0), r.getString(1),
        Option(r.get(2)).map(_.asInstanceOf[Long]), r.getBoolean(4),
        r.getBoolean(5)))
    assert(h.map(_._1).toSeq == Seq(3L, 2L, 1L, 0L), "newest first")
    assert(h.map(_._2).toSeq == Seq("maintenance", "maintenance", "batch", "batch"))
    assert(h.map(_._3).toSeq == Seq(None, None, Some(1L), Some(0L)))
    // the erasure audit commit owns no data dir; the compaction does
    assert(h.map(_._4).toSeq == Seq(false, true, true, true))
    assert(h.map(_._5).toSeq == Seq(true, false, false, false))
    // vacuum drops the pre-compaction read points from the listing
    assert(MergeSink.vacuumBucketedStore(store).nonEmpty)
    assert(MergeSink.storeHistory(spark, store).collect()
      .map(_.getLong(0)).toSeq == Seq(3L, 2L))
  }

  test("ST10: replay guard never falls back to the version counter on a registry store") {
    import graft.streaming.MergeSink
    val dir = Files.createTempDirectory("graft_merge_replayguard").toString
    val store = s"$dir/store"
    val vcols = Seq("name", "v")
    def bucketOf(k: Long): Long = spark.range(1)
      .select(pmod(xxhash64(lit(k)), lit(4L))).head().getLong(0)
    val k2 = (2L to 64L).find(k => bucketOf(k) != bucketOf(1L)).get
    MergeSink.applyBucketedBatch(
      Seq((1L, "upsert", 1L, "a", 10L)).toDF("k", "op", "ver", "name", "v"),
      0L, store, "k", "op", "ver", vcols, nBuckets = 4)
    MergeSink.applyBucketedBatch(
      Seq((k2, "upsert", 1L, "b", 20L)).toDF("k", "op", "ver", "name", "v"),
      1L, store, "k", "op", "ver", vcols, nBuckets = 4)
    // a maintenance commit pushes the VERSION counter past the batch
    // counter: _latest = 2 while the highest applied batch is 1
    assert(MergeSink.compactBucketedStore(spark, store).contains(2L))
    // lose the _lastBatch pointer: the old fallback compared batchIds
    // against _latest and would silently SKIP never-applied batch 2
    Files.delete(java.nio.file.Paths.get(store, "_lastBatch"))
    MergeSink.applyBucketedBatch(
      Seq((100L, "upsert", 2L, "c", 30L)).toDF("k", "op", "ver", "name", "v"),
      2L, store, "k", "op", "ver", vcols, nBuckets = 4)
    val got = MergeSink.currentBucketedSnapshot(spark, store).get
      .select("k", "name", "v").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    assert(got == Set((1L, "a", 10L), (k2, "b", 20L), (100L, "c", 30L)),
      s"batch 2 must apply, not be skipped: $got")
  }

  test("ST8: fan-out table is idempotent under batch replay (crash before commit)") {
    // simulate a crash between the parquet write and the checkpoint
    // commit: run batch 0, then delete its commit marker so the
    // restarted query replays it — the batchId-keyed dynamic overwrite
    // must leave the table without duplicates
    val dir = Files.createTempDirectory("graft_replay").toString
    val srcDir = new java.io.File(s"$dir/in"); srcDir.mkdirs()
    Files.write(new java.io.File(srcDir, "a.csv").toPath,
      "2026-01-01 10:00:00,A,1\n2026-01-01 10:01:00,B,2\n".getBytes)
    def query() = spark.readStream
      .schema("ts timestamp, mac string, sensorId long")
      .csv(s"$dir/in")
    val q1 = graft.streaming.IngestPipeline.fanOut(
      query(), s"$dir/obs", s"$dir/ckpt").start()
    try { q1.processAllAvailable() } finally { q1.stop(); q1.awaitTermination() }
    assert(spark.read.parquet(s"$dir/obs").count() == 2)
    // reconstruct the crash state in a fresh checkpoint dir (same JVM
    // cannot reopen the original path — Spark's concurrent-use guard):
    // offsets/0 present, commits/0 missing = write landed, commit didn't
    val ckpt2 = new java.io.File(s"$dir/ckpt2")
    org.apache.commons.io.FileUtils.copyDirectory(new java.io.File(s"$dir/ckpt"), ckpt2)
    val commit0 = new java.io.File(s"$dir/ckpt2/commits/0")
    assert(commit0.exists, "expected commit marker for batch 0")
    assert(commit0.delete())
    new java.io.File(s"$dir/ckpt2/commits/.0.crc").delete() // stale checksum

    val q2 = graft.streaming.IngestPipeline.fanOut(
      query(), s"$dir/obs", s"$dir/ckpt2").start()
    try { q2.processAllAvailable() } finally q2.stop()
    val back = spark.read.parquet(s"$dir/obs")
    assert(back.count() == 2, "replayed batch must overwrite, not append")
    assert(back.select("mac").orderBy("mac").collect().map(_.getString(0)).toSeq
      == Seq("A", "B"))
  }

  test("S4 interchange: the obs table round-trips through csv and json sources") {
    // the reference's query surface is "any SQL over the obs table"
    // (ssidentity.c:17-18); interchange formats must round-trip so a
    // fleet can upload in whatever its sensors emit
    val dir = Files.createTempDirectory("graft_io").toString
    val obs = Seq(
      (ts("2026-01-01 10:00:00"), "28B2BDD02FC8", "cafe-wifi", -90, 2464, 306.1, 1L),
      (ts("2026-01-01 10:01:00"), "AABBCCDDEEFF", "home net", -84, 2412, 153.41, 2L))
      .toDF("ts", "mac", "ssid", "rssi", "freq", "dist", "sensorId")
    obs.write.option("header", "true").csv(s"$dir/csv")
    obs.write.json(s"$dir/json")
    val schema = obs.schema
    val fromCsv = spark.read.option("header", "true").schema(schema).csv(s"$dir/csv")
    val fromJson = spark.read.schema(schema).json(s"$dir/json")
    val want = obs.orderBy("sensorId").collect().map(_.toString).toSeq
    assert(fromCsv.orderBy("sensorId").collect().map(_.toString).toSeq == want)
    assert(fromJson.orderBy("sensorId").collect().map(_.toString).toSeq == want)
  }

  test("ST8: foreachBatch fan-out writes the table exactly once per batch") {
    val dir = Files.createTempDirectory("graft_fanout").toString
    val in = MemoryStream[(Timestamp, String, Long)]
    val obs = in.toDF().toDF("ts", "mac", "sensorId")
    val q = graft.streaming.IngestPipeline.fanOut(
      obs, s"$dir/obs", s"$dir/ckpt").start()
    try {
      in.addData((ts("2026-01-01 10:00:00"), "A", 1L))
      q.processAllAvailable()
      in.addData((ts("2026-01-01 10:01:00"), "A", 1L),
        (ts("2026-01-01 10:02:00"), "B", 1L))
      q.processAllAvailable()
      assert(spark.read.parquet(s"$dir/obs").count() == 3)
    } finally q.stop()
  }

  test("F3/F4: MAC pack -> format -> parse is a bijection on 48-bit values") {
    val macs = {
      val params = Gen.Parameters.default
      Iterator.iterate(Seed(99L))(_.next)
        .map(s => Gen.chooseNum(0L, (1L << 48) - 1).apply(params, s))
        .collect { case Some(v) => v }.take(60).toList
    }
    val rows = macs.toDF("mac_u64")
      .select(col("mac_u64"), SignalFunctions.formatMac(col("mac_u64")).as("hex"))
      .withColumn("rt", conv(col("hex"), 16, 10).cast("long"))
      .collect()
    rows.foreach { r =>
      assert(r.getAs[String]("hex").length == 12)
      assert(r.getAs[String]("hex").toUpperCase == r.getAs[String]("hex"))
      assert(r.getAs[Long]("rt") == r.getAs[Long]("mac_u64"))
    }
  }

  test("ST10 bucketed: erasing a bucket's EVERY row converges on re-run; the store stays readable") {
    import graft.streaming.MergeSink
    val dir = Files.createTempDirectory("graft_merge_erase_all").toString
    val store = s"$dir/store"
    val vcols = Seq("name", "v")
    MergeSink.applyBucketedBatch(
      Seq((1L, "upsert", 1L, "a", 10L)).toDF("k", "op", "ver", "name", "v"),
      0L, store, "k", "op", "ver", vcols, nBuckets = 4)
    // the one live bucket loses its every row: its dir now holds no
    // part files, only _SUCCESS
    assert(MergeSink.eraseKeys(spark, store, Seq(1L).toDF("k")).contains(1L))
    // the fully-erased store still READS — as an empty frame typed by
    // its recorded schema, at the head and at every retained point
    // (schema inference over the part-less dirs would throw instead)
    val cur = MergeSink.currentBucketedSnapshot(spark, store).get
    assert(cur.columns.toSeq == Seq("k", "name", "v"))
    assert(cur.count() == 0)
    assert(MergeSink.bucketedSnapshotAt(spark, store, 0L).count() == 0)
    // a SECOND erasure (the crash-retry path) converges idempotently
    // instead of dying on the empty bucket dir it produced
    assert(MergeSink.eraseKeys(spark, store, Seq(1L).toDF("k")).contains(2L))
    assert(MergeSink.currentBucketedSnapshot(spark, store).get.count() == 0)
    // and the store keeps serving writes
    MergeSink.applyBucketedBatch(
      Seq((1L, "upsert", 9L, "re", 99L)).toDF("k", "op", "ver", "name", "v"),
      1L, store, "k", "op", "ver", vcols, nBuckets = 4)
    assert(MergeSink.currentBucketedSnapshot(spark, store).get
      .select("k", "name", "v").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet ==
      Set((1L, "re", 99L)))
  }

  test("ST10: a LIVE maintenance claim is never silently adopted by a second maintenance writer") {
    import graft.streaming.MergeSink
    val dir = Files.createTempDirectory("graft_merge_maint_live").toString
    val store = s"$dir/store"
    val vcols = Seq("name", "v")
    def bucketOf(k: Long): Long = spark.range(1)
      .select(pmod(xxhash64(lit(k)), lit(4L))).head().getLong(0)
    val k2 = (2L to 64L).find(k => bucketOf(k) != bucketOf(1L)).get
    MergeSink.applyBucketedBatch(
      Seq((1L, "upsert", 1L, "a", 10L)).toDF("k", "op", "ver", "name", "v"),
      0L, store, "k", "op", "ver", vcols, nBuckets = 4)
    MergeSink.applyBucketedBatch(
      Seq((k2, "upsert", 2L, "b", 20L)).toDF("k", "op", "ver", "name", "v"),
      1L, store, "k", "op", "ver", vcols, nBuckets = 4)
    // another maintenance writer holds a FRESH claim on v2 with the
    // identical (parent, batchId) = (1, -1) pair — content alone cannot
    // distinguish it from a crash-replay of ourselves, which is exactly
    // why the old pass-through was a two-writer hole; the nonce-aware
    // protocol refuses until the lease expires
    val marker = java.nio.file.Paths.get(store, "_commits", "2")
    Files.write(marker, "1 -1 12345".getBytes)
    val e = intercept[java.util.ConcurrentModificationException] {
      MergeSink.compactBucketedStore(spark, store)
    }
    assert(e.getMessage.contains("expires"), e.getMessage)
    // once aged past the lease the takeover proceeds as usual
    Files.setLastModifiedTime(marker,
      java.nio.file.attribute.FileTime.fromMillis(0L))
    assert(MergeSink.compactBucketedStore(spark, store).contains(2L))
  }

  test("ST10: two recoverers racing an abandoned claim — exactly one wins, the other is loud") {
    import graft.streaming.MergeSink
    val dir = Files.createTempDirectory("graft_merge_race_takeover").toString
    val store = s"$dir/store"
    val vcols = Seq("name", "v")
    val b0 = Seq((1L, "upsert", 1L, "a", 10L)).toDF("k", "op", "ver", "name", "v")
    MergeSink.applyBatch(b0, 0L, store, "k", "op", "ver", vcols)
    // an abandoned, lease-expired claim on v1 from parent 0
    val marker = java.nio.file.Paths.get(store, "_commits", "1")
    Files.write(marker, "0 -1 777".getBytes)
    Files.setLastModifiedTime(marker,
      java.nio.file.attribute.FileTime.fromMillis(0L))
    // two writers recover concurrently, both pinned to parent 0 (the
    // deterministic shape of the race: even full serialization cannot
    // let both pass — the second fails the committed-past-parent check)
    val outcomes = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val threads = (0 until 2).map { i =>
      val t = new Thread(() => {
        val b = Seq((10L + i, "upsert", 2L + i, s"w$i", 1L))
          .toDF("k", "op", "ver", "name", "v")
        try {
          MergeSink.applyBatchFrom(Some(0L), b, 10L + i, store, "k", "op",
            "ver", vcols)
          outcomes.add("ok")
        } catch {
          case _: java.util.ConcurrentModificationException => outcomes.add("cme")
          case e: Throwable => outcomes.add(s"other:${e.getClass.getSimpleName}")
        }
      })
      t.start(); t
    }
    threads.foreach(_.join())
    import scala.jdk.CollectionConverters._
    assert(outcomes.asScala.toSeq.sorted == Seq("cme", "ok"),
      s"exactly one recoverer must win (got $outcomes)")
    // the winner's commit is intact and the store is consistent
    val snap = MergeSink.currentSnapshot(spark, store, "k", vcols).get
    assert(snap.count() == 2)
  }

  test("ST10 bucketed: storeHistory reports a DAMAGED marker as unknown, never as a batch commit") {
    import graft.streaming.MergeSink
    val dir = Files.createTempDirectory("graft_merge_hist_damage").toString
    val store = s"$dir/store"
    MergeSink.applyBucketedBatch(
      Seq((1L, "upsert", 1L, "a", 10L)).toDF("k", "op", "ver", "name", "v"),
      0L, store, "k", "op", "ver", Seq("name", "v"), nBuckets = 4)
    // corrupt the commit marker's batch field
    Files.write(java.nio.file.Paths.get(store, "_commits", "0"),
      "0 notanumber".getBytes)
    val h = MergeSink.storeHistory(spark, store).collect()
    assert(h.length == 1)
    assert(h(0).getString(1) == "unknown",
      s"damaged marker must be unknown, got ${h(0).getString(1)}")
    assert(h(0).isNullAt(2))
  }

  test("ST10 source: pollChanges delivers rate-limited ranges whose replay equals every snapshot prefix") {
    import graft.streaming.MergeSink
    val dir = Files.createTempDirectory("graft_feed_poll").toString
    val store = s"$dir/store"
    val vcols = Seq("name", "v")
    def bucketOf(k: Long): Long = spark.range(1)
      .select(pmod(xxhash64(lit(k)), lit(4L))).head().getLong(0)
    val k2 = (2L to 64L).find(k => bucketOf(k) != bucketOf(1L)).get
    MergeSink.applyBucketedBatch(
      Seq((1L, "upsert", 1L, "a", 10L), (k2, "upsert", 1L, "b", 20L))
        .toDF("k", "op", "ver", "name", "v"),
      0L, store, "k", "op", "ver", vcols, nBuckets = 4)
    MergeSink.applyBucketedBatch(
      Seq((1L, "upsert", 2L, "a2", 11L)).toDF("k", "op", "ver", "name", "v"),
      1L, store, "k", "op", "ver", vcols, nBuckets = 4)
    MergeSink.applyBucketedBatch(
      Seq((k2, "delete", 3L, null.asInstanceOf[String], 0L), (9L, "upsert", 3L, "c", 30L))
        .toDF("k", "op", "ver", "name", "v"),
      2L, store, "k", "op", "ver", vcols, nBuckets = 4)
    def snap(v: Long) = MergeSink.bucketedSnapshotAt(spark, store, v)
      .select("k", "name", "v").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    // subscribe from the beginning, one version per poll: each delivered
    // range, applied to the running state, reproduces that prefix's
    // snapshot — the stream≡batch equivalence, at every prefix
    var state = snap(0L)
    var ranges = Seq.empty[(Long, Long)]
    var delivered = true
    while (delivered) {
      delivered = MergeSink.pollChanges(spark, store, "s1",
        versionsPerTrigger = 1, startAtVersion = Some(0L)) { (chg, from, to) =>
        ranges :+= (from, to)
        val rows = chg.collect()
        rows.foreach { r =>
          val k = r.getLong(r.fieldIndex("k"))
          r.getString(r.fieldIndex("change")) match {
            case "insert" =>
              state += ((k, r.getString(r.fieldIndex("name_new")),
                r.getLong(r.fieldIndex("v_new"))))
            case "delete" =>
              state = state.filterNot(_._1 == k)
            case "update" =>
              state = state.filterNot(_._1 == k) +
                ((k, r.getString(r.fieldIndex("name_new")),
                  r.getLong(r.fieldIndex("v_new"))))
          }
        }
        assert(state == snap(to), s"replayed state at v$to diverged")
      }
    }
    assert(ranges == Seq((0L, 1L), (1L, 2L)), s"got $ranges")
    assert(MergeSink.subscriberOffset(store, "s1").contains(2L))
    // a DEFAULT-start subscriber begins at the current head: nothing to
    // deliver until the next commit, which then arrives exactly once
    assert(!MergeSink.pollChanges(spark, store, "s2") { (_, _, _) => fail("no changes yet") })
    assert(MergeSink.subscriberOffset(store, "s2").contains(2L))
    MergeSink.applyBucketedBatch(
      Seq((1L, "upsert", 9L, "a3", 12L)).toDF("k", "op", "ver", "name", "v"),
      3L, store, "k", "op", "ver", vcols, nBuckets = 4)
    var got = Seq.empty[(Long, Long)]
    assert(MergeSink.pollChanges(spark, store, "s2") { (_, f, t) => got :+= (f, t) })
    assert(got == Seq((2L, 3L)))
    assert(!MergeSink.pollChanges(spark, store, "s2") { (_, _, _) => fail("caught up") })
  }

  test("ST10 source: a subscriber lagging past vacuum retention fails loudly, never partially") {
    import graft.streaming.MergeSink
    val dir = Files.createTempDirectory("graft_feed_lag").toString
    val store = s"$dir/store"
    val vcols = Seq("name", "v")
    // 4 commits rewriting the same key — old read points die by liveness
    (0 until 4).foreach { i =>
      MergeSink.applyBucketedBatch(
        Seq((1L, "upsert", i.toLong + 1, s"n$i", i.toLong))
          .toDF("k", "op", "ver", "name", "v"),
        i.toLong, store, "k", "op", "ver", vcols, nBuckets = 4)
    }
    // the subscriber parks at v0, then vacuum reclaims v0's read point
    assert(MergeSink.pollChanges(spark, store, "slow", versionsPerTrigger = 1,
      startAtVersion = Some(0L)) { (_, f, t) => assert((f, t) == (0L, 1L)) })
    assert(MergeSink.vacuumBucketedStore(store).nonEmpty)
    // retention outlived: the next poll refuses LOUDLY (offset intact,
    // nothing partially delivered) — size retention to the slowest
    // subscriber, or re-subscribe from a live read point
    val e = intercept[IllegalStateException] {
      MergeSink.pollChanges(spark, store, "slow", versionsPerTrigger = 1) {
        (_, _, _) => fail("must not deliver")
      }
    }
    assert(e.getMessage.contains("vacuum"), e.getMessage)
    assert(MergeSink.subscriberOffset(store, "slow").contains(1L))
    // a retention window sized to the lag keeps the feed alive instead
    val store2 = s"$dir/store2"
    (0 until 4).foreach { i =>
      MergeSink.applyBucketedBatch(
        Seq((1L, "upsert", i.toLong + 1, s"n$i", i.toLong))
          .toDF("k", "op", "ver", "name", "v"),
        i.toLong, store2, "k", "op", "ver", vcols, nBuckets = 4)
    }
    assert(MergeSink.pollChanges(spark, store2, "slow", versionsPerTrigger = 1,
      startAtVersion = Some(0L)) { (_, _, _) => () })
    assert(MergeSink.vacuumBucketedStore(store2, retainLast = 3).length <= 1)
    var drained = 0
    while (MergeSink.pollChanges(spark, store2, "slow", versionsPerTrigger = 1) {
      (_, _, _) => drained += 1
    }) ()
    assert(drained == 2 && MergeSink.subscriberOffset(store2, "slow").contains(3L))
  }

  test("ST10 source: the LIVE IVM view equals a from-scratch recompute at every prefix; redelivery is a no-op") {
    import graft.streaming.MergeSink
    val dir = Files.createTempDirectory("graft_feed_ivm").toString
    val store = s"$dir/store"
    val viewDir = s"$dir/view"
    val vcols = Seq("name", "v")
    def bucketOf(k: Long): Long = spark.range(1)
      .select(pmod(xxhash64(lit(k)), lit(4L))).head().getLong(0)
    val k2 = (2L to 64L).find(k => bucketOf(k) != bucketOf(1L)).get
    def recompute(v: Long): Set[(String, Long, Long)] =
      MergeSink.bucketedSnapshotAt(spark, store, v)
        .groupBy("name").agg(count(lit(1)).as("n"), sum("v").as("vsum"))
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    def view(): Set[(String, Long, Long)] =
      MergeSink.currentViewState(spark, viewDir).get
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    MergeSink.applyBucketedBatch(
      Seq((1L, "upsert", 1L, "x", 10L), (k2, "upsert", 1L, "x", 20L), (9L, "upsert", 1L, "y", 5L))
        .toDF("k", "op", "ver", "name", "v"),
      0L, store, "k", "op", "ver", vcols, nBuckets = 4)
    // the maintained view, driven by a test-controlled clock: one
    // MemoryStream tick = one trigger of the real streaming query
    val clock = MemoryStream[Int]
    val q = MergeSink.maintainAggView(spark, store, "ivm", viewDir,
      s"$dir/ckpt", "name", "v", clock = Some(clock.toDF())).start()
    try {
      // store evolves: update moves value mass, delete retracts a group
      MergeSink.applyBucketedBatch(
        Seq((1L, "upsert", 2L, "x", 11L)).toDF("k", "op", "ver", "name", "v"),
        1L, store, "k", "op", "ver", vcols, nBuckets = 4)
      clock.addData(1); q.processAllAvailable()
      assert(view() == recompute(1L), "view after v1")
      MergeSink.applyBucketedBatch(
        Seq((9L, "delete", 3L, null.asInstanceOf[String], 0L), (k2, "upsert", 3L, "z", 7L))
          .toDF("k", "op", "ver", "name", "v"),
        2L, store, "k", "op", "ver", vcols, nBuckets = 4)
      clock.addData(2); q.processAllAvailable()
      assert(view() == recompute(2L), "view after v2 (group y retracted, z born)")
      assert(recompute(2L).map(_._1) == Set("x", "z"))
    } finally q.stop()
    // redelivery of an already-applied range (the at-least-once crash
    // path) is a no-op: the view store dedups on the delivered `to`
    val before = view()
    val feed = MergeSink.storeChangesBetween(spark, store, 1L, 2L)
    MergeSink.applyFeedToView(spark, store, feed, 1L, 2L, viewDir, "name", "v")
    assert(view() == before, "redelivered range must not double-apply")
  }

  test("ST10 view retention: a retained IVM view stays bounded on disk; redelivery dedup survives the vacuum") {
    import scala.jdk.CollectionConverters._
    import graft.streaming.MergeSink
    val dir = Files.createTempDirectory("graft_view_retain").toString
    val store = s"$dir/store"
    val viewDir = s"$dir/view"
    val vcols = Seq("name", "v")
    MergeSink.applyBucketedBatch(
      Seq((1L, "upsert", 1L, "x", 10L)).toDF("k", "op", "ver", "name", "v"),
      0L, store, "k", "op", "ver", vcols, nBuckets = 4)
    val clock = MemoryStream[Int]
    // retention 2: the view never holds more than 2 snapshot dirs no
    // matter how many ranges deliver — the unbounded-growth gap closed
    val q = MergeSink.maintainAggView(spark, store, "ivmret", viewDir,
      s"$dir/ckpt", "name", "v", clock = Some(clock.toDF()),
      retainViewVersions = 2).start()
    def viewDirs(): Int = {
      val s0 = java.nio.file.Files.list(java.nio.file.Paths.get(viewDir))
      try s0.iterator().asScala.map(_.getFileName.toString)
        .count(n => n.startsWith("v") && n.drop(1).forall(_.isDigit))
      finally s0.close()
    }
    try {
      (1 to 6).foreach { i =>
        MergeSink.applyBucketedBatch(
          Seq((1L, "upsert", i.toLong + 1, "x", 10L + i)).toDF("k", "op", "ver", "name", "v"),
          i.toLong, store, "k", "op", "ver", vcols, nBuckets = 4)
        clock.addData(i); q.processAllAvailable()
      }
      assert(viewDirs() <= 2, s"view must stay bounded (got ${viewDirs()} dirs)")
      val got = MergeSink.currentViewState(spark, viewDir).get
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
      assert(got == Set(("x", 1L, 16L)), s"view content: $got")
    } finally q.stop()
    // redelivery dedup reads `_lastBatch` + the HEAD marker — both
    // survive the vacuum, so a replayed range is still a no-op
    val before = MergeSink.currentViewState(spark, viewDir).get
      .collect().map(_.toString).toSet
    val feed = MergeSink.storeChangesBetween(spark, store, 5L, 6L)
    MergeSink.applyFeedToView(spark, store, feed, 5L, 6L, viewDir, "name", "v")
    assert(MergeSink.currentViewState(spark, viewDir).get
      .collect().map(_.toString).toSet == before,
      "redelivered range must not double-apply after vacuum")
    // guard rails: plain-store vacuum refuses bucketed stores and
    // always keeps the head
    intercept[IllegalArgumentException] {
      MergeSink.vacuumPlainStore(store)
    }
    intercept[IllegalArgumentException] {
      MergeSink.vacuumPlainStore(viewDir, retainLast = 0)
    }
  }

  test("ST10 bucketed: vacuum retention windows hold read points; liveness still rules") {
    import graft.streaming.MergeSink
    val dir = Files.createTempDirectory("graft_vacuum_retain").toString
    val store = s"$dir/store"
    val vcols = Seq("name", "v")
    // 4 commits rewriting the SAME key: every old version is dead by
    // liveness the moment the next lands
    (0 until 4).foreach { i =>
      MergeSink.applyBucketedBatch(
        Seq((1L, "upsert", i.toLong + 1, s"n$i", i.toLong))
          .toDF("k", "op", "ver", "name", "v"),
        i.toLong, store, "k", "op", "ver", vcols, nBuckets = 4)
    }
    // retainLast=3 keeps v1 and v2 materializable (plus the head v3)
    assert(MergeSink.vacuumBucketedStore(store, retainLast = 3) == Seq(0L))
    assert(MergeSink.bucketedSnapshotAt(spark, store, 1L).count() == 1)
    assert(MergeSink.bucketedSnapshotAt(spark, store, 2L).count() == 1)
    intercept[IllegalStateException] {
      MergeSink.bucketedSnapshotAt(spark, store, 0L)
    }
    // a time window (1h) refuses every fresh commit…
    assert(MergeSink.vacuumBucketedStore(store, retainMillis = 3600L * 1000).isEmpty)
    // …and releases them once the commits age past it
    Seq(1L, 2L).foreach { v =>
      Files.setLastModifiedTime(
        java.nio.file.Paths.get(store, "_manifests", v.toString),
        java.nio.file.attribute.FileTime.fromMillis(0L))
    }
    assert(MergeSink.vacuumBucketedStore(store, retainMillis = 3600L * 1000) ==
      Seq(1L, 2L))
    // liveness always rules: the head's data dir survives any policy
    assert(MergeSink.vacuumBucketedStore(store).isEmpty)
    assert(MergeSink.currentBucketedSnapshot(spark, store).get.count() == 1)
  }

  test("ST10 maintain: policy-driven auto-OPTIMIZE fires on fragmentation, no-ops within policy, refuses under a live claim") {
    import graft.streaming.MergeSink
    val dir = Files.createTempDirectory("graft_maintain").toString
    val store = s"$dir/store"
    val vcols = Seq("name", "v")
    // 5 single-key commits fragment the manifest across 5 live-ish
    // versions (same key → versions die as they are superseded, so use
    // distinct keys to really fan out the manifest)
    (0 until 5).foreach { i =>
      MergeSink.applyBucketedBatch(
        Seq((i.toLong * 7 + 1, "upsert", 1L, s"n$i", i.toLong))
          .toDF("k", "op", "ver", "name", "v"),
        i.toLong, store, "k", "op", "ver", vcols, nBuckets = 8)
    }
    val before = MergeSink.currentBucketedSnapshot(spark, store).get.collect()
      .map(_.toString).toSet
    // policy violated (manifest fans out past 2 live versions):
    // compaction + vacuum in one pass
    val r1 = MergeSink.maintainStore(spark, store,
      MergeSink.MaintenancePolicy(maxLiveVersions = 2))
    assert(r1.triggered && r1.compactedVersion.isDefined,
      s"expected a compaction: $r1")
    assert(r1.vacuumed.nonEmpty, "dead versions reclaimed in the same pass")
    val after = MergeSink.currentBucketedSnapshot(spark, store).get.collect()
      .map(_.toString).toSet
    assert(after == before, "maintenance must not change content")
    // now within policy: the next pass is a measured no-op
    val r2 = MergeSink.maintainStore(spark, store,
      MergeSink.MaintenancePolicy(maxLiveVersions = 2))
    assert(!r2.triggered && r2.compactedVersion.isEmpty,
      s"compact store must no-op: $r2")
    // a LIVE in-flight claim (lease-fresh marker beyond head) refuses
    // the maintenance pass outright
    val head = MergeSink.latestVersion(store).get
    val marker = java.nio.file.Paths.get(store, "_commits", (head + 1).toString)
    Files.write(marker, s"$head 9 1 w=live b=0".getBytes("UTF-8"))
    try intercept[java.util.ConcurrentModificationException] {
      MergeSink.maintainStore(spark, store)
    } finally Files.deleteIfExists(marker)
    // retention windows pass through: a fresh re-fragmentation with a
    // time window refuses reclamation of young read points
    MergeSink.applyBucketedBatch(
      Seq((99L, "upsert", 1L, "x", 9L)).toDF("k", "op", "ver", "name", "v"),
      5L, store, "k", "op", "ver", vcols, nBuckets = 8)
    val r3 = MergeSink.maintainStore(spark, store,
      MergeSink.MaintenancePolicy(maxLiveVersions = 1,
        retainMillis = 3600L * 1000))
    assert(r3.triggered && r3.vacuumed.isEmpty,
      s"young commits stay inside the retention window: $r3")
  }

  test("ST10 OCC: disjoint-bucket writers commit concurrently; overlap serializes; replay is per-writer") {
    import graft.streaming.MergeSink
    val dir = Files.createTempDirectory("graft_occ").toString
    val store = s"$dir/store"
    val vcols = Seq("name", "v")
    def bucketOf(k: Long): Long = spark.range(1)
      .select(pmod(xxhash64(lit(k)), lit(4L))).head().getLong(0)
    val k2 = (2L to 64L).find(k => bucketOf(k) != bucketOf(1L)).get
    def rows() = MergeSink.currentBucketedSnapshot(spark, store).get
      .select("k", "name", "v").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    // v0 seeds both buckets (serialized writer — the protocols coexist)
    MergeSink.applyBucketedBatch(
      Seq((1L, "upsert", 1L, "a", 10L), (k2, "upsert", 1L, "b", 20L))
        .toDF("k", "op", "ver", "name", "v"),
      0L, store, "k", "op", "ver", vcols, nBuckets = 4)
    // TWO CONCURRENT writers on DISJOINT buckets: both must land, in
    // either interleaving, each as its own linearized commit
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    try {
      val fa = pool.submit(new java.util.concurrent.Callable[Unit] {
        def call(): Unit = MergeSink.applyBucketedBatchOcc(
          Seq((1L, "upsert", 2L, "a2", 11L)).toDF("k", "op", "ver", "name", "v"),
          0L, store, "k", "op", "ver", vcols, nBuckets = 4, writer = "wa")
      })
      val fb = pool.submit(new java.util.concurrent.Callable[Unit] {
        def call(): Unit = MergeSink.applyBucketedBatchOcc(
          Seq((k2, "upsert", 2L, "b2", 21L)).toDF("k", "op", "ver", "name", "v"),
          0L, store, "k", "op", "ver", vcols, nBuckets = 4, writer = "wb")
      })
      fa.get(); fb.get() // neither may fail
    } finally pool.shutdown()
    assert(rows() == Set((1L, "a2", 11L), (k2, "b2", 21L)),
      "both disjoint commits must land")
    assert(MergeSink.latestVersion(store).contains(2L),
      "two OCC commits = two linearized versions")
    // per-writer replay: same (writer, batchId) no-ops; a DIFFERENT
    // writer with the same batchId still applies
    MergeSink.applyBucketedBatchOcc(
      Seq((1L, "upsert", 9L, "SHOULD_NOT_APPLY", 0L))
        .toDF("k", "op", "ver", "name", "v"),
      0L, store, "k", "op", "ver", vcols, nBuckets = 4, writer = "wa")
    assert(rows().contains((1L, "a2", 11L)), "replayed batchId must no-op")
    MergeSink.applyBucketedBatchOcc(
      Seq((1L, "upsert", 3L, "a3", 12L)).toDF("k", "op", "ver", "name", "v"),
      0L, store, "k", "op", "ver", vcols, nBuckets = 4, writer = "wc")
    assert(rows().contains((1L, "a3", 12L)),
      "a different writer's batchId 0 is distinct replay lineage")
    // OVERLAPPING concurrent writers: BOTH land (serialized by the
    // conflict check) as two linearized commits; the store is
    // last-COMMIT-wins per key (ver arbitrates within a batch only),
    // so whichever writer published second owns the head row — the
    // invariant is that neither write is lost from HISTORY
    val beforeOverlap = MergeSink.latestVersion(store).get
    val pool2 = java.util.concurrent.Executors.newFixedThreadPool(2)
    try {
      val f1 = pool2.submit(new java.util.concurrent.Callable[Unit] {
        def call(): Unit = MergeSink.applyBucketedBatchOcc(
          Seq((1L, "upsert", 10L, "over1", 1L)).toDF("k", "op", "ver", "name", "v"),
          1L, store, "k", "op", "ver", vcols, nBuckets = 4, writer = "wa")
      })
      val f2 = pool2.submit(new java.util.concurrent.Callable[Unit] {
        def call(): Unit = MergeSink.applyBucketedBatchOcc(
          Seq((1L, "upsert", 11L, "over2", 2L)).toDF("k", "op", "ver", "name", "v"),
          1L, store, "k", "op", "ver", vcols, nBuckets = 4, writer = "wc")
      })
      f1.get(); f2.get() // neither may fail: the loser rebases and lands
    } finally pool2.shutdown()
    assert(MergeSink.latestVersion(store).contains(beforeOverlap + 2),
      "both overlapping writers must commit (serialized, not lost)")
    val headRow = rows().filter(_._1 == 1L)
    assert(headRow == Set((1L, "over1", 1L)) || headRow == Set((1L, "over2", 2L)),
      s"head = the later COMMIT's row: $headRow")
    // and the earlier commit's row is retained history, not a lost
    // update: the middle read point carries the OTHER writer's row
    val mid = MergeSink.bucketedSnapshotAt(spark, store, beforeOverlap + 1)
      .filter(col("k") === 1L).select("name").head().getString(0)
    val headName = headRow.head._2
    assert(Set("over1", "over2").contains(mid) && mid != headName,
      s"history must retain the first commit (mid=$mid, head=$headName)")
    // an ABANDONED in-flight OCC claim (lease-expired) is swept, not a
    // permanent wedge: fake a dead writer's marker beyond the head
    val head = MergeSink.latestVersion(store).get
    val deadMarker = java.nio.file.Paths.get(store, "_commits", (head + 1).toString)
    Files.write(deadMarker,
      s"$head 7 123 w=dead b=${bucketOf(1L)}".getBytes("UTF-8"))
    Files.setLastModifiedTime(deadMarker,
      java.nio.file.attribute.FileTime.fromMillis(0L))
    MergeSink.applyBucketedBatchOcc(
      Seq((k2, "upsert", 12L, "b3", 22L)).toDF("k", "op", "ver", "name", "v"),
      2L, store, "k", "op", "ver", vcols, nBuckets = 4, writer = "wb")
    assert(rows().contains((k2, "b3", 22L)))
    // the slot was swept and re-claimed by the live writer: the dead
    // writer's claim content is gone (the path persists as the live
    // commit's marker — markers are retained history)
    assert(!new String(Files.readAllBytes(deadMarker), "UTF-8").contains("w=dead"),
      "the dead claim must be swept")
    // the serialized writer still works after OCC commits (one store,
    // two protocols, one linear history)
    MergeSink.applyBucketedBatch(
      Seq((k2, "upsert", 13L, "b4", 23L)).toDF("k", "op", "ver", "name", "v"),
      1L, store, "k", "op", "ver", vcols, nBuckets = 4)
    assert(rows().contains((k2, "b4", 23L)))
  }

  test("ST10 OCC stress: four concurrent writers, three rounds — linear history, no lost updates") {
    import graft.streaming.MergeSink
    val dir = Files.createTempDirectory("graft_occ_stress").toString
    val store = s"$dir/store"
    val vcols = Seq("name", "v")
    // 4 writers, each owning a fixed key (buckets may or may not
    // collide — the protocol must be correct either way), 3 sequential
    // batches per writer fired concurrently across writers
    val keys = Seq(11L, 22L, 33L, 44L)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    try {
      (0 until 3).foreach { round =>
        val futures = keys.zipWithIndex.map { case (k, w) =>
          pool.submit(new java.util.concurrent.Callable[Unit] {
            def call(): Unit = MergeSink.applyBucketedBatchOcc(
              Seq((k, "upsert", round.toLong + 1, s"w${w}r$round", k + round))
                .toDF("k", "op", "ver", "name", "v"),
              round.toLong, store, "k", "op", "ver", vcols, nBuckets = 4,
              writer = s"w$w")
          })
        }
        futures.foreach(_.get()) // every commit must land, every round
      }
    } finally pool.shutdown()
    // 12 commits, linear history v0..v11
    assert(MergeSink.latestVersion(store).contains(11L))
    // final state: every writer's LAST round survived (no lost update)
    val got = MergeSink.currentBucketedSnapshot(spark, store).get
      .select("k", "name", "v").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    val want = keys.zipWithIndex
      .map { case (k, w) => (k, s"w${w}r2", k + 2) }.toSet
    assert(got == want, s"expected $want, got $got")
    // every intermediate read point still materializes (the manifest
    // chain composed correctly under concurrency)
    (0L to 11L).foreach { v =>
      assert(MergeSink.bucketedSnapshotAt(spark, store, v).count() >= 1)
    }
  }

  test("ST10 evolution: ADD COLUMNS is metadata-only; write-old/read-new; history keeps its schema") {
    import graft.streaming.MergeSink
    import org.apache.spark.sql.types.{LongType, StructField}
    val dir = Files.createTempDirectory("graft_evolve").toString
    val store = s"$dir/store"
    val vcols = Seq("name", "v")
    def bucketOf(k: Long): Long = spark.range(1)
      .select(pmod(xxhash64(lit(k)), lit(4L))).head().getLong(0)
    val k2 = (2L to 64L).find(k => bucketOf(k) != bucketOf(1L)).get
    // v0: two keys in different buckets
    MergeSink.applyBucketedBatch(
      Seq((1L, "upsert", 1L, "a", 10L), (k2, "upsert", 1L, "b", 20L))
        .toDF("k", "op", "ver", "name", "v"),
      0L, store, "k", "op", "ver", vcols, nBuckets = 4)
    // v1: METADATA-ONLY evolution — no data moves, no data dir appears
    assert(MergeSink.addColumns(store,
      Seq(StructField("score", LongType))) == 1L)
    assert(!Files.exists(java.nio.file.Paths.get(store, "v1")),
      "ADD COLUMNS must be metadata-only")
    def snap(v: Option[Long]) = {
      val df = v.map(MergeSink.bucketedSnapshotAt(spark, store, _))
        .getOrElse(MergeSink.currentBucketedSnapshot(spark, store).get)
      df.collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2),
        if (df.columns.contains("score"))
          Option(r.get(df.columns.indexOf("score"))).map(_.asInstanceOf[Long])
        else None)).toSet
    }
    // read-new at head: widened schema, old rows null-backfilled
    val head1 = MergeSink.currentBucketedSnapshot(spark, store).get
    assert(head1.columns.toSeq == Seq("k", "name", "v", "score"))
    assert(snap(None) == Set((1L, "a", 10L, None), (k2, "b", 20L, None)))
    // time travel BEFORE the boundary: the THEN-current schema
    assert(MergeSink.bucketedSnapshotAt(spark, store, 0L).columns.toSeq ==
      Seq("k", "name", "v"), "evolution is part of history")
    // v2: write-NEW supplies the evolved column
    MergeSink.applyBucketedBatch(
      Seq((k2, "upsert", 2L, "b2", 21L, 5L))
        .toDF("k", "op", "ver", "name", "v", "score"),
      1L, store, "k", "op", "ver", Seq("name", "v", "score"), nBuckets = 4)
    // v3: WRITE-OLD — a pre-evolution writer keeps committing without
    // the column; its rows are full-row upserts (score reads null)
    MergeSink.applyBucketedBatch(
      Seq((1L, "upsert", 3L, "a3", 11L)).toDF("k", "op", "ver", "name", "v"),
      2L, store, "k", "op", "ver", vcols, nBuckets = 4)
    assert(snap(None) == Set((1L, "a3", 11L, None), (k2, "b2", 21L, Some(5L))))
    assert(snap(Some(2L)) == Set((1L, "a", 10L, None), (k2, "b2", 21L, Some(5L))))
    // the change feed ACROSS the boundary carries the widened schema,
    // old values null-filled
    val feed = MergeSink.storeChangesBetween(spark, store, 0L, 3L)
    assert(feed.columns.toSeq == Seq("k", "change", "name_old", "name_new",
      "v_old", "v_new", "score_old", "score_new"))
    val changes = feed.collect().map(r => (r.getLong(0), r.getString(1),
      Option(r.get(6)), Option(r.get(7)))).toSet
    assert(changes == Set((1L, "update", None, None),
      (k2, "update", None, Some(5L))))
    // a write-old upsert REPLACES the whole row: the evolved column
    // returns to null for that key
    MergeSink.applyBucketedBatch(
      Seq((k2, "upsert", 4L, "b4", 23L)).toDF("k", "op", "ver", "name", "v"),
      3L, store, "k", "op", "ver", vcols, nBuckets = 4)
    assert(snap(None) == Set((1L, "a3", 11L, None), (k2, "b4", 23L, None)))
    // clones inherit the clone point's (evolved) schema
    val br = s"$dir/branch"
    MergeSink.cloneStore(spark, store, br)
    assert(MergeSink.currentBucketedSnapshot(spark, br).get.columns.toSeq ==
      Seq("k", "name", "v", "score"))
    MergeSink.releaseClone(store, br)
    // erasure works across the evolution (per-version recorded schemas)
    MergeSink.eraseKeys(spark, store, Seq(1L).toDF("k"))
    assert(snap(None) == Set((k2, "b4", 23L, None)))
    assert(snap(Some(0L)) == Set((k2, "b", 20L, None)).map(t => (t._1, t._2, t._3, Option.empty[Long])),
      "the subject is gone from all retained history")
    // destructive or clashing changes stay refused
    intercept[IllegalArgumentException] {
      MergeSink.addColumns(store, Seq(StructField("name",
        org.apache.spark.sql.types.StringType)))
    }
    intercept[IllegalArgumentException] { MergeSink.addColumns(store, Nil) }
  }

  test("ST10 bucketed: retention keeps protected read points MATERIALIZABLE in multi-bucket stores") {
    import graft.streaming.MergeSink
    val dir = Files.createTempDirectory("graft_vacuum_multibucket").toString
    val store = s"$dir/store"
    val vcols = Seq("name", "v")
    def bucketOf(k: Long): Long = spark.range(1)
      .select(pmod(xxhash64(lit(k)), lit(4L))).head().getLong(0)
    val k2 = (2L to 64L).find(k => bucketOf(k) != bucketOf(1L)).get
    def put(k: Long, ver: Long, name: String, batch: Long): Unit =
      MergeSink.applyBucketedBatch(
        Seq((k, "upsert", ver, name, ver * 10)).toDF("k", "op", "ver", "name", "v"),
        batch, store, "k", "op", "ver", vcols, nBuckets = 4)
    // v0 writes BOTH buckets; v1 touches only k1's bucket, v2 only
    // k2's, v3 and v4 only k1's. Head (v4) manifest = {b1→v4, b2→v2};
    // v2's manifest = {b1→v1, b2→v2} — so v1's dir is dead by
    // head-liveness AND outside retainLast=3 by its own number, yet a
    // retained read point (v2) resolves k1 through it. The retention
    // contract says v2..v4 stay materializable, so v1 must survive.
    MergeSink.applyBucketedBatch(
      Seq((1L, "upsert", 1L, "a0", 10L), (k2, "upsert", 1L, "b0", 20L))
        .toDF("k", "op", "ver", "name", "v"),
      0L, store, "k", "op", "ver", vcols, nBuckets = 4)
    put(1L, 2L, "a1", 1L)
    put(k2, 3L, "b2", 2L)
    put(1L, 4L, "a3", 3L)
    put(1L, 5L, "a4", 4L)
    assert(MergeSink.vacuumBucketedStore(store, retainLast = 3, dryRun = true) ==
      Seq(0L), "only v0 is reclaimable: v1 is referenced by v2's manifest")
    assert(MergeSink.vacuumBucketedStore(store, retainLast = 3) == Seq(0L))
    // every protected read point still materializes, with BOTH keys
    def rows(v: Long) = MergeSink.bucketedSnapshotAt(spark, store, v)
      .select("k", "name").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    assert(rows(2L) == Set((1L, "a1"), (k2, "b2")), "v2 read point intact")
    assert(rows(3L) == Set((1L, "a3"), (k2, "b2")), "v3 read point intact")
    assert(rows(4L) == Set((1L, "a4"), (k2, "b2")), "head intact")
    // outside the window, liveness takes over again: dropping the
    // window reclaims v1 and v3 (dead by head-liveness), head survives
    assert(MergeSink.vacuumBucketedStore(store).sorted == Seq(1L, 3L))
    assert(rows(4L) == Set((1L, "a4"), (k2, "b2")))
  }

  test("ST10 view: crash between _latest swap and _lastBatch cannot double-apply signed deltas") {
    import graft.streaming.MergeSink
    val dir = Files.createTempDirectory("graft_view_crash").toString
    val store = s"$dir/store"
    val viewDir = s"$dir/view"
    val vcols = Seq("name", "v")
    MergeSink.applyBucketedBatch(
      Seq((1L, "upsert", 1L, "x", 10L), (2L, "upsert", 1L, "x", 5L))
        .toDF("k", "op", "ver", "name", "v"),
      0L, store, "k", "op", "ver", vcols, nBuckets = 4)
    MergeSink.applyBucketedBatch(
      Seq((1L, "upsert", 2L, "x", 11L)).toDF("k", "op", "ver", "name", "v"),
      1L, store, "k", "op", "ver", vcols, nBuckets = 4)
    val feed = MergeSink.storeChangesBetween(spark, store, 0L, 1L)
    MergeSink.applyFeedToView(spark, store, feed, 0L, 1L, viewDir, "name", "v")
    def view() = MergeSink.currentViewState(spark, viewDir).get
      .select("name", "n", "vsum").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    val applied = view()
    assert(applied == Set(("x", 2L, 16L)), "view after (0,1]")
    // simulate the crash window: `_latest` swapped, `_lastBatch` never
    // written. incrementalAgg is NOT idempotent — without the
    // marker-based guard the redelivered range re-applies the signed
    // deltas to a base that already includes them and the sums double
    // silently, forever.
    Files.delete(java.nio.file.Paths.get(viewDir, "_lastBatch"))
    MergeSink.applyFeedToView(spark, store, feed, 0L, 1L, viewDir, "name", "v")
    assert(view() == applied, "redelivery after the crash window must no-op")
    // ...and the guard HEALS the offset so the normal path resumes
    assert(Files.exists(java.nio.file.Paths.get(viewDir, "_lastBatch")))
  }

  test("ST10 clone: zero-copy branch — independent evolution, source-vacuum pin, localization unlocks erasure") {
    import graft.streaming.MergeSink
    val dir = Files.createTempDirectory("graft_clone").toString
    val src = s"$dir/src"
    val br = s"$dir/branch"
    val vcols = Seq("name", "v")
    def bucketOf(k: Long): Long = spark.range(1)
      .select(pmod(xxhash64(lit(k)), lit(4L))).head().getLong(0)
    val k2 = (2L to 64L).find(k => bucketOf(k) != bucketOf(1L)).get
    def rows(df: org.apache.spark.sql.DataFrame) = df
      .select("k", "name", "v").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    MergeSink.applyBucketedBatch(
      Seq((1L, "upsert", 1L, "a", 10L), (k2, "upsert", 1L, "b", 20L))
        .toDF("k", "op", "ver", "name", "v"),
      0L, src, "k", "op", "ver", vcols, nBuckets = 4)
    MergeSink.applyBucketedBatch(
      Seq((1L, "upsert", 2L, "a2", 11L)).toDF("k", "op", "ver", "name", "v"),
      1L, src, "k", "op", "ver", vcols, nBuckets = 4)
    // the clone: head == source snapshot, and ZERO parquet moved
    assert(MergeSink.cloneStore(spark, src, br) == 1L)
    assert(rows(MergeSink.currentBucketedSnapshot(spark, br).get) ==
      Set((1L, "a2", 11L), (k2, "b", 20L)))
    assert(new java.io.File(br).listFiles().forall(f => !f.getName.startsWith("v")),
      "a shallow clone must own no data dirs")
    // independent evolution: branch writes shadow, source is untouched…
    MergeSink.applyBucketedBatch(
      Seq((1L, "upsert", 9L, "branch", 99L)).toDF("k", "op", "ver", "name", "v"),
      0L, br, "k", "op", "ver", vcols, nBuckets = 4)
    assert(rows(MergeSink.currentBucketedSnapshot(spark, br).get) ==
      Set((1L, "branch", 99L), (k2, "b", 20L)))
    assert(rows(MergeSink.currentBucketedSnapshot(spark, src).get) ==
      Set((1L, "a2", 11L), (k2, "b", 20L)))
    // …and source writes are invisible to the branch
    MergeSink.applyBucketedBatch(
      Seq((k2, "upsert", 3L, "src3", 30L)).toDF("k", "op", "ver", "name", "v"),
      2L, src, "k", "op", "ver", vcols, nBuckets = 4)
    assert(rows(MergeSink.currentBucketedSnapshot(spark, br).get) ==
      Set((1L, "branch", 99L), (k2, "b", 20L)))
    // branch time travel works at the clone point, refuses before it
    assert(rows(MergeSink.bucketedSnapshotAt(spark, br, 1L)) ==
      Set((1L, "a2", 11L), (k2, "b", 20L)))
    intercept[IllegalStateException] {
      MergeSink.bucketedSnapshotAt(spark, br, 0L)
    }
    // the registration pins the source's vacuum: src v0/v1 dirs stay
    // even though src's own head no longer needs v0 for key 1
    assert(MergeSink.vacuumBucketedStore(src).isEmpty,
      "clone-referenced dirs must survive the source vacuum")
    // erasure on a non-localized branch refuses loudly
    val e = intercept[IllegalStateException] {
      MergeSink.eraseKeys(spark, br, Seq(1L).toDF("k"))
    }
    assert(e.getMessage.contains("localize"), e.getMessage)
    // localization: compact (one local rewrite) + vacuum (drops the
    // origin-referencing read points) → erasure now proceeds
    assert(MergeSink.compactBucketedStore(spark, br).contains(3L))
    MergeSink.vacuumBucketedStore(br)
    assert(MergeSink.eraseKeys(spark, br, Seq(1L).toDF("k")).contains(4L))
    assert(rows(MergeSink.currentBucketedSnapshot(spark, br).get) ==
      Set((k2, "b", 20L)))
    // a clone of a still-origin-backed clone is refused (its vacuum
    // pin would not reach the grandparent); after localization it works
    val br0 = s"$dir/branch0"
    assert(MergeSink.cloneStore(spark, src, br0) == 2L)
    val e2 = intercept[IllegalStateException] {
      MergeSink.cloneStore(spark, br0, s"$dir/grandchild")
    }
    assert(e2.getMessage.contains("localize"), e2.getMessage)
    assert(MergeSink.releaseClone(src, br0))
    // the localized branch, by contrast, clones fine (br was
    // compacted + vacuumed above)
    assert(MergeSink.cloneStore(spark, br, s"$dir/branch2") == 4L)
    assert(MergeSink.releaseClone(br, s"$dir/branch2"))
    // release the pin: the source may now reclaim its dead history
    assert(MergeSink.releaseClone(src, br))
    assert(MergeSink.vacuumBucketedStore(src).nonEmpty)
    assert(rows(MergeSink.currentBucketedSnapshot(spark, src).get) ==
      Set((1L, "a2", 11L), (k2, "src3", 30L)))
  }

  test("ST10 alerts: store-driven arrival alerts — first_seen, gap silence, reappearance, delete resets") {
    import graft.streaming.{MergeSink, StoreAlerts}
    val dir = Files.createTempDirectory("graft_store_alerts").toString
    val store = s"$dir/store"
    val t0 = 1700000000000L
    def batch(bid: Long, rows: Seq[(Long, String, Long, Long)]): Unit =
      MergeSink.applyBucketedBatch(
        rows.toDF("k", "op", "ver", "seen"),
        bid, store, "k", "op", "ver", Seq("seen"), nBuckets = 4)
    val heard = new java.util.concurrent.ConcurrentLinkedQueue[(Long, String, Long, Long)]()
    batch(0L, Seq((1L, "upsert", 1L, t0), (2L, "upsert", 1L, t0)))
    val clock = MemoryStream[Int]
    val q = StoreAlerts.alertsStream(spark, store, "alerts", s"$dir/state",
      s"$dir/ckpt", "seen", gapSec = 3600L, clock = Some(clock.toDF())) {
      (alerts, _, _) =>
        alerts.collect().foreach(r => heard.add((r.getLong(0), r.getString(1),
          r.getLong(2), r.getLong(3))))
    }.start()
    try {
      import scala.jdk.CollectionConverters._
      def drain(): Set[(Long, String, Long, Long)] = {
        val s = heard.asScala.toSet; heard.clear(); s
      }
      clock.addData(1); q.processAllAvailable()
      assert(drain() == Set((1L, "first_seen", t0, -1L), (2L, "first_seen", t0, -1L)))
      // a sighting inside the gap is silent, but advances the state
      batch(1L, Seq((1L, "upsert", 2L, t0 + 10000L)))
      clock.addData(2); q.processAllAvailable()
      assert(drain() == Set.empty)
      // a sighting past the gap reappears, with the gap measured from
      // the ADVANCED state (t0+10s), not the first sighting
      batch(2L, Seq((1L, "upsert", 3L, t0 + 8000000L)))
      clock.addData(3); q.processAllAvailable()
      assert(drain() == Set((1L, "reappeared", t0 + 8000000L, 7990L)))
      // a deleted key (erasure/retention) resets: re-registration is a
      // fresh first_seen, not a reappearance
      batch(3L, Seq((2L, "delete", 4L, 0L)))
      clock.addData(4); q.processAllAvailable()
      assert(drain() == Set.empty)
      batch(4L, Seq((2L, "upsert", 5L, t0 + 9000000L)))
      clock.addData(5); q.processAllAvailable()
      assert(drain() == Set((2L, "first_seen", t0 + 9000000L, -1L)))
    } finally q.stop()
  }

  test("ST10 bucketed: storeStats + vacuum dry-run advise maintenance without touching the store") {
    import graft.streaming.MergeSink
    val dir = Files.createTempDirectory("graft_store_stats").toString
    val store = s"$dir/store"
    val vcols = Seq("name", "v")
    def bucketOf(k: Long): Long = spark.range(1)
      .select(pmod(xxhash64(lit(k)), lit(4L))).head().getLong(0)
    val k2 = (2L to 64L).find(k => bucketOf(k) != bucketOf(1L)).get
    MergeSink.applyBucketedBatch(
      Seq((1L, "upsert", 1L, "a", 10L), (k2, "upsert", 1L, "b", 20L))
        .toDF("k", "op", "ver", "name", "v"),
      0L, store, "k", "op", "ver", vcols, nBuckets = 4)
    MergeSink.applyBucketedBatch(
      Seq((1L, "upsert", 2L, "a2", 11L)).toDF("k", "op", "ver", "name", "v"),
      1L, store, "k", "op", "ver", vcols, nBuckets = 4)
    // the advisor: two live buckets, owners spread over v0 and v1
    // (read amplification = 2 pruned scans), real file sizes
    val st = MergeSink.storeStats(spark, store).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(st.length == 2)
    assert(st.map(_._2).toSet == Set(0L, 1L), s"owner spread: ${st.toSeq}")
    assert(st.forall(s => s._3 >= 1 && s._4 > 0), s"files/bytes: ${st.toSeq}")
    // nothing dead yet: the dry run says so without moving anything
    assert(MergeSink.vacuumBucketedStore(store, dryRun = true).isEmpty)
    // a second rewrite of key 1 kills v1; the DRY run names it but the
    // read point stays materializable — only the real vacuum reclaims
    MergeSink.applyBucketedBatch(
      Seq((1L, "upsert", 3L, "a3", 12L)).toDF("k", "op", "ver", "name", "v"),
      2L, store, "k", "op", "ver", vcols, nBuckets = 4)
    assert(MergeSink.vacuumBucketedStore(store, dryRun = true) == Seq(1L))
    assert(MergeSink.bucketedSnapshotAt(spark, store, 1L).count() == 2)
    assert(MergeSink.vacuumBucketedStore(store) == Seq(1L))
    intercept[IllegalStateException] {
      MergeSink.bucketedSnapshotAt(spark, store, 1L)
    }
    // compaction collapses the advisor's findings: one owner, one file
    assert(MergeSink.compactBucketedStore(spark, store).contains(3L))
    val post = MergeSink.storeStats(spark, store).collect()
      .map(r => (r.getLong(1), r.getLong(2)))
    assert(post.forall(_ == (3L, 1L)), s"post-compaction: ${post.toSeq}")
  }

  test("ST10 dedup: commits to the document store are near-dup adjudicated against the pre-range corpus") {
    import graft.streaming.{MergeSink, StoreDedup}
    val dir = Files.createTempDirectory("graft_store_dedup").toString
    val store = s"$dir/store"
    val tA = "the quick brown fox jumps over the lazy dog again and again"
    val tB = "colorless green ideas sleep furiously under a pale winter moon"
    val tC = "the quick brown fox jumps over the lazy dog again and once" // ~A
    val tD = "entirely unrelated prose about sorting networks and merge paths"
    def batch(bid: Long, rows: Seq[(Long, String, Long, String)]): Unit =
      MergeSink.applyBucketedBatch(
        rows.toDF("k", "op", "ver", "body"),
        bid, store, "k", "op", "ver", Seq("body"), nBuckets = 4)
    batch(0L, Seq((1L, "upsert", 1L, tA), (2L, "upsert", 1L, tB)))
    val heard = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long, String, String, Double)]()
    val clock = MemoryStream[Int]
    val q = StoreDedup.dedupStream(spark, store, "dedup", s"$dir/ckpt",
      "body", clock = Some(clock.toDF())) { (dups, from, to) =>
      dups.collect().foreach(r => heard.add((from, to, r.getString(0),
        r.getString(1), r.getDouble(2))))
    }.start()
    try {
      import scala.jdk.CollectionConverters._
      clock.addData(1); q.processAllAvailable()
      // the initial population is distinct: nothing to report
      assert(heard.asScala.isEmpty, heard.asScala.toSeq.toString)
      // a commit lands a near-copy of doc 1 plus an unrelated doc: the
      // range adjudicates against the v0 corpus and finds exactly the
      // (1, 3) pair
      batch(1L, Seq((3L, "upsert", 2L, tC), (4L, "upsert", 2L, tD)))
      clock.addData(2); q.processAllAvailable()
      val hits = heard.asScala.toSeq
      assert(hits.map(h => (h._1, h._2, h._3, h._4)) == Seq((0L, 1L, "1", "3")),
        hits.toString)
      assert(hits.head._5 > 0.5, s"jaccard ${hits.head._5}")
    } finally q.stop()
  }

  test("ST10 ann: the IVF index is maintained incrementally from the feed; search and time travel follow") {
    import graft.streaming.{MergeSink, StoreAnn}
    val dir = Files.createTempDirectory("graft_store_ann").toString
    val store = s"$dir/emb"
    val index = s"$dir/index"
    val centroids = Array(Array(1f, 0f), Array(0f, 1f))
    def batch(bid: Long, rows: Seq[(Long, String, Long, Seq[Float])]): Unit =
      MergeSink.applyBucketedBatch(
        rows.toDF("vec_id", "op", "ver", "emb"),
        bid, store, "vec_id", "op", "ver", Seq("emb"), nBuckets = 4)
    // initial population: 1,2 near x-axis (cell 0), 3 near y-axis (cell 1)
    batch(0L, Seq(
      (1L, "upsert", 1L, Seq(1.0f, 0.1f)),
      (2L, "upsert", 1L, Seq(0.9f, 0.2f)),
      (3L, "upsert", 1L, Seq(0.1f, 1.0f))))
    val clock = MemoryStream[Int]
    val q = StoreAnn.maintainIndex(spark, store, "ann", index, s"$dir/ckpt",
      "emb", centroids, nBuckets = 4, clock = Some(clock.toDF())).start()
    try {
      clock.addData(1); q.processAllAvailable()
      val queries = Seq((100L, Seq(1.0f, 0.0f))).toDF("vec_id", "embedding")
      def hits(): Seq[Long] = StoreAnn
        .search(spark, index, queries, centroids, k = 5, nprobe = 1)
        .orderBy(col("sim").desc).select("cid").collect().map(_.getLong(0)).toSeq
      // nprobe=1 probes only the x-axis cell: 1 and 2, never 3
      assert(hits() == Seq(1L, 2L), hits().toString)
      // vec 1 MOVES to the y-axis cell; vec 2 is erased — the range
      // re-assigns one and drops the other, O(changeset)
      batch(1L, Seq(
        (1L, "upsert", 2L, Seq(0.0f, 1.0f)),
        (2L, "delete", 2L, null.asInstanceOf[Seq[Float]])))
      clock.addData(2); q.processAllAvailable()
      assert(hits() == Seq.empty, s"x-cell should be empty now: ${hits()}")
      // INDEX-AS-OF: the pre-move index still answers exactly
      val v0 = MergeSink.bucketedSnapshotAt(spark, index, 0L)
      assert(v0.filter(col("vec_id") === 1L).select("cell")
        .head().getInt(0) == 0, "v0 must hold vec 1's old cell")
      assert(MergeSink.currentBucketedSnapshot(spark, index).get
        .filter(col("vec_id") === 1L).select("cell").head().getInt(0) == 1)
    } finally q.stop()
  }

  test("A8: approx_percentile lands within the exact interquartile range") {
    val sf = "/root/testdata/sf0.001"
    val exact = SparkEntry.queries("a8_percentiles")(spark, sf).collect()
      .map(r => r.getString(0) -> (r.getDouble(1), r.getDouble(3))).toMap
    val approx = SparkEntry.queries("a8b_approx_percentiles")(spark, sf).collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    approx.foreach { case (flag, p50) =>
      val (p25, p75) = exact(flag)
      assert(p50 >= p25 && p50 <= p75,
        s"$flag: approx median $p50 outside exact IQR [$p25, $p75]")
    }
  }

  test("A2: approx_count_distinct stays within its error bound vs exact") {
    val df = (1 to 20000).map(i => ("k" + (i % 7), i % 2000)).toDF("k", "v")
    val rows = df.groupBy("k")
      .agg(countDistinct("v").as("exact"),
        approx_count_distinct("v", 0.05).as("approx"))
      .collect()
    assert(rows.length == 7)
    rows.foreach { r =>
      val exact = r.getAs[Long]("exact").toDouble
      val approx = r.getAs[Long]("approx").toDouble
      assert(math.abs(approx - exact) / exact < 0.15,
        s"approx $approx vs exact $exact")
    }
  }

  test("ST10 OCC: an ad-hoc (replayGuard=false) commit never adopts a foreign live claim sharing its identity") {
    import graft.streaming.MergeSink
    val dir = Files.createTempDirectory("graft_occ_adopt").toString
    val store = s"$dir/store"
    val vcols = Seq("name", "v")
    MergeSink.applyBucketedBatch(
      Seq((1L, "upsert", 1L, "a", 10L)).toDF("k", "op", "ver", "name", "v"),
      0L, store, "k", "op", "ver", vcols, nBuckets = 4)
    val head = MergeSink.latestVersion(store).get
    val b1 = spark.range(1)
      .select(pmod(xxhash64(lit(1L)), lit(4L))).head().getLong(0)
    // a LIVE (lease-fresh) claim by ANOTHER ad-hoc statement that
    // happens to share (parent, batchId, writer) — before the
    // replayable guard, the second statement adopted it as its own
    // crash replay and overwrote the version dir mid-write
    val marker = java.nio.file.Paths.get(store, "_commits", (head + 1).toString)
    val foreign = s"$head 7 424242 w=sql b=$b1"
    Files.write(marker, foreign.getBytes("UTF-8"))
    try {
      val e = intercept[java.util.ConcurrentModificationException] {
        MergeSink.applyBucketedBatchOcc(
          Seq((1L, "upsert", 1L, "CLOBBER", 99L))
            .toDF("k", "op", "ver", "name", "v"),
          batchId = 7L, store, "k", "op", "ver", vcols, nBuckets = 4,
          writer = "sql", maxRetries = 2, replayGuard = false,
          // bounded conflict wait: the planted claim stays lease-fresh
          // for this test's purposes — waiting it out (the r15 default,
          // a full takeover lease) would legitimately capture it
          conflictWaitMs = 1500L)
      }
      assert(e.getMessage.contains("conflict") || e.getMessage.contains("claimed"),
        s"expected a claim conflict, got: ${e.getMessage}")
      // the foreign claim was neither adopted nor disturbed, and the
      // store's content is untouched
      assert(new String(Files.readAllBytes(marker), "UTF-8") == foreign)
      val got = MergeSink.currentBucketedSnapshot(spark, store).get
        .select("name").head().getString(0)
      assert(got == "a", "the foreign claim's slot must not be overwritten")
    } finally Files.deleteIfExists(marker)
  }

  test("ST10 OCC: a commit declaring a stale snapshot read point is refused; a disjoint one lands") {
    import graft.streaming.MergeSink
    val dir = Files.createTempDirectory("graft_occ_stale").toString
    val store = s"$dir/store"
    val vcols = Seq("name", "v")
    def bucketOf(k: Long): Long = spark.range(1)
      .select(pmod(xxhash64(lit(k)), lit(8L))).head().getLong(0)
    MergeSink.applyBucketedBatch(
      Seq((1L, "upsert", 1L, "a", 10L)).toDF("k", "op", "ver", "name", "v"),
      0L, store, "k", "op", "ver", vcols, nBuckets = 8)
    val readV = MergeSink.latestVersion(store).get
    // a concurrent writer supersedes key 1's bucket after our read
    MergeSink.applyBucketedBatchOcc(
      Seq((1L, "upsert", 2L, "fresh", 11L)).toDF("k", "op", "ver", "name", "v"),
      1L, store, "k", "op", "ver", vcols, nBuckets = 8, writer = "other")
    // values derived from v<readV> touching the MOVED bucket: refused
    // (committing them would silently overwrite 'fresh' — a lost update)
    intercept[MergeSink.StaleReadException] {
      MergeSink.applyBucketedBatchOcc(
        Seq((1L, "upsert", 1L, "stale", 12L)).toDF("k", "op", "ver", "name", "v"),
        batchId = 5L, store, "k", "op", "ver", vcols, nBuckets = 8,
        writer = "sql", replayGuard = false, readVersion = Some(readV))
    }
    assert(MergeSink.currentBucketedSnapshot(spark, store).get
      .filter(col("k") === 1L).select("name").head().getString(0) == "fresh")
    // the SAME stale read point is fine for a batch touching only
    // buckets that never moved — bucket-overlap granularity, as specced
    val k2 = (2L to 99L).find(k => bucketOf(k) != bucketOf(1L)).get
    MergeSink.applyBucketedBatchOcc(
      Seq((k2, "upsert", 1L, "disjoint", 20L)).toDF("k", "op", "ver", "name", "v"),
      batchId = 6L, store, "k", "op", "ver", vcols, nBuckets = 8,
      writer = "sql", replayGuard = false, readVersion = Some(readV))
    assert(MergeSink.currentBucketedSnapshot(spark, store).get.count() == 2)
  }

  test("ST10 registry: the key column name is recorded; a mismatched writer is refused; legacy stores fall back") {
    import graft.streaming.MergeSink
    val dir = Files.createTempDirectory("graft_keyreg").toString
    val store = s"$dir/store"
    MergeSink.applyBucketedBatch(
      Seq((1L, "upsert", 1L, "a", 10L)).toDF("k", "op", "ver", "name", "v"),
      0L, store, "k", "op", "ver", Seq("name", "v"), nBuckets = 4)
    assert(MergeSink.storedKeyName(store).contains("k"),
      "the first batch records the key name in the registry")
    // a writer declaring a different key would route every row to the
    // wrong bucket — refused loudly, like a mismatched _nbuckets
    val e = intercept[IllegalArgumentException] {
      MergeSink.applyBucketedBatch(
        Seq((11L, "upsert", 1L, "x", 1L)).toDF("v", "op", "ver", "name", "k"),
        1L, store, "v", "op", "ver", Seq("name", "k"), nBuckets = 4)
    }
    assert(e.getMessage.contains("keyed by column 'k'"))
    // legacy stores (no _key file): first-field convention still works,
    // including the pruned read path
    Files.delete(java.nio.file.Paths.get(store, "_key"))
    assert(MergeSink.storedKeyName(store).isEmpty)
    val snap = spark.read.format("graft").load(store).filter(col("k") === 1L)
    assert(snap.select("name").head().getString(0) == "a")
    // and the next write re-records it
    MergeSink.applyBucketedBatch(
      Seq((2L, "upsert", 1L, "b", 20L)).toDF("k", "op", "ver", "name", "v"),
      1L, store, "k", "op", "ver", Seq("name", "v"), nBuckets = 4)
    assert(MergeSink.storedKeyName(store).contains("k"))
  }

  test("ST10 maintain: bucket-scoped compaction rewrites ONLY the fragmented bucket; cold buckets keep their files") {
    import scala.jdk.CollectionConverters._
    import graft.streaming.MergeSink
    val dir = Files.createTempDirectory("graft_maintain_scoped").toString
    val store = s"$dir/store"
    val vcols = Seq("name", "v")
    def bucketOf(k: Long): Long = spark.range(1)
      .select(pmod(xxhash64(lit(k)), lit(4L))).head().getLong(0)
    val hotBucket = bucketOf(1L)
    val hotKeys = (1L to 400L).filter(bucketOf(_) == hotBucket).take(8)
    val coldKey = (1L to 400L).find(bucketOf(_) != hotBucket).get
    // cold bucket: one tidy commit
    MergeSink.applyBucketedBatch(
      Seq((coldKey, "upsert", 1L, "cold", 1L)).toDF("k", "op", "ver", "name", "v"),
      0L, store, "k", "op", "ver", vcols, nBuckets = 4)
    // hot bucket: one commit, then its bucket dir re-laid as four small
    // files of the same rows — the shape an unclustered writer leaves
    // (a commit writes one file per bucket, so it cannot fragment one)
    MergeSink.applyBucketedBatch(
      hotKeys.map(k => (k, "upsert", 2L, s"h$k", k)).toDF("k", "op", "ver", "name", "v"),
      1L, store, "k", "op", "ver", vcols, nBuckets = 4)
    locally {
      val hotDir = java.nio.file.Paths.get(store, "v1", s"_bucket=$hotBucket")
      val split = s"$dir/hot_split"
      spark.read.parquet(hotDir.toString).repartition(4).write.parquet(split)
      Files.list(hotDir).iterator().asScala.toList.foreach(Files.delete(_))
      Files.list(java.nio.file.Paths.get(split)).iterator().asScala
        .filter(_.getFileName.toString.endsWith(".parquet"))
        .foreach(f => Files.move(f, hotDir.resolve(f.getFileName)))
    }
    val statsBefore = MergeSink.storeStats(spark, store).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(statsBefore(hotBucket)._2 > 2,
      s"setup: the hot bucket must be fragmented: $statsBefore")
    val coldBucket = bucketOf(coldKey)
    val coldOwnerBefore = statsBefore(coldBucket)._1
    val coldFiles = {
      val d = java.nio.file.Paths.get(store, s"v$coldOwnerBefore", s"_bucket=$coldBucket")
      java.nio.file.Files.list(d).iterator().asScala.map(_.toString).toSet
    }
    val before = MergeSink.currentBucketedSnapshot(spark, store).get
      .collect().map(_.toString).toSet
    // fragmentation without fan-out → the SCOPED path
    val r = MergeSink.maintainStore(spark, store,
      MergeSink.MaintenancePolicy(maxFilesPerBucket = 2, maxLiveVersions = 8))
    assert(r.triggered && r.compactedVersion.isDefined, s"$r")
    val statsAfter = MergeSink.storeStats(spark, store).collect()
      .map(r0 => r0.getLong(0) -> (r0.getLong(1), r0.getLong(2))).toMap
    // the hot bucket moved to the new version, ONE file
    assert(statsAfter(hotBucket)._1 == r.compactedVersion.get &&
      statsAfter(hotBucket)._2 == 1, s"hot bucket must compact: $statsAfter")
    // the cold bucket kept its owner AND its very files
    assert(statsAfter(coldBucket)._1 == coldOwnerBefore,
      s"cold bucket must keep its owner: $statsAfter")
    val coldFilesAfter = {
      val d = java.nio.file.Paths.get(store, s"v$coldOwnerBefore", s"_bucket=$coldBucket")
      java.nio.file.Files.list(d).iterator().asScala.map(_.toString).toSet
    }
    assert(coldFilesAfter == coldFiles, "cold bucket files must be untouched")
    // content identical; history intact
    val after = MergeSink.currentBucketedSnapshot(spark, store).get
      .collect().map(_.toString).toSet
    assert(after == before, "scoped compaction must not change content")
    // the cold owner's read point survives (it is still live); the
    // superseded hot version was reclaimed by the triggered pass's
    // vacuum like any other dead dir
    assert(MergeSink.bucketedSnapshotAt(spark, store, 0L)
      .select("k").collect().map(_.getLong(0)).toSet == Set(coldKey))
    // direct API: a non-live bucket selection no-ops
    assert(MergeSink.compactBuckets(spark, store, Set(99L)).isEmpty)
  }

  test("ST10 maintain: a within-policy pass is a REAL no-op — default retention must not reclaim history") {
    import graft.streaming.MergeSink
    val dir = Files.createTempDirectory("graft_maintain_noop").toString
    val store = s"$dir/store"
    val vcols = Seq("name", "v")
    // two commits, both within the default policy's thresholds
    MergeSink.applyBucketedBatch(
      Seq((1L, "upsert", 1L, "a", 10L)).toDF("k", "op", "ver", "name", "v"),
      0L, store, "k", "op", "ver", vcols, nBuckets = 4)
    MergeSink.applyBucketedBatch(
      Seq((1L, "upsert", 2L, "b", 20L)).toDF("k", "op", "ver", "name", "v"),
      1L, store, "k", "op", "ver", vcols, nBuckets = 4)
    val r = MergeSink.maintainStore(spark, store)
    assert(!r.triggered && r.vacuumed.isEmpty,
      s"a default-policy no-op pass must not vacuum: $r")
    // time travel to v0 survives the no-op pass
    assert(MergeSink.bucketedSnapshotAt(spark, store, 0L)
      .select("name").head().getString(0) == "a")
  }

  test("a failed CREATE TABLE bootstrap releases its claim — the retry never waits out a lease") {
    import graft.streaming.MergeSink
    import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
    val dir = Files.createTempDirectory("sink_create_release").toString
    val store = s"$dir/store"
    val schema = StructType(Seq(StructField("k", LongType),
      StructField("name", StringType)))
    // sabotage the manifest dir (a FILE where the directory goes):
    // createEmptyStore claims v0, then fails writing the manifest
    Files.createDirectories(java.nio.file.Paths.get(store))
    Files.write(java.nio.file.Paths.get(store, "_manifests"),
      "not a dir".getBytes("UTF-8"))
    intercept[Exception] {
      MergeSink.createEmptyStore(store, schema, "k", nBuckets = 4)
    }
    // remove the obstruction; the retry must succeed IMMEDIATELY —
    // before the release fix, the crashed attempt's v0 claim wedged
    // every retry behind the 10-minute takeover lease
    Files.delete(java.nio.file.Paths.get(store, "_manifests"))
    MergeSink.createEmptyStore(store, schema, "k", nBuckets = 4)
    assert(MergeSink.latestVersion(store).contains(0L))
    assert(MergeSink.isEmptyCreatedStore(store))
    // and the serialized drop takes it back down
    assert(MergeSink.dropEmptyCreatedStore(store))
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(store)))
  }

  test("ST10 erasure is REBUCKET-AWARE: pre-rebucket history dirs lose the subject too") {
    import graft.streaming.MergeSink
    val dir = Files.createTempDirectory("sink_erase_rebucket").toString
    val store = s"$dir/store"
    // v0 under 4 buckets; rebucket to 8 (v1 on the new layout). The
    // subject's bucket under 8 usually differs from its bucket under 4
    // — erasure pruned with the CURRENT modulus alone used to leave
    // the subject readable at v0 (a silent retention-law violation).
    MergeSink.applyBucketedBatch(
      Seq((1L, "upsert", 1L, "a", 10L), (2L, "upsert", 1L, "b", 20L),
        (3L, "upsert", 1L, "c", 30L), (4L, "upsert", 1L, "d", 40L))
        .toDF("k", "op", "ver", "name", "v"),
      0L, store, "k", "op", "ver", Seq("name", "v"), nBuckets = 4)
    assert(MergeSink.rebucketStore(spark, store, 8).contains(1L))
    val audit = MergeSink.eraseKeys(spark, store, Seq(1L, 2L, 3L, 4L).toDF("k"))
    assert(audit.contains(2L))
    // EVERY retained read point — including the pre-rebucket v0 —
    // reads back empty of the subjects
    (0L to 2L).foreach { v =>
      val keys = MergeSink.bucketedSnapshotAt(spark, store, v)
        .select("k").collect().map(_.getLong(0)).toSet
      assert(keys.isEmpty, s"v$v still holds erased subject(s): $keys")
    }
  }

  test("ST10 streaming auto-maintenance: a 50-batch stream ends within policy bounds, replay untouched") {
    import scala.jdk.CollectionConverters._
    import graft.streaming.MergeSink
    val dir = Files.createTempDirectory("sink_auto_maint").toString
    val store = s"$dir/store"
    // the REAL sink (createSink's addBatch is the streaming engine's
    // exact entry point), with the opt-in post-commit policy trigger
    val sink = new graft.sources.GraftDataSource().createSink(
      spark.sqlContext,
      Map("path" -> store, "key" -> "k", "nBuckets" -> "4",
        "maintenanceEvery" -> "10", "maintainMaxVersions" -> "2",
        "maintainRetainVersions" -> "4"),
      Seq.empty, org.apache.spark.sql.streaming.OutputMode.Append())
    (0 until 50).foreach { i =>
      sink.addBatch(i.toLong,
        Seq((i.toLong % 7, "upsert", i.toLong + 1, s"n$i", i.toLong))
          .toDF("k", "op", "ver", "name", "v"))
    }
    // without maintenance this store would hold 50+ version dirs and a
    // wide manifest forever; the policy trigger compacts AND vacuums,
    // so both the manifest fan-out and the on-disk dir count stay
    // bounded by the policy + retention windows
    val liveVersions = MergeSink.storeStats(spark, store)
      .select("owner_version").collect().map(_.getLong(0)).distinct
    assert(liveVersions.length <= 2,
      s"policy must bound live versions (got ${liveVersions.length})")
    val diskDirs = {
      val s0 = java.nio.file.Files.list(java.nio.file.Paths.get(store))
      try s0.iterator().asScala.map(_.getFileName.toString)
        .count(n => n.startsWith("v") && n.drop(1).forall(_.isDigit))
      finally s0.close()
    }
    assert(diskDirs <= 20,
      s"vacuum must bound on-disk version dirs (got $diskDirs of ~55)")
    // maintenance commits are real history
    val kinds = MergeSink.storeHistory(spark, store)
      .select("kind").collect().map(_.getString(0)).toSet
    assert(kinds.contains("maintenance"), s"expected maintenance commits: $kinds")
    // exactly-once replay unaffected: a redelivered batch no-ops
    val head = MergeSink.latestVersion(store).get
    sink.addBatch(49L,
      Seq((49L % 7, "upsert", 50L, "n49", 49L)).toDF("k", "op", "ver", "name", "v"))
    assert(MergeSink.latestVersion(store).contains(head),
      "a replayed batch must not commit")
    // content is the last-writer-wins fold of all 50 batches
    val got = MergeSink.currentBucketedSnapshot(spark, store).get
      .select("k", "v").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val expect = (0 until 50).groupBy(_ % 7)
      .map { case (k, is) => (k.toLong, is.max.toLong) }.toSet
    assert(got == expect, s"got $got")
  }

  test("ST10 marker pruning spares IN-FLIGHT claims beyond the head") {
    import graft.streaming.MergeSink
    import java.nio.file.{Files => NioFiles, Paths => NioPaths}
    val dir = Files.createTempDirectory("sink_prune_inflight").toString
    val store = s"$dir/store"
    // enough committed versions that pruning has work to do
    (0 until 20).foreach { i =>
      MergeSink.applyBucketedBatch(
        Seq((1L, "upsert", i.toLong + 1, s"a$i", 10L))
          .toDF("k", "op", "ver", "name", "v"),
        i.toLong, store, "k", "op", "ver", Seq("name", "v"), nBuckets = 4)
    }
    val head = MergeSink.latestVersion(store).get
    // a LIVE in-flight OCC claim beyond the head (fresh mtime)
    val marker = NioPaths.get(store, "_commits", (head + 1).toString)
    val content = s"$head 7 123 w=wX b=0"
    NioFiles.write(marker, content.getBytes("UTF-8"))
    // pruning folds only COMMITTED history: the in-flight claim must
    // survive untouched and the horizon must never pass the head —
    // before the fix, dropRight over ALL markers deleted live claims
    // (aborting their writers mid-merge and freeing claimed slots)
    // and raised the horizon past _latest, wedging every new writer
    MergeSink.pruneCommitMarkers(store)
    assert(NioFiles.exists(marker) &&
      new String(NioFiles.readAllBytes(marker), "UTF-8") == content,
      "the live in-flight claim was pruned")
    val horizon = NioPaths.get(store, "_commits", "_horizon")
    assert(NioFiles.exists(horizon), "20 commits leave pruned history")
    val h = new String(NioFiles.readAllBytes(horizon), "UTF-8").trim.toLong
    assert(h <= head,
      s"horizon $h passed the published head $head — never prunable")
    // committed-history markers DID prune (the invariant is targeted,
    // not a no-op): only the newest RetainMarkers at or below head stay
    val kept = {
      val s0 = NioFiles.list(NioPaths.get(store, "_commits"))
      try {
        val it = s0.iterator()
        var n = 0
        while (it.hasNext) {
          val f = it.next().getFileName.toString
          if (f.forall(_.isDigit) && f.toLong <= head) n += 1
        }
        n
      } finally s0.close()
    }
    assert(kept <= 16, s"committed markers were not folded: $kept")
  }

  test("ST10 publish replaces an ORPHANED version dir instead of interleaving into it") {
    import graft.streaming.MergeSink
    import java.nio.file.{Files => NioFiles, Paths => NioPaths}
    val dir = Files.createTempDirectory("sink_orphan_vdir").toString
    val store = s"$dir/store"
    MergeSink.applyBucketedBatch(
      Seq((1L, "upsert", 1L, "a", 10L)).toDF("k", "op", "ver", "name", "v"),
      0L, store, "k", "op", "ver", Seq("name", "v"), nBuckets = 4)
    // an abandoned attempt's data dir squats on the NEXT version slot
    // (its claim was released; the dir remained) — with in-place
    // overwrite writes, the next committer's files could interleave
    // with the orphan's; the staged publish must REPLACE it wholesale
    val orphan = NioPaths.get(store, "v1", "_bucket=0")
    NioFiles.createDirectories(orphan)
    NioFiles.write(orphan.resolve("garbage.parquet"), "junk".getBytes("UTF-8"))
    MergeSink.applyBucketedBatch(
      Seq((1L, "upsert", 2L, "a2", 11L)).toDF("k", "op", "ver", "name", "v"),
      1L, store, "k", "op", "ver", Seq("name", "v"), nBuckets = 4)
    assert(MergeSink.latestVersion(store).contains(1L))
    val rows = MergeSink.currentBucketedSnapshot(spark, store).get
      .select("k", "name").collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(rows == Set((1L, "a2")))
    // the junk file did not survive into the published dir
    val junk = {
      val s0 = java.nio.file.Files.walk(NioPaths.get(store, "v1"))
      try {
        val it = s0.iterator()
        var found = false
        while (it.hasNext) { if (it.next().getFileName.toString == "garbage.parquet") found = true }
        found
      } finally s0.close()
    }
    assert(!junk, "the orphan's file leaked into the published version dir")
  }

  test("ST10 constraints: a violating batch refuses atomically; the streaming sink surfaces the error without corrupting replay") {
    import graft.streaming.MergeSink
    val dir = Files.createTempDirectory("graft_constraint").toString
    val store = s"$dir/store"
    MergeSink.applyBucketedBatch(
      Seq((1L, "upsert", 1L, "a", 10L)).toDF("k", "op", "ver", "name", "v"),
      0L, store, "k", "op", "ver", Seq("name", "v"), nBuckets = 2)
    // activation is a commit; existing data is proven under the claim
    val cv = MergeSink.addConstraint(spark, store, "v_range",
      "v >= 0 AND v < 100")
    assert(cv == 1L)
    assert(MergeSink.readConstraints(store) == Seq("v_range" -> "v >= 0 AND v < 100"))
    // a violating ADD refuses naming the offending existing row
    val eAdd = intercept[IllegalArgumentException] {
      MergeSink.addConstraint(spark, store, "impossible", "v > 50")
    }
    assert(eAdd.getMessage.contains("existing row"), eAdd.getMessage)
    // batch path: violating batch leaves NO new version, NO replay
    // advance — the SAME batchId then lands once fixed
    val headBefore = MergeSink.latestVersion(store).get
    val eBatch = intercept[IllegalArgumentException] {
      MergeSink.applyBucketedBatch(
        Seq((2L, "upsert", 1L, "b", 250L)).toDF("k", "op", "ver", "name", "v"),
        1L, store, "k", "op", "ver", Seq("name", "v"), nBuckets = 2)
    }
    assert(eBatch.getMessage.contains("v_range"), eBatch.getMessage)
    assert(MergeSink.latestVersion(store).contains(headBefore),
      "a refused batch must publish nothing")
    MergeSink.applyBucketedBatch(
      Seq((2L, "upsert", 1L, "b", 25L)).toDF("k", "op", "ver", "name", "v"),
      1L, store, "k", "op", "ver", Seq("name", "v"), nBuckets = 2)
    assert(MergeSink.currentBucketedSnapshot(spark, store).get.count() == 2)
    // deletes are exempt (tombstone nulls are not stored values)
    MergeSink.applyBucketedBatch(
      Seq((2L, "delete", 2L, null.asInstanceOf[String], 0L))
        .toDF("k", "op", "ver", "name", "v"),
      2L, store, "k", "op", "ver", Seq("name", "v"), nBuckets = 2)
    assert(MergeSink.currentBucketedSnapshot(spark, store).get.count() == 1)
    // streaming face (a FRESH store — stream batchIds start at 0 and
    // must own the replay lineage): the violating micro-batch fails
    // the query, the store stays at its pre-batch head, and a restart
    // from the SAME checkpoint re-delivers the batch exactly once
    val sstore = s"$dir/sstore"
    // seed through the OCC writer's SEPARATE replay lineage
    // (_lastBatch.seed) so the stream's own batch 0 is not mistaken
    // for a replay of the seed
    MergeSink.applyBucketedBatchOcc(
      Seq((1L, "upsert", 1L, "a", 10L)).toDF("k", "op", "ver", "name", "v"),
      0L, sstore, "k", "op", "ver", Seq("name", "v"), nBuckets = 2,
      writer = "seed")
    MergeSink.addConstraint(spark, sstore, "v_range", "v >= 0 AND v < 100")
    val in = MemoryStream[(Long, String, Long, String, Long)]
    val q = MergeSink.bucketedMergeSink(in.toDF().toDF("k", "op", "ver", "name", "v"),
      sstore, s"$dir/ckpt", "k", "op", "ver", Seq("name", "v"), nBuckets = 2)
      .start()
    val headPreStream = MergeSink.latestVersion(sstore).get
    try {
      in.addData((9L, "upsert", 1L, "z", 999L))
      val eq = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
        q.processAllAvailable()
      }
      assert(eq.getCause.getMessage.contains("v_range"), eq.getCause.getMessage)
    } finally q.stop()
    assert(MergeSink.latestVersion(sstore).contains(headPreStream),
      "a failed streaming batch must publish nothing")
    // drop the gate; the SAME checkpoint resumes and the batch lands
    MergeSink.dropConstraint(sstore, "v_range")
    val q2 = MergeSink.bucketedMergeSink(in.toDF().toDF("k", "op", "ver", "name", "v"),
      sstore, s"$dir/ckpt", "k", "op", "ver", Seq("name", "v"), nBuckets = 2)
      .start()
    try {
      q2.processAllAvailable()
      val got = MergeSink.currentBucketedSnapshot(spark, sstore).get
        .filter(col("k") === 9L).select("v").collect().map(_.getLong(0)).toSeq
      assert(got == Seq(999L), "replay state survived the refused batch")
    } finally q2.stop()
  }

  test("ST10 constraints are VERSIONED: RESTORE resets enforcement to the restore point's gates") {
    import graft.streaming.MergeSink
    val dir = Files.createTempDirectory("graft_constraint_restore").toString
    val store = s"$dir/store"
    MergeSink.applyBucketedBatch(
      Seq((1L, "upsert", 1L, "a", 10L)).toDF("k", "op", "ver", "name", "v"),
      0L, store, "k", "op", "ver", Seq("name", "v"), nBuckets = 2) // v0
    val preAdd = MergeSink.latestVersion(store).get
    val cv = MergeSink.addConstraint(spark, store, "v_range", "v < 100") // v1
    // restore to BEFORE the add: the rollback disarms the gate too —
    // enforcement tracks history, not just the singleton registry
    MergeSink.restoreStore(spark, store, preAdd) // v2
    assert(MergeSink.readConstraints(store).isEmpty,
      "restoring past an ADD CONSTRAINT must disarm the gate")
    // a batch the gate would have refused now lands
    MergeSink.applyBucketedBatch(
      Seq((2L, "upsert", 1L, "b", 250L)).toDF("k", "op", "ver", "name", "v"),
      1L, store, "k", "op", "ver", Seq("name", "v"), nBuckets = 2) // v3
    // restoring to the constrained point RE-ARMS the gate (and the
    // restored snapshot is the one that was proven under it)
    MergeSink.restoreStore(spark, store, cv) // v4
    assert(MergeSink.readConstraints(store) == Seq("v_range" -> "v < 100"),
      "restoring to a constrained point must re-arm the gate")
    val e = intercept[IllegalArgumentException] {
      MergeSink.applyBucketedBatch(
        Seq((3L, "upsert", 1L, "c", 500L)).toDF("k", "op", "ver", "name", "v"),
        2L, store, "k", "op", "ver", Seq("name", "v"), nBuckets = 2)
    }
    assert(e.getMessage.contains("v_range"), e.getMessage)
    // time travel still shows the rolled-back-over state
    assert(MergeSink.bucketedSnapshotAt(spark, store, 3L).count() == 2)
  }
}
