package graft

import java.nio.file.{Files => NioFiles, Paths => NioPaths}

import org.apache.spark.sql.functions._

import graft.streaming.MergeSink

/** The PER-VERSION LAYOUT SIGNATURE (VERDICT r13 #2): every manifest
  * records the bucket count its commit routed by (`#nbuckets n`), so
  * a version dir's layout is self-describing. Pinned here: erasure
  * prunes each historical dir with ITS OWN modulus (even when the
  * legacy `_rebucket_floor` breadcrumb is gone — the pre-floor-build
  * shape), restore across a rebucket reverts the layout coherently,
  * and the `_nbuckets` registry file is a heal-able cache the
  * PUBLISHED head manifest outranks (the old usurped-rebucket
  * residual window). */
class StoreLayoutSpec extends SparkTestBase {
  import spark.implicits._

  private val vcols = Seq("name", "v")

  private def put(store: String, rows: Seq[(Long, String, Long, String, Long)],
      batch: Long, nBuckets: Int = 4): Unit =
    MergeSink.applyBucketedBatch(
      rows.toDF("k", "op", "ver", "name", "v"),
      batch, store, "k", "op", "ver", vcols, nBuckets = nBuckets)

  /** The writers' routing bucket for key `k` under `n` buckets. */
  private def bucketOf(k: Long, n: Int): Long =
    spark.range(1).select(pmod(xxhash64(lit(k)), lit(n.toLong)))
      .head().getLong(0)

  /** Spark's parallel partition discovery — what a directory-listing
    * scan of a version dir submits above 32 paths — counted while
    * `body` runs: jobs whose description starts with "Listing leaf
    * files" and names a path under `under`. A marker job submitted
    * after `body` drains the listener queue (events arrive in order). */
  private def listingJobs(under: String)(body: => Unit): Int = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val sc = spark.sparkContext
    val marker = s"listing-probe-${System.nanoTime()}"
    val listings = new java.util.concurrent.atomic.AtomicInteger()
    val drained = new java.util.concurrent.CountDownLatch(1)
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val d = Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description")))
          .getOrElse("")
        if (d.startsWith("Listing leaf files") && d.contains(under))
          listings.incrementAndGet()
        if (d == marker) drained.countDown()
      }
    }
    sc.addSparkListener(l)
    try {
      body
      sc.setJobDescription(marker)
      try sc.parallelize(Seq(1), 1).count()
      finally sc.setJobDescription(null)
      assert(drained.await(60, java.util.concurrent.TimeUnit.SECONDS),
        "listener queue did not drain")
    } finally sc.removeSparkListener(l)
    listings.get
  }

  private def keysAt(store: String, v: Long): Set[Long] =
    MergeSink.bucketedSnapshotAt(spark, store, v)
      .select("k").collect().map(_.getLong(0)).toSet

  test("manifests carry the layout signature; effective count prefers the published head over the _nbuckets cache") {
    val dir = NioFiles.createTempDirectory("graft_layout_sig").toString
    val store = s"$dir/store"
    put(store, Seq((1L, "upsert", 1L, "a", 10L), (2L, "upsert", 1L, "b", 20L)), 0L)
    assert(MergeSink.manifestNBuckets(store, 0L).contains(4L))
    assert(MergeSink.storedNBuckets(store).contains(4L))
    // simulate the usurped-rebucket residual: a registry cache left on
    // a count that never published — the PUBLISHED manifest outranks it
    NioFiles.write(NioPaths.get(store, "_nbuckets"), "16".getBytes("UTF-8"))
    assert(MergeSink.storedNBuckets(store).contains(4L),
      "the published head's signature must outrank the registry cache")
    // the next writer (declaring the TRUE count) heals the cache
    put(store, Seq((3L, "upsert", 2L, "c", 30L)), 1L)
    assert(new String(NioFiles.readAllBytes(
      NioPaths.get(store, "_nbuckets")), "UTF-8").trim == "4")
    // and a writer declaring the stale cache's count is refused
    val e = intercept[IllegalArgumentException] {
      put(store, Seq((4L, "upsert", 3L, "d", 40L)), 2L, nBuckets = 16)
    }
    assert(e.getMessage.contains("bucketed into 4"), e.getMessage)
  }

  test("erasure prunes each historical dir with ITS OWN modulus — floor file gone, untouched old buckets not rewritten") {
    val dir = NioFiles.createTempDirectory("graft_layout_erase").toString
    val store = s"$dir/store"
    // enough keys that several old-layout buckets exist
    val keys = (1L to 16L).map(k => (k, "upsert", 1L, s"n$k", k * 10))
    put(store, keys, 0L)                        // v0 under 4 buckets
    assert(MergeSink.rebucketStore(spark, store, 8).contains(1L)) // v1 under 8
    // simulate a PRE-FLOOR build's rebucket: the breadcrumb is gone,
    // and every old-layout bucket id is also valid under the new count
    // — the legacy heuristics cannot see the layout change; only the
    // manifest's recorded signature can
    NioFiles.deleteIfExists(NioPaths.get(store, "_rebucket_floor"))
    val subject = 1L
    val subjectOldBucket = bucketOf(subject, 4)
    // a v0 bucket the subject does NOT live in under the OLD modulus:
    // its files must survive the erasure untouched (proof the old dir
    // was pruned with the old modulus, not rewritten wholesale)
    val spareBucket = (0L until 4L).find(_ != subjectOldBucket).get
    val spareDir = NioPaths.get(store, "v0", s"_bucket=$spareBucket")
    val sparePartsBefore = NioFiles.list(spareDir).toArray.map(_.toString).toSet
    assert(sparePartsBefore.nonEmpty)
    assert(MergeSink.eraseKeys(spark, store, Seq(subject).toDF("k")).contains(2L))
    // the subject is gone from EVERY retained read point, old layout included
    (0L to 2L).foreach { v =>
      assert(!keysAt(store, v).contains(subject),
        s"v$v still holds the erased subject")
    }
    // everything else survived
    assert(keysAt(store, 2L) == (2L to 16L).toSet)
    val sparePartsAfter = NioFiles.list(spareDir).toArray.map(_.toString).toSet
    assert(sparePartsAfter == sparePartsBefore,
      "an old-layout bucket outside the subject's OLD modulus must not rewrite")
  }

  test("restore across a rebucket reverts the layout; the registry heals to the restore point's recorded count") {
    val dir = NioFiles.createTempDirectory("graft_layout_restore").toString
    val store = s"$dir/store"
    put(store, Seq((1L, "upsert", 1L, "a", 10L), (2L, "upsert", 1L, "b", 20L),
      (3L, "upsert", 1L, "c", 30L)), 0L)        // v0 under 4 buckets
    assert(MergeSink.rebucketStore(spark, store, 8).contains(1L)) // v1 under 8
    val restored = MergeSink.restoreStore(spark, store, 0L)       // v2 = v0 again
    assert(restored == 2L)
    // the restore point's layout travels with its manifest
    assert(MergeSink.manifestNBuckets(store, 2L).contains(4L))
    assert(MergeSink.storedNBuckets(store).contains(4L))
    assert(new String(NioFiles.readAllBytes(
      NioPaths.get(store, "_nbuckets")), "UTF-8").trim == "4")
    // writers on the restored (old) layout proceed; new-layout writers refuse
    put(store, Seq((4L, "upsert", 2L, "d", 40L)), 1L)
    assert(keysAt(store, 3L) == Set(1L, 2L, 3L, 4L))
    val e = intercept[IllegalArgumentException] {
      put(store, Seq((5L, "upsert", 3L, "e", 50L)), 2L, nBuckets = 8)
    }
    assert(e.getMessage.contains("bucketed into 4"), e.getMessage)
  }

  /** A 64-bucket store whose buckets span two owner versions (v0 wrote
    * every bucket, v1 rewrote buckets 0–23), plus the bucket of each key
    * of 1..2000. */
  private def twoOwnerStore(name: String, commit: (String, Seq[Long], Long, Long) => Unit)
      : (String, Map[Long, Long]) = {
    val store = NioFiles.createTempDirectory(name).toString + "/store"
    val bucket = spark.range(1, 2001)
      .select(col("id"), pmod(xxhash64(col("id")), lit(64L)))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    commit(store, (1L to 2000L), 0L, 1L)
    commit(store, (1L to 2000L).filter(bucket(_) < 24), 1L, 2L)
    val owners = MergeSink.storeStats(spark, store).collect()
      .map(_.getLong(1)).toSet
    assert(owners == Set(0L, 1L), s"setup: two owner versions, got $owners")
    (store, bucket)
  }

  private def upserts(keys: Seq[Long], ver: Long) =
    keys.map(k => (k, "upsert", ver, s"n$k.$ver", k * ver)).toDF("k", "op", "ver", "name", "v")

  Seq("applyBucketedBatch", "applyBucketedBatchOcc").foreach { path =>
    test(s"$path: a commit touching >32 buckets over two owner versions lists on the driver and writes one file per touched bucket") {
      val commit: (String, Seq[Long], Long, Long) => Unit =
        (store, keys, batch, ver) =>
          if (path == "applyBucketedBatch")
            MergeSink.applyBucketedBatch(upserts(keys, ver), batch, store,
              "k", "op", "ver", vcols, nBuckets = 64)
          else
            MergeSink.applyBucketedBatchOcc(upserts(keys, ver), batch, store,
              "k", "op", "ver", vcols, nBuckets = 64)
      val (store, bucket) = twoOwnerStore(s"graft_listing_$path", commit)
      // 40 buckets: 0–23 owned by v1, 24–39 by v0
      val keys = (1L to 2000L).filter(bucket(_) < 40)
      val touched = keys.map(bucket).toSet
      assert(touched.size == 40)
      // AQE off for this commit: test-sized data would otherwise coalesce
      // the merge to ONE task, which writes one file per bucket whether
      // or not the write is clustered; off, the merge runs 4 tasks
      val aqe = spark.conf.get("spark.sql.adaptive.enabled")
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      val jobs =
        try listingJobs(store) { commit(store, keys, 2L, 3L) }
        finally spark.conf.set("spark.sql.adaptive.enabled", aqe)
      assert(jobs == 0, s"the commit submitted $jobs listing job(s)")
      // the detector is live: a directory scan of the same store lists
      // its 64 bucket dirs as a job
      assert(listingJobs(store) { spark.read.parquet(s"$store/v0") } >= 1)
      // every surviving touched bucket is ONE file under the new version
      val files = touched.toSeq.sorted.map { b =>
        val d = NioPaths.get(store, "v2", s"_bucket=$b")
        b -> NioFiles.list(d).toArray.map(_.toString)
          .count(_.endsWith(".parquet"))
      }
      assert(files.forall(_._2 == 1), s"files per touched bucket: $files")
      // content: the touched keys carry ver 3's values, the rest ver 1's
      val got = MergeSink.currentBucketedSnapshot(spark, store).get
        .select("k", "v").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val want = (1L to 2000L).map(k => k -> k * (if (bucket(k) < 40) 3L else 1L)).toMap
      assert(got == want)
    }
  }

  test("planning a bucket-pruned graft point read submits no listing job") {
    val commit: (String, Seq[Long], Long, Long) => Unit =
      (store, keys, batch, ver) =>
        MergeSink.applyBucketedBatch(upserts(keys, ver), batch, store,
          "k", "op", "ver", vcols, nBuckets = 64)
    val (store, _) = twoOwnerStore("graft_listing_read", commit)
    var plan: String = null
    val jobs = listingJobs(store) {
      plan = spark.read.format("graft").load(store).filter(col("k") === 7L)
        .queryExecution.executedPlan.toString
    }
    assert(jobs == 0, s"planning submitted $jobs listing job(s):\n$plan")
    assert(spark.read.format("graft").load(store).filter(col("k") === 7L)
      .select("name").collect().map(_.getString(0)).toSeq == Seq("n7.1"))
  }
}
