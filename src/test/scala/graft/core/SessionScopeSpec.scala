package graft.core

import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.ListenerBusShim
import org.apache.spark.scheduler.SparkListenerApplicationEnd
import org.apache.spark.storage.StorageLevel

import graft.SparkSuite
import graft.ext.Similarity

/** Contract of the one per-session scope ([[SessionScope]]):
  *
  * Per-call persists (what the catalog runners drain):
  *   1. drain releases every registered frame exactly once and reports
  *      the count; a second drain is a no-op;
  *   2. a throwing release is swallowed and does NOT stop later ones
  *      (cleanup must never fail a query whose result materialized);
  *   3. sessions are isolated — draining one session must not release
  *      another session's frames (two runners sharing a context must not
  *      reclaim each other's live frames);
  *   4. a frame registered after a drain is released at the NEXT drain;
  *   5. drain leaves memo cells alone.
  *
  * Artifact root:
  *   6. the path is STABLE within a session and carries the family +
  *      dataset suffix (a census must never read another scale's files);
  *   7. two sessions get DISJOINT roots — the overwrite-under-open-read
  *      race is closed by construction;
  *   8. evict allocates a fresh root and leaves the old directory on
  *      disk (frames may still read it lazily).
  *
  * Memo cells:
  *   9. build-once — two first callers racing on one key build once;
  *  10. per-key locking — a slow build on one key does not serialize a
  *      different key's build (an eager localCheckpoint is a Spark job);
  *  11. evict forces a rebuild; the saved train index is one memoized
  *      build shared by t29 and t30.
  *
  * Lifecycle:
  *  12. one context-end listener per session state evicts memos, root
  *      and pending persists; an explicit evict unhooks it.
  */
class SessionScopeSpec extends SparkSuite {

  test("drain runs handles once, reports count, second drain is empty") {
    val a = SessionScope.persist(spark.range(3).toDF("a"))
    val b = SessionScope.persist(spark.range(4).toDF("b"))
    a.count(); b.count()
    assert(a.storageLevel != StorageLevel.NONE && b.storageLevel != StorageLevel.NONE)
    assert(SessionScope.drain(spark) == 2)
    assert(a.storageLevel == StorageLevel.NONE && b.storageLevel == StorageLevel.NONE,
      "drain must unpersist every registered frame")
    assert(SessionScope.drain(spark) == 0, "second drain must be empty")
  }

  test("a throwing handle is swallowed and later handles still run") {
    val ran = new AtomicInteger(0)
    SessionScope.onDrain(spark)(ran.incrementAndGet())
    SessionScope.onDrain(spark)(throw new RuntimeException("cleanup blew up"))
    SessionScope.onDrain(spark)(ran.incrementAndGet())
    assert(SessionScope.drain(spark) == 3,
      "the count reports registered releases, including the thrower")
    assert(ran.get() == 2, "releases after the thrower must still run")
  }

  test("sessions are isolated: draining one does not run the other's handles") {
    val other = spark.newSession()
    val mine = SessionScope.persist(spark.range(5).toDF("m"))
    val theirs = SessionScope.persist(other.range(6).toDF("t"))
    assert(SessionScope.drain(spark) == 1)
    assert(mine.storageLevel == StorageLevel.NONE)
    assert(theirs.storageLevel != StorageLevel.NONE,
      "draining spark must not release the sibling session's frames")
    assert(SessionScope.drain(other) == 1)
    assert(theirs.storageLevel == StorageLevel.NONE)
    SessionScope.evict(other)
  }

  test("a handle registered after a drain runs at the next drain") {
    SessionScope.persist(spark.range(1).toDF("x"))
    SessionScope.drain(spark)
    val late = SessionScope.persist(spark.range(2).toDF("y"))
    assert(SessionScope.drain(spark) == 1)
    assert(late.storageLevel == StorageLevel.NONE)
  }

  test("drain releases per-call persists and leaves memo cells alone") {
    val builds = new AtomicInteger(0)
    def get() = SessionScope.memo(spark, "scope-spec-ds0", "k") {
      builds.incrementAndGet(); spark.range(3).toDF("i").localCheckpoint()
    }
    val m = get()
    SessionScope.persist(spark.range(7).toDF("p")).count()
    assert(SessionScope.drain(spark) == 1)
    assert(get() eq m, "drain must not drop a memo cell")
    assert(builds.get() == 1)
    assert(m.count() == 3, "the memoized checkpoint must stay readable")
    SessionScope.evict(spark)
  }

  test("path is stable within a session and keyed by family + dataset") {
    val a = SessionScope.artifactPath(spark, "famA", "/data/sf1")
    assert(a == SessionScope.artifactPath(spark, "famA", "/data/sf1"),
      "same (session, family, dataset) must resolve to the same path")
    assert(a != SessionScope.artifactPath(spark, "famB", "/data/sf1"),
      "families must not share a directory")
    assert(a != SessionScope.artifactPath(spark, "famA", "/data/sf2"),
      "datasets must not share a directory")
    assert(a.endsWith("famA__data_sf1"),
      s"path must carry the sanitized family+dataset suffix, got $a")
  }

  test("two sessions get disjoint roots: the cross-session race is structural") {
    val other = spark.newSession()
    val mine = SessionScope.artifactPath(spark, "fam", "/data/sf1")
    val theirs = SessionScope.artifactPath(other, "fam", "/data/sf1")
    assert(mine != theirs,
      "same family+dataset in two sessions must NOT collide")
    SessionScope.evict(other)
  }

  test("evict releases the root: fresh allocation, old directory untouched") {
    val before = SessionScope.artifactPath(spark, "fam", "/data/sf1")
    val dir = new java.io.File(before).getParentFile
    dir.mkdirs() // materialize the root as a writer would
    assert(dir.exists())
    SessionScope.evict(spark)
    val after = SessionScope.artifactPath(spark, "fam", "/data/sf1")
    assert(after != before, "post-eviction call must allocate a fresh root")
    assert(dir.exists(),
      "eviction must not delete the old root — open lazily-read frames " +
        "may still reference it (the JVM shutdown hook reclaims it)")
    SessionScope.evict(spark)
  }

  test("same key: concurrent first callers build exactly once") {
    val builds = new AtomicInteger(0)
    val ready = new CountDownLatch(2)
    val results = new java.util.concurrent.ConcurrentLinkedQueue[AnyRef]()
    val threads = (1 to 2).map { _ =>
      new Thread(() => {
        ready.countDown()
        ready.await(5, TimeUnit.SECONDS)
        val df = SessionScope.memo(spark, "scope-spec-ds1", "k1") {
          builds.incrementAndGet()
          Thread.sleep(50) // widen the race window
          spark.range(3).toDF("i")
        }
        results.add(df)
      })
    }
    threads.foreach(_.start()); threads.foreach(_.join(10000))
    assert(builds.get() == 1, s"build ran ${builds.get()} times, expected 1")
    assert(results.size == 2 && results.toArray.distinct.length == 1,
      "both callers must receive the same memoized frame")
    SessionScope.evict(spark)
  }

  test("different keys: a blocked build does not serialize other keys") {
    val slowEntered = new CountDownLatch(1)
    val release = new CountDownLatch(1)
    val slow = new Thread(() => {
      SessionScope.memo(spark, "scope-spec-ds2", "slow") {
        slowEntered.countDown()
        release.await(10, TimeUnit.SECONDS)
        spark.range(1).toDF("i")
      }
      ()
    })
    slow.start()
    assert(slowEntered.await(5, TimeUnit.SECONDS), "slow build never started")
    // While the slow key's build is parked inside its cell, an unrelated
    // key must complete. Under a global build lock this deadlocks (the
    // fast caller waits on the monitor the slow build holds) and the
    // await below times out red.
    val fastDone = new CountDownLatch(1)
    val fast = new Thread(() => {
      SessionScope.memo(spark, "scope-spec-ds2", "fast") {
        spark.range(2).toDF("i")
      }
      fastDone.countDown()
    })
    fast.start()
    val fastCompleted = fastDone.await(5, TimeUnit.SECONDS)
    release.countDown()
    slow.join(10000); fast.join(10000)
    assert(fastCompleted,
      "an independent key's build was serialized behind another key's")
    SessionScope.evict(spark)
  }

  test("evict drops the session's memo entries so a rebuild happens") {
    val builds = new AtomicInteger(0)
    def get() = SessionScope.memo(spark, "scope-spec-ds3", "k") {
      builds.incrementAndGet(); spark.range(1).toDF("i")
    }
    get(); get()
    assert(builds.get() == 1, "second call must hit the memo")
    SessionScope.evict(spark)
    get()
    assert(builds.get() == 2, "post-eviction call must rebuild")
    SessionScope.evict(spark)
  }

  test("saved train index: one memoized build per session, shared by t29/t30") {
    // t29, t30 and the twins used to each rebuild the saved train index
    // at a FIXED shared tmpdir path (duplicated build cost + a latent
    // overwrite-under-open-serve race). The memo contract: (1) every
    // caller in a session gets the SAME frame pair; (2) the memoized
    // content equals a fresh build at an independent versioned path (the
    // rebuild-loop path); (3) running the t29 then t30 catalog queries
    // rewrites NO index file — t30 really rides t29's files; (4) eviction
    // releases the memo for rebuild.
    val sf = "/root/testdata/sf0.001"
    val (cb1, enc1) = Similarity.ivfpqSaveTrainIndex(spark, sf)
    val (cb2, enc2) = Similarity.ivfpqSaveTrainIndex(spark, sf)
    assert((cb1 eq cb2) && (enc1 eq enc2),
      "second call must return the memoized frame pair, not a rebuild")
    val fresh = java.nio.file.Files.createTempDirectory("graft-idx-fresh").toString
    val (cbF, encF) = Similarity.ivfpqSaveTrainIndexAt(spark, sf, fresh)
    assert(enc1.collect().map(_.toSeq).toSet == encF.collect().map(_.toSeq).toSet,
      "memoized coded corpus must equal a fresh build's")
    assert(cb1.collect().map(_.toSeq).toSet == cbF.collect().map(_.toSeq).toSet,
      "memoized codebook must equal a fresh build's")
    // file-level proof that the two catalog consumers share ONE build:
    // the coded-corpus part listing (name, mtime, size) must be
    // identical before and after each query — an overwrite would bump
    // mtimes even with equal bytes
    val encDir = new java.io.File(SessionScope.artifactPath(spark, "t29", sf) + "/enc")
    def listing: Set[(String, Long, Long)] = encDir.listFiles()
      .map(f => (f.getName, f.lastModified, f.length)).toSet
    val snap = listing
    assert(graft.SparkEntry.queries("t29_rrf_served")(spark, sf).count() > 0)
    SessionScope.drain(spark)
    assert(listing == snap, "the t29 query rebuilt the memoized index")
    assert(graft.SparkEntry.queries("t30_served_fusion_recall")(spark, sf)
      .count() > 0)
    SessionScope.drain(spark)
    assert(listing == snap,
      "the t30 query rebuilt the index t29 already built — the memo is " +
        "not shared across the two consumers")
    SessionScope.evict(spark)
    val (cb3, _) = Similarity.ivfpqSaveTrainIndex(spark, sf)
    assert(!(cb3 eq cb1), "post-eviction call must rebuild")
    SessionScope.evict(spark)
  }

  test("context end evicts memos, root and pending persists via one listener") {
    val other = spark.newSession()
    def hooks = ListenerBusShim.listeners(spark.sparkContext).collect {
      case l: SessionScope.ContextEnd if l.session eq other => l
    }
    val builds = new AtomicInteger(0)
    def get() = SessionScope.memo(other, "scope-spec-ds5", "k") {
      builds.incrementAndGet(); other.range(1).toDF("i")
    }
    get()
    val root = SessionScope.artifactPath(other, "fam", "/data/sf1")
    val pending = SessionScope.persist(other.range(9).toDF("p"))
    assert(hooks.size == 1,
      s"memo, root and persist must share ONE context-end listener, got ${hooks.size}")
    val fired = hooks.head
    fired.onApplicationEnd(SparkListenerApplicationEnd(0L))
    // a real context end takes its listener bus down with it
    spark.sparkContext.removeSparkListener(fired)
    assert(SessionScope.drain(other) == 0,
      "context end must drop the pending persists (their context is gone)")
    get()
    assert(builds.get() == 2, "context end must evict the memo cells")
    assert(SessionScope.artifactPath(other, "fam", "/data/sf1") != root,
      "context end must release the artifact root")
    pending.unpersist()
    SessionScope.evict(other)
    assert(hooks.isEmpty, "evict must unhook the session's listener")
  }
}
