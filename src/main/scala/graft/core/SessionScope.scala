package graft.core

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler.{SparkListener, SparkListenerApplicationEnd}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.storage.StorageLevel

/** Everything graft keeps per SparkSession, in one map with one
  * lifecycle:
  *
  *  - '''memo cells''' ([[memo]]): builds several catalog queries share
  *    for one (session, dataset) — the kNN graph, the BM25 tf frame, the
  *    retrieval arms, the saved train index — run once per session
  *    instead of once per query. Memoized frames must be
  *    `localCheckpoint`'d, never persist-only: a persist registers in the
  *    CacheManager once and the first `clearCache()` strips it for good
  *    (`SharedBuildMemoSpec` pins this).
  *  - '''the artifact root''' ([[artifactPath]]): a session-unique tmpdir
  *    for queries that write real files mid-plan (saved indexes, shard
  *    layouts, ledgers). A fixed per-dataset path let two sessions
  *    overwrite part files under each other's open, lazily-read frames.
  *  - '''per-call persists''' ([[persist]] / [[drain]]): a catalog lambda
  *    returns its DataFrame before anything materializes it, so it cannot
  *    release the intermediates it persisted. It records them here and
  *    the RUNNER drains after materializing the result — Verify, Bench,
  *    QueryTimer and CpuProbe after each query, `SparkSuite.withFixture`
  *    after each test, a serving loop after each micro-batch.
  *
  * One context-end listener per session state evicts all three. There is
  * no session-end event in Spark, so code tearing down one session of a
  * shared context calls [[evict]] itself.
  *
  * Threading: memo builds for different keys never wait on each other
  * (see [[Cell]]). Drain is for runner-sequenced use: a persist racing a
  * drain of the same session may be released only at the next drain.
  */
object SessionScope {

  /** One memo slot. The lazy val serializes the build PER KEY (the JVM
    * initializes it under this cell's own monitor): two first callers
    * racing on one key both read the cell that won `putIfAbsent`, so the
    * build runs once, and a slow build (an eager `localCheckpoint` is a
    * full Spark job) never holds a lock another key's caller waits on. */
  private final class Cell(build: () => Any) {
    lazy val value: Any = build()
  }

  private final class State(s: SparkSession) {
    val hook = new ContextEnd(s)
    val memos = new ConcurrentHashMap[(String, String), Cell]()
    val pending = ArrayBuffer[() => Unit]()
    lazy val root: String = {
      val dir = java.nio.file.Files.createTempDirectory("graft_artifacts_").toFile
      Runtime.getRuntime.addShutdownHook(new Thread(() => rm(dir)))
      dir.getAbsolutePath
    }
  }

  private def rm(f: java.io.File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.foreach(rm)
    f.delete(); ()
  }

  /** The context-end hook: drops the session's memos, artifact root and
    * pending persists (the context that held their blocks is gone). */
  private[core] final class ContextEnd(val session: SparkSession)
      extends SparkListener {
    override def onApplicationEnd(e: SparkListenerApplicationEnd): Unit = {
      states.remove(session); ()
    }
  }

  private val states = new ConcurrentHashMap[SparkSession, State]()

  private def state(s: SparkSession): State = {
    val existing = states.get(s)
    if (existing != null) existing
    else {
      val fresh = new State(s)
      val won = states.putIfAbsent(s, fresh)
      if (won != null) won
      else { s.sparkContext.addSparkListener(fresh.hook); fresh }
    }
  }

  /** `build`'s value for (session, dataset `d`, `key`), built at most once
    * per session until [[evict]]. */
  def memo[A](s: SparkSession, d: String, key: String)(build: => A): A = {
    val memos = state(s).memos
    val fresh = new Cell(() => build)
    val cell = memos.putIfAbsent((d, key), fresh)
    (if (cell == null) fresh else cell).value.asInstanceOf[A]
  }

  /** The session's directory for artifact `family` on dataset `d`, e.g.
    * `/tmp/graft_artifacts_3f.../c13_shards__root_testdata_sf0_01`:
    * stable within a session, unique across sessions, and fresh after
    * [[evict]]. Old roots stay on disk (frames may still read them lazily)
    * until a JVM shutdown hook deletes them. */
  def artifactPath(s: SparkSession, family: String, d: String): String =
    state(s).root + "/" + family + "_" + d.replaceAll("[^A-Za-z0-9]", "_")

  /** Persist `df` (MEMORY_AND_DISK) until the next [[drain]] of
    * `df.sparkSession` — the caller's session for every frame it derives
    * from its own tables, so the runner that drains it releases it. */
  def persist(df: DataFrame): DataFrame = {
    val p = df.persist(StorageLevel.MEMORY_AND_DISK)
    onDrain(df.sparkSession)(p.unpersist(false))
    p
  }

  private[core] def onDrain(s: SparkSession)(release: => Unit): Unit = {
    val pending = state(s).pending
    pending.synchronized { pending += (() => release) }
    ()
  }

  /** Release (non-blocking unpersist) everything [[persist]]ed under `s`
    * since the last drain and return how many frames that was. A failing
    * release is swallowed: cleanup must never fail a query whose result
    * has already materialized. Memo cells and the artifact root stay. */
  def drain(s: SparkSession): Int = {
    val st = states.get(s)
    if (st == null) 0
    else {
      val releases = st.pending.synchronized {
        val c = st.pending.toList; st.pending.clear(); c
      }
      releases.foreach(r => try r() catch { case _: Throwable => () })
      releases.size
    }
  }

  /** Forget everything held for `s` — memo cells, the artifact root and
    * any undrained persists (drain first to release their blocks) — and
    * unhook its context-end listener, so a pool of short-lived sessions
    * on one context does not pin them all. The next use starts afresh. */
  def evict(s: SparkSession): Unit = {
    val st = states.remove(s)
    if (st != null) s.sparkContext.removeSparkListener(st.hook)
  }
}
