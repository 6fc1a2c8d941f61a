package perfbench

import java.util.concurrent.atomic.{AtomicLong, AtomicReference}

import scala.collection.mutable

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.{col, size}
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryProgress, Trigger}
import org.apache.spark.sql.types._

import graft.core.{EngineConfig, EventSchemaRegistry}
import graft.produce.Emitter
import graft.route.RouteRegistry

/** The two router workloads: envelopes → `RouteRegistry.start` (parse,
  * per-route dispatch, DLQ) → benchmark handlers → `Emitter.emit` in
  * `onlyTesting` capture mode, over a `MemoryStream` source. */
object Router {
  /** Rows per micro-batch of the closed-loop fanout drain. */
  val FanoutBatch = 10000
  val FanoutRows = 100000
  /** Messages per second the produce router sustains on a 4-core host:
    * the median rate at which it drains the reference's backlog of 101
    * messages per topic closed loop (`route.capacity_msgs_per_s`). */
  val MeasuredCapacity = 40
  /** Offered rate of the open-loop produce workload, messages per second:
    * half the measured capacity, so a micro-batch finishes inside its
    * interval with room for the host's drift, and a router that gets much
    * slower falls behind, which makes latency grow with the window. */
  val ProduceRate = MeasuredCapacity / 2
  /** Micro-batch interval of the produce workload. Each batch then holds
    * `ProduceRate` messages, so its processing time does not feed back into
    * the next batch's size as it does with back-to-back batches. */
  val ProduceTriggerMs = 1000L
  /** Leading seconds of the produce schedule that are not measured. */
  val WarmUpSeconds = 3
  val PayloadBytes = 200 * 1024
  val DlqTopic = "dead-letters"

  private val mapper = new ObjectMapper()

  /** What a handler saw and did. Times are [[Clock.nowNs]] values. */
  final case class HandlerCall(route: String, startNs: Long, endNs: Long,
      emitStartNs: Long, emitEndNs: Long, rows: Long)

  /** A router under test: the source to feed and the query draining it. */
  final class Running(spark: SparkSession, cfg: EngineConfig, schemas: EventSchemaRegistry) {
    val mem: MemoryStream[(String, String)] = {
      implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
      import spark.implicits._
      MemoryStream[(String, String)]
    }
    val emitter = new Emitter(cfg)
    val registry = new RouteRegistry(cfg, emitter, schemas)
    private var q: StreamingQuery = _
    val calls = mutable.ArrayBuffer.empty[HandlerCall]
    val handlerFailures = new AtomicLong
    val failureCause = new AtomicReference[String]("")
    val matched = mutable.Map.empty[String, Long].withDefaultValue(0L)

    def start(name: String, trigger: Trigger = Trigger.ProcessingTime(0L)): this.type = {
      q = registry.start(mem.toDF().toDF("topic", "value"), trigger, name)
      this
    }

    private var warmBatches = 0

    def query: StreamingQuery = q

    def stop(): Unit = registry.stop()

    /** Forget what the warm-up batches did; failures stay counted. */
    def endWarmUp(): Unit = synchronized {
      warmBatches = q.recentProgress.count(_.numInputRows > 0)
      calls.clear()
      matched.clear()
    }

    /** Progress of every measured micro-batch that read input, in order. */
    def batches: Seq[StreamingQueryProgress] =
      q.recentProgress.toSeq.filter(_.numInputRows > 0).sortBy(_.batchId).drop(warmBatches)

    /** Run `body` as the handler of `route`, counting a throw as a failure
      * (`LogAndContinue` would otherwise leave only a log line) and
      * recording its span. `body` returns its row count and the interval
      * of its `emit` call (zero when it emits nothing). */
    def handle(route: String, df: DataFrame)(body: DataFrame => (Long, Long, Long)): Unit = {
      val t0 = Clock.nowNs
      try {
        val (rows, e0, e1) = body(df)
        val t1 = Clock.nowNs
        synchronized { calls += HandlerCall(route, t0, t1, e0, e1, rows); matched(route) += rows }
      } catch {
        case e: Throwable =>
          handlerFailures.incrementAndGet()
          failureCause.compareAndSet("", Catalog.describe(e))
          throw e
      }
    }
  }

  // ------------------------------------------------------------ route-fanout

  val fanoutSchema: StructType = StructType(Seq(
    StructField("event_id", LongType), StructField("ts", StringType),
    StructField("user_id", LongType), StructField("value", DoubleType),
    StructField("props", StructType(Seq(StructField("k", LongType))))))

  /** 5 topics × 5 codes = 25 routes; each handler only counts its rows. */
  def startFanout(spark: SparkSession): Running = {
    val cfg = EngineConfig(groupId = Some("perfbench"), onlyTesting = true)
    val schemas = new EventSchemaRegistry
    Gen.EventTypes.foreach(t => schemas.register(t.capitalize, fanoutSchema))
    val r = new Running(spark, cfg, schemas)
    for (topic <- Gen.FanoutTopics; code <- Gen.EventTypes) {
      val route = s"$topic/${code.capitalize}"
      r.registry.add(topic, code, (df: DataFrame, _: Emitter) =>
        r.handle(route, df)(d => (d.count(), 0L, 0L)))
    }
    r.start("perfbench-fanout")
  }

  /** Rows of the untimed warm-up batch the fanout router drains before it
    * is measured, so JIT and codegen warm-up stay out of the numbers. */
  val WarmUpRows = 2000

  def warmUp(r: Running, rows: Seq[(String, String)]): Unit = {
    r.mem.addData(rows)
    r.query.processAllAvailable()
    r.endWarmUp()
  }

  /** Messages per second `r` drains a backlog of `rows` at: each row is
    * appended as its own block, as the open-loop generator appends them,
    * and the clock runs until all of them are processed (closed loop). */
  def drainRate(r: Running, rows: Seq[(String, String)]): Double = {
    val t0 = System.nanoTime()
    rows.foreach(row => r.mem.addData(Seq(row)))
    r.query.processAllAvailable()
    rows.size / ((System.nanoTime() - t0) / 1e9)
  }

  /** Drain the backlog in fixed batches: the next batch is offered only
    * when the previous one has been processed (closed loop, one client). */
  def drainFanout(r: Running, envelopes: IndexedSeq[Gen.Envelope]): Unit =
    envelopes.grouped(FanoutBatch).foreach { chunk =>
      r.mem.addData(chunk.map(e => (e.topic, e.value)))
      r.query.processAllAvailable()
    }

  // ------------------------------------------------------------ route-produce

  val produceSchema: StructType = StructType(Seq(
    StructField("seq", LongType), StructField("due", LongType), StructField("kind", StringType),
    StructField("customer", StructType(Seq(StructField("id", LongType),
      StructField("name", StringType), StructField("tier", StringType)))),
    StructField("items", ArrayType(StructType(Seq(StructField("sku", StringType),
      StructField("qty", IntegerType), StructField("price", DoubleType),
      StructField("tags", ArrayType(StringType))))))))

  /** One global route per topic; its handler projects a few fields and
    * emits them, then takes the captured copies it just produced. */
  final class ProduceSink {
    /** (seq, emit-return time) of every emitted event, in arrival order. */
    val emitted = mutable.ArrayBuffer.empty[(Long, Long, Long)]
    val emittedPerTopic = mutable.Map.empty[String, Long].withDefaultValue(0L)
    var emittedBytes = 0L
    var dlq = 0L
    var missingMeta = 0L

    def reset(): Unit = synchronized {
      emitted.clear(); emittedPerTopic.clear(); emittedBytes = 0; dlq = 0; missingMeta = 0
    }

    /** Take every captured batch out of `emitter`, stamping events with
      * `doneNs` (`System.nanoTime`), the time their `emit` call returned.
      * Returns how many enriched events were taken. */
    def take(emitter: Emitter, doneNs: Long): Long = synchronized {
      val got = emitter.getEmittedEvents
      emitter.clearEmittedEvents()
      val before = emitted.size
      got.foreach { b =>
        if (b.topic == DlqTopic) dlq += b.values.size
        else b.values.foreach { v =>
          val node = mapper.readTree(v)
          if (!Seq("code", "appName", "createdAt").forall(node.hasNonNull)) missingMeta += 1
          emitted += ((node.get("seq").asLong, node.get("due").asLong, doneNs))
          emittedPerTopic(b.topic.stripSuffix("-out")) += 1
          emittedBytes += v.length
        }
      }
      (emitted.size - before).toLong
    }
  }

  def startProduce(spark: SparkSession, sink: ProduceSink): Running = {
    val cfg = EngineConfig(groupId = Some("perfbench"), onlyTesting = true, dlqTopic = Some(DlqTopic))
    val schemas = new EventSchemaRegistry
    schemas.register("Order", produceSchema)
    val r = new Running(spark, cfg, schemas)
    Gen.ProduceTopics.foreach { topic =>
      r.registry.add(topic, (df: DataFrame, em: Emitter) =>
        r.handle(topic, df) { d =>
          val e0 = Clock.nowNs
          em.emit(d.select(col("seq"), col("due"), col("customer.id").as("customer_id"),
            size(col("items")).as("n_items")), s"$topic-out")
          val e1 = Clock.nowNs
          (sink.take(em, System.nanoTime()), e0, e1)
        })
    }
    r.start("perfbench-produce", Trigger.ProcessingTime(ProduceTriggerMs))
  }

  /** Offer `n` messages on a fixed schedule from `t0Ns` (`System.nanoTime`
    * domain), regardless of how fast they drain (open loop). Each value
    * carries its due time. Returns the worst lateness of the generator. */
  def offer(r: Running, seed: Long, bodies: Map[String, IndexedSeq[String]],
      n: Int, t0Ns: Long): Long = {
    val period = 1000000000L / ProduceRate
    var lagMax = 0L
    var i = 0
    while (i < n) {
      val due = t0Ns + i * period
      val wait = due - System.nanoTime()
      if (wait > 0) java.util.concurrent.locks.LockSupport.parkNanos(wait)
      lagMax = math.max(lagMax, System.nanoTime() - due)
      r.mem.addData(Seq((Gen.topicOf(i), Gen.produceValue(seed, bodies, i, due))))
      i += 1
    }
    lagMax
  }

  // ------------------------------------------------------------ traced layers

  /** Per-layer metrics of a traced drain, from the spans
    * batch → addBatch → handler per route → emit. Batch and addBatch come
    * from `StreamingQueryProgress.durationMs` (addBatch ends where the
    * offset commit starts); handler and emit spans are recorded by the
    * benchmark's handlers. Per-batch times are means over the batches that
    * read input, so `route.handler_ms + produce.emit_ms + route.overhead_ms`
    * adds up to `route.add_batch_ms`. */
  def layers(r: Running, batches: Seq[StreamingQueryProgress], parseMs: Seq[Double],
      routes: Int, wallS: Double, p: Probes, tracer: Tracer, m: Metrics): Unit = {
    val calls = r.synchronized(r.calls.toList)
    def d(b: StreamingQueryProgress, k: String): Long =
      Option(b.durationMs.get(k)).map(_.longValue).getOrElse(0L)
    batches.foreach { b =>
      val trace = s"batch-${b.batchId}"
      val start = Clock.msToNs(java.time.Instant.parse(b.timestamp).toEpochMilli)
      val end = start + Clock.msToNs(d(b, "triggerExecution"))
      val bid = tracer.record("batch", start, end, -1, trace)
      val addEnd = end - Clock.msToNs(d(b, "commitOffsets"))
      val add = tracer.record("addBatch", addEnd - Clock.msToNs(d(b, "addBatch")), addEnd, bid, trace)
      calls.filter(c => c.startNs >= start && c.startNs < end).foreach { c =>
        val h = tracer.record("handler", c.startNs, c.endNs, add, trace)
        if (c.emitEndNs > c.emitStartNs) tracer.record("emit", c.emitStartNs, c.emitEndNs, h, trace)
      }
    }
    val self = Tracer.selfByName(tracer.all).withDefaultValue(0L)
    val n = math.max(1, batches.size).toDouble
    def mean(k: String): Double = batches.map(d(_, k)).sum / n
    def perBatchMs(layer: String): Double = self(layer) / 1e6 / n
    p.settle()
    val jobs = p.jobs.synchronized(p.jobs.jobs.size)
    val rowsIn = batches.map(_.numInputRows).sum
    val matched = calls.map(_.rows).sum
    m.putTimings("route.batch", batches.map(d(_, "triggerExecution").toDouble))
    m.put("source.get_batch_ms", mean("latestOffset") + mean("getBatch"), "ms")
    m.put("route.plan_ms", mean("queryPlanning"), "ms")
    m.put("route.add_batch_ms", mean("addBatch"), "ms")
    m.put("route.commit_ms", mean("walCommit") + mean("commitOffsets"), "ms")
    m.put("route.jobs_per_batch", jobs / n, "count")
    m.put("route.handler_ms", perBatchMs("handler"), "ms")
    m.put("produce.emit_ms", perBatchMs("emit"), "ms")
    m.put("route.overhead_ms", perBatchMs("addBatch"), "ms")
    m.put("route.layer_cover",
      (perBatchMs("handler") + perBatchMs("emit") + perBatchMs("addBatch")) / mean("addBatch"), "ratio")
    m.put("route.parse_ms", if (parseMs.isEmpty) 0.0 else parseMs.sum / parseMs.size, "ms")
    m.put("route.rows_in", rowsIn, "count")
    m.put("route.rows_matched", matched, "count")
    m.put("route.useful_ratio", matched / (routes.toDouble * rowsIn), "ratio")
    m.put("route.msgs_per_s", rowsIn / wallS, "1/s")
  }
}
