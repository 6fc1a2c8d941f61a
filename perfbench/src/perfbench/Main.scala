package perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** Named metrics of one run, in insertion order. */
final class Metrics {
  private val m = mutable.LinkedHashMap.empty[String, (Double, String)]
  def put(name: String, value: Double, unit: String): Unit = m(name) = (value, unit)

  /** Median and tail of a timing, with the sample count and the tail's
    * percentile ([[Stats.tailPercentile]]). */
  def putTimings(prefix: String, samplesMs: Seq[Double]): Unit = if (samplesMs.nonEmpty) {
    val tail = Stats.tailPercentile(samplesMs.size).getOrElse(50)
    put(s"$prefix.p50_ms", Stats.percentile(samplesMs, 50), "ms")
    put(s"$prefix.tail_ms", Stats.percentile(samplesMs, tail), "ms")
    put(s"$prefix.tail_pct", tail, "pct")
    put(s"$prefix.samples", samplesMs.size, "count")
  }
  def json: String = m.map { case (k, (v, u)) =>
    val num = if (v.isNaN || v.isInfinite) "null" else v.toString
    s""""$k":{"value":$num,"unit":"$u"}"""
  }.mkString("{", ",", "}")
}

/** Outcome of the measured phase: the counts the result line carries and
  * any detail explaining a failure. */
final case class Outcome(attempted: Long, failed: Long, notes: Seq[String])

/** One benchmark run: `--workload <name> --seed <n> --seconds <s>
  * --trace <0|1> --work-dir <dir>`. Prints the result as its last stdout
  * line; everything else goes to stderr. */
object Main {
  val SetupReps = 5
  /** Least number of measured passes over the catalog sample. */
  val MinPasses = 2

  final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean, workDir: String)

  def parse(args: Array[String]): Args = {
    val kv = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    Args(kv("workload"), kv("seed").toLong, kv("seconds").toInt, kv("trace") == "1", kv("work-dir"))
  }

  def session(master: String, workDir: String): SparkSession = {
    val cores = master.stripPrefix("local[").stripSuffix("]")
    val s = SparkSession.builder()
      .master(master)
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$workDir/spark-local")
      .config("spark.sql.warehouse.dir", s"$workDir/warehouse")
      .config("spark.sql.streaming.numRecentProgressUpdates", "100000")
      .config("spark.sql.streaming.forceDeleteTempCheckpointLocation", "true")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  private val jvmStart = System.nanoTime()
  def log(msg: String): Unit =
    System.err.println(f"[perfbench] ${(System.nanoTime() - jvmStart) / 1e9}%7.2f $msg")

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val m = new Metrics
    val master = s"local[${Host.nproc}]"
    val load = Host.loadAvg
    log(s"""host {"nproc":${Host.nproc},"mem_total_kb":${Host.memTotalKb},"load":[${load.mkString(",")}]}""")
    log("start")
    val outcome = a.workload match {
      case "catalog-sweep" => catalog(a, master, m)
      case "route-produce" => produce(a, master, m)
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }
    log("done")
    outcome.notes.foreach(n => log(s"check: $n"))
    val correct = outcome.failed == 0 && outcome.notes.isEmpty
    println(s"""{"correct":$correct,"attempted":${outcome.attempted},"failed":${outcome.failed},"metrics":${m.json}}""")
  }

  /** Set up `SetupReps` times (session start plus `stage`), keeping the
    * last; records the median as `setup_s`. */
  private def setUp[A](master: String, a: Args, m: Metrics)(stage: SparkSession => A)(
      tearDown: A => Unit): (SparkSession, A) = {
    var last: (SparkSession, A) = null
    val times = (1 to SetupReps).map { _ =>
      if (last != null) { tearDown(last._2); last._1.stop() }
      val t0 = System.nanoTime()
      val s = session(master, a.workDir)
      val staged = stage(s)
      last = (s, staged)
      (System.nanoTime() - t0) / 1e9
    }
    log(s"setup times ${times.mkString(", ")}")
    if (!a.trace) m.put("setup_s", Stats.median(times), "s")
    last
  }

  /** GC and steal around the measured phase. */
  private final class Phase {
    private val gc0 = Proc.gcMs
    private val steal0 = Host.stealS
    def gcS: Double = (Proc.gcMs - gc0) / 1e3
    def stealS: Double = Host.stealS - steal0
  }

  /** The gated `cpu_s` of an untraced run, or the same figure of a traced
    * run as `trace.cpu_s` (its ratio to `cpu_s` is the tracing overhead)
    * with the run's mean latency. */
  private def cost(m: Metrics, trace: Boolean, cpuS: Double, latencyMs: Double): Unit =
    if (trace) {
      m.put("trace.cpu_s", cpuS, "s")
      m.put("latency.mean_ms", latencyMs, "ms")
    } else m.put("cpu_s", cpuS, "s")

  private def common(m: Metrics, phase: Phase, p: Option[Probes], trace: Boolean): Unit = {
    log(f"host steal during the measured phase: ${phase.stealS}%.2f s")
    if (trace) p.foreach { pr =>
      pr.settle()
      val t = pr.jobs.total
      m.put("spark.jobs", pr.jobs.synchronized(pr.jobs.jobs.size), "count")
      m.put("spark.tasks", t.tasks, "count")
      m.put("spark.task_cpu_s", t.cpuNs / 1e9, "s")
      m.put("spark.gc_s", phase.gcS, "s")
      m.put("spark.shuffle_read_mb", t.shuffleReadBytes / 1048576.0, "MB")
      m.put("spark.shuffle_write_mb", t.shuffleWriteBytes / 1048576.0, "MB")
      m.put("spark.spill_mb", t.spillBytes / 1048576.0, "MB")
      m.put("spark.codegen_classes", pr.codegen.count, "count")
      m.put("spark.codegen_ms", pr.codegen.totalMs, "ms")
      m.put("host.steal_s", phase.stealS, "s")
      m.put("host.peak_rss_mb", Proc.peakRssMb, "MB")
    }
  }

  // ------------------------------------------------------------ catalog-sweep

  private def catalog(a: Args, master: String, m: Metrics): Outcome = {
    val dataDir = s"${a.workDir}/data"
    val tables = Gen.catalogTables(a.seed)
    val (spark, _) = setUp(master, a, m)(s => Gen.stageCatalog(s, tables, dataDir))(_ => ())
    // The first pass takes the JVM's cold start (class loading, JIT) and is
    // not measured. Every measured pass starts without Janino's compiled
    // classes, so each query compiles its generated code as in a fresh JVM.
    val cold = Catalog.sweep(spark, dataDir, 0, None)
    cold.foreach(r => log(f"query ${r.name} cold wall ${r.wallNs / 1e9}%.3f s construct ${(r.builtNs - r.startNs) / 1e9}%.3f s rows ${r.rows}" +
      r.error.map(e => s" error $e").getOrElse("")))
    val probes = if (a.trace) Some(new Probes(spark)) else None
    val phase = new Phase
    val deadline = System.nanoTime() + a.seconds * 1000000000L
    val passes = mutable.ArrayBuffer.empty[Seq[Catalog.QueryRun]]
    while (passes.size < MinPasses || System.nanoTime() < deadline) {
      org.apache.spark.PerfbenchShim.clearCodegenCache()
      passes += Catalog.sweep(spark, dataDir, passes.size + 1, probes)
      log(f"pass ${passes.size} wall ${passes.last.map(_.wallNs).sum / 1e9}%.3f s thread CPU ${passes.last.map(_.cpuNs).sum / 1e9}%.3f s" +
        f" process CPU ${passes.last.map(_.processCpuNs).sum / 1e9}%.3f s")
    }
    // Each query's fastest pass. The passes repeat the same work on the
    // same data, and a busy host only ever adds to a pass, so the minimum
    // is the figure it moves least (Chen and Revels, "Robust benchmarking
    // in noisy environments", 2016).
    val byQuery = passes.flatten.toSeq.groupBy(_.name).values.toSeq.sortBy(_.head.name)
    val wallMs = byQuery.map(rs => rs.map(_.wallNs).min / 1e6)
    val cpuMs = byQuery.map(rs => rs.map(_.cpuNs).min / 1e6)
    byQuery.indices.foreach(i => log(f"query ${byQuery(i).head.name} fastest wall ${wallMs(i)}%.1f ms thread CPU ${cpuMs(i)}%.1f ms"))
    val latencyMs = wallMs.sum / wallMs.size
    val cpuS = cpuMs.sum / 1e3
    log(f"${passes.size} passes; mean of per-query fastest walls $latencyMs%.1f ms; pass thread CPU $cpuS%.3f s")
    cost(m, a.trace, cpuS, latencyMs)
    if (a.trace) {
      m.put("catalog.cold_latency_ms", cold.map(_.wallNs).sum / 1e6 / cold.size, "ms")
      m.put("catalog.passes", passes.size, "count")
      m.putTimings("latency", wallMs)
      val tracer = new Tracer
      Catalog.layers(passes.flatten.toSeq, passes.size, probes.get, tracer, m)
      tracer.write(Paths.get(a.workDir, "spans.jsonl"))
    }
    common(m, phase, probes, a.trace)
    spark.stop()
    // Row counts of the cold pass go to the caller, which compares them with
    // the oracle SQL of each query run by an independent engine on the same
    // files; every measured pass must return the same counts.
    val oracle = graft.SparkEntry.oracleSql
    val lines = cold.map { r =>
      val sql = oracle.get(r.name).map(quote).getOrElse("null")
      s"""{"name":"${r.name}","rows":${r.rows},"error":${r.error.map(quote).getOrElse("null")},"sql":$sql}"""
    }
    Files.write(Paths.get(a.workDir, "catalog_rows.jsonl"), lines.mkString("\n").getBytes("UTF-8"))
    val want = cold.map(r => r.name -> r.rows).toMap
    val runs = cold ++ passes.flatten
    val failed = runs.filter(r => r.error.isDefined || r.rows != want(r.name))
    Outcome(runs.size, failed.size, failed.map(r =>
      r.error.map(e => s"${r.name} failed in pass ${r.pass}: $e")
        .getOrElse(s"${r.name} returned ${r.rows} rows in pass ${r.pass}, ${want(r.name)} in pass 0")))
  }

  def quote(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  // ------------------------------------------------------------ route-fanout

  /** Traced diagnostic of the fanout router: drain the 100k-envelope
    * backlog through 25 routes at `local[nproc]` on `spark`, then again on
    * a `local[1]` session for the single-core baseline. Not gated. */
  private def fanoutDiagnostic(a: Args, spark: SparkSession, m: Metrics): Seq[String] = {
    val (envelopes, tally) = Gen.fanout(a.seed, Router.FanoutRows)
    def drain(s: SparkSession): (Router.Running, Double) = {
      val r = Router.startFanout(s)
      Router.warmUp(r, envelopes.take(Router.WarmUpRows).map(e => (e.topic, e.value)))
      val t0 = System.nanoTime()
      Router.drainFanout(r, envelopes)
      val wall = (System.nanoTime() - t0) / 1e9
      r.stop()
      (r, wall)
    }
    val (r, wall) = drain(spark)
    val batches = r.batches
    val batchMs = batches.map(_.durationMs.get("triggerExecution").toDouble)
    val routes = Gen.FanoutTopics.size * Gen.EventTypes.size
    m.put("fanout.msgs_per_s", Router.FanoutRows / wall, "1/s")
    m.put("fanout.batch_p50_ms", Stats.percentile(batchMs, 50), "ms")
    m.put("fanout.handler_ms", r.calls.map(c => c.endNs - c.startNs).sum / 1e6 / batches.size, "ms")
    m.put("fanout.add_batch_ms", batches.map(_.durationMs.get("addBatch").toDouble).sum / batches.size, "ms")
    m.put("fanout.useful_ratio", r.calls.map(_.rows).sum / (routes.toDouble * Router.FanoutRows), "ratio")
    val one = session("local[1]", a.workDir)
    val (r1, wall1) = try drain(one) finally one.stop()
    m.put("fanout.msgs_per_s_1core", Router.FanoutRows / wall1, "1/s")
    m.put("fanout.scaling_ratio", wall1 / wall, "ratio")
    val expected = for (t <- Gen.FanoutTopics; c <- Gen.EventTypes)
      yield s"$t/${c.capitalize}" -> tally.getOrElse((t, c.capitalize), 0L)
    Seq(r, r1).flatMap { x =>
      expected.collect { case (k, v) if x.matched(k) != v => s"fanout route $k matched ${x.matched(k)}, expected $v" } ++
        failureNotes(x)
    }
  }

  private def failureNotes(r: Router.Running): Seq[String] =
    if (r.handlerFailures.get == 0) Nil
    else Seq(s"${r.handlerFailures.get} handler call(s) threw, first: ${r.failureCause.get}")

  /** Milliseconds the public `parse` takes to a `noop` write of one batch. */
  def timeParse(spark: SparkSession, r: Router.Running, rows: Seq[(String, String)]): Double = {
    import spark.implicits._
    val df = rows.toDF("topic", "value")
    val t0 = System.nanoTime()
    r.registry.parse(df).write.format("noop").mode("overwrite").save()
    (System.nanoTime() - t0) / 1e6
  }

  // ------------------------------------------------------------ route-produce

  private def produce(a: Args, master: String, m: Metrics): Outcome = {
    val warm = Router.ProduceRate * Router.WarmUpSeconds
    val n = warm + Router.ProduceRate * a.seconds
    val (okPerTopic, dlqExpected) = Gen.produceTally(a.seed, n)
    val sink = new Router.ProduceSink
    // Staging synthesizes the payloads and starts the router on them.
    val (spark, (bodies, r)) = setUp(master, a, m)(s =>
      (Gen.produceBodies(a.seed, Router.PayloadBytes), Router.startProduce(s, sink)))(_._2.stop())
    // A first burst, with indices past the schedule so it is never counted,
    // takes the cold start; then one generator thread offers the schedule,
    // whose first `WarmUpSeconds` settle the router and are not measured.
    val burst = 2 * Router.ProduceRate
    def values(from: Int, count: Int) =
      (from until from + count).map(i => (Gen.topicOf(i), Gen.produceValue(a.seed, bodies, i, 0L)))
    Router.warmUp(r, values(n, burst))
    // Then the reference's backlog, 101 messages per topic, drains closed
    // loop: it gives the rate this router sustains on this host, and warms
    // the JIT on the paths the schedule takes.
    val backlog = Gen.ProduceTopics.size * Gen.PayloadsPerTopic
    val capacity = Router.drainRate(r, values(n + burst, backlog))
    log(f"closed-loop drain of $backlog messages: $capacity%.1f msg/s")
    r.emitter.clearEmittedEvents()
    sink.reset()
    val t0 = System.nanoTime() + 50000000L
    val lagMax = new java.util.concurrent.atomic.AtomicLong
    val gen = new Thread(() => lagMax.set(Router.offer(r, a.seed, bodies, n, t0)), "perfbench-generator")
    gen.start()
    val measureFrom = t0 + Router.WarmUpSeconds * 1000000000L
    java.util.concurrent.locks.LockSupport.parkNanos(measureFrom - System.nanoTime())
    r.endWarmUp()
    val probes = if (a.trace) Some(new Probes(spark)) else None
    val phase = new Phase
    val cpuPerBatch = cpuPerTrigger(measureFrom + a.seconds * 1000000000L)
    gen.join()
    val backlogEnd = n + burst + backlog - r.query.recentProgress.map(_.numInputRows).sum
    r.query.processAllAvailable()
    sink.take(r.emitter, System.nanoTime())
    val wall = (System.nanoTime() - measureFrom) / 1e9
    val batches = r.batches
    val lat = sink.synchronized(sink.emitted.collect { case (seq, due, done) if seq >= warm => (done - due) / 1e6 }.toSeq)
    val latencyMs = lat.sum / lat.size
    // The window's CPU as the median interval's times the intervals, so a
    // GC burst or a slow stretch of the host in a few intervals does not
    // move it.
    val cpuS = Stats.median(cpuPerBatch.map(_._1)) * a.seconds * 1000 / Router.ProduceTriggerMs
    cost(m, a.trace, cpuS, latencyMs)
    log(s"thread CPU per trigger interval (s): ${cpuPerBatch.map(c => f"${c._1}%.3f").mkString(" ")}")
    log(s"process CPU per trigger interval (s): ${cpuPerBatch.map(c => f"${c._2}%.3f").mkString(" ")}")
    log(f"event latency mean $latencyMs%.1f ms, p50 ${Stats.percentile(lat, 50)}%.1f ms over ${lat.size} events;" +
      f" ${batches.size} batches; window plus drain $wall%.2f s; backlog at schedule end $backlogEnd")
    var notes = Seq.empty[String]
    if (a.trace) {
      val parseMs = batches.map { b =>
        val (lo, hi) = (offset(b.sources.head.startOffset), offset(b.sources.head.endOffset))
        timeParse(spark, r, ((lo + 1) to hi).map(i => (Gen.topicOf(i), Gen.produceValue(a.seed, bodies, i, 0L))))
      }
      m.putTimings("latency", lat)
      val tracer = new Tracer
      Router.layers(r, batches, parseMs, Gen.ProduceTopics.size, wall, probes.get, tracer, m)
      tracer.write(Paths.get(a.workDir, "spans.jsonl"))
      m.put("route.capacity_msgs_per_s", capacity, "1/s")
      m.put("route.utilization", Router.ProduceRate / capacity, "ratio")
      m.put("produce.emitted_msgs", sink.emitted.count(_._1 >= warm), "count")
      m.put("produce.emitted_mb", sink.emittedBytes / 1048576.0, "MB")
      m.put("produce.dlq_msgs", sink.dlq, "count")
      m.put("gen.offered_msgs", n, "count")
      m.put("gen.lag_ms_max", lagMax.get / 1e6, "ms")
      m.put("route.backlog_end_msgs", backlogEnd, "count")
      common(m, phase, probes, a.trace)
      r.stop()
      notes = fanoutDiagnostic(a, spark, m)
    } else {
      common(m, phase, probes, a.trace)
      r.stop()
    }
    spark.stop()
    val seqs = sink.emitted.map(_._1)
    val dup = seqs.size - seqs.distinct.size
    val wrong = Gen.ProduceTopics.filter(t => sink.emittedPerTopic(t) != okPerTopic(t))
    val failed = wrong.map(t => math.abs(sink.emittedPerTopic(t) - okPerTopic(t))).sum +
      math.abs(sink.dlq - dlqExpected) + sink.missingMeta + dup
    notes ++= wrong.map(t => s"topic $t emitted ${sink.emittedPerTopic(t)}, expected ${okPerTopic(t)}") ++
      (if (sink.dlq != dlqExpected) Seq(s"dead-lettered ${sink.dlq}, expected $dlqExpected") else Nil) ++
      (if (sink.missingMeta > 0) Seq(s"${sink.missingMeta} emitted value(s) lack code/appName/createdAt") else Nil) ++
      (if (dup > 0) Seq(s"$dup event(s) emitted more than once") else Nil) ++
      failureNotes(r)
    Outcome(n, failed, notes)
  }

  /** CPU, in seconds, of each trigger interval of the produce router from
    * now until `untilNs`: that of the Java threads ([[Proc.threadCpu]]) and
    * that of the whole process. A `ProcessingTime` trigger fires on whole
    * multiples of its interval on the wall clock, so reading the CPU 50 ms
    * before each firing gives one micro-batch per interval. */
  private def cpuPerTrigger(untilNs: Long): Seq[(Double, Double)] = {
    val every = Router.ProduceTriggerMs
    def beforeNextTrigger(): (Map[Long, Long], Long) = {
      val ms = System.currentTimeMillis()
      java.util.concurrent.locks.LockSupport.parkNanos(
        (((ms + 50) / every + 1) * every - 50 - ms) * 1000000L)
      (Proc.threadCpu, Proc.cpuNs)
    }
    var prev = beforeNextTrigger()
    val out = mutable.ArrayBuffer.empty[(Double, Double)]
    while (System.nanoTime() < untilNs) {
      val now = beforeNextTrigger()
      out += ((Proc.threadCpuNsBetween(prev._1, now._1) / 1e9, (now._2 - prev._2) / 1e9))
      prev = now
    }
    out.toSeq
  }

  /** A `MemoryStream` offset as progress reports it ("-1" before the first). */
  private def offset(json: String): Int = Option(json).map(_.trim).filter(_.nonEmpty)
    .flatMap(_.toIntOption).getOrElse(-1)
}
