package perfbench

import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions.{count, lit}

/** The catalog-sweep workload: a fixed systematic sample of
  * `SparkEntry.queries` (every `Step`-th name in sorted order), swept in
  * sorted name order on one session with Bench's sweep semantics: no cache
  * clear between queries and `QueryCleanup.drain` after each one. Each
  * DataFrame is consumed by a `noop` write so final sorts and projections
  * stay in the measured plan; its row count is observed on the way out.
  * A sweep is one pass over the sample; the workload makes several. */
object Catalog {
  val Step = 19

  type Query = (SparkSession, String) => DataFrame

  def sample: Seq[(String, Query)] =
    graft.SparkEntry.queries.toSeq.sortBy(_._1).zipWithIndex.collect {
      case (q, i) if i % Step == 0 => q
    }

  val Modules: Seq[String] =
    Seq("relational", "text", "dedup", "similarity", "multimodal", "curation", "graph")

  def module(name: String): String = name.head match {
    case 'q' => "relational"
    case 't' => "text"
    case 'd' => "dedup"
    case 's' => "similarity"
    case 'm' => "multimodal"
    case 'c' => "curation"
    case 'g' => "graph"
    case _ => "other"
  }

  /** One query of pass `pass`. Times are [[Clock.nowNs]] values: the
    * lambda runs over `[startNs, builtNs)`, the write over `[builtNs,
    * endNs)`. `cpuNs` is the CPU of the Java threads over the whole query
    * ([[Proc.threadCpu]]), `processCpuNs` that of the whole process. */
  final case class QueryRun(
      name: String, pass: Int, startNs: Long, builtNs: Long, endNs: Long, cpuNs: Long,
      processCpuNs: Long, rows: Long, error: Option[String], persistedLeft: Int) {
    def wallNs: Long = endNs - startNs
    /** Job group prefix of this query in this pass. */
    def key: String = s"$name#$pass"
  }

  def describe(e: Throwable): String = {
    val msg = Option(e.getMessage).getOrElse("").linesIterator.take(1).mkString.take(300)
    s"${e.getClass.getName}: $msg"
  }

  def sweep(spark: SparkSession, dataDir: String, pass: Int, probes: Option[Probes]): Seq[QueryRun] = {
    val sc = spark.sparkContext
    sample.map { case (name, fn) =>
      val key = s"$name#$pass"
      probes.foreach(_ => sc.setJobGroup(s"$key|construct", name))
      val cpu0 = Proc.threadCpu
      val processCpu0 = Proc.cpuNs
      val t0 = Clock.nowNs
      var t1 = t0
      val outcome =
        try {
          val df = fn(spark, dataDir)
          t1 = Clock.nowNs
          probes.foreach(_ => sc.setJobGroup(s"$key|exec", name))
          val obs = Observation()
          df.observe(obs, count(lit(1)).as("n")).write.format("noop").mode("overwrite").save()
          val t2 = Clock.nowNs
          Right((t2, obs.get("n").asInstanceOf[Long]))
        } catch {
          case e: Throwable if scala.util.control.NonFatal(e) => Left((Clock.nowNs, describe(e)))
        }
      val cpu = Proc.threadCpuNsBetween(cpu0, Proc.threadCpu)
      val processCpu = Proc.cpuNs - processCpu0
      if (t1 == t0) t1 = outcome.fold(_._1, _._1)
      probes.foreach(_ => sc.clearJobGroup())
      graft.core.QueryCleanup.drain(spark)
      val left = probes.map(_.persistedLeft).getOrElse(0)
      outcome match {
        case Right((t2, rows)) => QueryRun(name, pass, t0, t1, t2, cpu, processCpu, rows, None, left)
        case Left((t2, err)) => QueryRun(name, pass, t0, t1, t2, cpu, processCpu, -1L, Some(err), left)
      }
    }
  }

  /** Per-layer metrics of the traced sweeps, per pass over `passes`
    * passes, plus the spans behind them:
    * query → construct / optimize / plan / codegen / execute → jobs.
    * Optimize and plan come from the write's `QueryExecution.tracker`,
    * codegen from each compile's log event, execute spans the end of the
    * write's planning to the return of the write. */
  def layers(runs: Seq[QueryRun], passes: Int, p: Probes, tracer: Tracer, m: Metrics): Unit = {
    p.settle()
    val jobs = p.jobs.synchronized(p.jobs.jobs.toList)
    val phases = p.phases.synchronized(p.phases.seen.toList)
    val compiles = p.codegen.synchronized(p.codegen.compiles.toList)
    var constructJobs, execJobs = 0
    runs.foreach { r =>
      val q = tracer.record("query", r.startNs, r.endNs, -1, r.key)
      val c = tracer.record("construct", r.startNs, r.builtNs, q, r.key)
      // Catalyst phases of the write: those that started after the lambda
      // returned (ms clock, so allow the boundary millisecond).
      val lo = r.builtNs / 1000000L
      val hi = r.endNs / 1000000L + 1
      val written = phases.filter(ph => ph.phases.get("analysis").orElse(ph.phases.get("planning"))
        .exists { case (s, _) => s >= lo && s <= hi })
      written.foreach { ph =>
        Seq("analysis", "optimization").flatMap(ph.phases.get).foreach { case (s, e) =>
          tracer.record("optimize", Clock.msToNs(s), Clock.msToNs(e), q, r.key)
        }
        ph.phases.get("planning").foreach { case (s, e) =>
          tracer.record("plan", Clock.msToNs(s), Clock.msToNs(e), q, r.key)
        }
      }
      compiles.filter { case (at, _) => at >= lo && at <= hi }.foreach { case (at, ms) =>
        tracer.record("codegen", Clock.msToNs(at) - (ms * 1e6).toLong, Clock.msToNs(at), q, r.key)
      }
      val mine = jobs.filter(j => j.group.startsWith(r.key + "|") && j.endMs >= 0)
      val (cj, ej) = mine.partition(_.group.endsWith("|construct"))
      constructJobs += cj.size
      execJobs += ej.size
      cj.foreach(j => tracer.record("job", Clock.msToNs(j.startMs), Clock.msToNs(j.endMs), c, r.key))
      // Execution runs from the end of the write's planning (its first job
      // when no phase was seen) until the write returns, so job submission,
      // driver-side codegen and the write's commit belong to it.
      val planned = written.flatMap(_.phases.get("planning")).map(_._2)
      (planned ++ ej.map(_.startMs)).minOption.foreach { ms =>
        val x = tracer.record("execute", math.max(r.builtNs, Clock.msToNs(ms)), r.endNs, q, r.key)
        ej.foreach(j => tracer.record("job", Clock.msToNs(j.startMs), Clock.msToNs(j.endMs), x, r.key))
      }
    }
    val spans = tracer.all
    def total(name: String): Double = spans.filter(_.name == name).map(_.durNs).sum / 1e9 / passes
    val wall = runs.map(_.wallNs).sum / 1e9 / passes
    val unattributed = Tracer.selfByName(spans).getOrElse("query", 0L) / 1e9 / passes
    m.put("catalog.construct_s", total("construct"), "s")
    m.put("catalog.construct_jobs", constructJobs.toDouble / passes, "count")
    m.put("catalog.optimize_s", total("optimize"), "s")
    m.put("catalog.plan_s", total("plan"), "s")
    m.put("catalog.exec_s", total("execute"), "s")
    m.put("catalog.exec_jobs", execJobs.toDouble / passes, "count")
    m.put("catalog.unattributed_s", unattributed, "s")
    m.put("catalog.layer_cover", 1 - unattributed / wall, "ratio")
    m.put("catalog.persisted_left", runs.map(_.persistedLeft).max, "count")
    Modules.foreach { mod =>
      val rs = runs.filter(r => module(r.name) == mod)
      m.put(s"$mod.wall_s", rs.map(_.wallNs).sum / 1e9 / passes, "s")
      m.put(s"$mod.construct_s", rs.map(r => r.builtNs - r.startNs).sum / 1e9 / passes, "s")
    }
  }
}
