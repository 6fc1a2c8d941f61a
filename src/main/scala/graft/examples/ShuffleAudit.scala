package graft.examples

import java.util.concurrent.atomic.LongAdder

import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession

/** Shuffle-volume audit: run queries under a task-metrics listener and
  * report bytes shuffled (read/write) per query — the numbers behind
  * SCALE.md's "shuffle signatures, never text" claims.
  * `sbt "runMain graft.examples.ShuffleAudit [names...]"`; sfDir via
  * SPARK_GRAFT_SF_DIR (default sf0.1).
  *
  * Shuffle WRITE counts each exchanged byte once at its producer, so it is
  * the cleanest "how much data crossed the cluster" measure; read can
  * exceed write when an exchange feeds several consumers (reuse) or
  * retries.
  */
object ShuffleAudit {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors.toString)
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    val read = new LongAdder; val written = new LongAdder
    val listener = new SparkListener {
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
        val m = t.taskMetrics
        if (m != null) {
          read.add(m.shuffleReadMetrics.totalBytesRead)
          written.add(m.shuffleWriteMetrics.bytesWritten)
        }
      }
    }
    spark.sparkContext.addSparkListener(listener)

    val names = if (args.nonEmpty) args.toSeq else Seq(
      "q01_pricing_summary", "q05_region_revenue", "q16_route_count",
      "d01_dedup_exact", "d03_dedup_minhash_lsh", "d07_dedup_pipeline",
      "d09_dedup_clusters", "d10_dedup_savings", "c03_decontaminate",
      "t07_oov_rate", "s02_ann_buckets")
    println(f"${"query"}%-28s ${"rows"}%9s ${"shuf W MB"}%10s ${"shuf R MB"}%10s")
    names.foreach { n =>
      graft.SparkEntry.queries.get(n) match {
        case None =>
          println(f"$n%-28s    unknown query name — skipped")
        case Some(fn) =>
          read.reset(); written.reset()
          spark.sharedState.cacheManager.clearCache()
          // count() lets Catalyst prune anything the row count doesn't
          // need — a row-preserving LEFT JOIN arm (d18) is eliminated
          // wholesale. SPARK_GRAFT_SINK=noop audits the real plan.
          val df = fn(spark, sfDir)
          val rows =
            if (sys.env.get("SPARK_GRAFT_SINK").contains("noop")) {
              df.write.format("noop").mode("overwrite").save(); -1L
            } else df.count()
          org.apache.spark.sql.GraftShims.drainListeners(spark.sparkContext)
          def mb(x: Long) = x / 1e6
          println(f"$n%-28s $rows%9d ${mb(written.sum)}%10.2f ${mb(read.sum)}%10.2f")
      }
    }
    spark.stop()
  }
}
