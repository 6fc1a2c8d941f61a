package perfbench

/** Tests of the benchmark's own helpers; exits non-zero on the first
  * failed check. Run with `python3 perfbench/run.py --self-test`. */
object SelfTest {
  private var checks = 0

  private def check(cond: Boolean, what: String): Unit = {
    checks += 1
    if (!cond) { System.err.println(s"FAIL: $what"); sys.exit(1) }
  }

  def main(args: Array[String]): Unit = {
    generatorIsDeterministic()
    percentileRule()
    selfTimeArithmetic()
    threadCpuArithmetic()
    println(s"self-test: $checks checks passed")
  }

  private def generatorIsDeterministic(): Unit = {
    val a = Gen.catalogTables(7)
    val b = Gen.catalogTables(7)
    val c = Gen.catalogTables(8)
    check(a.map(t => t.name -> t.rows) == b.map(t => t.name -> t.rows), "catalog tables repeat per seed")
    check(a.find(_.name == "lineitem").map(_.rows) != c.find(_.name == "lineitem").map(_.rows),
      "another seed gives other catalog rows")
    check(a.forall(t => t.rows.size == Gen.CatalogSizes(t.name)), "catalog table sizes")
    val embeddings = a.find(_.name == "embeddings").get.rows
    check(embeddings.forall { r =>
      val v = r.getSeq[Float](1); math.abs(v.map(x => x.toDouble * x).sum - 1.0) < 1e-4
    }, "embeddings are unit vectors")

    val (e1, t1) = Gen.fanout(7, 5000)
    val (e2, t2) = Gen.fanout(7, 5000)
    val (e3, _) = Gen.fanout(8, 5000)
    check(e1 == e2 && t1 == t2, "fanout envelopes and tallies repeat per seed")
    check(e1 != e3, "another seed gives other fanout envelopes")
    check(t1.values.sum == 5000 && t1.size == 25, "fanout tally covers every row on 25 routes")
    val counted = e1.groupBy(e => (e.topic, """"code":"(\w+)"""".r.findFirstMatchIn(e.value).get.group(1)))
      .map { case (k, v) => k -> v.size.toLong }
    check(counted == t1, "fanout tally matches the envelopes")

    val bodies = Gen.produceBodies(7, 20000)
    check(bodies == Gen.produceBodies(7, 20000), "produce payloads repeat per seed")
    check(bodies.values.forall(_.size == Gen.PayloadsPerTopic), "101 payloads per topic")
    check(bodies.values.flatten.forall(b => b.length >= 20000 && b.length < 22000), "payload size")
    val (ok, dlq) = Gen.produceTally(7, 1000)
    check((ok, dlq) == Gen.produceTally(7, 1000), "produce tallies repeat per seed")
    check(ok.values.sum + dlq == 1000 && dlq > 0, "produce tally covers every message")
    val values = (0L until 1000L).map(i => Gen.produceValue(7, bodies, i, 0L))
    val bad = values.count(v => v == null || v.isEmpty || !v.endsWith("}"))
    check(bad == dlq, "dead-letter tally matches the malformed, empty and null values")
  }

  private def percentileRule(): Unit = {
    import Stats._
    check(tailPercentile(19).isEmpty, "19 samples support no tail percentile")
    check(tailPercentile(20).contains(50), "20 samples: p50 has 10 beyond")
    check(tailPercentile(25).contains(60), "25 samples: p60 has 10 beyond, p61 only 9")
    check(tailPercentile(39).contains(74), "39 samples: p74 has 10 beyond, p75 only 9")
    check(tailPercentile(40).contains(75), "40 samples: p75 has 10 beyond")
    check(tailPercentile(100).contains(90), "100 samples: p90 has 10 beyond")
    check(tailPercentile(999).contains(98), "999 samples: p99 has only 9 beyond")
    check(tailPercentile(1000).contains(99), "1000 samples: p99 has 10 beyond")
    for (n <- 20 to 3000) {
      val p = tailPercentile(n).get
      check(beyond(n, p) >= MinBeyond, s"rule holds at n=$n")
      check(p == 99 || beyond(n, p + 1) < MinBeyond, s"highest percentile at n=$n")
    }
    val xs = (1 to 40).map(_.toDouble).reverse
    check(percentile(xs, 50) == 20.0 && percentile(xs, 75) == 30.0 && percentile(xs, 99) == 40.0,
      "nearest-rank percentiles of 1..40")
    check(median(Seq(3.0, 1.0, 2.0)) == 2.0 && median(Seq(4.0, 1.0, 2.0, 3.0)) == 2.5, "median")
  }

  private def selfTimeArithmetic(): Unit = {
    // addBatch [0,100) holds two handlers [10,40) and [30,60) (overlapping)
    // and one [90,120) that runs past it; the first handler holds an emit.
    val spans = Seq(
      Span(0, "addBatch", 0, 100, -1, "b"),
      Span(1, "handler", 10, 40, 0, "b"),
      Span(2, "handler", 30, 60, 0, "b"),
      Span(3, "handler", 90, 120, 0, "b"),
      Span(4, "emit", 15, 25, 1, "b"))
    val self = Tracer.selfTimes(spans)
    check(self(0) == 100 - 50 - 10, "parent self time subtracts the clipped union of its children")
    check(self(1) == 20 && self(2) == 30 && self(3) == 30 && self(4) == 10, "leaf and one-child self times")
    val byName = Tracer.selfByName(spans)
    check(byName == Map("addBatch" -> 40L, "handler" -> 80L, "emit" -> 10L), "self time per layer")
    check(Tracer.unionNs(Seq((10L, 40L), (30L, 60L), (90L, 120L)), 0L, 100L) == 60L, "clipped union")
    check(Tracer.unionNs(Nil, 0L, 100L) == 0L, "empty union")
  }

  private def threadCpuArithmetic(): Unit = {
    // Thread 1 ran throughout, 2 ended in between, 3 started in between.
    val from = Map(1L -> 100L, 2L -> 50L)
    val to = Map(1L -> 160L, 3L -> 30L)
    check(Proc.threadCpuNsBetween(from, to) == 60 + 30, "a thread started in between counts from zero, an ended one not at all")
    check(Proc.threadCpuNsBetween(to, to) == 0, "no CPU between equal snapshots")
  }
}
