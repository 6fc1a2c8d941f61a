package perfbench

import java.time.LocalDateTime
import java.util.SplittableRandom

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

/** Seeded input generators. Every generator is a pure function of the
  * seed: the same seed yields byte-identical inputs and identical expected
  * tallies, and the program under test only ever sees what is generated
  * here. Value domains mirror the TESTDATA.md tables the catalog was written
  * against (TPC-H-like star schema, an `events` stream, a text corpus and
  * 64-d unit embeddings with `vec_id == doc_id`). */
object Gen {

  private def rng(seed: Long, salt: Long) = new SplittableRandom(seed * 0x9E3779B97F4A7C15L ^ salt)

  private def round2(d: Double): Double = math.round(d * 100) / 100.0

  private def day(r: SplittableRandom, from: LocalDateTime, days: Int): LocalDateTime =
    from.plusDays(r.nextInt(days).toLong)

  // ------------------------------------------------------------ catalog

  /** Row counts of the catalog tables at scale factor 0.01. */
  val CatalogSizes: Map[String, Int] = Map(
    "region" -> 5, "nation" -> 25, "customer" -> 1500, "supplier" -> 100,
    "part" -> 2000, "orders" -> 15000, "lineitem" -> 60000, "events" -> 10000,
    "documents" -> 500, "embeddings" -> 500)

  final case class Table(name: String, schema: StructType, rows: IndexedSeq[Row])

  private val Segments = Vector("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
  private val Adjectives = Vector("blue", "red", "small", "large", "hot", "cold", "old", "new")
  private val Nouns = Vector("bolt", "gear", "ring", "rod", "plate", "anvil", "widget", "gizmo")
  private val PartTypes = Vector("ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM", "PROMO")
  private val Priorities = Vector("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
  val EventTypes: Vector[String] = Vector("click", "view", "purchase", "signup", "error")
  private val Words = Vector(
    "a", "the", "data", "query", "table", "row", "column", "key", "value", "hash",
    "join", "merge", "sort", "scan", "filter", "group", "agg", "order", "window",
    "batch", "stream", "spark", "part", "line", "customer", "vector", "fast",
    "slow", "big", "small")
  private val Langs = Vector("en", "en", "en", "en", "de", "de", "es", "es", "fr", "zh")

  private def s(name: String) = StructField(name, StringType)
  private def i(name: String) = StructField(name, IntegerType)
  private def l(name: String) = StructField(name, LongType)
  private def d(name: String) = StructField(name, DoubleType)
  private def t(name: String) = StructField(name, TimestampNTZType)

  def catalogTables(seed: Long): Seq[Table] = {
    val n = CatalogSizes
    val region = Table("region", StructType(Seq(i("r_regionkey"), s("r_name"))),
      Vector("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST").zipWithIndex
        .map { case (nm, k) => Row(k, nm) })
    val nation = Table("nation", StructType(Seq(i("n_nationkey"), s("n_name"), i("n_regionkey"))),
      (0 until n("nation")).map(k => Row(k, s"NATION_$k", k % 5)))
    val customer = {
      val r = rng(seed, 3)
      Table("customer", StructType(Seq(l("c_custkey"), s("c_name"), i("c_nationkey"),
        d("c_acctbal"), s("c_mktsegment"))),
        (0 until n("customer")).map(k => Row(k.toLong, f"Customer#$k%09d", r.nextInt(25),
          round2(r.nextDouble(-999.99, 9999.99)), Segments(r.nextInt(5)))))
    }
    val supplier = {
      val r = rng(seed, 4)
      Table("supplier", StructType(Seq(l("s_suppkey"), s("s_name"), i("s_nationkey"), d("s_acctbal"))),
        (0 until n("supplier")).map(k => Row(k.toLong, f"Supplier#$k%09d", r.nextInt(25),
          round2(r.nextDouble(-999.99, 9999.99)))))
    }
    val part = {
      val r = rng(seed, 5)
      Table("part", StructType(Seq(l("p_partkey"), s("p_name"), s("p_brand"), s("p_type"),
        i("p_size"), d("p_retailprice"))),
        (0 until n("part")).map(k => Row(k.toLong,
          s"${Adjectives(r.nextInt(8))} ${Nouns(r.nextInt(8))}", s"Brand#${1 + r.nextInt(25)}",
          PartTypes(r.nextInt(6)), 1 + r.nextInt(50), 900.0 + (k % 1000) / 10.0)))
    }
    val base95 = LocalDateTime.of(1995, 1, 1, 0, 0)
    val orders = {
      val r = rng(seed, 6)
      Table("orders", StructType(Seq(l("o_orderkey"), l("o_custkey"), s("o_orderstatus"),
        d("o_totalprice"), t("o_orderdate"), s("o_orderpriority"))),
        (0 until n("orders")).map(k => Row(k.toLong, r.nextInt(n("customer")).toLong,
          Vector("F", "O", "P")(r.nextInt(3)), round2(r.nextDouble(1000.0, 500000.0)),
          day(r, base95, 2404), Priorities(r.nextInt(5)))))
    }
    val lineitem = {
      val r = rng(seed, 7)
      Table("lineitem", StructType(Seq(l("l_orderkey"), l("l_partkey"), l("l_suppkey"),
        i("l_linenumber"), d("l_quantity"), d("l_extendedprice"), d("l_discount"), d("l_tax"),
        s("l_returnflag"), s("l_linestatus"), t("l_shipdate"))),
        (0 until n("lineitem")).map(_ => Row(r.nextInt(n("orders")).toLong,
          r.nextInt(n("part")).toLong, r.nextInt(n("supplier")).toLong, 1 + r.nextInt(7),
          (1 + r.nextInt(50)).toDouble, round2(r.nextDouble(900.0, 105000.0)),
          r.nextInt(11) / 100.0, r.nextInt(9) / 100.0, Vector("A", "N", "R")(r.nextInt(3)),
          Vector("O", "F")(r.nextInt(2)), day(r, base95.plusDays(1), 2498))))
    }
    val events = Table("events", eventsSchema, eventRows(seed, n("events")))
    val documents = {
      val r = rng(seed, 9)
      Table("documents", StructType(Seq(l("doc_id"), s("text"), s("lang"), s("source"), l("n_chars"))),
        (0 until n("documents")).map { k =>
          val text = Seq.fill(8 + r.nextInt(85))(Words(r.nextInt(Words.size))).mkString(" ")
          Row(k.toLong, text, Langs(r.nextInt(Langs.size)), s"src${r.nextInt(20)}", text.length.toLong)
        })
    }
    val embeddings = {
      val r = rng(seed, 10)
      Table("embeddings", StructType(Seq(l("vec_id"),
        StructField("embedding", ArrayType(FloatType)), i("label"))),
        (0 until n("embeddings")).map { k =>
          val g = Array.fill(64)(gaussian(r))
          val norm = math.sqrt(g.map(x => x * x).sum)
          Row(k.toLong, g.map(x => (x / norm).toFloat).toSeq, r.nextInt(10))
        })
    }
    Seq(region, nation, customer, supplier, part, orders, lineitem, events, documents, embeddings)
  }

  private def gaussian(r: SplittableRandom): Double = {
    val u = r.nextDouble(1e-12, 1.0)
    math.sqrt(-2 * math.log(u)) * math.cos(2 * math.Pi * r.nextDouble())
  }

  val eventsSchema: StructType = StructType(Seq(l("event_id"), t("ts"), l("user_id"),
    s("event_type"), d("value"), s("props")))

  /** `n` events over 30 days in id order, 150 users, five event types. */
  def eventRows(seed: Long, n: Int): IndexedSeq[Row] = {
    val r = rng(seed, 8)
    val start = LocalDateTime.of(2024, 1, 1, 0, 0)
    val stepMicros = 30L * 86400L * 1000000L / n
    (0 until n).map { k =>
      val ts = start.plusNanos((k * stepMicros + r.nextLong(stepMicros)) * 1000L)
      Row(k.toLong, ts, r.nextInt(150).toLong, EventTypes(r.nextInt(5)),
        round2(r.nextDouble(0.01, 490.02)), s"""{"k": ${r.nextInt(100)}}""")
    }
  }

  /** Write every catalog table as one parquet file under `dir`, the
    * tables concurrently. */
  def stageCatalog(spark: SparkSession, tables: Seq[Table], dir: String): Unit = {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    val writes = tables.map { tb =>
      Future {
        spark.createDataFrame(java.util.Arrays.asList(tb.rows: _*), tb.schema)
          .coalesce(1).write.mode("overwrite").parquet(s"$dir/${tb.name}.parquet")
      }
    }
    Await.result(Future.sequence(writes), scala.concurrent.duration.Duration.Inf)
  }

  // ------------------------------------------------------------ route-fanout

  val FanoutTopics: Vector[String] = Vector("orders", "payments", "shipping", "support", "audit")

  /** One envelope as the router's source delivers it. */
  final case class Envelope(topic: String, value: String)

  /** The 100k events rows as JSON envelopes: topic by user, `code` the
    * UpperCamel event type. Returns the envelopes and the expected row
    * count per `(topic, code)` route. */
  def fanout(seed: Long, n: Int): (IndexedSeq[Envelope], Map[(String, String), Long]) = {
    val rows = eventRows(seed, n)
    val env = rows.map { r =>
      val topic = FanoutTopics((r.getLong(2) % FanoutTopics.size).toInt)
      val code = r.getString(3).capitalize
      Envelope(topic, s"""{"event_id":${r.getLong(0)},"ts":"${r.get(1)}","user_id":${r.getLong(2)},""" +
        s""""value":${r.getDouble(4)},"props":${r.getString(5)},"code":"$code"}""")
    }
    val tally = rows.groupBy(r => (FanoutTopics((r.getLong(2) % FanoutTopics.size).toInt),
      r.getString(3).capitalize)).map { case (k, v) => k -> v.size.toLong }
    (env, tally)
  }

  // ------------------------------------------------------------ route-produce

  val ProduceTopics: Vector[String] = Vector("topic-a", "topic-b", "topic-c", "topic-d")
  val PayloadsPerTopic = 101

  /** The message kinds the producer schedule emits. `Ok` parses; the other
    * three must land in the dead-letter topic. */
  sealed trait Kind
  object Kind {
    case object Ok extends Kind
    case object Malformed extends Kind
    case object Empty extends Kind
    case object Tombstone extends Kind
  }

  /** Kind of message `i` of the schedule: about 3% malformed, 1% empty,
    * 1% tombstones, decided by the seed alone. */
  def kindOf(seed: Long, i: Long): Kind = {
    val h = java.lang.Long.remainderUnsigned(mix(seed ^ (i * 0xD1B54A32D192ED03L)), 100L)
    if (h < 3) Kind.Malformed else if (h < 4) Kind.Empty else if (h < 5) Kind.Tombstone else Kind.Ok
  }

  private def mix(z0: Long): Long = {
    var z = z0
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  /** Topic of message `i`: the four topics take turns. */
  def topicOf(i: Long): String = ProduceTopics((i % ProduceTopics.size).toInt)

  /** Body of the `PayloadsPerTopic` payloads per topic, each about
    * `targetBytes` of nested JSON, without the leading `{` and the
    * per-message stamp fields. Message `i` uses body
    * `bodies(topic)(i / topics % PayloadsPerTopic)`. */
  def produceBodies(seed: Long, targetBytes: Int): Map[String, IndexedSeq[String]] =
    ProduceTopics.zipWithIndex.map { case (topic, ti) =>
      val r = rng(seed, 100 + ti)
      topic -> (0 until PayloadsPerTopic).map { p =>
        val sb = new java.lang.StringBuilder(targetBytes + 4096)
        val cid = r.nextInt(1000000)
        sb.append(s""""kind":"order","customer":{"id":$cid,"name":"customer-$cid","tier":"t${r.nextInt(4)}"},""")
        sb.append("\"items\":[")
        var k = 0
        while (sb.length < targetBytes / 2) {
          if (k > 0) sb.append(',')
          sb.append(s"""{"sku":"sku-${r.nextInt(100000)}","qty":${1 + r.nextInt(9)},""")
          sb.append(s""""price":${round2(r.nextDouble(1, 999))},"tags":["t${r.nextInt(50)}","t${r.nextInt(50)}"]}""")
          k += 1
        }
        sb.append("],\"history\":[")
        k = 0
        while (sb.length < targetBytes) {
          if (k > 0) sb.append(',')
          sb.append(s"""{"at":"2024-01-${10 + r.nextInt(18)}T0${r.nextInt(10)}:00:00Z",""")
          sb.append(s""""note":"entry $k of payload $p","detail":{"a":${r.nextInt(1000)},"b":[${r.nextInt(9)},${r.nextInt(9)}]}}""")
          k += 1
        }
        sb.append("]}")
        sb.toString
      }
    }.toMap

  /** Value of message `i`: its stamp fields spliced into its body, or the
    * malformed / empty / null value its kind asks for. */
  def produceValue(seed: Long, bodies: Map[String, IndexedSeq[String]], i: Long, dueNanos: Long): String =
    kindOf(seed, i) match {
      case Kind.Ok =>
        val topic = topicOf(i)
        val body = bodies(topic)(((i / ProduceTopics.size) % PayloadsPerTopic).toInt)
        s"""{"seq":$i,"due":$dueNanos,""" + body
      case Kind.Malformed => s"""{"seq":$i,"broken":"""
      case Kind.Empty => ""
      case Kind.Tombstone => null
    }

  /** Expected tallies of the first `n` scheduled messages: well-formed
    * messages per topic, and dead-lettered messages. */
  def produceTally(seed: Long, n: Long): (Map[String, Long], Long) = {
    val ok = scala.collection.mutable.Map.empty[String, Long].withDefaultValue(0L)
    var dlq = 0L
    var i = 0L
    while (i < n) {
      if (kindOf(seed, i) == Kind.Ok) ok(topicOf(i)) += 1 else dlq += 1
      i += 1
    }
    (ProduceTopics.map(t => t -> ok(t)).toMap, dlq)
  }
}
