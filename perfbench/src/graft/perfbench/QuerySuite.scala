package graft.perfbench

import graft.{Q, QueryRegistry}
import org.apache.spark.sql.{Observation, SparkSession}
import org.apache.spark.sql.functions.{count, lit}

import scala.collection.mutable

object QuerySuite {
  /** The headline queries the suite runs, by registry name prefix. */
  val Names: Seq[String] = Seq("q01", "q12", "q21", "q26", "q27", "q30",
    "q05", "q41", "q42", "q45", "q67", "q105")
}

/** Seeded tables in the layout and value distributions of the engine's
  * test data, measured on its sf0.1 set (TPC-H-like lineitem, orders,
  * customer, nation and region, an `events` stream, `documents` with
  * planted near-duplicates, and unit `embeddings`). Every row count is
  * sf0.1's times `scale`, except `embeddings`, which keeps the test
  * data's floor of 500 rows. Keys are uniform, as in the test data: it
  * has no key skew. One parquet file per table. */
object TestTables {
  val Vocab: Seq[String] = Seq("a", "agg", "batch", "big", "column", "customer", "data",
    "fast", "filter", "group", "hash", "join", "key", "line", "merge", "order", "part",
    "query", "row", "scan", "slow", "small", "sort", "spark", "stream", "table", "the",
    "value", "vector", "window")
  /** Orders with 1, 2, ... 17 line items at sf0.1. */
  val LinesPerOrder: Seq[Int] = Seq(11016, 21814, 29500, 29097, 23631, 15625, 8941, 4407,
    1959, 818, 292, 93, 29, 10, 1, 2, 1)
  /** Document languages and their counts at sf0.1. */
  val Langs: Seq[(String, Int)] = Seq("en" -> 2059, "es" -> 744, "zh" -> 753, "de" -> 702, "fr" -> 742)

  def write(spark: SparkSession, seed: Long, scale: Double, dir: String): Unit = {
    import spark.implicits._
    val rnd = new scala.util.Random(seed)
    def n(atSf01: Int) = math.max(1, math.round(atSf01 * scale).toInt)
    def pick[T](xs: Seq[T]) = xs(rnd.nextInt(xs.size))
    def cents(lo: Double, hi: Double) = math.round((lo + rnd.nextDouble() * (hi - lo)) * 100) / 100.0
    /** A 1-based bucket drawn with the weights whose running sums are `cdf`. */
    def weighted(cdf: Array[Int]) = {
      val i = java.util.Arrays.binarySearch(cdf, rnd.nextInt(cdf.last))
      1 + (if (i >= 0) i + 1 else -i - 1)
    }
    val day = 86400000L
    def date(first: String, days: Int) =
      new java.sql.Timestamp(java.sql.Timestamp.valueOf(first + " 00:00:00").getTime + rnd.nextInt(days) * day)
    def save(df: org.apache.spark.sql.DataFrame, name: String): Unit =
      df.coalesce(1).write.mode("overwrite").parquet(s"$dir/$name.parquet")

    val regions = Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
    save(regions.zipWithIndex.map { case (r, i) => (i, r) }.toDF("r_regionkey", "r_name"), "region")
    save((0 until 25).map(i => (i, s"NATION_$i", i % 5)).toDF("n_nationkey", "n_name", "n_regionkey"), "nation")
    val nCust = n(15000)
    save((0 until nCust).map(c => (c.toLong, f"Customer#$c%09d", rnd.nextInt(25), cents(-999.99, 9999.99),
      pick(Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"))))
      .toDF("c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment"), "customer")
    val nOrders = n(150000)
    save((0 until nOrders).map(o => (o.toLong, rnd.nextInt(nCust).toLong, pick(Seq("F", "O", "P")),
      cents(1000, 500000), date("1995-01-01", 2405),
      pick(Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"))))
      .toDF("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice", "o_orderdate", "o_orderpriority"),
      "orders")
    val linesCdf = LinesPerOrder.scanLeft(0)(_ + _).tail.toArray
    val (nPart, nSupp) = (n(20000), n(1000))
    save((0 until nOrders).flatMap { o =>
      (1 to weighted(linesCdf)).map(l => (o.toLong, rnd.nextInt(nPart).toLong,
        rnd.nextInt(nSupp).toLong, l, (1 + rnd.nextInt(50)).toDouble, cents(900, 105000),
        rnd.nextInt(11) / 100.0, rnd.nextInt(9) / 100.0, pick(Seq("A", "N", "R")),
        pick(Seq("F", "O")), date("1995-01-02", 2499)))
    }.toDF("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber", "l_quantity",
      "l_extendedprice", "l_discount", "l_tax", "l_returnflag", "l_linestatus", "l_shipdate"),
      "lineitem")
    val nUsers = n(1500)
    val t0 = java.sql.Timestamp.valueOf("2024-01-01 00:00:00").getTime * 1000
    save((0 until n(100000)).map { e =>
      val us = t0 + (rnd.nextDouble() * 30 * day * 1000).toLong
      val ts = new java.sql.Timestamp(us / 1000000 * 1000)
      ts.setNanos((us % 1000000).toInt * 1000)
      (e.toLong, ts, rnd.nextInt(nUsers).toLong,
        pick(Seq("click", "error", "purchase", "signup", "view")),
        math.round(-50 * math.log(1 - rnd.nextDouble()) * 100) / 100.0, s"""{"k": ${rnd.nextInt(100)}}""")
    }.toDF("event_id", "ts", "user_id", "event_type", "value", "props"), "events")

    // 5% near-duplicates: another document's text plus one marker word
    val langCdf = Langs.map(_._2).scanLeft(0)(_ + _).tail.toArray
    val texts = mutable.ArrayBuffer.empty[String]
    (0 until n(5000)).foreach { i =>
      texts += (if (i > 0 && rnd.nextInt(20) == 0) texts(rnd.nextInt(i)) + " dup"
        else Seq.fill(10 + rnd.nextInt(91))(pick(Vocab)).mkString(" "))
    }
    save(texts.zipWithIndex.map { case (t, i) =>
      (i.toLong, t, Langs(weighted(langCdf) - 1)._1, s"src${i % 20}", t.length.toLong)
    }.toSeq.toDF("doc_id", "text", "lang", "source", "n_chars"), "documents")
    save((0 until math.max(500, n(2000))).map { v =>
      val g = Array.fill(64)(rnd.nextGaussian())
      val norm = math.sqrt(g.map(x => x * x).sum)
      (v.toLong, g.map(x => (x / norm).toFloat), rnd.nextInt(10))
    }.toDF("vec_id", "embedding", "label"), "embeddings")
  }
}

/** `query_suite`: twelve registered headline queries, each fully
  * evaluated through the noop sink, in a seed-chosen order, over seeded
  * [[TestTables]] at `Scale` × sf0.1. One operation = one query; one iteration = one
  * pass over the suite. The output check: every query returns rows,
  * and each query's row count is the same in every pass. */
final class QuerySuite(spark: SparkSession, seed: Long, work: String) extends Workload {
  private val suite: Seq[(String, Q)] = {
    val reg = QueryRegistry.all
    val qs = QuerySuite.Names.map(n => n -> reg.find(_.name.startsWith(n + "_"))
      .getOrElse(sys.error(s"no registered query $n")))
    new scala.util.Random(seed).shuffle(qs)
  }
  val Scale = 0.1
  private var dir: String = _
  def nominalIterS = 10.0
  private val rows = mutable.Map.empty[String, Long]
  private val firstRows = mutable.Map.empty[String, Long]
  private var lastDigest = ""
  def digest: String = lastDigest

  /** Writes the tables with Spark (parquet). */
  def generate(d: String): Unit = {
    dir = d
    TestTables.write(spark, seed, Scale, d)
  }

  def run(tr: Tracer): Run = {
    val t0 = System.nanoTime()
    suite.foreach { case (short, q) =>
      spark.catalog.clearCache()
      tr.span(s"queries.$short") {
        val obs = Observation(short)
        q.fn(spark, dir).observe(obs, count(lit(1)).as("n"))
          .write.format("noop").mode("overwrite").save()
        rows(short) = obs.get("n").asInstanceOf[Long]
      }
    }
    Run((System.nanoTime() - t0) / 1e9, suite.size)
  }

  def check(): Int = {
    val bad = suite.map(_._1).filter { n =>
      val ok = rows.get(n).exists(_ > 0) && firstRows.get(n).forall(f => rows.get(n).contains(f))
      if (!ok) System.err.println(s"[perfbench] CHECK FAILED: $n rows ${rows.get(n)} " +
        s"(first pass ${firstRows.get(n)})")
      !ok
    }
    if (firstRows.isEmpty) firstRows ++= rows
    lastDigest = Outputs.md5(rows.toSeq.sorted.map { case (n, r) => s"$n=$r" })
    rows.clear()
    bad.size
  }
}
