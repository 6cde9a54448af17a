package graft.perfbench

import graft.jobs.CurationJob
import graft.operators.{DedupStore, IvfStore, LshGuard, TextIndexStore}
import org.apache.spark.sql.{DataFrame, SparkSession}

import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** One generated document. `kind` is what the generator planted:
  * fresh, exact (byte copy of a history doc) or near (two words of a
  * history doc replaced). */
final case class Doc(id: Long, text: String, embedding: Array[Float], kind: String, token: String)

/** Seeded documents: Zipf-distributed words over a letters-only
  * vocabulary, embeddings clustered around 8 centres, and one unique
  * letters-only token per document for BM25 probes. */
final class DocGen(seed: Long) {
  private val dim = 16
  private val rnd = new scala.util.Random(seed)
  private val syll = Seq("ka", "lo", "mi", "ne", "ru", "sa", "ti", "vo", "zu", "pe", "da", "gi")
  private val vocab = (0 until 3000).map(i =>
    Seq(i % 12, (i / 12) % 12, (i / 144) % 12, i / 1728).map(syll).mkString)
  private val zipf = new Zipf(vocab.size, 1.0, rnd)
  private val centres = Array.fill(8)(unit(Array.fill(dim)(rnd.nextGaussian().toFloat)))
  private var next = 0L

  private def unit(v: Array[Float]): Array[Float] = {
    val n = math.sqrt(v.map(x => x * x).sum).toFloat
    v.map(_ / n)
  }
  private def letters(n: Long): String = {
    val sb = new StringBuilder("qx")
    var x = n
    do { sb += ('a' + (x % 26)).toChar; x /= 26 } while (x > 0)
    sb.toString
  }
  def words(n: Int): Seq[String] = Seq.fill(n)(vocab(zipf.next()))
  def embedding(): Array[Float] = {
    val c = centres(rnd.nextInt(centres.length))
    c.map(_ + (rnd.nextGaussian() * 0.35).toFloat)
  }

  def fresh(kind: String = "fresh"): Doc = {
    next += 1
    val tok = letters(seed * 100000 + next)
    val ws = words(40 + rnd.nextInt(20))
    Doc(next, (ws.take(10) ++ Seq(tok) ++ ws.drop(10)).mkString(" "), embedding(), kind, tok)
  }

  def derived(of: Doc, kind: String): Doc = {
    next += 1
    kind match {
      case "exact" => Doc(next, of.text, embedding(), kind, of.token)
      case "near" =>
        val ws = of.text.split(" ").toBuffer
        Seq(5, 30).foreach(i => ws(i) = vocab(rnd.nextInt(vocab.size)))
        Doc(next, ws.mkString(" "), embedding(), kind, of.token)
    }
  }

  /** A day of `n` docs: 10% exact and 10% near copies of `history`,
    * the rest fresh. */
  def day(n: Int, history: Seq[Doc]): Seq[Doc] = {
    val planted = if (history.isEmpty) Seq.empty[Doc] else
      Seq("exact" -> 0.10, "near" -> 0.10).flatMap { case (k, share) =>
        Seq.fill((n * share).toInt)(derived(history(rnd.nextInt(history.size)), k))
      }
    rnd.shuffle(planted ++ Seq.fill(n - planted.size)(fresh()))
  }
}

/** `store_daily`: set-up writes a seeded history day into an exact and
  * a near-duplicate [[DedupStore]], an [[IvfStore]] root and a BM25
  * [[TextIndexStore]], and snapshots them. Each iteration restores the
  * snapshot outside the timer, then one closed-loop client ingests the
  * new day through the store operators (exact and near dedup ingest,
  * IVF and BM25 appends of the survivors) and sends single ANN
  * ([[IvfStore.probe]]) and BM25 ([[TextIndexStore.topK]]) probes
  * against the same stores. One operation = the day's ingest, or one
  * probe. */
final class StoreDaily(spark: SparkSession, seed: Long, work: String) extends Workload {
  val DocsPerDay = 200
  val Probes = 4
  val Day = "day-new"
  def nominalIterS = 10.0
  private val stores = s"$work/stores"
  private val snap = s"$work/snapshot"
  private def ivf = s"$stores/ivf"
  private def tix = s"$stores/tix"
  private val cfg = CurationJob.Config()
  private var history: Seq[Doc] = Nil
  private var today: Seq[Doc] = Nil
  private var dayPath: String = _
  private var kept = Set.empty[Long]
  private var firstKept: Option[Set[Long]] = None
  private var lastDigest = ""
  private val probeOk = mutable.ArrayBuffer.empty[Boolean]
  private val keptRatio = mutable.ArrayBuffer.empty[Double]
  private val probeMs = mutable.Map.empty[String, mutable.ArrayBuffer[Double]]
  def digest: String = lastDigest

  private def frame(docs: Seq[Doc]): DataFrame = {
    import spark.implicits._
    docs.map(d => (d.id, d.text, d.embedding)).toDF("doc_id", "text", "embedding")
  }

  def generate(dir: String): Unit = {
    val g = new DocGen(seed)
    history = g.day(DocsPerDay, Nil)
    today = g.day(DocsPerDay, history)
    // the day's input on disk, so each ingest starts from a file scan
    BidLogCorpus.writeLines(s"$dir/day.jsonl", today.map { d =>
      s"""{"doc_id":${d.id},"text":"${d.text}","embedding":[${d.embedding.mkString(",")}]}"""
    })
    dayPath = s"$dir/day.jsonl"
  }

  /** The day's ingest: CurationJob's quality filter, then the exact and
    * near dedup stores, then the survivors' IVF and BM25 co-appends, one
    * span per store operator. Returns the surviving doc ids. */
  private def ingest(tr: Tracer, df: DataFrame, day: String): Set[Long] = {
    import spark.implicits._
    val root = s"$stores/dedup"
    val afterExact = tr.span("operators.exact_ingest")(DedupStore.ingestExact(
      df.filter(CurationJob.qualityPredicate(cfg)), s"$root/exact", day, retainCache = true))
    val afterNear = tr.span("operators.near_ingest")(
      DedupStore.ingest(afterExact, s"$root/near", day, t = cfg.jaccardT,
        maxBucket = LshGuard.maxBucket(spark), spillDir = cfg.nearDedupSpillDir,
        retainCache = true))
    try {
      tr.span("operators.ivf_append")(
        IvfStore.append(afterNear, ivf, day, idCol = "doc_id", vecCol = "embedding"))
      tr.span("operators.text_append")(
        TextIndexStore.append(afterNear, tix, day, idCol = "doc_id", textCol = "text"))
      afterNear.select("doc_id").as[Long].collect().toSet
    } finally Seq(afterNear, afterExact).foreach(_.unpersist())
  }

  /** The history ingest, which also warms the JVM up on the same code. */
  override def warmUp: Boolean = false

  override def prepare(): Unit = {
    IvfStore.init(frame(history).drop("text"), "doc_id", "embedding", ivf, k = 8, iters = 3)
    ingest(new Tracer(spark), frame(history), "day-000")
    copyTree(Paths.get(stores), Paths.get(snap))
  }

  private def deleteTree(p: Path): Unit = if (Files.exists(p))
    Files.walk(p).sorted(java.util.Comparator.reverseOrder[Path]()).iterator().asScala
      .foreach(Files.delete)

  private def copyTree(from: Path, to: Path): Unit =
    Files.walk(from).iterator().asScala.foreach { s =>
      val t = to.resolve(from.relativize(s))
      if (Files.isDirectory(s)) Files.createDirectories(t) else Files.copy(s, t)
    }

  override def before(): Unit = {
    deleteTree(Paths.get(stores))
    copyTree(Paths.get(snap), Paths.get(stores))
  }

  def run(tr: Tracer): Run = {
    val t0 = System.nanoTime()
    kept = ingest(tr, spark.read.schema("doc_id long, text string, embedding array<float>")
      .json(dayPath), Day)
    keptRatio += kept.size.toDouble / today.size
    // one closed-loop client: each probe is sent when the previous returns
    val fresh = today.filter(_.kind == "fresh")
    (0 until Probes).foreach { k =>
      val d = fresh((k * 37) % fresh.size)
      val name = if (k % 2 == 0) "ivf_probe" else "bm25_probe"
      val p0 = System.nanoTime()
      val hit = tr.span(s"operators.$name") {
        if (k % 2 == 0) IvfStore.probe(spark, ivf, "doc_id", "embedding",
          Seq(k.toLong -> d.embedding.map(_.toDouble)), nprobe = 2, topK = 5)
          .collect().exists(_.getLong(1) == d.id)
        else TextIndexStore.topK(spark, tix, Seq(d.token), topK = 5)
          .select("doc_id").collect().exists(_.getLong(0) == d.id)
      }
      probeMs.getOrElseUpdate(name, mutable.ArrayBuffer.empty) += (System.nanoTime() - p0) / 1e6
      probeOk += hit
    }
    Run((System.nanoTime() - t0) / 1e9, 1 + Probes)
  }

  def check(): Int = {
    def ids(kind: String) = today.filter(_.kind == kind).map(_.id).toSet
    val near = ids("near")
    val fresh = ids("fresh")
    val checks = Seq(
      "every exact copy cut" -> (ids("exact") & kept).isEmpty,
      s"near copies cut ${(near -- kept).size}/${near.size} >= 90%" ->
        ((near -- kept).size >= 0.9 * near.size),
      s"fresh docs kept ${(fresh & kept).size}/${fresh.size} >= 95%" ->
        ((fresh & kept).size >= 0.95 * fresh.size),
      s"probes found their doc (${probeOk.count(identity)}/${probeOk.size})" -> probeOk.forall(identity),
      "kept set stable across iterations" -> firstKept.forall(_ == kept))
    if (firstKept.isEmpty) firstKept = Some(kept)
    probeOk.clear()
    lastDigest = Outputs.md5(kept.toSeq.sorted.map(_.toString))
    val bad = checks.filterNot(_._2)
    bad.foreach { case (what, _) => System.err.println(s"[perfbench] CHECK FAILED: $what") }
    bad.size
  }

  override def layerMetrics(tr: Tracer, iters: Seq[Iter]): Map[String, Double] = {
    def med(name: String, f: Work => Long) = Main.median(
      tr.spans.filter(_.name == name).map(s => f(tr.totalWork(s)).toDouble).toSeq)
    val files = Files.walk(Paths.get(stores)).iterator().asScala.filter(Files.isRegularFile(_)).toSeq
    Map(
      "operators.kept_ratio" -> Main.median(keptRatio.toSeq),
      "operators.ivf_append.shuffle_records" -> med("operators.ivf_append", _.shuffleRecords),
      "operators.exact_ingest.commit_shuffle_records" ->
        med("operators.exact_ingest", _.commitShuffleRecords),
      "operators.near_ingest.commit_shuffle_records" ->
        med("operators.near_ingest", _.commitShuffleRecords),
      "operators.store_files" -> files.size.toDouble,
      "operators.store_mb" -> files.map(Files.size).sum / (1024.0 * 1024.0),
      "operators.ivf_probe.ms_p50" -> Main.median(probeMs("ivf_probe").toSeq),
      "operators.bm25_probe.ms_p50" -> Main.median(probeMs("bm25_probe").toSeq))
  }
}
