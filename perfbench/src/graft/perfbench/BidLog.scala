package graft.perfbench

import graft.io.{AdtechProtos, AdtechSinks, ProtoWriter}
import graft.io.AdtechProtos._
import graft.jobs.Jobs
import graft.ops.{AdtechPipeline, PredictionPipeline}
import graft.sources.TfRecordSource
import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.storage.StorageLevel

import java.io.File
import java.nio.file.{Files, Paths}
import scala.collection.mutable

/** Zipf(s) sampler over ranks 0 until n. */
final class Zipf(n: Int, s: Double, rnd: scala.util.Random) {
  private val cdf = {
    val w = Array.tabulate(n)(k => 1.0 / math.pow(k + 1, s))
    val total = w.sum
    w.scanLeft(0.0)(_ + _).tail.map(_ / total)
  }
  def next(): Int = {
    val i = java.util.Arrays.binarySearch(cdf, rnd.nextDouble())
    (if (i >= 0) i else -i - 1).min(n - 1)
  }
}

/** Results of the two jobs computed in plain Scala from the generated
  * inputs, for the Spark-free correctness gate. */
final case class Expected(dp: Long, ap: Long, suspicious: Set[String], predictions: Long)

/** Seeded bid-log corpus in the reference's shape (707 device profiles :
  * 510 app profiles : 6 suspicious devices): bundle popularity is Zipf,
  * each ordinary device uses 1–3 bundles, ≤10 logs and ≤2 geos, and
  * ~0.85% of devices are planted suspicious (one of the three rules
  * each). ~6% extra logs are invalid, spread round-robin over all 11
  * F1 validity rules. */
object BidLogCorpus {
  val Countries = Seq("US", "DE", "JP", "BR", "IN", "FR", "GB", "KR", "MX", "CA", "IT", "ES")

  /** Mirrors the F1 filter (`AdtechPipeline.validBidLogs`). */
  def valid(l: BidLogFlat): Boolean = {
    def blank(s: String) = s == null || s.trim.isEmpty || s.forall(Character.isWhitespace)
    l.exchange != 0 && l.bidResult != 0 && !(l.bidResult == 1 && l.bidPrice <= 0) &&
      !(l.bidResult != 1 && l.bidPrice != 0) && l.receivedAt > 0 &&
      l.processedAt > l.receivedAt && Set("ios", "android")(l.os.toLowerCase) &&
      !blank(l.bundle) && !blank(l.country) && !blank(l.region) &&
      scala.util.Try(java.util.UUID.fromString(l.ifa)).isSuccess
  }

  /** Breaks exactly one validity rule (0..10) of a valid log. */
  def breakRule(l: BidLogFlat, rule: Int): BidLogFlat = rule match {
    case 0 => l.copy(exchange = 0)
    case 1 => l.copy(bidResult = 0, bidPrice = 0)
    case 2 => l.copy(bidResult = 1, bidPrice = 0)
    case 3 => l.copy(bidResult = 2, bidPrice = 7)
    case 4 => l.copy(receivedAt = 0L)
    case 5 => l.copy(processedAt = l.receivedAt)
    case 6 => l.copy(os = "windows")
    case 7 => l.copy(bundle = " ")
    case 8 => l.copy(country = "")
    case 9 => l.copy(region = "\t")
    case 10 => l.copy(ifa = "not-a-uuid")
  }

  def encode(l: BidLogFlat): Array[Byte] = {
    val w = new ProtoWriter.Writer
    w.msg(1) { br =>
      br.str(1, l.id)
      br.msg(4)(app => app.str(8, l.bundle))
      br.msg(5) { dev =>
        dev.msg(4) { geo => geo.str(3, l.country); geo.str(4, l.region) }
        dev.str(14, l.os)
        dev.str(20, l.ifa)
      }
    }
    w.int(2, l.exchange.toLong).int(3, l.receivedAt).int(4, l.processedAt)
      .int(5, l.bidResult.toLong).int(6, l.bidPrice.toLong)
    w.result()
  }

  /** Writes `files` gzip TFRecord files of `devices` devices' logs under
    * `dir`; returns the logs (valid and invalid). */
  def write(seed: Long, devices: Int, files: Int, dir: String): Seq[BidLogFlat] = {
    val rnd = new scala.util.Random(seed)
    val nBundles = (devices * 1.2).toInt
    val zipf = new Zipf(nBundles, 0.75, rnd)
    val logs = mutable.ArrayBuffer.empty[BidLogFlat]
    var seq = 0L
    def log(ifa: String, os: String, bundle: String, geo: (String, String)): BidLogFlat = {
      seq += 1
      val rec = 1600000000000L + rnd.nextInt(1 << 30)
      val win = rnd.nextBoolean()
      BidLogFlat(s"req-$seed-$seq", bundle, os, ifa, geo._1, geo._2,
        1 + rnd.nextInt(6), rec, rec + 1 + rnd.nextInt(1000),
        if (win) 1 else 2, if (win) 1 + rnd.nextInt(500) else 0)
    }
    def geo(): (String, String) = {
      val c = Countries(rnd.nextInt(Countries.size))
      (c, s"$c-${rnd.nextInt(40)}")
    }
    for (d <- 0 until devices) {
      val ifa = new java.util.UUID(rnd.nextLong(), rnd.nextLong()).toString
      val os = if (rnd.nextBoolean()) "android" else (if (rnd.nextBoolean()) "ios" else "IOS")
      val plant = d % 118 == 59
      if (plant && (d / 118) % 3 == 0) { // > bidLogCount valid logs
        val b = s"com.app.${zipf.next()}"; val g = geo()
        for (_ <- 0 until 11 + rnd.nextInt(5)) logs += log(ifa, os, b, g)
      } else if (plant && (d / 118) % 3 == 1) { // > geoCount distinct geos
        val b = s"com.app.${zipf.next()}"
        val gs = Countries.take(9 + rnd.nextInt(2)).map(c => (c, s"$c-x"))
        gs.foreach(g => logs += log(ifa, os, b, g))
      } else if (plant) { // > appCount unpopular bundles (own bundles, user count 1)
        val g = geo()
        for (k <- 0 until 4 + rnd.nextInt(2)) logs += log(ifa, os, s"com.own.$seed.$d.$k", g)
      } else {
        val bundles = Seq.fill(1 + rnd.nextInt(3))(s"com.app.${zipf.next()}").distinct
        val geos = Seq.fill(1 + rnd.nextInt(2))(geo())
        for (_ <- 0 until bundles.size + rnd.nextInt(11 - bundles.size))
          logs += log(ifa, os, bundles(rnd.nextInt(bundles.size)), geos(rnd.nextInt(geos.size)))
      }
    }
    val nInvalid = (logs.size * 0.06).toInt
    val invalid = (0 until nInvalid).map(k => breakRule(logs(rnd.nextInt(logs.size)), k % 11))
    val all = rnd.shuffle((logs ++ invalid).toSeq)
    new File(dir).mkdirs()
    val per = (all.size + files - 1) / files
    all.grouped(per).zipWithIndex.foreach { case (part, k) =>
      TfRecordSource.writeLocal(part.map(encode), new File(f"$dir/bidlog-$k%03d.tfrecord.gz"), gzip = true)
    }
    all
  }

  /** Job-1 results and the job-2 row count, in plain Scala. */
  def expected(logs: Seq[BidLogFlat]): Expected = {
    val ok = logs.filter(valid)
    def dev(l: BidLogFlat) = (if (l.os.toLowerCase == "android") 1 else 2, l.ifa.toUpperCase)
    val byDev = ok.groupBy(dev)
    val userCount = ok.groupBy(_.bundle).map { case (b, ls) => b -> ls.map(dev).distinct.size }
    val t = AdtechPipeline.Thresholds()
    val susp = byDev.collect {
      case ((o, u), ls) if ls.map(l => (l.country, l.region)).distinct.size > t.geoCount ||
        ls.map(_.bundle).distinct.count(b => userCount(b) <= t.userCount) > t.appCount ||
        ls.size > t.bidLogCount => s"$o|$u"
    }.toSet
    val preds = byDev.keys.count { case (o, u) => !susp(s"$o|$u") && u.charAt(7) == '0' }
    Expected(byDev.size, userCount.size, susp, preds)
  }

  /** IAPP side input over a third of the corpus bundles. */
  def writeIapp(seed: Long, bundles: Seq[String], dir: String): Unit = {
    val rnd = new scala.util.Random(seed ^ 0x1a4bL)
    val picked = bundles.filter(_ => rnd.nextInt(3) == 0)
    val lines = picked.map(b => ProtoWriter.toBase64(ProtoWriter.encodeIapp(
      IappRec(b, 1L + rnd.nextInt(1000), 100L + rnd.nextInt(100000)))))
    writeLines(s"$dir/part-00000.txt", lines)
  }

  def writeLines(path: String, lines: Seq[String]): Unit = {
    Files.createDirectories(Paths.get(path).getParent)
    Files.write(Paths.get(path), lines.mkString("", "\n", "\n").getBytes("UTF-8"))
  }
}

/** Reading and checking job outputs without Spark. */
object Outputs {
  def lines(dir: String): Seq[String] = {
    val f = new File(dir)
    Option(f.listFiles()).toSeq.flatten
      .filter(p => p.getName.startsWith("part-") && !p.getName.endsWith(".crc"))
      .sortBy(_.getName)
      .flatMap(p => new String(Files.readAllBytes(p.toPath), "UTF-8").split("\n").filter(_.nonEmpty))
  }

  def md5(xs: Iterable[String]): String = {
    val md = java.security.MessageDigest.getInstance("MD5")
    xs.foreach(x => md.update((x + "\n").getBytes("UTF-8")))
    md.digest().map(b => f"$b%02x").mkString
  }

  def b64(s: String): Array[Byte] = java.util.Base64.getDecoder.decode(s)

  /** Order-free form of a device profile line (app order is unspecified). */
  def canonDp(line: String): String = {
    val d = AdtechProtos.decodeDeviceProfile(b64(line))
    val apps = d.app.map(a => s"${a.bundle}:${a.firstAt}:${a.lastAt}:" +
      a.countPerExchange.toSeq.sorted.mkString(",")).sorted
    s"${d.os}|${d.uuid}|${d.firstAt}|${d.lastAt}|${apps.mkString(";")}|" +
      d.geo.map(g => s"${g.country}/${g.region}").sorted.mkString(";")
  }

  def canonAp(line: String): String = {
    val a = AdtechProtos.decodeAppProfile(b64(line))
    s"${a.bundle}|${a.userCount}|${a.userCountPerExchange.toSeq.sorted.mkString(",")}"
  }

  def deviceId(line: String): String = {
    val d = AdtechProtos.decodeDeviceId(b64(line))
    s"${d.os}|${d.uuid}"
  }
}

/** `bidlog_dag`: the paper's DAG, [[Jobs.runBidLogJob]] →
  * [[Jobs.runPredictionJob]], over a seeded gzip-TFRecord corpus. One
  * operation = one DAG run. A spanned iteration composes the two jobs
  * from the same public calls, one span per call, and materializes each
  * phase once so that its span holds that phase's single-pass work. */
final class BidLogDag(spark: SparkSession, seed: Long, work: String, cpus: Int) extends Workload {
  val Devices = 6000
  def nominalIterS = 5.0
  private val out = s"$work/out"
  private var exp: Expected = _
  private var iapp: String = _
  private var input: String = _
  private var inputBytes = 0L
  private var lastDigest = ""
  private var firstDigest: Option[String] = None
  private val readAmp = mutable.ArrayBuffer.empty[Double]
  private val job1Untraced = mutable.ArrayBuffer.empty[Double]
  private val job1Traced = mutable.ArrayBuffer.empty[Double]
  private val passRatio = mutable.ArrayBuffer.empty[Double]
  private val sampleRatio = mutable.ArrayBuffer.empty[Double]
  def digest: String = lastDigest

  /** Materializes a phase once, so its span holds that phase's own work. */
  private def mat[T](ds: Dataset[T]): (Dataset[T], Long) = {
    val p = ds.persist(StorageLevel.MEMORY_AND_DISK)
    (p, p.count())
  }

  /** Job 2 as [[Jobs.runPredictionJob]] composes it, one span per call.
    * Returns (decoded profiles, feature rows). */
  private def tracedPrediction(tr: Tracer, dpDir: String, suspDir: String): (Long, Long) =
    tr.span("jobs.prediction_job") {
      val ((dps, nDps), (susp, _), (ia, _)) = tr.span("io.profile_decode") {
        (mat(PredictionPipeline.decodeDeviceProfiles(spark.read.textFile(dpDir))),
          mat(PredictionPipeline.decodeSuspicious(spark.read.textFile(suspDir))),
          mat(PredictionPipeline.decodeIapp(spark.read.textFile(iapp))))
      }
      val (feats, nFeats) = tr.span("ops.features")(mat(
        PredictionPipeline.inputToModel(dps, susp, ia).toDF()))
      val (preds, _) = tr.span("ops.score")(mat(PredictionPipeline.predict(feats)))
      tr.span("io.prediction_sinks") {
        AdtechSinks.writePredictionsJson(preds, s"$out/prediction-json", Some(1))
        AdtechSinks.writePredictionsTable(preds, s"$out/prediction-table")
      }
      Seq(dps, susp, ia, feats, preds).foreach(_.unpersist())
      (nDps, nFeats)
    }

  /** Checks both jobs' outputs against the plain-Scala expectations;
    * returns the number of failed checks. */
  def check(): Int = {
    val checks = mutable.ArrayBuffer.empty[(String, Boolean)]
    val digestParts = mutable.ArrayBuffer.empty[String]
    val dps = Outputs.lines(s"$out/device-profile").map(Outputs.canonDp)
    val aps = Outputs.lines(s"$out/app-profile").map(Outputs.canonAp)
    val susp = Outputs.lines(s"$out/suspicious-user").map(Outputs.deviceId)
    checks += s"device profiles ${dps.size} == ${exp.dp}" -> (dps.size == exp.dp)
    checks += s"app profiles ${aps.size} == ${exp.ap}" -> (aps.size == exp.ap)
    checks += s"suspicious set (${susp.size} ids) == expected (${exp.suspicious.size})" ->
      (susp.toSet == exp.suspicious && susp.size == exp.suspicious.size)
    digestParts ++= Seq(Outputs.md5(dps.sorted), Outputs.md5(aps.sorted), Outputs.md5(susp.sorted))
    val preds = Outputs.lines(s"$out/prediction-json")
    val table = spark.read.parquet(s"$out/prediction-table").count()
    checks += s"prediction json rows ${preds.size} == ${exp.predictions}" -> (preds.size == exp.predictions)
    checks += s"prediction table rows $table == ${exp.predictions}" -> (table == exp.predictions)
    digestParts += Outputs.md5(preds.sorted)
    lastDigest = Outputs.md5(digestParts)
    checks += s"output digest $lastDigest stable across iterations" ->
      firstDigest.forall(_ == lastDigest)
    if (firstDigest.isEmpty) firstDigest = Some(lastDigest)
    val bad = checks.filterNot(_._2)
    bad.foreach { case (what, _) => System.err.println(s"[perfbench] CHECK FAILED: $what") }
    bad.size
  }

  private def secs(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  private def outputFiles(): Double =
    Files.walk(Paths.get(out)).filter(_.getFileName.toString.startsWith("part-")).count().toDouble

  def generate(dir: String): Unit = {
    input = s"$dir/bidlogs"
    val logs = BidLogCorpus.write(seed, Devices, 2 * cpus, input)
    iapp = s"$dir/iapp"
    BidLogCorpus.writeIapp(seed, logs.map(_.bundle).distinct.sorted, iapp)
    exp = BidLogCorpus.expected(logs)
    inputBytes = new File(input).listFiles().map(_.length).sum
    System.err.println(s"[perfbench] corpus: ${logs.size} logs, ${exp.dp} device profiles, " +
      s"${exp.ap} app profiles, ${exp.suspicious.size} suspicious, ${exp.predictions} predictions")
  }

  private def fsBytesRead(): Long =
    org.apache.hadoop.fs.FileSystem.getGlobalStorageStatistics.get("file") match {
      case null => 0L
      case s => Option(s.getLong("bytesRead")).map(_.longValue).getOrElse(0L)
    }

  def run(tr: Tracer): Run = {
    val t0 = System.nanoTime()
    if (!tr.on) {
      val r0 = fsBytesRead()
      Jobs.runBidLogJob(spark, s"$input/*.tfrecord.gz", out)
      job1Untraced += secs(t0)
      readAmp += (fsBytesRead() - r0).toDouble / inputBytes
      Jobs.runPredictionJob(spark, s"$out/device-profile", s"$out/suspicious-user", iapp, out)
    } else {
      val j0 = System.nanoTime()
      tr.span("jobs.bidlog_job") {
        val (raw, _) = tr.span("sources.tfrecord_read")(mat(TfRecordSource.read(spark, s"$input/*.tfrecord.gz")))
        val (logs, nLogs) = tr.span("io.bidlog_decode")(mat(AdtechPipeline.decodeBidLogBytes(raw)))
        val (valid, nValid) = tr.span("ops.validity")(mat(AdtechPipeline.validBidLogs(logs)))
        passRatio += nValid.toDouble / nLogs
        val (dps, _) = tr.span("ops.device_profiles")(mat(AdtechPipeline.deviceProfiles(valid)))
        tr.span("ops.dup_check")(AdtechPipeline.assertNoDuplicateIds(dps))
        val (aps, _) = tr.span("ops.app_profiles")(mat(AdtechPipeline.appProfiles(dps)))
        val (susp, _) = tr.span("ops.suspicious")(mat(AdtechPipeline.suspiciousIds(dps, aps)))
        tr.span("io.base64_sinks") {
          AdtechSinks.writeDeviceProfilesBase64(dps, s"$out/device-profile", Some(1))
          AdtechSinks.writeAppProfilesBase64(aps, s"$out/app-profile", Some(1))
          AdtechSinks.writeSuspiciousBase64(susp, s"$out/suspicious-user", Some(1))
        }
        Seq(raw, logs, valid, dps, aps, susp).foreach(_.unpersist())
      }
      job1Traced += secs(j0)
      val (nDps, nFeats) = tracedPrediction(tr, s"$out/device-profile", s"$out/suspicious-user")
      sampleRatio += nFeats.toDouble / nDps
    }
    Run(secs(t0), 1)
  }

  override def layerMetrics(tr: Tracer, iters: Seq[Iter]): Map[String, Double] = {
    val sinkTasks = tr.spans.filter(_.name == "io.base64_sinks").map(s => tr.totalWork(s).tasks.toDouble)
    Map(
      "sources.input_read_amp" -> Main.median(readAmp.toSeq),
      "io.sink_write_tasks" -> Main.median(sinkTasks.toSeq),
      "io.output_files" -> outputFiles(),
      "ops.validity.pass_ratio" -> Main.median(passRatio.toSeq),
      "ops.sample.pass_ratio" -> Main.median(sampleRatio.toSeq),
      "jobs.bidlog_job.recompute_ratio" ->
        Main.median(job1Untraced.toSeq) / Main.median(job1Traced.toSeq))
  }
}
