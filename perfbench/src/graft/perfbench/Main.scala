package graft.perfbench

import java.lang.management.ManagementFactory
import org.apache.spark.sql.SparkSession

/** What one iteration's timed part reports: its run seconds (input to
  * committed outputs) and how many operations (jobs, ingests, probes,
  * queries) it attempted. */
final case class Run(seconds: Double, attempted: Int)

/** One measured iteration: the [[Run]], process CPU and JVM GC seconds
  * and whole-stage-codegen compilations over its timed part, how many
  * operations failed (a failed output check counts as a failure), and
  * its kind: [[Iter.Plain]], [[Iter.Counted]] or [[Iter.Spanned]]. */
final case class Iter(run: Run, cpuS: Double, gcS: Double, compiles: Long,
    failed: Int, kind: Int) {
  def seconds: Double = run.seconds
}

object Iter {
  /** No listener, no spans: every iteration of an untraced run. */
  val Plain = 0
  /** The workload's real calls with the counter listener attached. */
  val Counted = 1
  /** The counter listener plus one span per module call. */
  val Spanned = 2
}

/** A benchmark workload. The harness calls [[generate]] a few times
  * (set-up is reported as a median), then [[prepare]] once, then
  * iterates — [[before]] and [[check]] untimed around the timed
  * [[run]] — a planned number of times. */
trait Workload {
  /** Writes the seeded inputs under `dir` and makes them the live
    * inputs; the engine reads only these files. */
  def generate(dir: String): Unit
  /** One-time work on the live inputs before measuring (part of set-up). */
  def prepare(): Unit = ()
  /** Untimed reset before each iteration. */
  def before(): Unit = ()
  /** Whether set-up ends with one unmeasured iteration (JIT, codegen, FS
    * caches); false when [[prepare]] already ran the same code. */
  def warmUp: Boolean = true
  /** Measured seconds granted to one iteration: a run makes
    * round(seconds / nominal) iterations (at least one). */
  def nominalIterS: Double
  /** The timed client operations of one iteration; traced when `tr.on`. */
  def run(tr: Tracer): Run
  /** Checks the outputs of the last [[run]]; returns the failure count. */
  def check(): Int
  /** Workload-specific per-layer metrics of a traced run. */
  def layerMetrics(tr: Tracer, iters: Seq[Iter]): Map[String, Double] = Map.empty
  /** Digest of the outputs of the last iteration (stable per seed). */
  def digest: String
}

/** Benchmark entry point:
  * `Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *       --cpus <n> --work <dir> --out <dir> --bench-id <hash>`
  *
  * Prints one JSON object as the last stdout line: `correct`,
  * `attempted`, `failed` and `metrics` (the end-to-end metrics when
  * untraced, the per-layer metrics when traced). Exits 1 when any
  * output check fails. */
object Main {
  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  private def cpuNs(): Long = os.getProcessCpuTime
  private def compiles(): Long =
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount
  private def gcMs(): Long = {
    import scala.jdk.CollectionConverters._
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum
  }

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of nothing")
    val s = xs.sorted
    (s((s.length - 1) / 2) + s(s.length / 2)) / 2
  }

  def session(cpus: Int, work: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("graft-perfbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.join.preferSortMergeJoin", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  def workload(name: String, spark: SparkSession, seed: Long, work: String,
      cpus: Int): Workload = name match {
    case "bidlog_dag" => new BidLogDag(spark, seed, work, cpus)
    case "store_daily" => new StoreDaily(spark, seed, work)
    case "query_suite" => new QuerySuite(spark, seed, work)
    case other => sys.error(s"unknown workload $other")
  }

  /** Store-operator spans of `store_daily`. */
  val OperatorSpans: Seq[String] = Seq("exact_ingest", "near_ingest",
    "ivf_append", "text_append", "ivf_probe", "bm25_probe")

  /** Every span name the workloads record. */
  val SpanNames: Seq[String] = Seq(
    "sources.tfrecord_read",
    "io.bidlog_decode", "io.base64_sinks", "io.profile_decode", "io.prediction_sinks",
    "ops.validity", "ops.device_profiles", "ops.dup_check", "ops.app_profiles",
    "ops.suspicious", "ops.features", "ops.score",
    "jobs.bidlog_job", "jobs.prediction_job") ++
    OperatorSpans.map("operators." + _) ++ QuerySuite.Names.map("queries." + _)

  /** Per-layer metric names and units, identical for every workload;
    * a layer a workload does not run reads 0. `.pct` metrics are a
    * span's self time as a share of the spanned iteration's wall time. */
  val LayerUnits: Seq[(String, String)] =
    Seq("trace.iter_s" -> "s", "trace.overhead_ratio" -> "ratio",
      "trace.listener_overhead_ratio" -> "ratio",
      "jvm.gc_s" -> "s", "spark.codegen_compiles" -> "count",
      "spark.jobs" -> "count", "spark.tasks" -> "count", "spark.task_cpu_s" -> "s",
      "spark.shuffle_write_mb" -> "MB", "spark.shuffle_records" -> "count",
      "spark.spill_mb" -> "MB", "spark.input_mb" -> "MB",
      "sources.input_read_amp" -> "ratio", "io.sink_write_tasks" -> "count",
      "io.output_files" -> "count",
      "ops.validity.pass_ratio" -> "ratio", "ops.sample.pass_ratio" -> "ratio",
      "jobs.bidlog_job.recompute_ratio" -> "ratio", "operators.kept_ratio" -> "ratio",
      "operators.ivf_append.shuffle_records" -> "count",
      "operators.exact_ingest.commit_shuffle_records" -> "count",
      "operators.near_ingest.commit_shuffle_records" -> "count",
      "operators.store_files" -> "count", "operators.store_mb" -> "MB",
      "operators.ivf_probe.ms_p50" -> "ms", "operators.bm25_probe.ms_p50" -> "ms") ++
      SpanNames.map(n => s"$n.pct" -> "%") ++
      OperatorSpans.map(n => s"operators.$n.spark_jobs" -> "count")

  /** Per-layer metrics of a traced run. Spark counters, GC and codegen
    * compiles are medians over the counted iterations, which run the
    * workload's real calls; span shares and per-span counters are
    * medians over the spanned iterations. */
  def layerMetrics(tr: Tracer, iters: Seq[Iter], w: Workload): Map[String, Double] = {
    def of(kind: Int) = iters.zipWithIndex.filter(_._1.kind == kind)
    val (plain, counted, spanned) = (of(Iter.Plain), of(Iter.Counted), of(Iter.Spanned))
    def med(xs: Seq[(Iter, Int)])(f: (Iter, Int) => Double): Double =
      median(xs.map { case (it, i) => f(it, i) })
    def wmed(f: Work => Double) = med(counted)((_, i) => f(tr.iterWork(i)))
    def roots(i: Int) = tr.spans.filter(s => s.iter == i && s.parent == -1)
    val mb = 1024.0 * 1024.0
    val plainS = med(plain)((it, _) => it.seconds)
    val base = Map(
      "trace.iter_s" -> med(spanned)((it, _) => it.seconds),
      "trace.overhead_ratio" -> med(spanned)((it, _) => it.seconds) / plainS,
      "trace.listener_overhead_ratio" -> med(counted)((it, _) => it.seconds) / plainS,
      "jvm.gc_s" -> med(counted)((it, _) => it.gcS),
      "spark.codegen_compiles" -> med(counted)((it, _) => it.compiles.toDouble),
      "spark.jobs" -> wmed(_.jobs.toDouble),
      "spark.tasks" -> wmed(_.tasks.toDouble),
      "spark.task_cpu_s" -> wmed(_.cpuNs / 1e9),
      "spark.shuffle_write_mb" -> wmed(_.shuffleWriteBytes / mb),
      "spark.shuffle_records" -> wmed(_.shuffleRecords.toDouble),
      "spark.spill_mb" -> wmed(_.spillBytes / mb),
      "spark.input_mb" -> wmed(_.inputBytes / mb))
    val shares = SpanNames.map { n =>
      s"$n.pct" -> med(spanned) { (_, i) =>
        val total = roots(i).map(tr.seconds).sum
        100.0 * tr.spans.iterator.filter(s => s.iter == i && s.name == n)
          .map(tr.selfSeconds).sum / total
      }
    }
    val jobs = OperatorSpans.map { n =>
      s"operators.$n.spark_jobs" -> med(spanned)((_, i) => tr.spans.iterator
        .filter(s => s.iter == i && s.name == s"operators.$n")
        .map(s => tr.totalWork(s).jobs.toDouble).sum)
    }
    val all = LayerUnits.map(_._1 -> 0.0).toMap ++ base ++ shares ++ jobs ++
      w.layerMetrics(tr, iters)
    all.foreach { case (k, _) => require(LayerUnits.exists(_._1 == k), s"unlisted metric $k") }
    all
  }

  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val name = a("workload")
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val trace = a("trace") == "1"
    val cpus = a("cpus").toInt
    val work = a("work")
    val out = a("out")
    val benchId = a("bench-id")

    val t0 = System.nanoTime()
    val spark = session(cpus, work)
    val sessionS = (System.nanoTime() - t0) / 1e9
    val exit = try {
      val w = workload(name, spark, seed, work, cpus)
      val genS = (0 until 3).map { r =>
        val g0 = System.nanoTime()
        w.generate(s"$work/input-$r")
        (System.nanoTime() - g0) / 1e9
      }
      val p0 = System.nanoTime()
      w.prepare()
      val tr = new Tracer(spark)
      val (warmAttempted, warmFailed) =
        if (!w.warmUp) (0, 0) else { w.before(); val r = w.run(tr); (r.attempted, w.check()) }
      val setupS = sessionS + median(genS) + (System.nanoTime() - p0) / 1e9
      System.err.println(f"[perfbench] $name seed=$seed setup ${setupS}%.2f s " +
        f"(session $sessionS%.2f, generate ${genS.mkString(",")})")

      // A planned iteration count, not a deadline: the JVM is still
      // warming up between iterations, so a median is comparable across
      // runs only when every run makes the same number of iterations.
      val planned = math.max(if (trace) 4 else 1, math.round(seconds / w.nominalIterS).toInt)
      val iters = scala.collection.mutable.ArrayBuffer.empty[Iter]
      // traced runs cycle plain, counted, spanned and plain iterations, so
      // the tracing overhead is measured in one process under one load,
      // with plain iterations on both sides of the JVM's warm-up drift
      val cycle = Seq(Iter.Plain, Iter.Counted, Iter.Spanned, Iter.Plain)
      while (iters.size < planned) {
        val kind = if (trace) cycle(iters.size % cycle.size) else Iter.Plain
        w.before()
        tr.begin(iters.size, count = kind != Iter.Plain, spans = kind == Iter.Spanned)
        val (c0, g0, k0) = (cpuNs(), gcMs(), compiles())
        val r = w.run(tr)
        val it0 = Iter(r, (cpuNs() - c0) / 1e9, (gcMs() - g0) / 1e3, compiles() - k0, 0, kind)
        tr.end()
        val it = it0.copy(failed = w.check())
        iters += it
        System.err.println(f"[perfbench] iter ${iters.size} ${it.seconds}%.3f s " +
          f"cpu ${it.cpuS}%.2f s codegen compiles ${it.compiles} failed ${it.failed} " +
          Seq("plain", "counted", "spanned")(kind))
      }

      val digestOk = Digests.check(out, s"$name-seed$seed-$benchId", w.digest)
      val attempted = warmAttempted + iters.map(_.run.attempted).sum
      val failed = iters.map(_.failed).sum + warmFailed + (if (digestOk) 0 else 1)
      val metrics: Seq[(String, Double, String)] =
        if (!trace) {
          Seq(("setup_s", setupS, "s"),
            ("run_s", median(iters.map(_.seconds).toSeq), "s"),
            ("cpu_s", median(iters.map(_.cpuS).toSeq), "s"))
        } else {
          val lm = layerMetrics(tr, iters.toSeq, w)
          tr.write(java.nio.file.Paths.get(out, "trace", s"$name-seed$seed.jsonl"))
          LayerUnits.map { case (k, u) => (k, lm(k), u) }
        }
      val body = metrics.map { case (k, v, u) =>
        s""""$k": {"value": ${if (v.isNaN || v.isInfinite) "0.0" else v.toString}, "unit": "$u"}"""
      }.mkString(", ")
      System.err.println(s"[perfbench] $name: ${iters.size} iterations, " +
        s"fail_ratio ${failed.toDouble / attempted.max(1)}, digest ${w.digest}")
      println(s"""{"correct": ${failed == 0}, "attempted": $attempted, "failed": $failed, "metrics": {$body}}""")
      if (failed == 0) 0 else 1
    } finally spark.stop()
    sys.exit(exit)
  }
}

/** Output digests under `<out>/digests`, one per key (workload, seed and
  * a hash of the benchmark's sources, which include the generators): the
  * first run of a key records its digest, later runs must match it. */
object Digests {
  def check(out: String, key: String, digest: String): Boolean = {
    val p = java.nio.file.Paths.get(out, "digests", s"$key.txt")
    if (java.nio.file.Files.exists(p)) {
      val prior = new String(java.nio.file.Files.readAllBytes(p), "UTF-8").trim
      if (prior != digest) System.err.println(
        s"[perfbench] output digest $digest differs from the seed's recorded $prior")
      prior == digest
    } else {
      java.nio.file.Files.createDirectories(p.getParent)
      java.nio.file.Files.write(p, digest.getBytes("UTF-8"))
      true
    }
  }
}
