package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable.ArrayBuffer

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule

import org.apache.spark.sql.SparkSession

/** One workload: a set of seeded inputs and the op the benchmark times.
  *
  * The constructor generates the inputs and their expected answers in
  * memory; `setup` writes them into an empty directory. Both are timed as
  * set-up. `op` makes the timed calls into graft, checks their output
  * against the answers the generator planted and returns the number of docs
  * it validated; it throws [[CheckFailed]] when an output is wrong. `reset`
  * runs untimed after each op and puts back any state the op changed, so
  * every op does the same work whatever its index. `probes` runs only on a
  * traced run, after the op, and calls single layers on their own.
  *
  * Op times fall for tens of ops while the JIT compiles graft's and Spark's
  * code, so every run warms up for `warmupOps` ops and takes its statistics
  * from the next [[Harness.TimedOps]]: the same op indices on every commit,
  * whatever the op speed.
  */
trait Workload {
  def inputs: Map[String, Any]
  def warmupOps: Int
  def setup(dir: Path): Unit
  def op(i: Int, t: Tracer): Long
  def reset(t: Tracer): Unit = ()
  def prepareProbes(): Unit = ()
  def probes(i: Int, t: Tracer): Unit
}

final class CheckFailed(msg: String) extends Exception(msg)

object Check {
  def apply(cond: Boolean, what: => String): Unit =
    if (!cond) throw new CheckFailed(what)
}

final case class Args(workload: String, seed: Long, seconds: Int,
    trace: Boolean, cores: Int, work: Path, traceOut: Path)

object Args {
  def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) => k -> v }.toMap
    def get(k: String) = m.getOrElse(k,
      throw new IllegalArgumentException(s"missing $k"))
    Args(get("--workload"), get("--seed").toLong, get("--seconds").toInt,
      get("--trace") == "1", get("--cores").toInt, Paths.get(get("--work")),
      Paths.get(get("--trace-out")))
  }
}

object Main {
  def seconds[A](f: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val a = f
    (a, (System.nanoTime() - t0) / 1e9)
  }

  val json: ObjectMapper = new ObjectMapper().registerModule(DefaultScalaModule)

  def main(argv: Array[String]): Unit = {
    val code =
      try { run(Args.parse(argv)); 0 }
      catch { case e: Throwable => e.printStackTrace(); 1 }
    sys.exit(code)
  }

  def run(a: Args): Unit = {
    // the session settings of graft.Bench, with every file kept in the
    // run's own directory
    val (spark, sessionS) = seconds(SparkSession.builder()
      .master(s"local[${a.cores}]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", a.cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", a.work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", a.work.resolve("warehouse").toString)
      .getOrCreate())
    spark.sparkContext.setLogLevel("WARN")
    // set-up: input generation (the workload's constructor) and the table
    // writes, once, into an empty directory of a fresh JVM
    val (w, setupS) = seconds {
      val w: Workload = a.workload match {
        case "table_validate" => new TableValidate(spark, a.seed)
        case "ingest_increments" => new IngestIncrements(spark, a.seed)
        case other => throw new IllegalArgumentException(s"workload $other")
      }
      w.setup(a.work.resolve("data"))
      w
    }
    System.err.println(
      f"[perfbench] session $sessionS%.3f s, setup $setupS%.3f s")
    val out = new Harness(spark, w, a, sessionS + setupS).run()
    println("PERFBENCH_RESULT " + json.writeValueAsString(out))
    spark.stop()
  }
}

/** Warm-up and the timed window of one run; `setupS` is the session start
  * plus the workload's set-up. */
final class Harness(spark: SparkSession, w: Workload, a: Args,
    setupS: Double) {
  import Harness._

  private val off = new Tracer(false)
  private val on = new Tracer(a.trace)
  private val listener = new SparkCounters
  if (a.trace) spark.sparkContext.addSparkListener(listener)

  final case class Sample(i: Int, traced: Boolean, seconds: Double,
      docs: Long, ok: Boolean, delta: Option[Counters])
  private val samples = ArrayBuffer.empty[Sample]
  private val errors = ArrayBuffer.empty[String]

  private def runOp(i: Int, traced: Boolean): Sample = {
    val t = if (traced) on else off
    t.beginOp(i)
    val before = if (traced) Some(listener.read(spark.sparkContext)) else None
    val (jit0, gc0) = (Jvm.jitMs, Jvm.gcMs)
    val t0 = System.nanoTime()
    def failed(what: String, e: Exception) = {
      errors += s"$what $i: $e"
      System.err.println(s"[perfbench] $what $i failed: $e")
      false
    }
    val docs =
      try Some(w.op(i, t))
      catch { case e: Exception => failed("op", e); None }
    val dt = (System.nanoTime() - t0) / 1e9
    val delta = before.map(b => listener.read(spark.sparkContext) - b)
    w.reset(t)
    val probesOk = !traced ||
      (try { w.probes(i, t); true } catch { case e: Exception => failed("probes", e) })
    val s = Sample(i, traced, dt, docs.getOrElse(0L),
      docs.isDefined && probesOk, delta)
    samples += s
    System.err.println(f"[perfbench] op $i%3d ${if (traced) "traced" else "plain "} " +
      f"$dt%.3f s jit ${Jvm.jitMs - jit0} ms gc ${Jvm.gcMs - gc0} ms" +
      (if (s.ok) "" else "  FAILED"))
    s
  }

  def run(): Map[String, Any] = {
    if (a.trace) w.prepareProbes()

    // warm-up: a fixed number of ops; the time cap only guards the run's
    // time limit and is reported when it cuts the warm-up short
    val warmStart = System.nanoTime()
    var i = 0
    while (i < w.warmupOps &&
        (System.nanoTime() - warmStart) / 1e9 < WarmupCapS) {
      runOp(i, traced = false); i += 1
    }
    val warmupOps = i
    if (warmupOps < w.warmupOps)
      System.err.println(s"[perfbench] WARNING: warm-up cut at $warmupOps " +
        s"of ${w.warmupOps} ops by the ${WarmupCapS} s cap")

    // timed window: at least --seconds and at least the counted ops; a
    // traced run alternates plain and traced ops so that the two can be
    // compared for the tracing overhead
    val counted = if (a.trace) 2 * TracedOps else TimedOps
    val start = System.nanoTime()
    while ((System.nanoTime() - start) / 1e9 < a.seconds ||
        i - warmupOps < counted) {
      runOp(i, traced = a.trace && (i - warmupOps) % 2 == 1); i += 1
    }
    val windowS = (System.nanoTime() - start) / 1e9
    val timed = samples.slice(warmupOps, warmupOps + counted).toSeq
    val plain = timed.filterNot(_.traced)
    val times = plain.map(_.seconds)
    val (tailPct, tail) = tailPercentile(times)
    val trend = drift(times)
    val record = Map(
      "workload" -> a.workload, "seed" -> a.seed, "seconds" -> a.seconds,
      "trace" -> a.trace, "cores" -> a.cores, "inputs" -> w.inputs,
      "setup_s" -> setupS, "warmup_ops" -> warmupOps,
      "timed_ops" -> timed.size, "window_s" -> windowS,
      "op_seconds" -> samples.map(s => Map("op" -> s.i, "traced" -> s.traced,
        "s" -> s.seconds, "ok" -> s.ok)),
      "op_tail_percentile" -> tailPct, "op_tail_samples" -> times.size,
      "trend" -> trend, "errors" -> errors.toSeq)
    if (math.abs(trend) > TrendLimit)
      System.err.println(f"[perfbench] WARNING: timed op times drift by " +
        f"${trend * 100}%.1f%% of the median across the window")
    System.err.println(f"[perfbench] ${timed.size} timed ops, p50 " +
      f"${median(times)}%.3f s, tail p$tailPct%.1f $tail%.3f s over " +
      f"${times.size} samples, drift ${trend * 100}%.1f%%")

    val metrics =
      if (!a.trace) Map(
        "docs_per_s" -> m(plain.map(_.docs).sum / times.sum, "docs/s"),
        "op_p50_s" -> m(median(times), "s"),
        "op_tail_s" -> m(tail, "s"),
        "setup_s" -> m(setupS, "s"))
      else layerMetrics(timed)
    val traceDoc = record ++ (if (!a.trace) Map.empty else Map(
      "spans" -> on.spans.map(s => Map("op" -> s.op, "id" -> s.id,
        "parent" -> s.parent, "name" -> s.name, "start_ns" -> s.startNs,
        "end_ns" -> s.endNs)),
      "counts" -> on.counts.map { case (o, n, v) =>
        Map("op" -> o, "name" -> n, "value" -> v) },
      "metrics" -> metrics))
    Files.write(a.traceOut, Main.json.writeValueAsBytes(traceDoc))
    val failed = samples.count(!_.ok)
    Map("correct" -> (failed == 0), "attempted" -> samples.size,
      "failed" -> failed, "metrics" -> metrics)
  }

  /** Per-layer metrics of a traced run: medians over the traced timed ops
    * of each layer's self time and of its counts (summed within an op),
    * Spark and JVM counters of the op itself (probes excluded), and the
    * tracing overhead.
    */
  private def layerMetrics(timed: Seq[Sample]): Map[String, Any] = {
    val traced = timed.filter(_.traced)
    val ops = traced.map(_.i).toSet
    val self = on.selfSeconds(ops)
    val times = LayerTimes.map { n =>
      n + "_s" -> m(self.get(n).map(byOp => median(ops.toSeq
        .map(byOp.getOrElse(_, 0.0)))).getOrElse(0.0), "s")
    }
    val byName = on.counts.filter(c => ops(c._1)).groupBy(_._2)
    val counts = LayerCounts.map { case (n, unit) =>
      n -> m(byName.get(n).map(cs => median(cs.groupBy(_._1).values
        .map(_.map(_._3).sum).toSeq)).getOrElse(0.0), unit)
    }
    val d = traced.flatMap(_.delta)
    def per(f: Counters => Double) = median(d.map(f))
    val cpuUtil = median(traced.map(s => s.delta.get.executorCpuNs / 1e9 /
      (s.seconds * a.cores)))
    val spark = Seq(
      "spark.jobs_per_op" -> m(per(_.jobs.toDouble), "count"),
      "spark.stages_per_op" -> m(per(_.stages.toDouble), "count"),
      "spark.tasks_per_op" -> m(per(_.tasks.toDouble), "count"),
      "spark.executor_run_s" -> m(per(_.executorRunMs / 1e3), "s"),
      "spark.executor_cpu_s" -> m(per(_.executorCpuNs / 1e9), "s"),
      "spark.cpu_util" -> m(cpuUtil, "ratio"),
      "spark.shuffle_bytes" -> m(per(_.shuffleBytes.toDouble), "bytes"),
      "spark.spill_bytes" -> m(per(_.spillBytes.toDouble), "bytes"),
      "spark.input_bytes" -> m(per(_.inputBytes.toDouble), "bytes"),
      "jvm.jit_ms_per_op" -> m(per(_.jitMs.toDouble), "ms"),
      "jvm.gc_ms_per_op" -> m(per(_.gcMs.toDouble), "ms"),
      "jvm.peak_rss_mb" -> m(Jvm.peakRssMb, "MiB"))
    val overhead = median(traced.map(_.seconds)) /
      median(timed.filterNot(_.traced).map(_.seconds))
    (times ++ counts ++ spark :+
      ("trace.overhead" -> m(overhead, "ratio"))).toMap
  }
}

object Harness {
  /** Safety limit of the warm-up, well inside the run's time limit. */
  val WarmupCapS = 100.0
  /** Ops of the window the statistics come from. */
  val TimedOps = 3
  /** Traced ops of a traced run's window, each after a plain op. Two, not
    * three: each traced op adds its probes (about 10 s on table_validate),
    * and a traced run must stay well inside its time limit. */
  val TracedOps = 2
  /** Drift across the timed window (share of the median) that is reported
    * as an unsettled run. */
  val TrendLimit = 0.1

  /** Span names, in the order of BENCHMARK.json's per-layer table. */
  val LayerTimes: Seq[String] = Seq("storage.scan",
    "functions.span_verdict_count", "checks.full_verdicts",
    "checks.per_partition", "checks.span_verdicts", "sources.jsonl_read",
    "sources.read_parse", "rules.compile", "rules.catalog",
    "validate.validated_frame", "report.gather", "report.render",
    "operators.incremental_dedup", "operators.append_signatures",
    "checkpoint.processed_parts", "checkpoint.run_incremental")
  val LayerCounts: Seq[(String, String)] = Seq("functions.spans" -> "count",
    "checks.docs" -> "count", "checks.invalid_docs" -> "count",
    "checks.violations" -> "count", "sources.docs" -> "count",
    "sources.parse_errors" -> "count", "sources.files" -> "count",
    "sources.yaml_docs" -> "count", "sources.yaml_parse_errors" -> "count",
    "rules.schemas" -> "count", "report.bytes" -> "bytes",
    "operators.candidates" -> "count", "operators.reshingled_docs" -> "count",
    "operators.pairs" -> "count", "operators.pairs_per_candidate" -> "ratio",
    "checkpoint.bytes_written" -> "bytes",
    "checkpoint.files_written" -> "count")

  def m(v: Double, unit: String): Map[String, Any] =
    Map("value" -> v, "unit" -> unit)

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val n = s.size
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }

  /** The highest percentile with at least ten samples beyond it: the
    * sample of rank n-10. With ten samples or fewer, the maximum. */
  def tailPercentile(xs: Seq[Double]): (Double, Double) = {
    val s = xs.sorted
    val k = if (s.size > 10) s.size - 11 else s.size - 1
    (100.0 * (k + 1) / s.size, s(k))
  }

  /** Theil-Sen slope of op time against op index, times the window's op
    * count, as a share of the median: how far the op time moved from the
    * first op of the window to the last. */
  def drift(xs: Seq[Double]): Double =
    if (xs.size < 3) 0.0
    else {
      val slopes = for {
        i <- xs.indices; j <- xs.indices if j > i
      } yield (xs(j) - xs(i)) / (j - i)
      median(slopes) * (xs.size - 1) / median(xs)
    }
}
