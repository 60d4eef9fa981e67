package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

/** One workload of the benchmark: it makes its inputs from the seed and
  * drives the program's public API in a closed loop with one client. */
trait Workload {
  /** Fresh inputs (and, where the workload needs one, a loaded table)
    * for one pass under `dir`. */
  def setup(ctx: Ctx, dir: Path): Unit

  /** Untimed, unchecked work under `dir` before the first pass; none by
    * default, since a batch job starts cold and users pay that. */
  def warmup(dir: Path): Unit = ()

  /** One timed pass over the inputs `setup` made: every call into the
    * program goes through [[Ctx.op]], and every output is checked. */
  def run(ctx: Ctx, dir: Path): Unit

  /** The workload's own figures, from the run's samples. */
  def summary(ctx: Ctx): Map[String, Double]

  /** Input sizes of one pass (rows, bytes, files, partitions) and any
    * result digests the workload records. */
  def inputs: Map[String, Any]

  /** The op kinds whose latencies make up the e2e op metrics. */
  def opKinds: Set[String]
}

/** Run state shared by the loop and the workload: op accounting, latency
  * samples, and per-pass notes for the trace. */
final class Ctx(val tracer: Tracer) {
  var attempted = 0L
  var failed = 0L
  val failures = mutable.ArrayBuffer.empty[String]
  private var lastFailed = false
  /** (op kind or phase, seconds) for every op and phase of the run. */
  val samples = mutable.ArrayBuffer.empty[(String, Double)]
  /** Per-pass values a workload records for the traced passes:
    * name → pass → value. */
  val notes = mutable.Map.empty[String, mutable.Map[Int, Double]]
  var pass = 0

  /** One call into the program: timed, traced, and failed if it throws. */
  def op[T](kind: String)(f: => T): T = {
    attempted += 1
    lastFailed = false
    val t0 = System.nanoTime()
    try {
      val r = tracer.span(kind)(f)
      val s = (System.nanoTime() - t0) / 1e9
      samples += kind -> s
      System.err.println(f"[perfbench] pass $pass%d $kind%s $s%.3f s")
      r
    } catch {
      case NonFatal(e) =>
        fail(s"pass $pass: $kind threw $e")
        throw new OpFailed(e)
    }
  }

  /** An error raised by the benchmark's own code in a pass counts as one
    * more failed operation. */
  def error(e: Throwable): Unit = e match {
    case _: OpFailed => ()
    case _ => attempted += 1; lastFailed = false; fail(s"pass $pass: $e")
  }

  /** A timed span that is not itself an operation (a phase of a pass). */
  def phase[T](name: String)(f: => T): T = {
    val t0 = System.nanoTime()
    val r = tracer.span(name)(f)
    samples += name -> (System.nanoTime() - t0) / 1e9
    r
  }

  /** Output check of the most recent op; a failure counts that op failed
    * once, however many of its checks fail. */
  def expect(ok: Boolean, what: => String): Unit =
    if (!ok) fail(s"pass $pass: check failed: $what")

  private def fail(msg: String): Unit = {
    if (failures.size < 50) failures += msg
    System.err.println(s"[perfbench] $msg")
    if (!lastFailed) { failed += 1; lastFailed = true }
  }

  /** Bytes under the lake table roots at pass end, and raw input bytes,
    * summed over a pass's phases: pass → (lake, input). */
  val bytes = mutable.Map.empty[Int, (Long, Long)]

  def addBytes(lake: Long, input: Long): Unit = {
    val (l, i) = bytes.getOrElse(pass, (0L, 0L))
    bytes(pass) = (l + lake, i + input)
  }

  /** Add `v` to this pass's value of `name` (traced passes only). */
  def note(name: String, v: Double): Unit =
    if (tracer.enabled) {
      val m = notes.getOrElseUpdate(name, mutable.Map.empty)
      m(pass) = m.getOrElse(pass, 0.0) + v
    }

  def samplesOf(kind: String): Seq[Double] =
    samples.collect { case (k, v) if k == kind => v }.toSeq
}

/** An op that threw; the pass stops at it. */
final class OpFailed(cause: Throwable) extends RuntimeException(cause)

object Stats {
  /** Linear-interpolated percentile, p in [0, 100]. */
  def pct(xs: Seq[Double], p: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val r = p / 100.0 * (s.size - 1)
      val lo = math.floor(r).toInt; val hi = math.ceil(r).toInt
      s(lo) + (s(hi) - s(lo)) * (r - lo)
    }

  def median(xs: Seq[Double]): Double = pct(xs, 50)

  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size

  def geomean(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else math.exp(xs.map(x => math.log(math.max(x, 1e-9))).sum / xs.size)

  /** The highest of the usual percentiles that has at least ten samples
    * beyond it: (percentile, value). Falls back to the median. */
  def tail(xs: Seq[Double]): (Double, Double) = {
    val p = Seq(99.9, 99.0, 95.0, 90.0, 75.0)
      .find(p => xs.size * (1 - p / 100) >= 10).getOrElse(50.0)
    (p, pct(xs, p))
  }
}

object Json {
  def apply(v: Any): String = v match {
    case null => "null"
    case s: String => "\"" + s.flatMap {
        case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
        case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
      } + "\""
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => apply(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: collection.Map[_, _] =>
      m.map { case (k, x) => apply(k.toString) + ": " + apply(x) }.mkString("{", ", ", "}")
    case xs: Iterable[_] => xs.map(apply).mkString("[", ", ", "]")
    case o: Option[_] => o.map(apply).getOrElse("null")
    case other => apply(other.toString)
  }
}

/** Entry point: `perfbench.Main --workload <name> --seed <n> --seconds <s>
  * --trace <0|1> --work <dir> --out <result.json>`. */
object Main {
  val Workloads = Seq("lakehouse", "corpus_curate")
  /** Set-ups per pass; setup_s is their median. */
  val SetupReps = 3

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val name = a.getOrElse("workload", "")
    require(Workloads.contains(name), s"unknown workload '$name' (one of ${Workloads.mkString(", ")})")
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val trace = a.getOrElse("trace", "0") == "1"
    val work = Paths.get(a("work")).toAbsolutePath
    val out = Paths.get(a("out")).toAbsolutePath
    IO.deleteTree(work)
    Files.createDirectories(work)

    val cores = Runtime.getRuntime.availableProcessors
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"perfbench-$name")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val tracer = new Tracer(spark)
    val ctx = new Ctx(tracer)
    val wl: Workload = name match {
      case "lakehouse" => new Lakehouse(spark, seed)
      case "corpus_curate" => new CorpusCurate(spark, seed)
    }

    val setupT = mutable.ArrayBuffer.empty[Double]
    val runT = mutable.ArrayBuffer.empty[Double]
    val passSpans = mutable.ArrayBuffer.empty[(Int, Span)]

    // One pass: set up SetupReps times from scratch (each into a fresh
    // dir; the last one is kept), then run once over the last set-up.
    def onePass(i: Int): Unit = {
      ctx.pass = i
      if (trace) tracer.start()
      val dirs = (0 until SetupReps).map(r => work.resolve(s"pass-$i-$r"))
      try {
        for (d <- dirs) {
          val t0 = System.nanoTime()
          tracer.span("setup")(wl.setup(ctx, d))
          setupT += (System.nanoTime() - t0) / 1e9
          if (d != dirs.last) IO.deleteTree(d)
        }
        val t1 = System.nanoTime()
        tracer.span("pass") {
          if (trace) passSpans += i -> tracer.spans.last
          try wl.run(ctx, dirs.last)
          catch { case NonFatal(e) => ctx.error(e) } // the next pass starts afresh
        }
        runT += (System.nanoTime() - t1) / 1e9
      } finally {
        if (trace) tracer.stop()
        spark.catalog.clearCache()
        dirs.foreach(IO.deleteTree)
      }
    }

    val jvmStart = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    try wl.warmup(work.resolve("warmup"))
    finally { spark.catalog.clearCache(); IO.deleteTree(work.resolve("warmup")) }
    val processSetup = (System.currentTimeMillis() - jvmStart) / 1e3
    val t0 = System.nanoTime()
    var i = 1
    def elapsed = (System.nanoTime() - t0) / 1e9
    while (elapsed < seconds || runT.isEmpty) { onePass(i); i += 1 }
    val measured = elapsed

    val lat = ctx.samples.toSeq.filter(x => wl.opKinds.contains(x._1))
    val byKind = lat.groupBy(_._1).map { case (k, v) => k -> Stats.median(v.map(_._2)) }
    val e2e = Map(
      "setup_s" -> (Stats.median(setupT.toSeq), "s"),
      "run_s" -> (Stats.median(runT.toSeq), "s"),
      "op_geomean_s" -> (Stats.geomean(byKind.values.toSeq), "s"))
    val failedRatio = ctx.failed.toDouble / math.max(1L, ctx.attempted)
    val lakeRatio = ctx.bytes.collect { case (p, (l, i)) if p > 0 && i > 0 => l.toDouble / i }
    val wlSummary = wl.summary(ctx) ++ Map("failed_ratio" -> failedRatio) ++
      (if (lakeRatio.isEmpty) Map.empty
       else Map("lake_bytes_per_input_byte" -> Stats.median(lakeRatio.toSeq)))

    val metrics: Map[String, Map[String, Any]] =
      if (!trace) e2e.map { case (k, (v, u)) => k -> Map("value" -> v, "unit" -> u) }
      else {
        val layers = Layers.compute(tracer, ctx, passSpans.toSeq, cores) ++ wlSummary ++
          Map("trace.run_s" -> Stats.median(runT.toSeq))
        Layers.Names.map { case (k, u) => k -> Map("value" -> layers.getOrElse(k, 0.0), "unit" -> u) }.toMap
      }

    val result = Map(
      "correct" -> (ctx.failed == 0 && ctx.attempted > 0),
      "attempted" -> ctx.attempted,
      "failed" -> ctx.failed,
      "metrics" -> metrics)
    val env = Map(
      "workload" -> name, "seed" -> seed, "trace" -> trace,
      "nproc" -> cores, "master" -> s"local[$cores]",
      "driver_heap_mb" -> Runtime.getRuntime.maxMemory / (1 << 20),
      "spark_version" -> spark.version,
      "java_version" -> System.getProperty("java.version"))
    val summary = Map(
      "env" -> env,
      "per_pass" -> wl.inputs,
      "passes" -> Map("timed" -> runT.size, "traced" -> trace,
        "measured_s" -> measured, "process_setup_s" -> processSetup,
        "run_s" -> runT.toSeq, "setup_s" -> setupT.toSeq),
      "latency" -> Map("samples" -> lat.size, "per_kind_median_s" -> byKind),
      "workload_metrics" -> wlSummary,
      "failures" -> ctx.failures.toSeq)
    Files.createDirectories(out.getParent)
    Files.writeString(out, Json(Map("result" -> result, "summary" -> summary)))
    if (trace) {
      val tr = out.resolveSibling(out.getFileName.toString.stripSuffix(".json") + ".trace.json")
      Files.writeString(tr, Layers.traceJson(tracer, passSpans.toSeq.map(_._2)))
    }
    spark.stop()
    IO.deleteTree(work)
  }
}
