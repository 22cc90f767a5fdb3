package graft.perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/**
 * Benchmark entry point: one workload, one seed, one process.
 *
 * {{{
 * graft.perfbench.Main --workload build|search|ingest|analyze --seed N
 *   --seconds S --trace 0|1 --work DIR --record FILE [--cores N]
 * }}}
 *
 * Set-up (session, inputs, prebuilt indexes, warm-up ops) runs first and is
 * timed as `setup_s`; then a single closed-loop client runs the workload's
 * ops back to back for `--seconds`, checking every op's output. The result
 * record (every metric, the run's settings, sample counts) is written as
 * JSON to `--record`; with `--trace 1` it carries the per-layer metrics and
 * the spans are written beside it.
 */
object Main {

  final case class Opts(workload: String, seed: Long, seconds: Double, trace: Boolean,
                        work: String, record: String, cores: Int)

  private def parse(args: Array[String]): Opts = {
    require(args.length % 2 == 0, s"expected --key value pairs, got ${args.mkString(" ")}")
    val m = args.grouped(2).map { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Opts(m("workload"), m("seed").toLong, m("seconds").toDouble, m.getOrElse("trace", "0") == "1",
      m("work"), m("record"),
      m.get("cores").map(_.toInt).getOrElse(Runtime.getRuntime.availableProcessors()))
  }

  def main(args: Array[String]): Unit = {
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val o = parse(args)
    Files.createDirectories(Paths.get(o.work))
    val master = s"local[${o.cores}]"
    val spark = SparkSession.builder()
      .master(master)
      .appName(s"perfbench-${o.workload}")
      .config("spark.sql.shuffle.partitions", o.cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"${o.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${o.work}/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val ok =
      try run(spark, o, jvmStartMs, master)
      finally spark.stop()
    sys.exit(if (ok) 0 else 1)
  }

  private def run(spark: SparkSession, o: Opts, jvmStartMs: Long, master: String): Boolean = {
    val sessionS = (System.currentTimeMillis() - jvmStartMs) / 1e3
    val tracer = new Tracer(spark.sparkContext, o.trace)
    val ctx = Ctx(spark, tracer, o.seed, s"${o.work}/data")
    val wl: Workload = o.workload match {
      case "build"   => new BuildWorkload(ctx)
      case "search"  => new SearchWorkload(ctx)
      case "ingest"  => new IngestWorkload(ctx)
      case "analyze" => new AnalyzeWorkload(ctx)
      case other     => throw new IllegalArgumentException(s"unknown workload $other")
    }
    var attempted = 0L
    val failures = mutable.ArrayBuffer.empty[String]
    def attempt[T](what: String)(body: => T): Option[T] = {
      attempted += 1
      try Some(body)
      catch {
        case e: Throwable =>
          failures += s"$what: $e"
          System.err.println(s"[perfbench] FAILED $what")
          e.printStackTrace()
          None
      }
    }

    // -- set-up: inputs, prebuilt indexes and untimed warm-up ops, run once:
    //    its JIT-cold first pass is most of it, and is what a fresh process pays --
    val p0 = System.nanoTime()
    wl.prepare()
    val prepS = (System.nanoTime() - p0) / 1e9
    // warm-up calls are JIT-cold: kept out of the per-layer medians
    tracer.pause()
    (0 until wl.warmupSteps).foreach(i => attempt(s"warm-up step $i")(wl.step(i)))
    val setupS = (System.currentTimeMillis() - jvmStartMs) / 1e3

    // -- timed phase: closed loop, one client. A traced run alternates whole
    //    rounds with the listener attached and detached --
    val samples = mutable.ArrayBuffer.empty[(Sample, Boolean)]
    val start = System.nanoTime()
    var n = 0
    while ((System.nanoTime() - start) / 1e9 < o.seconds || n < wl.stepsPerRound) {
      val traced = o.trace && (n / wl.stepsPerRound) % 2 == 0
      if (traced) tracer.resume() else tracer.pause()
      val i = wl.warmupSteps + n
      attempt(s"step $i")(wl.step(i)).foreach(_.foreach(s => samples += ((s, traced))))
      n += 1
    }
    val timedS = (System.nanoTime() - start) / 1e9
    tracer.resume()
    val heapMb = retainedHeapMb()
    attempt("final ranking check")(wl.finalCheck())

    // -- metrics --
    val untraced = samples.filterNot(_._2).map(_._1).toSeq
    val measured = if (o.trace) samples.map(_._1).toSeq else untraced
    def secs(kind: String, from: Seq[Sample] = measured) = from.filter(_.kind == kind).map(_.seconds)
    def p50(kind: String) = Stats.median(secs(kind))
    def tailPct(kind: String) = Stats.tailPercentile(secs(kind).size)
    def tail(kind: String) = Stats.percentile(secs(kind), tailPct(kind))
    val (k1, k2) = wl.kinds
    val failed = failures.size.toLong
    val e2e = Seq(
      ("setup_s", setupS, "s"),
      ("index_s", wl.indexS(p50), "s"),
      ("op_p50_s", p50(k1), "s"), ("op_tail_s", tail(k1), "s"),
      ("op2_p50_s", p50(k2), "s"), ("op2_tail_s", tail(k2), "s"),
      ("index_bytes_per_text_byte", wl.indexBytesPerTextByte, "ratio"),
      ("retained_heap_mb", heapMb, "MB"))
    val named = Seq(("setup_s", setupS, "s"), ("index_s", wl.indexS(p50), "s")) ++
      wl.namedMetrics(p50, tail) ++ Seq(
      ("fail_ratio", failed.toDouble / attempted, "ratio"),
      ("retained_heap_mb", heapMb, "MB"))

    val layers: Seq[(String, Double, String)] =
      if (!o.trace) Nil
      else {
        val spans = tracer.collected()
        writeSpans(o.record.stripSuffix(".json") + ".spans.jsonl", spans)
        val units = Map("s" -> "s", "self_s" -> "s", "cpu_s" -> "s", "driver_s" -> "s", "gc_s" -> "s",
          "jobs" -> "count", "tasks" -> "count", "calls" -> "count",
          "read_mb" -> "MB", "shuffle_mb" -> "MB", "write_mb" -> "MB")
        val perSpan = Tracer.layerStats(spans).toSeq.sortBy(_._1).flatMap { case (span, stats) =>
          stats.toSeq.sortBy(_._1).map { case (stat, v) => (s"$span.$stat", v, units(stat)) }
        }
        val traced = samples.filter(_._2).map(_._1).toSeq
        val overhead = Stats.median(secs(k1, traced)) - Stats.median(secs(k1, untraced))
        val counterUnits = Map("analysis.tokens_per_s" -> "1/s", "index.decode_postings_per_s" -> "1/s",
          "index.bytes_per_posting" -> "B", "query.blocks_read_ratio" -> "ratio")
        val counters = (wl.counters() + ("analysis.tokens_per_s" ->
          Micro.tokensPerSecond(Inputs.textSample(o.seed, 4000)))).toSeq.sorted
          .map { case (k, v) => (k, v, counterUnits.getOrElse(k, "count")) }
        perSpan ++ counters ++ Seq(
          ("trace.overhead_s", overhead, "s"),
          ("trace.overhead_ratio", overhead / Stats.median(secs(k1, untraced)), "ratio"))
      }

    val sampleCounts = Seq(k1, k2).map(k => k -> secs(k).size)
    val record = Json.obj(
      "workload" -> o.workload, "seed" -> o.seed, "trace" -> o.trace,
      "seconds" -> o.seconds, "timed_s" -> timedS,
      "nproc" -> o.cores, "master" -> master,
      "driver_heap_mb" -> Runtime.getRuntime.maxMemory / (1024 * 1024),
      "op_kinds" -> Json.obj("op" -> k1, "op2" -> k2),
      "samples" -> Json.obj(sampleCounts.map { case (k, c) => k -> (c: Any) }: _*),
      "samples_s" -> Json.obj(Seq(k1, k2).map(k => k -> (secs(k): Any)): _*),
      "tail_percentile" -> Json.obj(Seq(k1, k2).map(k => k -> (tailPct(k): Any)): _*),
      "setup" -> Json.obj("session_s" -> sessionS, "prepare_s" -> prepS,
        "warmup_s" -> (setupS - sessionS - prepS)),
      "correct" -> failures.isEmpty, "attempted" -> attempted, "failed" -> failed,
      "failures" -> failures.toSeq,
      "metrics" -> metricsObj(e2e), "named_metrics" -> metricsObj(named),
      "layers" -> metricsObj(layers))
    Files.write(Paths.get(o.record), Json.render(record).getBytes("UTF-8"))
    failures.isEmpty
  }

  private def metricsObj(ms: Seq[(String, Double, String)]): Json.Obj =
    Json.obj(ms.map { case (name, v, unit) => name -> (Json.obj("value" -> v, "unit" -> unit): Any) }: _*)

  /** Heap in use after a full collection, in MB. */
  private def retainedHeapMb(): Double = {
    val mx = ManagementFactory.getMemoryMXBean
    System.gc(); System.gc()
    mx.getHeapMemoryUsage.getUsed / (1024d * 1024d)
  }

  private def writeSpans(path: String, spans: Seq[(Span, SpanTasks)]): Unit = {
    val lines = spans.map { case (s, t) =>
      Json.render(Json.obj("id" -> s.id, "name" -> s.name, "trace_id" -> s.traceId,
        "parent" -> s.parent, "start_ms" -> s.startMs, "end_ms" -> s.endMs,
        "dur_s" -> s.durNs / 1e9, "jobs" -> t.jobs, "tasks" -> t.tasks,
        "cpu_s" -> t.cpuNs / 1e9, "idle_s" -> Tracer.idleMs(s, t.intervals.toSeq) / 1e3))
    }
    Files.write(Paths.get(path), (lines.mkString("\n") + "\n").getBytes("UTF-8"))
  }
}

/** Minimal JSON writer for the result record. */
object Json {
  final case class Obj(fields: Seq[(String, Any)])

  def obj(fields: (String, Any)*): Obj = Obj(fields)

  def render(v: Any): String = v match {
    case null => "null"
    case Obj(fs) => fs.map { case (k, x) => s"${str(k)}: ${render(x)}" }.mkString("{", ", ", "}")
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case xs: Seq[_] => xs.map(render).mkString("[", ", ", "]")
    case other => str(other.toString)
  }

  private def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
}
