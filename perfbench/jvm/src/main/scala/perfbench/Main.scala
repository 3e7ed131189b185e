package perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.Try

import org.apache.spark.perfbench.Bus
import org.apache.spark.sql.SparkSession

/** The benchmark's JVM side. `perfbench/run.py` builds it, generates the
  * inputs and launches it; this program sets up the session, runs the
  * workload's passes and writes `result.json` (and, when traced,
  * `trace.jsonl`) into `--out`.
  *
  * Modes:
  *  - `setup`: measure set-up time only and exit;
  *  - `run`: a first pass, then `--passes` timed passes (stopping early
  *    only past `--max-seconds`). With `--trace 1` twice as many timed
  *    passes alternate untraced and traced, so the tracing overhead is
  *    measured within the run.
  *
  * Each query's timed action records its wall time and the CPU time of
  * the whole JVM over it. */
object Main {
  final case class QueryRec(name: String, seconds: Double, cpuSeconds: Double,
                            error: Option[String], checked: Option[Checked])
  final case class PassRec(index: Int, traced: Boolean, queries: Seq[QueryRec],
                           layers: Map[String, Double]) {
    def seconds: Double = queries.map(_.seconds).sum
    def cpuSeconds: Double = queries.map(_.cpuSeconds).sum
  }

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
    }.toMap
    def opt(k: String): String = opts.getOrElse(k,
      throw new IllegalArgumentException(s"missing --$k"))
    val nproc = opt("nproc").toInt
    val out = Paths.get(opt("out"))
    Files.createDirectories(out)
    val spark = SparkSession.builder()
      .master(s"local[$nproc]")
      .config("spark.sql.shuffle.partitions", nproc.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", opt("local-dir"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark.sql("SELECT 1").collect()
    val setupS = (System.currentTimeMillis() -
      ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3
    val result = opt("mode") match {
      case "setup" => Map("setup_s" -> setupS)
      case "run" => Map("setup_s" -> setupS) ++ run(spark, opts, nproc, out)
    }
    Files.writeString(out.resolve("result.json"), Json(result))
    spark.stop()
  }

  def run(spark: SparkSession, opts: Map[String, String], nproc: Int,
          out: Path): Map[String, Any] = {
    val traced = opts("trace") == "1"
    val tracer = if (traced) Some(new Tracer) else None
    val ctx = new Ctx(spark, Paths.get(opts("inputs")), out, tracer)
    val inject = opts.get("inject").toSeq.flatMap(_.split(",")).filter(_.nonEmpty)
    val queries = Workloads.build(opts("workload"), ctx, inject)
    val timedPasses = opts("passes").toInt * (if (traced) 2 else 1)
    val maxSeconds = opts("max-seconds").toDouble

    // the same number of passes in every run, so every run is measured
    // over the same stretch of JIT warm-up. Traced runs order their timed
    // passes untraced, traced, traced, untraced, ... so neither kind gets
    // the later, better-warmed passes.
    val passes = mutable.ArrayBuffer[PassRec]()
    passes += runPass(ctx, queries, 0, traced)
    val t0 = System.nanoTime()
    while (passes.size <= timedPasses &&
      (System.nanoTime() - t0) / 1e9 < maxSeconds)
      passes += runPass(ctx, queries, passes.size,
        traced && passes.size % 4 >= 2)

    val oracle = queries.flatMap(q => q.oracleSql.map(q.name -> _)).toMap
    tracer.foreach(t => writeSpans(t, out.resolve("trace.jsonl")))
    Map(
      "workload" -> opts("workload"),
      "nproc" -> nproc,
      "spark_version" -> spark.version,
      "java_options" -> ManagementFactory.getRuntimeMXBean.getInputArguments
        .asScala.toSeq,
      "peak_rss_mb" -> peakRssMb(),
      "oracle_sql" -> oracle,
      "passes" -> passes.map(p => Map(
        "index" -> p.index, "traced" -> p.traced, "seconds" -> p.seconds,
        "cpu_seconds" -> p.cpuSeconds,
        "layers" -> p.layers,
        "queries" -> p.queries.map(q => Map(
          "name" -> q.name, "seconds" -> q.seconds,
          "cpu_seconds" -> q.cpuSeconds,
          "error" -> q.error.orNull,
          "rows" -> q.checked.map(_.rows).getOrElse(-1L),
          "digest" -> q.checked.map(_.digest).orNull,
          "problem" -> q.checked.flatMap(_.problem).orNull))
      )).toSeq)
  }

  /** One pass over the workload's queries. Only the `timed` action of each
    * query is timed; output checks run between queries, untimed. */
  def runPass(ctx: Ctx, queries: Seq[Query], index: Int,
              traced: Boolean): PassRec = {
    val sc = ctx.spark.sparkContext
    val tracer = ctx.tracer.filter(_ => traced)
    val jvm0 = Tracer.jvmSnapshot()
    val (fetch0, llm0) = (ctx.fetches.value, ctx.llmCalls.value)
    tracer.foreach { t =>
      sc.addSparkListener(t.sparkListener)
      ctx.spark.listenerManager.register(t.queryListener)
      t.takeCounters()
      t.counting = true
      t.setSampling(true)
    }
    val passSpan = tracer.map(_.begin("pass", s"pass $index", 0L)).getOrElse(0L)
    val actions = mutable.ArrayBuffer[(Double, Double)]()
    val recs = queries.map { q =>
      val querySpan = tracer.map(_.begin("query", q.name, passSpan)).getOrElse(0L)
      val actionSpan = tracer.map(_.begin("action", q.name, querySpan))
        .getOrElse(0L)
      ctx.querySpan = actionSpan
      sc.setLocalProperty(Tracer.ActionProperty, actionSpan.toString)
      val startMs = tracer.map(_.nowMs).getOrElse(0.0)
      val cpu0 = processCpuNs()
      val t0 = System.nanoTime()
      val res = Try(q.timed())
      val secs = (System.nanoTime() - t0) / 1e9
      val cpuSecs = (processCpuNs() - cpu0) / 1e9
      sc.setLocalProperty(Tracer.ActionProperty, null)
      tracer.foreach { t =>
        actions += ((startMs, t.nowMs))
        t.end(actionSpan)
        Bus.drain(sc)
        t.counting = false
      }
      val rec = res.fold(
        e => QueryRec(q.name, secs, cpuSecs, Some(describe(e)), None),
        v => Try(q.check(v, index)).fold(
          e => QueryRec(q.name, secs, cpuSecs,
            Some("check failed: " + describe(e)), None),
          c => QueryRec(q.name, secs, cpuSecs, None, Some(c))))
      tracer.foreach { t =>
        Bus.drain(sc)
        t.counting = true
        t.end(querySpan, Map("seconds" -> secs))
      }
      rec
    }
    val layers = tracer.map { t =>
      Bus.drain(sc)
      t.counting = false
      t.setSampling(false)
      t.end(passSpan)
      sc.removeSparkListener(t.sparkListener)
      ctx.spark.listenerManager.unregister(t.queryListener)
      val (c, jobs) = t.takeCounters()
      val jvm1 = Tracer.jvmSnapshot()
      val passSeconds = recs.map(_.seconds).sum
      val outRows = recs.flatMap(_.checked).map(_.rows.max(0L)).sum.toDouble
      val (liveMb, liveRdds) = Tracer.storageAfterPass(sc)
      val idle = actions.map { case (a, b) => Tracer.uncovered(a, b, jobs) }.sum
      c ++ Map(
        "jvm.gc_s" -> (jvm1.gcS - jvm0.gcS),
        "jvm.gc_count" -> (jvm1.gcCount - jvm0.gcCount),
        "jvm.jit_s" -> (jvm1.jitS - jvm0.jitS),
        "jvm.classes_loaded" -> (jvm1.classes - jvm0.classes),
        "sql.codegen_classes" -> (jvm1.codegenCount - jvm0.codegenCount),
        "sql.codegen_compile_s" -> (jvm1.codegenMs - jvm0.codegenMs) / 1e3,
        "driver.idle_s" -> idle,
        "sched.core_busy_ratio" ->
          c.getOrElse("sched.task_s", 0.0) / (sc.defaultParallelism * passSeconds),
        "storage.live_mb_after_pass" -> liveMb,
        "storage.live_rdds_after_pass" -> liveRdds,
        "io.rows_read_per_output_row" ->
          c.getOrElse("io.input_records", 0.0) / math.max(outRows, 1.0),
        "enrich.fetches_per_journal" ->
          (ctx.fetches.value - fetch0).toDouble / math.max(ctx.journals, 1L),
        "llm.calls_per_record" ->
          (ctx.llmCalls.value - llm0).toDouble / math.max(ctx.records, 1L))
    }.getOrElse(Map.empty)
    PassRec(index, traced, recs, layers)
  }

  private def describe(e: Throwable): String = {
    val root = Iterator.iterate(e)(_.getCause).takeWhile(_ != null).toSeq.last
    s"${root.getClass.getSimpleName}: ${String.valueOf(root.getMessage).take(300)}"
  }

  /** CPU time of every thread of this JVM so far, in nanoseconds. The
    * kernel leaves out time the host gave to other guests. */
  def processCpuNs(): Long = ManagementFactory.getOperatingSystemMXBean match {
    case os: com.sun.management.OperatingSystemMXBean => os.getProcessCpuTime
    case _ => 0L
  }

  /** Peak resident set of this JVM (VmHWM), in MiB. */
  def peakRssMb(): Double = Try {
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024.0)
      .getOrElse(0.0)
  }.getOrElse(0.0)

  def writeSpans(t: Tracer, path: Path): Unit = {
    val lines = t.allSpans.sortBy(_.startMs).map { s =>
      Json(Map("id" -> s.id, "parent" -> s.parent, "kind" -> s.kind,
        "name" -> s.name, "start_ms" -> s.startMs, "end_ms" -> s.endMs,
        "attrs" -> s.attrs))
    }
    Files.write(path, lines.asJava, StandardCharsets.UTF_8)
  }
}

/** Minimal JSON rendering for the result and trace files. */
object Json {
  def apply(v: Any): String = v match {
    case null => "null"
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double =>
      if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ": " + apply(x) }
        .mkString("{", ", ", "}")
    case xs: Iterable[_] => xs.map(apply).mkString("[", ", ", "]")
    case other => quote(other.toString)
  }
  private def quote(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
