package perfbench

import org.apache.spark.sql.SparkSession

import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable

/** Metric names and units. run.py checks the printed line against
  * BENCHMARK.json; METRICS.md says what each one means per workload. */
object Metrics {
  val endToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "throughput_per_s" -> "1/s", "latency_p50_ms" -> "ms",
    "latency_tail_ms" -> "ms", "slowest_kind_p50_ms" -> "ms",
    "cpu_ms_per_op" -> "ms")

  val templates: Seq[String] = Seq("describe_point", "values_lookup", "optional",
    "two_hop", "agg_having", "count_meta", "path_plus")
  val nerCommands: Seq[String] = Seq("morph_hybrid", "multi_align_hybrid")
  val stages: Seq[String] = Seq("docs_labeled", "mentions", "linked", "entities", "triples")

  val perLayer: Seq[(String, String)] =
    Seq("kernel.us_per_doc" -> "us") ++
      stages.map(s => s"stage.${s}_s" -> "s") ++
      Seq("io.write_ms" -> "ms", "io.files_written" -> "count", "io.bytes_per_triple" -> "B",
        "spark.task_cpu_s" -> "s", "spark.cpu_util" -> "ratio", "spark.jobs" -> "count",
        "spark.tasks" -> "count", "spark.shuffle_bytes" -> "B", "spark.spill_bytes" -> "B",
        "spark.tasks_failed" -> "count", "jvm.gc_s" -> "s") ++
      templates.map(t => s"sparql.compile_ms.$t" -> "ms") ++
      templates.map(t => s"sparql.exec_ms.$t" -> "ms") ++
      Seq("scan.files_per_query" -> "count", "scan.bytes_per_query" -> "B",
        "scan.rows_per_result_row" -> "ratio",
        "update.solo_ms.insert_data" -> "ms", "update.solo_ms.delete_where" -> "ms",
        "update.touched_leaves_per_op" -> "count", "update.bytes_rewritten_per_delta_byte" -> "ratio",
        "kghttp.overhead_ms" -> "ms", "kghttp.stale_reads" -> "count") ++
      nerCommands.map(c => s"serve.handle_us.$c" -> "us") ++
      Seq("httpserve.overhead_ms" -> "ms", "httpserve.stalled_share" -> "ratio", "gen.lateness_ms_p99" -> "ms", "gen.backlog_max" -> "count",
        "trace.throughput_per_s" -> "1/s", "trace.latency_p50_ms" -> "ms")
}

/** What a workload run produced: operation counts, the checks' verdict,
  * end-to-end figures and (traced run) per-layer figures. */
final class Outcome {
  var attempted = 0L
  var failed = 0L
  var correct = true
  val e2e = mutable.LinkedHashMap[String, Double]()
  val layer = mutable.LinkedHashMap[String, Double]()
  val info = mutable.LinkedHashMap[String, Any]()
  private val problems = mutable.ArrayBuffer[String]()
  private val phases = mutable.LinkedHashMap[String, Double]()

  /** Stamp the JVM uptime (s) at the end of a run phase, for the record. */
  def phase(name: String): Unit =
    phases(name) = java.lang.management.ManagementFactory.getRuntimeMXBean.getUptime / 1e3
  def phaseList: Map[String, Double] = phases.toMap

  /** One answered operation; a wrong answer counts in `failed` and makes
    * the run incorrect. */
  def op(ok: Boolean, what: => String): Unit = synchronized {
    attempted += 1
    if (!ok) { failed += 1; correct = false; note(what) }
  }

  /** One operation that got no answer (an error status or no response):
    * it counts in `failed`, but no wrong output was returned. */
  def failedOp(what: String): Unit = synchronized {
    attempted += 1
    failed += 1
    note(what)
  }

  /** A whole-run check (final state, hashes); failing it makes the run
    * incorrect. */
  def check(ok: Boolean, what: => String): Unit = synchronized {
    if (!ok) { correct = false; note(what) }
  }

  private def note(what: String): Unit = {
    if (problems.size < 20) problems += what
    System.err.println(s"[perfbench] FAILED: $what")
  }
  def problemList: Seq[String] = synchronized(problems.toSeq)
}

final case class Ctx(workload: String, seed: Long, seconds: Double, trace: Boolean,
                     work: Path, state: Path, sidecar: Path) {
  val nproc: Int = Runtime.getRuntime.availableProcessors()
  val tracer = new Tracer(trace)

  lazy val spark: SparkSession = {
    // the session the program's own Verify/Bench mains build, at local[nproc]
    val s = SparkSession.builder()
      .master(s"local[$nproc]")
      .appName(s"perfbench-$workload")
      .config("spark.sql.shuffle.partitions", nproc.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .withExtensions(new graft.GraftExtensions)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** Spark counters, registered only in the traced run. */
  lazy val counters: Option[SparkCounters] = if (trace) Some(new SparkCounters(spark)) else None
}

object Main {
  private def usage(msg: String): Nothing = {
    System.err.println(s"perfbench: $msg\nusage: perfbench.Main --workload W --seed N " +
      "--seconds S --trace 0|1 --work DIR --state DIR --sidecar FILE")
    sys.exit(2)
  }

  def main(argv: Array[String]): Unit = {
    val kv = argv.grouped(2).map {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
      case other => usage(s"bad argument ${other.mkString(" ")}")
    }.toMap
    def arg(k: String) = kv.getOrElse(k, usage(s"missing --$k"))
    val ctx = Ctx(arg("workload"), arg("seed").toLong, arg("seconds").toDouble,
      arg("trace") == "1", Paths.get(arg("work")), Paths.get(arg("state")), Paths.get(arg("sidecar")))
    Files.createDirectories(ctx.work)
    Files.createDirectories(ctx.state)

    val workload: Ctx => Outcome = ctx.workload match {
      case "build"     => Workloads.build
      case "kg_read"   => Workloads.kgRead
      case "kg_mixed"  => Workloads.kgMixed
      case "ner_serve" => Workloads.nerServe
      case other       => usage(s"unknown workload '$other'")
    }
    val cpu0 = Host.processCpuNs()
    val out =
      try workload(ctx)
      catch {
        case e: Throwable =>
          // no result line: the run failed, and Spark's threads must not
          // keep the JVM alive
          e.printStackTrace()
          sys.exit(1)
      }
    out.phase("done")
    out.info("process_cpu_s") = (Host.processCpuNs() - cpu0) / 1e9
    out.info("peak_rss_mb") = Host.peakRssMb()

    val (names, values) =
      if (ctx.trace) (Metrics.perLayer, Metrics.perLayer.map { case (n, _) => n -> out.layer.getOrElse(n, 0.0) }.toMap)
      else (Metrics.endToEnd, out.e2e.toMap)
    val missing = names.map(_._1).filterNot(values.contains)
    if (missing.nonEmpty) {
      System.err.println(s"perfbench: workload ${ctx.workload} did not measure ${missing.mkString(", ")}")
      sys.exit(3)
    }
    val run = Map[String, Any](
      "workload" -> ctx.workload, "seed" -> ctx.seed, "seconds" -> ctx.seconds,
      "trace" -> ctx.trace, "nproc" -> ctx.nproc,
      "problems" -> out.problemList, "phases" -> out.phaseList,
      "e2e" -> out.e2e.toMap, "layer" -> out.layer.toMap) ++ out.info
    if (ctx.trace) ctx.tracer.write(ctx.sidecar, run)
    else {
      Files.createDirectories(ctx.sidecar.getParent)
      Files.writeString(ctx.sidecar, Json.obj(run) + "\n")
    }
    val metrics = names.map { case (n, unit) => n -> Map("value" -> values(n), "unit" -> unit) }.toMap
    println(Json.obj(Map("correct" -> out.correct, "attempted" -> out.attempted,
      "failed" -> out.failed, "metrics" -> metrics)))
    System.out.flush()
    // stop Spark and every listener thread before the JVM exits
    if (ctx.workload != "ner_serve") ctx.spark.stop()
    System.err.println(f"[perfbench] stopped at ${java.lang.management.ManagementFactory.getRuntimeMXBean.getUptime / 1e3}%.1fs uptime")
    sys.exit(0)
  }
}

/** Process facts read from the JVM and /proc. */
object Host {
  def processCpuNs(): Long =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean match {
      case os: com.sun.management.OperatingSystemMXBean => os.getProcessCpuTime
      case _ => 0L
    }

  def gcMs(): Long = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(b => math.max(b.getCollectionTime, 0L)).sum
  }

  /** Heap still reachable after a full collection, in MB: what the
    * workload's state (server, frames, caches, models) retains. */
  def liveHeapMb(): Double = {
    System.gc()
    java.lang.management.ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  /** Peak resident set (VmHWM) of this JVM, in MB. */
  def peakRssMb(): Double = {
    val line = Files.readAllLines(Paths.get("/proc/self/status")).toArray.map(_.toString)
      .find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB")
    line.split("\\s+")(1).toDouble / 1024.0
  }
}
