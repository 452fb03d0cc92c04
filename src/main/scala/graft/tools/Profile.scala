package graft.tools

import graft.{Bench, SparkEntry}
import org.apache.spark.ListenerBusDrain
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.execution.{FormattedMode, QueryExecution}
import org.apache.spark.sql.util.QueryExecutionListener
import java.util.concurrent.ConcurrentLinkedQueue
import scala.jdk.CollectionConverters._
import scala.util.{Failure, Success, Try}

/** The profiling entry point for registered queries, on the session
  * [[Bench]] times them in (AQE, skew join, UTC, `GraftExtensions`):
  *
  *   `SPARK_GRAFT_CPUS=4 sbt "runMain graft.tools.Profile <sfDir> [--reps N] [--plans] [query...]"`
  *
  * With no query named it runs every registered query. Timing runs each
  * query `--reps` times in a row (default 4) and prints rep 1 on its own —
  * it is cold: JIT, and the session artifacts (IVF/PQ indexes, the annotate
  * cache) a query builds on first use — then the min, median and spread
  * (max − min) of the warm reps, then each rep's wall beside the number of
  * classes Spark's code generator compiled during it: a warm rep that
  * compiles has had its classes evicted from the codegen cache
  * (`spark.sql.codegen.cache.maxEntries`). `--plans` runs each query once
  * and prints the formatted final plan of every SQL execution the run raised, in
  * order; a `localCheckpoint` cut raises its own execution, so the plan
  * behind the cut is there too, not only the post-cut `Scan ExistingRDD`.
  *
  * Every run writes to the `noop` sink: every column of every row is
  * computed (a `count` may prune columns) and the sink costs nothing. An
  * unknown name fails before the session starts; a failing query prints
  * `FAILED`, the rest still run, and the exit status is non-zero. */
object Profile {
  private type Query = (SparkSession, String) => DataFrame

  /** The named queries in the order named, or every query sorted by name
    * when none is; an unknown name fails here, before anything runs. */
  private def resolve(names: Seq[String]): Seq[(String, Query)] = {
    val registry = SparkEntry.queries
    val unknown = names.filterNot(registry.contains)
    if (unknown.nonEmpty)
      throw new IllegalArgumentException(s"unknown queries: ${unknown.mkString(", ")}")
    if (names.isEmpty) registry.toSeq.sortBy(_._1) else names.map(n => n -> registry(n))
  }

  private def run(spark: SparkSession, sfDir: String, q: Query): Unit =
    q(spark, sfDir).write.format("noop").mode("overwrite").save()

  /** One run of a query: its wall seconds, and the classes Spark's code
    * generator compiled meanwhile (the JVM-wide `CodegenMetrics` count). A
    * warm rep that compiles found its classes evicted from the codegen
    * cache, and pays the compile and the JIT warm-up again. */
  final case class Rep(wallS: Double, compiles: Long)

  /** `reps` consecutive runs of each query. Names are checked at the call;
    * each query runs as the iterator reaches it. */
  def time(spark: SparkSession, sfDir: String, names: Seq[String],
           reps: Int): Iterator[(String, Try[Seq[Rep]])] = {
    require(reps >= 1, s"reps must be >= 1, got $reps")
    val compiled = CodegenMetrics.METRIC_COMPILATION_TIME
    resolve(names).iterator.map { case (name, q) =>
      name -> Try((1 to reps).map { _ =>
        val c0 = compiled.getCount
        val t0 = System.nanoTime()
        run(spark, sfDir, q)
        Rep((System.nanoTime() - t0) / 1e9, compiled.getCount - c0)
      })
    }
  }

  /** The formatted final plans of the SQL executions one run of each query
    * raises, in order. Names are checked at the call; each query runs as
    * the iterator reaches it. */
  def plans(spark: SparkSession, sfDir: String,
            names: Seq[String]): Iterator[(String, Try[Seq[String]])] =
    resolve(names).iterator.map { case (name, q) =>
      name -> Try(capture(spark)(run(spark, sfDir, q)))
    }

  private def capture(spark: SparkSession)(action: => Unit): Seq[String] = {
    val seen = new ConcurrentLinkedQueue[QueryExecution]
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
        seen.add(qe); ()
      }
      override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
    }
    // the bus is asynchronous: drained before registering, no earlier
    // execution reaches the listener; drained after the action, every
    // execution the action raised has
    ListenerBusDrain.drain(spark.sparkContext)
    spark.listenerManager.register(listener)
    try { action; ListenerBusDrain.drain(spark.sparkContext) }
    finally spark.listenerManager.unregister(listener)
    seen.asScala.toSeq.map(_.explainString(FormattedMode))
  }

  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  private val usage = "usage: Profile <sfDir> [--reps N] [--plans] [query...]"

  def main(args: Array[String]): Unit = {
    var reps = 4
    var showPlans = false
    val positional = Seq.newBuilder[String]
    def parse(rest: List[String]): Unit = rest match {
      case "--reps" :: n :: tail =>
        reps = n.toIntOption.filter(_ >= 1)
          .getOrElse(throw new IllegalArgumentException(s"--reps needs a positive integer, got $n"))
        parse(tail)
      case "--plans" :: tail => showPlans = true; parse(tail)
      case opt :: _ if opt.startsWith("--") =>
        throw new IllegalArgumentException(s"unknown option $opt; $usage")
      case arg :: tail => positional += arg; parse(tail)
      case Nil =>
    }
    parse(args.toList)
    val (sfDir, queries) = positional.result() match {
      case dir +: names => (dir, names)
      case _ => throw new IllegalArgumentException(usage)
    }
    resolve(queries) // unknown names fail before the session starts
    val spark = Bench.session(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt)
    def report[A](name: String, result: Try[A])(show: A => Unit): Boolean = result match {
      case Success(a) => show(a); false
      case Failure(e) => println(s"[profile] $name FAILED: ${e.getMessage}"); true
    }
    val failed = try {
      if (showPlans) plans(spark, sfDir, queries).map { case (name, r) =>
        report(name, r) { ps =>
          ps.zipWithIndex.foreach { case (p, i) =>
            println(s"\n========== $name [${i + 1}/${ps.size}] ==========\n$p")
          }
        }
      }.count(identity)
      else time(spark, sfDir, queries, reps).map { case (name, r) =>
        report(name, r) { runs =>
          val warm = runs.tail.map(_.wallS)
          val stats =
            if (warm.isEmpty) ""
            else f"  warm min=${warm.min}%.3fs median=${median(warm)}%.3fs " +
              f"spread=${warm.max - warm.min}%.3fs (${warm.size} reps)"
          println(f"[profile] $name%-28s cold=${runs.head.wallS}%.3fs$stats")
          println(s"[profile] $name wall/compiles per rep: " +
            runs.map(x => f"${x.wallS}%.3fs/${x.compiles}").mkString(" "))
        }
      }.count(identity)
    } finally spark.stop()
    if (failed > 0) {
      System.err.println(s"[profile] $failed queries FAILED")
      sys.exit(1)
    }
  }
}
