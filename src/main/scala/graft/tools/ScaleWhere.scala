package graft.tools

import org.apache.spark.sql.SparkSession

/** Localizes WHERE the 8v32 CPU-basis inflation of the scaling job lives.
  * The pure-JVM kernel (gen+annotate, [[AnnotateKernel]]) scales ~0.87
  * CPU-basis 8→32 on this host; the full Spark job (gen → annotate →
  * extractMentions → count) measured ~0.67. Variants, each timed at both
  * levels in interleaved rounds with task-CPU from Spark metrics:
  *   gen   — generation only (mapPartitions over range, no annotate)
  *   ann   — gen + annotate on the pure OBJECT path (rdd.mapPartitions,
  *           no Row encoding) — Spark-scheduled twin of the kernel
  *   enc   — gen + annotate through the Dataset ENCODER boundary
  *           (mapPartitions → InternalRow), forced without decode
  *   full  — the bench job (adds the extractMentions scan, occ included)
  */
object ScaleWhere {
  def main(args: Array[String]): Unit = {
    val nDocs = sys.env.getOrElse("SCALEWHERE_DOCS", "40000").toInt
    val rounds = sys.env.getOrElse("SCALEWHERE_ROUNDS", "3").toInt
    val parts = 256
    def session(cpus: Int): SparkSession = SparkSession.builder()
      .master(s"local[$cpus]").appName("scalewhere")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.ui.enabled", "false")
      .getOrCreate()

    final case class V(name: String, run: SparkSession => Unit)
    val variants = Seq(
      V("gen", s => {
        graft.fixtures.Fixtures.inputDocsDs(s, nDocs, parts).rdd
          .mapPartitions(it => Iterator.single(it.size)).count(); ()
      }),
      V("ann", s => {
        val models = s.sparkContext.broadcast(graft.SparkEntry.fixtureModels)
        graft.fixtures.Fixtures.inputDocsDs(s, nDocs, parts).rdd.mapPartitions { it =>
          val m = models.value
          val lex = m.lexPredicate
          Iterator.single(it.count(d => graft.Pipeline.annotateDoc(m, lex, d).sents.nonEmpty))
        }.count(); ()
      }),
      V("enc", s => {
        val models = s.sparkContext.broadcast(graft.SparkEntry.fixtureModels)
        val docs = graft.fixtures.Fixtures.inputDocsDs(s, nDocs, parts)
        graft.Pipeline.annotate(s, docs, models).toDF().count(); ()
      }),
      V("full", s => {
        val models = s.sparkContext.broadcast(graft.SparkEntry.fixtureModels)
        val docs = graft.fixtures.Fixtures.inputDocsDs(s, nDocs, parts)
        graft.Pipeline.extractMentions(
          graft.Pipeline.annotate(s, docs, models), "morph").count(); ()
      }))

    // warmup big session
    val w = session(32)
    variants.foreach(v => v.run(w))
    w.stop()

    def timed(cpus: Int, v: V): (Double, Double) = {
      val s = session(cpus)
      val l = new graft.Bench.CpuTimeListener
      s.sparkContext.addSparkListener(l)
      v.run(s) // warm the session
      Thread.sleep(200)
      val c0 = l.cpuNs.get
      val t0 = System.nanoTime()
      v.run(s)
      val wall = (System.nanoTime() - t0) / 1e9
      Thread.sleep(300)
      val cpu = (l.cpuNs.get - c0) / 1e9
      s.stop()
      (wall, cpu)
    }

    for (r <- 1 to rounds; v <- variants) {
      val (w8, c8) = timed(8, v)
      val (w32, c32) = timed(32, v)
      println(f"[scalewhere] round=$r ${v.name}%4s  8: wall=$w8%6.2f cpu=$c8%6.2f   32: wall=$w32%6.2f cpu=$c32%6.2f   eff_wall=${w8 / (4 * w32)}%5.3f  eff_cpu=${c8 / c32}%5.3f")
    }
  }
}
