package perfbench

import graft.Pipeline
import graft.fixtures.Fixtures
import graft.io.TableFormat
import graft.kg.{Pattern, Sparql}
import graft.schema.InputDoc
import graft.serve.{HttpServe, KgHttp, Serve}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

import java.nio.file.{Files, Path}
import scala.jdk.CollectionConverters._

/** The workloads. Each drives the program through its public entry
  * points only, measures for `ctx.seconds`, and checks every answer. */
object Workloads {

  // ---------- sizes (stated in METRICS.md) ----------
  val BuildDocs = 2000      // docs per build rep
  val KgDocs = 2000         // docs behind the KG store
  val KgReaders = 2
  val NerPoolDocs = 64
  val NerConns = 4
  val NerRates: Seq[Double] = Seq(50, 100, 200, 400, 800, 1600, 3200)
  val NerLimitMs = 100.0

  /** The seed picks a contiguous doc-id range; `Fixtures.doc(i)` is a pure
    * function of i, so the same seed gives the same corpus. */
  def docIds(seed: Long, n: Int, salt: Int): Range = {
    val base = (java.lang.Math.floorMod(seed * 7919L + salt * 104729L, 40000L) * 20).toInt
    base until base + n
  }

  def inputDocs(ids: Range): Seq[InputDoc] =
    ids.map { i => val d = Fixtures.doc(i); InputDoc(d.docId, d.spans.toArray) }

  private def ms(ns: Long): Double = ns / 1e6

  /** `f` over `xs` on `threads` threads, results in input order. */
  private def parallel[A, B](threads: Int, xs: Seq[A])(f: A => B): Seq[B] = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(threads)
    try xs.map(x => pool.submit(() => f(x))).map(_.get())
    finally pool.shutdown()
  }

  private def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val w = Files.walk(p)
      try w.iterator().asScala.toSeq.reverse.foreach(Files.deleteIfExists) finally w.close()
    }

  /** Median, tail percentile (`tail` rank, fixed per workload) and the
    * slowest kind's median. The record notes whether the tail had ten
    * samples beyond it. */
  private def latencyFigures(out: Outcome, byKind: Map[String, Seq[Double]], tail: Double): Unit = {
    val all = byKind.values.flatten.toSeq
    out.e2e("latency_p50_ms") = Stats.median(all)
    out.e2e("latency_tail_ms") = Stats.percentile(all, tail)
    out.e2e("slowest_kind_p50_ms") = byKind.values.map(Stats.median).max
    out.info("latency_tail_rank") = tail
    out.info("latency_samples") = all.size
    out.info("latency_tail_supported") = Stats.supported(all.size, tail)
    out.info("kind_p50_ms") = byKind.map { case (k, v) => k -> Stats.median(v) }
    out.info("kind_samples") = byKind.map { case (k, v) => k -> v.size }
  }

  /** Traced-run Spark and GC figures over one measured window. */
  private def sparkLayer(ctx: Ctx, out: Outcome, windowS: Double, gcMs: Long): Unit = {
    out.layer("jvm.gc_s") = gcMs / 1e3
    ctx.counters.foreach { c =>
      out.layer("spark.task_cpu_s") = c.taskCpuNs.sum / 1e9
      out.layer("spark.cpu_util") = c.taskCpuNs.sum / 1e9 / (windowS * ctx.nproc)
      out.layer("spark.jobs") = c.jobs.sum.toDouble
      out.layer("spark.tasks") = c.tasks.sum.toDouble
      out.layer("spark.shuffle_bytes") = c.shuffleBytes.sum.toDouble
      out.layer("spark.spill_bytes") = c.spillBytes.sum.toDouble
      out.layer("spark.tasks_failed") = c.tasksFailed.sum.toDouble
      out.info("spark_counters") = Map("queries" -> c.queries.sum, "query_ms" -> c.queryNs.sum / 1e6,
        "write_queries" -> c.writeQueries.sum, "write_ms" -> c.writeNs.sum / 1e6,
        "bytes_written" -> c.bytesWritten.sum)
    }
  }

  /** Run `body` as the measured window; returns its wall seconds. Spark
    * counters (traced run) count only inside it. Set-up time is the JVM's
    * uptime when the window opens. */
  private def window(ctx: Ctx, out: Outcome)(body: => Unit): Double = {
    // set-up is everything before the window, from JVM start
    out.e2e("setup_s") = java.lang.management.ManagementFactory.getRuntimeMXBean.getUptime / 1e3
    ctx.counters.foreach(_.start())
    val gc0 = Host.gcMs(); val cpu0 = Host.processCpuNs(); val t0 = System.nanoTime()
    body
    val wall = (System.nanoTime() - t0) / 1e9
    val gc = Host.gcMs() - gc0
    out.info("window_s") = wall
    out.info("window_cpu_s") = (Host.processCpuNs() - cpu0) / 1e9
    ctx.counters.foreach(_.stop())
    out.info("heap_live_mb") = Host.liveHeapMb()
    if (ctx.trace) sparkLayer(ctx, out, wall, gc)
    wall
  }

  // ======================= build =======================

  /** The canonical id of fixture entity `e`: canonicalization takes the
    * component minimum, and ids 40k and 40k+1 share an alias. */
  private def canonical(e: Long): Long = if (e % 40 < 2) e - e % 40 else e

  /** Gold (canonical subject, doc) pairs the generator planted. */
  private def goldInDoc(ids: Range): Set[(String, String)] =
    ids.flatMap { i =>
      val d = Fixtures.doc(i)
      d.sentences.flatMap(_.entityIds).map(e => (s"ent:${canonical(e)}", d.docId))
    }.toSet

  /** The (subj, pred, obj, doc_id) rows `Pipeline.runAll` commits for the
    * docs `ids` with the fixture models, written down from the generator's
    * gold: one `mentions` row per mention, and distinct `inDoc`, `label`,
    * `category` and `sameAs` rows per (entity, doc). On the fixture corpus
    * the pipeline's output equals this set; the build workload's checks pin
    * it. */
  def goldTriples(ids: Range): Seq[(String, String, String, String)] = {
    val ents = Fixtures.defaultEntities
    ids.flatMap { i =>
      val d = Fixtures.doc(i)
      val mentioned = d.sentences.flatMap(_.entityIds)
      val perMention = mentioned.map(e => (s"ent:${canonical(e)}", "mentions", ents(e.toInt).surface, d.docId))
      val perDoc = mentioned.distinct.flatMap { e =>
        val subj = s"ent:${canonical(e)}"
        Seq((subj, "inDoc", d.docId, d.docId),
          (subj, "label", ents(e.toInt).surface, d.docId),
          (subj, "category", ents(e.toInt).category, d.docId)) ++
          (if (canonical(e) != e) Seq((subj, "sameAs", s"ent:$e", d.docId)) else Nil)
      }.distinct
      perMention ++ perDoc
    }
  }

  private def tripleHash(t: DataFrame): String = {
    val r = t.select(xxhash64(col("subj"), col("pred"), col("obj"), col("doc_id"))
        .cast("decimal(38,0)").as("h"))
      .agg(sum(col("h")).as("s"), count(lit(1)).as("n")).head()
    s"${r.get(0)}_${r.getLong(1)}"
  }

  def build(ctx: Ctx): Outcome = {
    val out = new Outcome
    val spark = ctx.spark
    import spark.implicits._
    val ids = docIds(ctx.seed, BuildDocs, 1)
    val docs = spark.createDataset(inputDocs(ids))
    val dict = spark.createDataset(Fixtures.entityDictionary()).toDF()
    val models = Pipeline.fixtureModels()
    var rep = 0
    def runAll(in: org.apache.spark.sql.Dataset[InputDoc]): (Path, Double, Long) = {
      rep += 1
      val dir = ctx.work.resolve(s"rep-$rep")
      val startMs = System.currentTimeMillis()
      val t0 = System.nanoTime()
      ctx.tracer.span("Pipeline.runAll", rep) {
        Pipeline.runAll(spark, in, dict, dir.toString, resume = false, models = models)
      }
      (dir, ms(System.nanoTime() - t0), startMs)
    }

    // set-up: one cold rep (JIT, codegen, first store), checked with the rest
    val (warmDir, warmMs, _) = runAll(docs)
    out.info("cold_rep_ms") = warmMs

    val gold = goldInDoc(ids)
    val hashFile = ctx.state.resolve(s"build-${ctx.seed}.hash")
    val reps = scala.collection.mutable.ArrayBuffer[Double]()
    val stageS = scala.collection.mutable.Map[String, Seq[Double]]().withDefaultValue(Nil)
    var files = 0L; var bytesPerTriple = 0.0
    val dirs = scala.collection.mutable.ArrayBuffer[Path](warmDir)
    val deadline = System.nanoTime() + (ctx.seconds * 1e9).toLong
    window(ctx, out) {
      while (System.nanoTime() < deadline) {
        val (dir, t, startMs) = runAll(docs)
        reps += t
        dirs += dir
        if (ctx.trace) {
          TableFormat.stageWallsSec(dir.toString, Metrics.stages, startMs)
            .foreach { case (s, sec) => stageS(s) = stageS(s) :+ sec }
          files += Metrics.stages.map(s => TableFormat.readManifest(dir.resolve(s).toString).files).sum
          val m = TableFormat.readManifest(dir.resolve("triples").toString)
          bytesPerTriple = m.bytes.toDouble / math.max(1L, m.leafRows.map(_._2).sum)
        }
      }
    }
    // checks, after the window: the same triple hash on every rep (and on
    // every run of this seed); inDoc pairs against the generator's gold
    var firstHash = ""
    dirs.zipWithIndex.foreach { case (dir, i) =>
      val triples = TableFormat.load(spark, dir.resolve("triples").toString)
      val h = tripleHash(triples)
      if (i == 0) {
        firstHash = h
        val got = triples.filter(col("pred") === "inDoc").select("subj", "obj").distinct()
          .collect().map(r => (r.getString(0), r.getString(1))).toSet
        val hit = (got & gold).size.toDouble
        val p = hit / math.max(1, got.size); val r = hit / math.max(1, gold.size)
        out.info("indoc_precision") = p; out.info("indoc_recall") = r
        out.check(p >= 0.95 && r >= 0.95, f"build inDoc P=$p%.4f R=$r%.4f below 0.95")
        // kg_mixed serves goldTriples as the pipeline's output; record
        // whether this program still commits exactly that multiset
        val rows = triples.select("subj", "pred", "obj", "doc_id").collect()
          .map(r => (r.getString(0), r.getString(1), r.getString(2), r.getString(3))).toSeq
        out.info("triples_equal_gold") = rows.sorted == goldTriples(ids).sorted
        if (Files.exists(hashFile))
          out.check(Files.readString(hashFile) == h, s"build triple hash $h differs from an earlier run of seed ${ctx.seed}")
        else Files.writeString(hashFile, h)
      }
      out.op(h == firstHash, s"build rep ${i + 1} triple hash $h != $firstHash")
      deleteTree(dir)
    }
    val n = reps.size
    out.e2e("throughput_per_s") = BuildDocs * n / (reps.sum / 1e3)
    out.e2e("cpu_ms_per_op") = out.info("window_cpu_s").asInstanceOf[Double] * 1e3 / (BuildDocs.toDouble * n)
    latencyFigures(out, Map("runAll" -> reps.toSeq), tail = 1.0)
    out.info("docs_per_rep") = BuildDocs
    out.info("reps_ms") = reps.toSeq
    if (ctx.trace) {
      out.layer("trace.throughput_per_s") = out.e2e("throughput_per_s")
      out.layer("trace.latency_p50_ms") = out.e2e("latency_p50_ms")
      Metrics.stages.foreach(s => out.layer(s"stage.${s}_s") = Stats.median(stageS(s)))
      out.layer("io.write_ms") = ms(ctx.counters.map(_.writeNs.sum).getOrElse(0L)) / n
      out.layer("io.files_written") = files.toDouble / n
      out.layer("io.bytes_per_triple") = bytesPerTriple
      out.layer("kernel.us_per_doc") = kernelUsPerDoc(models, inputDocs(ids.take(500)))
    }
    out
  }

  /** The annotate kernel alone: `Pipeline.annotateDoc` on one thread, no
    * Spark, after one warm pass. */
  private def kernelUsPerDoc(models: Pipeline.Models, docs: Seq[InputDoc]): Double = {
    val lex = models.lexPredicate
    docs.foreach(d => Pipeline.annotateDoc(models, lex, d))
    val passes = 3
    val t0 = System.nanoTime()
    for (_ <- 1 to passes; d <- docs) Pipeline.annotateDoc(models, lex, d)
    (System.nanoTime() - t0) / 1e3 / (passes * docs.size)
  }

  // ======================= kg_read / kg_mixed =======================

  final case class Query(template: String, text: String)

  /** Template instances from the registered nemo_kg_* shapes. The seed
    * picks the entities, the HAVING threshold, the counted predicate and
    * the path's sort order; the category-wide templates take PER, since
    * the category would swing their cost by 2x from seed to seed. ORDER BY
    * + LIMIT make every answer a well-defined page below the endpoint's
    * row cap. */
  def kgQueries(seed: Long, ents: IndexedSeq[Long]): Seq[Query] = {
    val r = new scala.util.Random(seed * 31 + 7)
    def ent() = s"ent:${ents(r.nextInt(ents.size))}"
    Seq(
      Query("describe_point", s"DESCRIBE ${ent()}"),
      Query("values_lookup",
        s"SELECT DISTINCT ?a ?d WHERE { ?a inDoc ?d . VALUES ?a { ${Seq.fill(4)(ent()).mkString(" ")} } } ORDER BY ?a ?d LIMIT 500"),
      Query("optional",
        "SELECT DISTINCT ?a ?al WHERE { ?a category PER OPTIONAL { ?a sameAs ?al } } ORDER BY ?a ?al LIMIT 500"),
      Query("two_hop",
        "SELECT DISTINCT ?a ?b WHERE { ?a category PER . ?a inDoc ?d . ?b inDoc ?d FILTER ( ?b != ?a ) } ORDER BY ?a ?b LIMIT 500"),
      Query("agg_having",
        s"SELECT ?e (COUNT(*) AS ?n) WHERE { ?e mentions ?m } GROUP BY ?e HAVING ( ?n >= ${3 + r.nextInt(6)} ) ORDER BY ?e LIMIT 500"),
      Query("count_meta",
        s"SELECT (COUNT(*) AS ?n) WHERE { ?s ${Seq("mentions", "label", "sameAs")(r.nextInt(3))} ?o }"),
      Query("path_plus",
        s"SELECT DISTINCT ?src ?dst WHERE { ?src (sameAs|^sameAs)+ ?dst } ORDER BY ${if (r.nextBoolean()) "?src ?dst" else "?dst ?src"} LIMIT 500"))
  }

  /** Rows of an answer as sorted strings (a multiset, order-free). */
  private def rowsOfFrame(rows: Array[Row]): Seq[String] =
    rows.map(r => (0 until r.length).map(i => String.valueOf(r.get(i))).mkString("\u0001")).toSeq.sorted

  private def rowsOfJson(body: String): Option[Seq[String]] = {
    val root = Json.mapper.readTree(body)
    if (root == null || !root.has("rows") || root.get("truncated").asBoolean(true)) None
    else Some(root.get("rows").elements().asScala.map { row =>
      row.elements().asScala.map(c => if (c.isNull) "null" else c.asText).mkString("\u0001")
    }.toSeq.sorted)
  }

  /** 2 closed-loop readers over `POST /kg`. */
  def kgRead(ctx: Ctx): Outcome = kg(ctx, withWriter = false)

  /** kg_read's readers beside 1 closed-loop writer over `POST /kg/update`. */
  def kgMixed(ctx: Ctx): Outcome = kg(ctx, withWriter = true)

  private def kg(ctx: Ctx, withWriter: Boolean): Outcome = {
    val out = new Outcome
    val spark = ctx.spark
    import spark.implicits._
    val ids = docIds(ctx.seed, KgDocs, 2)
    out.phase("session")

    // set-up: the store the listener serves, holding the triples runAll
    // commits for the seed's docs (see goldTriples), laid out as the
    // program's own pred-partitioned store
    val store = ctx.work.resolve("store/triples").toString
    val build0 = System.nanoTime()
    val gold = goldTriples(ids)
    TableFormat.savePartitioned(gold.toDF("subj", "pred", "obj", "doc_id"), store, partCol = "pred",
      keyCol = "subj", stage = "triples", buckets = TableFormat.adaptiveBuckets(gold.size))
    out.info("store_build_s") = (System.nanoTime() - build0) / 1e9
    out.info("store_triples") = gold.size
    out.info("store_bytes") = TableFormat.readManifest(store).bytes
    out.info("store_docs") = KgDocs
    out.phase("store")

    // the listener, up until its first answer
    val server = KgHttp.startFromStore(0, spark, store)
    // one keep-alive connection per reader, and one for the writer
    val clients = (0 to KgReaders).map(_ => new Client(server.getAddress.getPort))
    val writer = clients(KgReaders)
    val (st0, _) = writer.post("/kg", """{"query": "SELECT (COUNT(*) AS ?n) WHERE { ?s label ?o }"}""")
    out.check(st0 == 200, s"kg listener first answer status $st0")
    out.phase("listener")

    // expected answers, from Sparql.query on the loaded frame
    val frame = TableFormat.load(spark, store)
    val stats = Pattern.predStatsFromManifest(store)
    // point queries ask about entities past the hottest 50, whose answers
    // stay well under the endpoint's row cap
    val ents = gold.map(_._1.stripPrefix("ent:").toLong).distinct.filter(_ >= 50).sorted.toIndexedSeq
    val queries = kgQueries(ctx.seed, ents)
    val exp0 = System.nanoTime()
    val expected = parallel(ctx.nproc, queries)(q => rowsOfFrame(Sparql.query(frame, q.text, Some(stats)).collect()))
    out.info("expected_answers_s") = (System.nanoTime() - exp0) / 1e9
    val initial: Set[String] = frame.select("subj", "pred", "obj").distinct().collect()
      .map(r => s"${r.getString(0)} ${r.getString(1)} ${r.getString(2)}").toSet
    out.phase("expected")

    val lat = new java.util.concurrent.ConcurrentLinkedQueue[(String, Double)]()
    val resultRows = new java.util.concurrent.atomic.LongAdder

    // reader c walks the template cycle from offset c * n / readers, so a
    // window that ends mid-cycle still sees a balanced mix
    def read(c: Int, i: Long): (String, Double) = {
      val k = ((i + c * queries.size / KgReaders) % queries.size).toInt
      val q = queries(k)
      val t0 = System.nanoTime()
      val res = scala.util.Try(ctx.tracer.span(s"http.kg.${q.template}", t0) {
        clients(c).post("/kg", s"""{"query": ${Json.str(q.text)}}""")
      })
      val t = ms(System.nanoTime() - t0)
      res match {
        case scala.util.Success((200, body)) =>
          val got = rowsOfJson(body)
          got.foreach(g => resultRows.add(g.size))
          out.op(got.contains(expected(k)), s"${q.template} answer differs from Sparql.query: ${q.text}")
        case scala.util.Success((st, body)) => out.failedOp(s"${q.template} status $st: ${body.take(200)}")
        case scala.util.Failure(e) => out.failedOp(s"${q.template} failed: $e")
      }
      (q.template, t)
    }

    // writer: cycle k inserts two triples of a writer-owned entity, then
    // deletes them again; `present` models the writer triples in the store
    val present = scala.collection.mutable.Set[String]()
    var touched = 0L; var ops = 0L
    val writerTag = s"~w${java.lang.Math.floorMod(ctx.seed, 1000000L)}"
    def writerTriples(k: Long) = Seq(s"ent:${writerTag}x$k category BENCH", s"ent:${writerTag}x$k inDoc doc-${writerTag}x$k")
    def write(i: Long): (String, Double) = {
      val k = i / 2
      val (kind, script) =
        if (i % 2 == 0) ("insert_data", s"INSERT DATA { ${writerTriples(k).mkString(" . ")} }")
        else ("delete_where", s"DELETE WHERE { ent:${writerTag}x$k ?p ?o }")
      val t0 = System.nanoTime()
      val res = scala.util.Try(ctx.tracer.span(s"http.kg_update.$kind", t0) {
        writer.post("/kg/update", s"""{"update": ${Json.str(script)}}""")
      })
      val t = ms(System.nanoTime() - t0)
      res match {
        case scala.util.Success((200, body)) =>
          val root = Json.mapper.readTree(body)
          val applied = root.get("applied").asInt(-1)
          touched += root.get("touched_leaves").asLong(0); ops += 1
          if (applied == 1) {
            if (kind == "insert_data") present ++= writerTriples(k) else present --= writerTriples(k)
          }
          out.op(applied == 1, s"update $kind applied=$applied: $body")
        case scala.util.Success((st, body)) => out.failedOp(s"update $kind status $st: ${body.take(200)}")
        case scala.util.Failure(e) => out.failedOp(s"update $kind failed: $e")
      }
      (kind, t)
    }

    // warm the listener and the JIT before the window: each reader runs
    // the template cycle once (answers checked too). Reads keep getting
    // faster for a minute or more; the first cycle is the steepest part
    (0 until KgReaders).map(c => new Thread(() => queries.indices.foreach(i => read(c, i))))
      .map { t => t.start(); t }.foreach(_.join())
    resultRows.reset()
    out.phase("warm")

    val deadline = System.nanoTime() + (ctx.seconds * 1e9).toLong
    val wall = window(ctx, out) {
      val names = (0 until KgReaders).map(c => s"kg-reader-$c") ++ (if (withWriter) Seq("kg-writer") else Nil)
      Load.closedLoop(names, deadline) { (c, i) =>
        if (c < KgReaders) lat.add(read(c, i))
        else { val (kind, t) = write(i); lat.add((s"update.$kind", t)) }
      }
    }
    out.phase("window")
    val byKind = lat.asScala.toSeq.groupMap(_._1)(_._2)
    // end-to-end kinds are reads and updates; per-template figures go to the record
    val (updKinds, readKinds) = byKind.partition(_._1.startsWith("update."))
    val reads = readKinds.values.flatten.toSeq
    val updates = updKinds.values.flatten.toSeq
    out.e2e("throughput_per_s") = (reads.size + updates.size) / wall
    out.e2e("cpu_ms_per_op") = out.info("window_cpu_s").asInstanceOf[Double] * 1e3 / math.max(1, reads.size + updates.size)
    // latency figures are the reads' over a balanced mix: the first m
    // reads of each template, m the fewest any template completed. Each
    // template then fills 1/7 of the ranks, so p50 falls mid-way into the
    // 4th template's share and p90 inside the slowest template's (the top
    // 1/7). A rank near a template boundary (p75 sits by the 5/7 one)
    // reads whichever template lands there and swings by 30%. The slowest
    // kind is the slowest template alone, or with a writer the update
    val m = readKinds.values.map(_.size).min
    val balanced = readKinds.values.flatMap(_.take(m)).toSeq
    out.info("balanced_reads") = balanced.size
    latencyFigures(out, Map("read" -> balanced), tail = 0.9)
    if (updates.nonEmpty)
      out.e2e("slowest_kind_p50_ms") = math.max(Stats.median(balanced), Stats.median(updates))
    else if (!withWriter)
      out.e2e("slowest_kind_p50_ms") = readKinds.values.map(Stats.median).max
    out.info("update_p50_ms") = if (updates.nonEmpty) Stats.median(updates) else 0.0
    out.info("template_p50_ms") = byKind.map { case (k, v) => k -> Stats.median(v) }
    out.info("template_samples") = byKind.map { case (k, v) => k -> v.size }
    out.info("queries") = queries.map(_.text)

    // the store now holds the initial triples plus the writer's
    val now = TableFormat.load(spark, store).select("subj", "pred", "obj").distinct().collect()
      .map(r => s"${r.getString(0)} ${r.getString(1)} ${r.getString(2)}").toSet
    val want = initial ++ present
    out.check(now == want, s"final store differs from the modelled scripts: " +
      s"${(now -- want).take(3)} extra, ${(want -- now).take(3)} missing")
    out.phase("final_check")

    if (ctx.trace) {
      out.layer("trace.throughput_per_s") = out.e2e("throughput_per_s")
      out.layer("trace.latency_p50_ms") = out.e2e("latency_p50_ms")
      ctx.counters.foreach { c =>
        val nq = math.max(1L, c.queries.sum)
        out.layer("scan.files_per_query") = c.scanFiles.sum.toDouble / nq
        out.layer("scan.bytes_per_query") = c.scanBytes.sum.toDouble / nq
        out.layer("scan.rows_per_result_row") = c.scanRows.sum.toDouble / math.max(1L, resultRows.sum)
        out.layer("kghttp.stale_reads") = c.staleReadJobs.sum.toDouble
      }
      // compile vs execute per template, in-process and alone, on the
      // store as the writer left it
      spark.catalog.refreshByPath(store)
      val frameNow = TableFormat.load(spark, store)
      val statsNow = Pattern.predStatsFromManifest(store)
      val split = queries.map { q =>
        val (cs, es) = (1 to 3).map { _ =>
          val t0 = System.nanoTime()
          val df = ctx.tracer.span(s"Sparql.query.${q.template}")(Sparql.query(frameNow, q.text, Some(statsNow)))
          val t1 = System.nanoTime()
          ctx.tracer.span(s"exec.${q.template}")(df.take(1001))
          (ms(t1 - t0), ms(System.nanoTime() - t1))
        }.unzip
        out.layer(s"sparql.compile_ms.${q.template}") = Stats.median(cs)
        out.layer(s"sparql.exec_ms.${q.template}") = Stats.median(es)
        q.template -> (Stats.median(cs) + Stats.median(es))
      }.toMap
      out.layer("kghttp.overhead_ms") = Stats.median(split.toSeq.map { case (t, direct) =>
        Stats.median(byKind(t)) - direct })
      // the writer alone, after the window and the final-store check
      val w0 = ctx.counters.map(_.bytesWritten.sum).getOrElse(0L)
      ctx.counters.foreach(_.start())
      val solo = (0 until 6).map(j => write(1000000L + j))
      ctx.counters.foreach(_.stop())
      out.layer("update.touched_leaves_per_op") = touched.toDouble / math.max(1L, ops)
      solo.groupBy(_._1).foreach { case (k, v) => out.layer(s"update.solo_ms.$k") = Stats.median(v.map(_._2)) }
      val deltaBytes = 6 * writerTriples(0).map(_.replace(" ", "").getBytes("UTF-8").length).sum / 2
      out.layer("update.bytes_rewritten_per_delta_byte") =
        (ctx.counters.map(_.bytesWritten.sum).getOrElse(0L) - w0).toDouble / deltaBytes
    }
    clients.foreach(_.close())
    KgHttp.stop(server)
    out
  }

  // ======================= ner_serve =======================

  def nerServe(ctx: Ctx): Outcome = {
    val out = new Outcome
    val ids = docIds(ctx.seed, NerPoolDocs, 3)
    // request i: doc (i / 2) of the pool, alternating the two hybrid commands
    val pool = ids.flatMap { i =>
      val text = Fixtures.doc(i).sentences.map(_.tokens.mkString(" ")).mkString("\n")
      Metrics.nerCommands.map(cmd => (cmd, text))
    }.toIndexedSeq
    val bodies = pool.map { case (_, text) => s"""{"sentences": ${Json.str(text)}}""" }

    val server = HttpServe.start(0)
    val clients = (0 until NerConns).map(_ => new Client(server.getAddress.getPort))
    val expected = pool.map { case (cmd, text) => Serve.handle(cmd, Serve.Request(sentences = text)) }

    def send(c: Int, i: Long): Unit = {
      val k = (i % pool.size).toInt
      val cmd = pool(k)._1
      val res = scala.util.Try(ctx.tracer.span(s"http.ner.$cmd", i)(clients(c).post(s"/$cmd", bodies(k))))
      res match {
        case scala.util.Success((200, body)) => out.op(body == expected(k), s"$cmd body differs from Serve.handle")
        case scala.util.Success((st, body)) => out.failedOp(s"$cmd status $st: ${body.take(200)}")
        case scala.util.Failure(e) => out.failedOp(s"$cmd failed: $e")
      }
    }
    // warm the connections and the JIT before the window (answers checked too)
    (0 until NerConns).map(c => new Thread(() => (0 until 25).foreach(i => send(c, i * NerConns + c))))
      .map { t => t.start(); t }.foreach(_.join())
    out.phase("warm")

    // a third of the window: NerConns callers, each sending its next
    // request when the last one answers (latency figures); the rest: an
    // open-loop rate ladder, each step >= 300 requests and >= 1 s, that
    // stops at the first step missing the limit (throughput)
    val deadline = System.nanoTime() + (ctx.seconds * 1e9).toLong
    val closed = new java.util.concurrent.ConcurrentLinkedQueue[(String, Double)]()
    val steps = scala.collection.mutable.ArrayBuffer[(Double, Seq[Stats.Timing], Boolean)]()
    window(ctx, out) {
      Load.closedLoop((0 until NerConns).map(c => s"ner-caller-$c"),
          System.nanoTime() + (ctx.seconds / 3 * 1e9).toLong) { (c, i) =>
        val k = i * NerConns + c
        val t0 = System.nanoTime()
        send(c, k)
        closed.add((pool((k % pool.size).toInt)._1, ms(System.nanoTime() - t0)))
      }
      var go = true
      val it = NerRates.iterator
      while (go && it.hasNext) {
        val rate = it.next()
        val secs = math.max(1.0, 300 / rate)
        if (steps.nonEmpty && System.nanoTime() + (secs * 1e9).toLong > deadline) go = false
        else {
          val ts = Load.openLoop(rate, secs, NerConns)(send)
          val lats = ts.map(_.latencyMs)
          val ok = Stats.percentile(lats, 0.99) <= NerLimitMs && !Stats.backlogGrowing(ts)
          steps += ((rate, ts, ok))
          go = ok
        }
      }
    }
    val lat = closed.asScala.toSeq
    latencyFigures(out, lat.groupMap(_._1)(_._2), tail = 0.9)
    val passed = steps.filter(_._3)
    val best = if (passed.nonEmpty) passed.last else steps.head
    val bt = best._2
    out.e2e("throughput_per_s") = bt.size / ((bt.map(_.doneNs).max - bt.map(_.dueNs).min) / 1e9)
    out.e2e("cpu_ms_per_op") = out.info("window_cpu_s").asInstanceOf[Double] * 1e3 /
      (lat.size + steps.map(_._2.size).sum)
    out.info("ladder") = steps.map { case (r, ts, ok) =>
      Map("rate" -> r, "n" -> ts.size, "ok" -> ok,
        "p50_ms" -> Stats.median(ts.map(_.latencyMs)), "p90_ms" -> Stats.percentile(ts.map(_.latencyMs), 0.9),
        "p99_ms" -> Stats.percentile(ts.map(_.latencyMs), 0.99),
        "lateness_p99_ms" -> Stats.percentile(ts.map(_.latenessMs), 0.99), "backlog_max" -> Stats.backlogMax(ts))
    }
    out.info("max_rate_passed") = if (passed.nonEmpty) passed.last._1 else 0.0

    if (ctx.trace) {
      out.layer("trace.throughput_per_s") = out.e2e("throughput_per_s")
      out.layer("trace.latency_p50_ms") = out.e2e("latency_p50_ms")
      out.layer("gen.lateness_ms_p99") = Stats.percentile(steps.head._2.map(_.latenessMs), 0.99)
      out.layer("gen.backlog_max") = steps.map(s => Stats.backlogMax(s._2)).max.toDouble
      val handleUs = Metrics.nerCommands.map { cmd =>
        val reqs = pool.filter(_._1 == cmd).map(p => Serve.Request(sentences = p._2))
        reqs.foreach(r => Serve.handle(cmd, r))
        val t = (1 to 5).map { _ =>
          val t0 = System.nanoTime()
          reqs.foreach(r => ctx.tracer.span(s"Serve.handle.$cmd")(Serve.handle(cmd, r)))
          (System.nanoTime() - t0) / 1e3 / reqs.size
        }
        out.layer(s"serve.handle_us.$cmd") = Stats.median(t)
        Stats.median(t)
      }
      out.layer("httpserve.overhead_ms") = out.e2e("latency_p50_ms") - handleUs.sum / handleUs.size / 1e3
      // caller requests that took as long as a delayed ACK (~40 ms)
      out.layer("httpserve.stalled_share") = lat.count(_._2 >= 40.0).toDouble / lat.size
      val models = Pipeline.fixtureModels()
      out.layer("kernel.us_per_doc") = kernelUsPerDoc(models, inputDocs(ids))
    }
    clients.foreach(_.close())
    HttpServe.stop(server)
    out
  }
}
