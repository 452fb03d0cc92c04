package graft

import graft.fixtures.Fixtures
import graft.eval.Mentions
import graft.kg.{Linker, Canonicalize}
import graft.io.TableFormat
import org.apache.spark.ListenerBusDrain
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** End-to-end pipeline gates (SURVEY §5): mention P/R ≥ 0.95, passenger
  * invariant, linking/canonicalization/triples, checkpoint-resume. */
class PipelineSpec extends AnyFunSuite {
  lazy val spark = SparkTestBase.spark
  import spark.implicits._

  val N = 60
  lazy val models = spark.sparkContext.broadcast(Pipeline.fixtureModels())
  lazy val inputDocs = spark.createDataset(Fixtures.inputDocs(N)).repartition(4)
  lazy val annotated = Pipeline.annotate(spark, inputDocs, models).cache()

  /** Gold mentions straight from the generator's ground truth. */
  def goldMentions(level: String): Seq[(String, Long, String, String, Int)] =
    (0 until N).flatMap { i =>
      val d = Fixtures.doc(i)
      d.sentences.zipWithIndex.flatMap { case (s, si) =>
        val (toks, labels) =
          if (level == "token") (s.tokens, s.goldSingle)
          else (s.morphForms.flatten, s.goldMorph.flatten)
        Mentions.sentenceMentions(si.toLong, toks, labels, joinChar = " ")
          .map { case (sid, surf, cat, occ) => (d.docId, sid, surf, cat, occ) }
      }
    }

  def predMentions(scenario: String): Seq[(String, Long, String, String, Int)] =
    Pipeline.extractMentions(annotated, scenario)
      .select("doc_id", "sent_id", "surface", "category", "occ")
      .as[(String, Long, String, String, Int)].collect().toSeq

  test("P/R gate: token-single mentions vs gold ≥ 0.95") {
    val gold = goldMentions("token")
    val pred = predMentions("token-single")
    val prf = Mentions.evaluate(
      gold.map(t => (t._1.hashCode.toLong * 1000 + t._2, t._3, t._4, t._5)),
      pred.map(t => (t._1.hashCode.toLong * 1000 + t._2, t._3, t._4, t._5)))
    assert(prf.precision >= 0.95, s"precision ${prf.precision}")
    assert(prf.recall >= 0.95, s"recall ${prf.recall}")
  }

  test("P/R gate: morph-level mentions vs gold ≥ 0.95 (hybrid path)") {
    val gold = goldMentions("morph")
    val pred = predMentions("morph")
    val prf = Mentions.evaluate(
      gold.map(t => (t._1.hashCode.toLong * 1000 + t._2, t._3, t._4, t._5)),
      pred.map(t => (t._1.hashCode.toLong * 1000 + t._2, t._3, t._4, t._5)))
    assert(prf.precision >= 0.95, s"precision ${prf.precision}")
    assert(prf.recall >= 0.95, s"recall ${prf.recall}")
  }

  test("P/R gate: multi-align-morph (G5, no second NER run) ≥ 0.95") {
    val gold = goldMentions("morph")
    val pred = predMentions("multi-align-morph")
    val prf = Mentions.evaluate(
      gold.map(t => (t._1.hashCode.toLong * 1000 + t._2, t._3, t._4, t._5)),
      pred.map(t => (t._1.hashCode.toLong * 1000 + t._2, t._3, t._4, t._5)))
    assert(prf.precision >= 0.95, s"precision ${prf.precision}")
    assert(prf.recall >= 0.95, s"recall ${prf.recall}")
  }

  test("P/R gate: morph_yap (G3, no pruning) ≥ 0.95 on the fixture corpus") {
    val gold = goldMentions("morph")
    val yap = Pipeline.annotate(spark, inputDocs, models, usePruning = false)
    val pred = Pipeline.extractMentions(yap, "morph")
      .select("doc_id", "sent_id", "surface", "category", "occ")
      .as[(String, Long, String, String, Int)].collect().toSeq
    val prf = Mentions.evaluate(
      gold.map(t => (t._1.hashCode.toLong * 1000 + t._2, t._3, t._4, t._5)),
      pred.map(t => (t._1.hashCode.toLong * 1000 + t._2, t._3, t._4, t._5)))
    assert(prf.precision >= 0.95, s"precision ${prf.precision}")
    assert(prf.recall >= 0.95, s"recall ${prf.recall}")
  }

  test("passenger invariant: span sequence (kind, text, media_ref, order) preserved per row") {
    val in = inputDocs.collect().map(d => d.doc_id ->
      d.spans.sortBy(_.offset).map(s => (s.kind, s.text, s.media_ref, s.offset)).toSeq).toMap
    val out = annotated.collect()
    assert(out.length === N)
    out.foreach { d =>
      val got = d.spans.sortBy(_.offset).map(s => (s.kind, s.text, s.media_ref, s.offset)).toSeq
      assert(got === in(d.doc_id), s"spans mutated for ${d.doc_id}")
    }
  }

  test("morph-hybrid segmentation: clitic-prefixed tokens split by MD") {
    // every token starting with a clitic whose remainder is in the lexicon and
    // whose multi label says two morphemes must come out as 2 morphemes
    val docs = annotated.collect()
    var checked = 0
    docs.foreach(_.sents.foreach(_.tokens.foreach { t =>
      if (t.nemoMulti.startsWith("O^")) {
        assert(t.morphs.length === 2, s"token ${t.text} multi=${t.nemoMulti}")
        assert(t.text === t.morphs.map(_.form).mkString)
        checked += 1
      }
    }))
    assert(checked > 0, "fixture produced no clitic-prefixed entity tokens")
  }

  test("G2/G6 token-level label transport: fixMultiBiose + morph-align agree with single") {
    // On the oracle corpus all scenarios must agree at token level
    val docs = annotated.collect()
    docs.foreach(_.sents.foreach(_.tokens.foreach { t =>
      assert(t.nemoMultiAlignToken === t.nemoSingle,
        s"B5 disagrees for ${t.text}: ${t.nemoMultiAlignToken} vs ${t.nemoSingle}")
      assert(t.nemoMorphAlignToken === t.nemoSingle,
        s"C6 disagrees for ${t.text}: ${t.nemoMorphAlignToken} vs ${t.nemoSingle}")
    }))
  }

  test("A11/C10: every annotated sentence carries a well-formed dependency tree") {
    val docs = annotated.collect()
    var sents = 0
    docs.foreach(_.sents.foreach { s =>
      val morphs = s.tokens.flatMap(_.morphs)
      if (morphs.nonEmpty && morphs.exists(_.deprel.nonEmpty)) {
        sents += 1
        assert(morphs.count(m => m.head == 0 && m.deprel == "root") === 1,
          s"sentence without exactly one root: ${morphs.map(m => (m.form, m.head, m.deprel)).mkString(" ")}")
        // non-last morphemes of a token are proclitics → case/det/cc/mark
        s.tokens.foreach { t =>
          t.morphs.dropRight(1).foreach(m =>
            assert(Set("case", "det", "cc", "mark").contains(m.deprel), s"clitic ${m.form} got ${m.deprel}"))
        }
        // heads in range
        morphs.foreach(m => assert(m.head >= 0 && m.head <= morphs.length))
      }
    })
    assert(sents > 0)
  }

  test("F12 model registry mirrors the reference's six MODEL_PATHS entries") {
    val reg = Pipeline.fixtureRegistry
    assert(reg.keySet === Set("token-single", "token-single_oov",
      "token-multi", "token-multi_oov", "morph", "morph_oov"))
    assert(Pipeline.MultiModelForHybrid === "token-multi")
    assert(reg.values.map(_.wordAlphabet.size).toSeq.distinct.size >= 2,
      "_oov variants should differ from standard models")
    // every registered model decodes; std and _oov agree on in-vocab input
    val toks = Fixtures.doc(0).sentences.head.tokens
    for (mode <- Seq("token-single", "token-multi", "morph")) {
      val std = graft.ner.Scorer.decodeBatch(reg(mode), IndexedSeq(toks)).head
      val oov = graft.ner.Scorer.decodeBatch(reg(mode + "_oov"), IndexedSeq(toks)).head
      assert(std === oov, s"$mode vs ${mode}_oov disagree on in-vocab input")
    }
  }

  test("linking resolves fixture mentions to their planted entities") {
    val mentions = Pipeline.extractMentions(annotated, "morph")
    val dict = spark.createDataset(Fixtures.entityDictionary()).toDF()
    val linked = Linker.link(mentions, dict).cache()
    val total = mentions.count()
    val got = linked.count()
    assert(got.toDouble / total >= 0.95, s"linked $got of $total")
    // every linked mention's dictionary category matches (oracle corpus)
    assert(linked.filter(col("category") =!= col("dict_category")).count() === 0)
    // and the surface is genuinely an alias of the winning entity
    val ids = linked.select("surface", "entity_id").as[(String, Long)].collect()
    val byId = Fixtures.entityDictionary().map(e => e.entity_id -> e.aliases.toSet).toMap
    ids.foreach { case (surf, eid) => assert(byId(eid).contains(surf), s"$surf -> $eid") }
  }

  test("salted shuffle-join path gives identical links as broadcast path") {
    val mentions = Pipeline.extractMentions(annotated, "morph")
    val dict = spark.createDataset(Fixtures.entityDictionary()).toDF()
    val a = Linker.link(mentions, dict, broadcastDict = true)
      .select("doc_id", "sent_id", "surface", "occ", "entity_id")
    val b = Linker.link(mentions, dict, broadcastDict = false, saltBuckets = 4)
      .select("doc_id", "sent_id", "surface", "occ", "entity_id")
    assert(a.exceptAll(b).count() === 0)
    assert(b.exceptAll(a).count() === 0)
  }

  test("runAll writes all stages with manifests and resumes without recompute") {
    val work = java.nio.file.Files.createTempDirectory("graft-stages").toString
    val dict = spark.createDataset(Fixtures.entityDictionary()).toDF()
    val docs = spark.createDataset(Fixtures.inputDocs(20))
    val nTriples = Pipeline.runAll(spark, docs, dict, work, buckets = Some(4)).count()
    assert(nTriples > 0)
    for (stage <- Seq("docs_labeled", "mentions", "linked", "entities", "triples"))
      assert(TableFormat.isComplete(s"$work/$stage"), s"manifest missing for $stage")
    // resume: delete the triples stage only; earlier stages must be reused
    val tDir = new java.io.File(s"$work/triples")
    def rm(f: java.io.File): Unit = { if (f.isDirectory) f.listFiles.foreach(rm); f.delete() }
    rm(tDir)
    val docsLabeledMtime = java.nio.file.Files.getLastModifiedTime(
      java.nio.file.Paths.get(s"$work/docs_labeled/_manifest.json"))
    val triples2 = Pipeline.runAll(spark, docs, dict, work, buckets = Some(4))
    assert(triples2.count() === nTriples)
    assert(java.nio.file.Files.getLastModifiedTime(
      java.nio.file.Paths.get(s"$work/docs_labeled/_manifest.json")) === docsLabeledMtime,
      "docs_labeled was recomputed on resume")
    rm(new java.io.File(work))
  }

  test("runAll without buckets sizes each fixture stage to one bucket, with the same triples") {
    val work = java.nio.file.Files.createTempDirectory("graft-sized").toString
    val dict = spark.createDataset(Fixtures.entityDictionary()).toDF()
    val docs = spark.createDataset(Fixtures.inputDocs(20))
    val sized = Pipeline.runAll(spark, docs, dict, s"$work/sized")
    val stages = Seq("docs_labeled", "mentions", "linked", "entities", "triples")
    for (stage <- stages)
      assert(TableFormat.readManifest(s"$work/sized/$stage").fields("buckets") === "1", stage)
    assert(stages.map(st => TableFormat.readManifest(s"$work/sized/$st").files).sum === 5L)
    def multiset(df: org.apache.spark.sql.DataFrame): Map[String, Int] =
      df.select("subj", "pred", "obj", "doc_id").collect().map(_.mkString("\u0001"))
        .groupMapReduce(identity)(_ => 1)(_ + _)
    val fixed = Pipeline.runAll(spark, docs, dict, s"$work/fixed", buckets = Some(4))
    val got = multiset(sized)
    assert(got.nonEmpty)
    assert(got === multiset(fixed))
    // a one-bucket table still answers point lookups
    assert(TableFormat.lookup(spark, s"$work/sized/triples", "doc_id", "doc-000003").count() ===
      sized.filter(col("doc_id") === "doc-000003").count())
    def rm(f: java.io.File): Unit = { if (f.isDirectory) f.listFiles.foreach(rm); f.delete() }
    rm(new java.io.File(work))
  }

  test("runAll sizes docs_labeled of an RDD-backed docs Dataset by its partitions, with the same triples") {
    val work = java.nio.file.Files.createTempDirectory("graft-rdd").toString
    val dict = spark.createDataset(Fixtures.entityDictionary()).toDF()
    val docs = spark.createDataset(spark.sparkContext.parallelize(Fixtures.inputDocs(20), 3))
    assert(docs.queryExecution.optimizedPlan.stats.sizeInBytes ===
      BigInt(spark.sessionState.conf.defaultSizeInBytes), "an RDD-backed Dataset is unsized")
    val unsized = Pipeline.runAll(spark, docs, dict, s"$work/rdd")
    assert(TableFormat.readManifest(s"$work/rdd/docs_labeled").fields("buckets") ===
      docs.rdd.getNumPartitions.toString)
    def multiset(df: org.apache.spark.sql.DataFrame): Map[String, Int] =
      df.select("subj", "pred", "obj", "doc_id").collect().map(_.mkString("\u0001"))
        .groupMapReduce(identity)(_ => 1)(_ + _)
    val fixed = Pipeline.runAll(spark, docs, dict, s"$work/fixed", buckets = Some(4))
    assert(multiset(unsized).nonEmpty)
    assert(multiset(unsized) === multiset(fixed))
    def rm(f: java.io.File): Unit = { if (f.isDirectory) f.listFiles.foreach(rm); f.delete() }
    rm(new java.io.File(work))
  }

  /** The executed plans of the SQL executions `action` raises, in order. */
  private def capturePlans(action: => Unit): Seq[SparkPlan] = {
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[SparkPlan]
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
        seen.add(qe.executedPlan); ()
      }
      override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
    }
    ListenerBusDrain.drain(spark.sparkContext)
    spark.listenerManager.register(listener)
    try { action; ListenerBusDrain.drain(spark.sparkContext) }
    finally spark.listenerManager.unregister(listener)
    seen.asScala.toSeq
  }

  /** Every physical operator of `plan`, through adaptive plans and their
    * query stages. */
  private def planNodes(plan: SparkPlan): Seq[SparkPlan] = plan match {
    case a: AdaptiveSparkPlanExec => planNodes(a.executedPlan)
    case q: QueryStageExec => planNodes(q.plan)
    case p => p +: p.children.flatMap(planNodes)
  }

  test("plan shape: occ without a window, one aggregate pair in triples, no exchange in canonicalize") {
    val work = java.nio.file.Files.createTempDirectory("graft-plans").toString
    val dict = spark.createDataset(Fixtures.entityDictionary()).toDF()
    val docs = spark.createDataset(Fixtures.inputDocs(20))
    val plans = capturePlans(Pipeline.runAll(spark, docs, dict, work))
    def write(stage: String): Seq[SparkPlan] = {
      val ws = plans.filter(p => planNodes(p).exists {
        case w: DataWritingCommandExec => w.cmd match {
          case i: InsertIntoHadoopFsRelationCommand => i.outputPath.getName == stage
          case _ => false
        }
        case _ => false
      })
      assert(ws.size === 1, s"$stage: ${ws.size} writes")
      planNodes(ws.head)
    }
    val mentions = write("mentions")
    assert(!mentions.exists(_.nodeName.contains("Window")), mentions.map(_.nodeName))
    assert(mentions.count(_.isInstanceOf[ShuffleExchangeExec]) === 1, "only the bucket repartition")
    val triples = write("triples")
    assert(triples.count(_.isInstanceOf[BaseAggregateExec]) === 2, triples.map(_.nodeName))
    val canon = capturePlans(Canonicalize.canonicalize(spark, dict).write.format("noop").mode("overwrite").save())
    assert(canon.nonEmpty)
    assert(!canon.flatMap(planNodes).exists(_.isInstanceOf[ShuffleExchangeExec]),
      canon.map(_.treeString).mkString("\n"))
    def rm(f: java.io.File): Unit = { if (f.isDirectory) f.listFiles.foreach(rm); f.delete() }
    rm(new java.io.File(work))
  }

  test("property: extractMentions numbers occ like sentenceMentions on random BIOSE rows") {
    import graft.schema.{Doc, Morpheme, Sentence, Token}
    val r = new scala.util.Random(17)
    val vocab = Vector("x", "y", "z")
    val atoms = Vector("O", "S-PER", "B-PER", "I-PER", "E-PER", "S-LOC", "B-LOC", "E-LOC", "I-ORG")
    val docs = (0 until 40).map { d =>
      val sents = (0 until 1 + r.nextInt(3)).map { si =>
        val toks = Vector.fill(r.nextInt(14))(vocab(r.nextInt(vocab.size)))
        val labels = Vector.fill(toks.size)(atoms(r.nextInt(atoms.size)))
        Sentence(si.toLong, toks.indices.map { i =>
          Token(toks(i), labels(i), "O", "O", "O",
            Array(Morpheme(toks(i), toks(i), "NN", "_", i + 1, "O", "O")))
        }.toArray)
      }
      Doc(f"doc-$d%03d", Array.empty, sents.toArray)
    }
    val expect = docs.flatMap { d =>
      d.sents.toSeq.flatMap { s =>
        Mentions.sentenceMentions(s.sent_id, s.tokens.map(_.text).toIndexedSeq,
            s.tokens.map(_.nemoSingle).toIndexedSeq, joinChar = " ")
          .map { case (sid, surf, cat, occ) => (d.doc_id, sid, surf, cat, occ) }
      }
    }
    assert(expect.exists(_._5 > 2), "the rows repeat surfaces")
    val got = Pipeline.extractMentions(spark.createDataset(docs).repartition(3), "token-single")
      .select("doc_id", "sent_id", "surface", "category", "occ")
      .as[(String, Long, String, String, Int)].collect().toSeq
    assert(got.sorted === expect.sorted)
  }

  test("runAll accepts an injected model set (non-default registry entry)") {
    // model injection (reference: arbitrary .model/.dset pairs,
    // utils/data.py:342-351): run e2e with the _oov registry variants — same
    // architecture over an OOV-augmented vocabulary, so on the fixture corpus
    // (all tokens in-vocab) the triples must equal the default run's
    val work = java.nio.file.Files.createTempDirectory("graft-oov").toString
    val dict = spark.createDataset(Fixtures.entityDictionary()).toDF()
    val docs = spark.createDataset(Fixtures.inputDocs(15))
    val oovModels = Pipeline.Models(
      Pipeline.fixtureRegistry("token-single_oov"),
      Pipeline.fixtureRegistry("token-multi_oov"),
      Pipeline.fixtureRegistry("morph_oov"),
      Fixtures.lexicon)
    val got = Pipeline.runAll(spark, docs, dict, s"$work/oov", buckets = Some(2),
      resume = false, models = oovModels)
    val default = Pipeline.runAll(spark, docs, dict, s"$work/default", buckets = Some(2),
      resume = false)
    assert(got.count() > 0)
    assert(got.exceptAll(default).count() === 0)
    assert(default.exceptAll(got).count() === 0)
    def rm2(f: java.io.File): Unit = { if (f.isDirectory) f.listFiles.foreach(rm2); f.delete() }
    rm2(new java.io.File(work))
  }

  test("resume with different models or scenario rebuilds instead of serving stale stages") {
    val work = java.nio.file.Files.createTempDirectory("graft-dirty").toString
    val dict = spark.createDataset(Fixtures.entityDictionary()).toDF()
    val docs = spark.createDataset(Fixtures.inputDocs(10))
    def mf(stage: String, field: String): String =
      Option(SparkTestBase.manifestJson(s"$work/$stage").get(field)).filter(_.isTextual)
        .map(_.textValue).getOrElse(fail(s"no $field in $stage manifest"))
    Pipeline.runAll(spark, docs, dict, work, buckets = Some(2))
    val defaultFp = Pipeline.fixtureModels().fingerprint
    assert(mf("docs_labeled", "models_fp") === defaultFp)
    assert(mf("mentions", "scenario") === "morph")
    val t0 = mf("triples", "wall_ms")

    // same models + scenario → true resume, nothing rewritten
    Pipeline.runAll(spark, docs, dict, work, buckets = Some(2))
    assert(mf("triples", "wall_ms") === t0, "clean resume must not rewrite stages")

    // different weights (OOV registry variants) → docs_labeled re-annotates
    // and the dirty chain rewrites everything downstream
    val oov = Pipeline.Models(
      Pipeline.fixtureRegistry("token-single_oov"),
      Pipeline.fixtureRegistry("token-multi_oov"),
      Pipeline.fixtureRegistry("morph_oov"),
      Fixtures.lexicon)
    assert(oov.fingerprint !== defaultFp)
    Pipeline.runAll(spark, docs, dict, work, buckets = Some(2), models = oov)
    assert(mf("docs_labeled", "models_fp") === oov.fingerprint,
      "stale model outputs served on resume with different weights")
    assert(mf("triples", "wall_ms") !== t0, "downstream stages must follow the rebuild")

    // different scenario → mentions (and downstream) rebuild
    val t1 = mf("triples", "wall_ms")
    Thread.sleep(2)
    Pipeline.runAll(spark, docs, dict, work, buckets = Some(2), models = oov,
      scenario = "token-single")
    assert(mf("mentions", "scenario") === "token-single")
    assert(mf("triples", "wall_ms") !== t1)

    // different DICTIONARY → linked/entities/triples rebuild (dict_fp gate)
    val t2 = mf("triples", "wall_ms")
    val labeledT = mf("docs_labeled", "wall_ms")
    Thread.sleep(2)
    val dict2 = dict.limit(dict.count().toInt - 1) // drop one entity
    Pipeline.runAll(spark, docs, dict2, work, buckets = Some(2), models = oov,
      scenario = "token-single")
    assert(mf("triples", "wall_ms") !== t2,
      "stale triples served on resume with a different dictionary")
    assert(mf("docs_labeled", "wall_ms") === labeledT,
      "annotation does not depend on the dict and must be reused")
    def rm3(f: java.io.File): Unit = { if (f.isDirectory) f.listFiles.foreach(rm3); f.delete() }
    rm3(new java.io.File(work))
  }

  test("TableFormat: an empty stage output round-trips via the schema snapshot") {
    val work = java.nio.file.Files.createTempDirectory("graft-empty").toString
    import spark.implicits._
    val empty = Seq.empty[(Long, String)].toDF("doc_id", "note")
    TableFormat.save(empty, work, "doc_id", buckets = 4, stage = "empty")
    assert(TableFormat.isComplete(work)) // manifest written despite zero rows
    val back = TableFormat.load(spark, work)
    assert(back.count() === 0)
    assert(back.columns.toSeq === Seq("doc_id", "note")) // schema from _schema.json
    // and an empty table still joins/unions like any other
    assert(Seq((1L, "x")).toDF("doc_id", "note").join(back, Seq("doc_id"), "left_anti").count() === 1)
    def rm(f: java.io.File): Unit = { if (f.isDirectory) f.listFiles.foreach(rm); f.delete() }
    rm(new java.io.File(work))
  }

  test("TableFormat manifest carries stage metrics beside the lineage counts") {
    val work = java.nio.file.Files.createTempDirectory("graft-metrics").toString
    import spark.implicits._
    TableFormat.save((0L until 100L).map(i => (i, s"v$i")).toDF("doc_id", "v"),
      work, "doc_id", buckets = 4, stage = "m")
    val mf = SparkTestBase.manifestJson(work)
    val metrics = Option(mf.get("metrics")).getOrElse(fail(s"no metrics in $mf"))
    assert(Seq("rows", "files", "bytes", "write_ms").forall(k =>
      Option(metrics.get(k)).exists(_.isIntegralNumber)), s"metrics incomplete: $metrics")
    assert(metrics.get("rows").longValue === 100L)  // rows == lineage total
    assert(metrics.get("files").longValue === 4L)   // one file per bucket
    assert(metrics.get("bytes").longValue > 0L)     // bytes counted
    // lineage counts still present and summing to the same total
    import scala.jdk.CollectionConverters._
    val partRows = mf.get("partition_rows").properties().asScala.toSeq
      .map(_.getValue.longValue).sum
    assert(partRows === 100L)
    def rm(f: java.io.File): Unit = { if (f.isDirectory) f.listFiles.foreach(rm); f.delete() }
    rm(new java.io.File(work))
  }

  test("TableFormat.lookup point-reads exactly one bucket (partition pruning)") {
    val work = java.nio.file.Files.createTempDirectory("graft-lookup").toString
    val docs = spark.createDataset(Fixtures.inputDocs(40)).toDF()
    TableFormat.save(docs, work, "doc_id", buckets = 8)
    val hit = TableFormat.lookup(spark, work, "doc_id", "doc-000007")
    assert(hit.count() === 1)
    // bucket-aligned write: exactly one parquet file per bucket directory
    def parquetFiles(f: java.io.File): Int =
      if (f.isDirectory) f.listFiles.map(parquetFiles).sum
      else if (f.getName.endsWith(".parquet")) 1 else 0
    assert(parquetFiles(new java.io.File(work)) === 8,
      "small-files regression: expected one file per bucket")
    // the physical plan must prune to ONE bucket directory
    val plan = hit.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters"), plan.take(500))
    val pruned = spark.read.parquet(work)
      .filter(col(TableFormat.BucketCol) === TableFormat.bucketOf("doc-000007", 8))
    val bucketRows = pruned.count()
    assert(bucketRows < 40, s"bucket holds $bucketRows of 40 — pruning would be pointless")
    // wrong-bucket key is absent without scanning others
    assert(TableFormat.lookup(spark, work, "doc_id", "doc-999999").count() === 0)
    def rm(f: java.io.File): Unit = { if (f.isDirectory) f.listFiles.foreach(rm); f.delete() }
    rm(new java.io.File(work))
  }

  test("BucketPrune rule: plain key-equality filters prune to one bucket automatically") {
    import graft.plans.BucketPrune
    if (!spark.experimental.extraOptimizations.contains(BucketPrune))
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations :+ BucketPrune
    val work = java.nio.file.Files.createTempDirectory("graft-bprune").toString
    val docs = spark.createDataset(Fixtures.inputDocs(40)).toDF()
    TableFormat.save(docs, work, "doc_id", buckets = 8)
    // NO hand-written bucket predicate — the rule reads the manifest's
    // (bucket_key, buckets) and conjoins part_bucket = xxhash64(lit) % 8
    val q = TableFormat.load(spark, work).filter(col("doc_id") === "doc-000007")
    val plan = q.queryExecution.executedPlan.toString
    // the scan's PartitionFilters must actually CARRY the bucket predicate
    // (an unpruned partitioned scan still prints "PartitionFilters: []")
    assert(s"PartitionFilters: \\[[^\\]]*${TableFormat.BucketCol}".r
      .findFirstIn(plan).isDefined, plan.take(600))
    assert(q.count() === 1)
    assert(q.select("doc_id").as[String].head() === "doc-000007")
    // parity with the hand-pruned lookup path
    assert(TableFormat.lookup(spark, work, "doc_id", "doc-000007")
      .select("doc_id").as[String].collect().toSeq ===
      q.select("doc_id").as[String].collect().toSeq)
    // a manifest without bucket metadata (pre-rule table): rule no-ops, scan
    // stays correct and unpruned
    val mf = java.nio.file.Paths.get(work, "_manifest.json")
    java.nio.file.Files.writeString(mf, java.nio.file.Files.readString(mf)
      .replace("\"bucket_key\"", "\"old_key\""))
    BucketPrune.clearMetaCacheForTest()
    // the injected predicate renders as "part_bucket#NN = B" in the Filter
    def bucketPred(df: org.apache.spark.sql.DataFrame): Boolean =
      s"${TableFormat.BucketCol}#\\d+ = \\d+".r
        .findFirstIn(df.queryExecution.optimizedPlan.toString).isDefined
    val q2 = TableFormat.load(spark, work).filter(col("doc_id") === "doc-000007")
    assert(q2.count() === 1)
    assert(!bucketPred(q2), "rule fired without manifest metadata")
    // range predicates never fire the rule
    val q3 = TableFormat.load(spark, work).filter(col("doc_id") < "doc-000005")
    assert(!bucketPred(q3))
    assert(q3.count() === 5)
    def rm(f: java.io.File): Unit = { if (f.isDirectory) f.listFiles.foreach(rm); f.delete() }
    rm(new java.io.File(work))
  }

  test("triples carry all five predicates with consistent subjects") {
    val mentions = Pipeline.extractMentions(annotated, "morph")
    val dict = spark.createDataset(Fixtures.entityDictionary()).toDF()
    val linked = Linker.link(mentions, dict)
    val entities = Canonicalize.canonicalize(spark, dict)
    val withCanon = linked.join(broadcast(entities.select(col("entity_id"), col("canonical_id"))), Seq("entity_id"))
    val triples = graft.kg.Triples.fromLinkedMentions(withCanon).cache()
    val preds = triples.select("pred").distinct().as[String].collect().toSet
    assert(Set("mentions", "inDoc", "label", "category", "sameAs").subsetOf(preds))
    assert(triples.filter(!col("subj").startsWith("ent:")).count() === 0)
  }

  test("per-token memoized lattice->prune->MD chain equals the sentence-level chain (both pruning modes)") {
    // annotateDoc now computes morpheme forms per TOKEN through
    // Models.formsCacheP/U; this recomputes every fixture sentence through the
    // original whole-sentence chain and demands identical forms per token
    import graft.lattice.{Analyzer, Prune, Disambig}
    import scala.collection.immutable.ArraySeq
    val m = Pipeline.fixtureModels()
    val lex: String => Boolean = m.lexicon.contains _
    for (usePruning <- Seq(true, false); i <- 0 until 40) {
      val fd = Fixtures.doc(i)
      val doc = Pipeline.annotateDoc(m, lex, graft.schema.InputDoc(fd.docId, fd.spans.toArray), usePruning)
      for (sent <- doc.sents) {
        val toks = sent.tokens.map(_.text).toIndexedSeq
        val multi = sent.tokens.map(_.nemoMulti).toIndexedSeq
        // skip unscored sentences (annotateDoc's B3 fallback never runs the lattice)
        if (toks.nonEmpty && toks.length < m.maxSentenceLength) {
          val lattice = Analyzer.sentenceLattice(toks, lex).toIndexedSeq
          val pruned = if (usePruning) Prune.pruneSentence(lattice, multi, nonOOnly = false) else lattice
          val md = Disambig.disambiguate(pruned, lex)
          val byTid = md.groupBy(_.tokenId)
          val expected = toks.indices.map { t =>
            byTid.get(t + 1).map(_.map(_.form).toSeq).getOrElse(Seq(toks(t)))
          }
          val got = sent.tokens.map(_.morphs.map(_.form).toSeq).toIndexedSeq
          assert(got === expected, s"doc=${fd.docId} sent=${sent.sent_id} usePruning=$usePruning")
        }
      }
    }
  }

  test("lexicon loaders: table-backed set equals inline set; bloom admits all members") {
    import graft.lattice.Analyzer
    val forms = Seq("גדנק", "צצצ", "שלום")
    val tab = forms.toDF("form")
    val exact = Analyzer.lexiconFromTable(tab, "form")
    forms.foreach(f => assert(exact(f), f))
    assert(!exact("בבב"))
    // a table-backed lexicon drives the analyzer identically to an inline set
    val inline = forms.toSet
    val toks = IndexedSeq("בגדנק", "בצצצ", "בבבב")
    assert(Analyzer.sentenceLattice(toks, exact).toSeq ===
      Analyzer.sentenceLattice(toks, inline.contains _).toSeq)
    // bloom: never a false negative (members always admitted); FPs only ADD
    // lattice readings — the safe degrade direction documented on the loader
    val bloom = Analyzer.lexiconBloom(tab, "form", expectedForms = 100L)
    forms.foreach(f => assert(bloom(f), s"bloom dropped member $f"))
    val exactEdges = Analyzer.sentenceLattice(toks, exact)
    val bloomEdges = Analyzer.sentenceLattice(toks, bloom)
    assert(exactEdges.map(_.form).toSet.subsetOf(bloomEdges.map(_.form).toSet))
    // Models.lexiconExt: the loaders' broadcast hook — lexPredicate is the
    // OR of the exact core set and the extension, and is what annotate ships
    val m0 = Pipeline.fixtureModels()
    val ext = m0.copy(lexiconExt = Some(exact))
    forms.foreach(f => assert(ext.lexPredicate(f), f))
    m0.lexicon.take(5).foreach(f => assert(ext.lexPredicate(f), f))
    assert(!ext.lexPredicate("בבב") || m0.lexicon("בבב"))
    assert(m0.lexPredicate eq m0.lexicon) // no-ext case adds no indirection
  }
}
