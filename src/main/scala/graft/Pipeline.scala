package graft

import graft.schema._
import graft.text.HebTokenizer
import graft.label.Biose
import graft.lattice.{Analyzer, Prune, Disambig}
import graft.ner.{NerModel, Scorer}
import graft.align.Align
import graft.kg.{Linker, Canonicalize, Triples}
import graft.io.TableFormat
import graft.fixtures.Fixtures

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** End-to-end KG-construction pipeline (SURVEY §2 G1-G7, §3.1 lifecycle).
  *
  * One narrow `mapPartitions` stage annotates documents (tokenize → token-multi
  * NER → lattice → prune → MD → morph NER → alignments — the reference's whole
  * morph_hybrid trace, nemo.py:315-373, with zero process boundaries); the
  * first shuffle appears only at mention→entity linking (broadcast ⇒ none) and
  * in the canonicalization loop. Media spans ride along as typed struct
  * passengers — never exploded, never touched.
  *
  * Stage boundaries (§7.6): docs_labeled → mentions → linked → entities →
  * triples; each is an idempotent bucketed-Parquet write with a manifest, so
  * `runAll` is checkpoint-resumable.
  */
object Pipeline {

  /** All broadcastable model state for one run.
    *
    * `lexiconExt` is the hook for the wide-coverage lexicon LOADERS
    * ([[graft.lattice.Analyzer.lexiconFromTable]] /
    * [[graft.lattice.Analyzer.lexiconBloom]]): an extra membership
    * predicate OR-ed with the enumerable core set by [[lexPredicate]], so a
    * table-backed or bloom-backed lexicon ships once per executor inside
    * the same annotate `mapPartitions` broadcast as the NER weights instead
    * of being re-serialized into every task closure. Excluded from
    * [[fingerprint]] (a predicate is not enumerable) — callers swapping
    * `lexiconExt` between resumed runs must version the backing table
    * themselves (or fold small lexicons into the exact `lexicon` set, which
    * IS fingerprinted). */
  final case class Models(
      single: NerModel,
      multi: NerModel,
      morph: NerModel,
      lexicon: Set[String],
      maxSentenceLength: Int = 250,
      lexiconExt: Option[String => Boolean] = None) {

    /** The membership predicate the annotate path uses: the exact core set,
      * extended by [[lexiconExt]] when present. A `Set[String]` is already a
      * `String => Boolean`, so the no-ext case adds no indirection. */
    def lexPredicate: String => Boolean = lexiconExt match {
      case Some(ext) => s => lexicon(s) || ext(s)
      case None      => lexicon
    }

    /** Per-executor memo of the per-token lattice→prune→MD chain
      * ([[Pipeline.tokenForms]]). The chain is a pure function of
      * (token, multi label, lexicon) — every stage is token-local and
      * shift-invariant in node ids — and corpora are Zipf-distributed, so
      * post-warmup hits skip the whole lattice build + DFS + DP (it was ~25%
      * of the annotate kernel's allocation — tools/AllocProbe/JFR).
      * Two-level (token → label → forms) for the pruned path so a hit
      * allocates NOTHING (the earlier single map built a composite key
      * string per lookup — itself ~4% of kernel churn); inner maps are
      * label-space-small. Values are written once and treated as immutable.
      * @transient: rebuilt empty per executor after broadcast. */
    @transient lazy val formsCacheP: java.util.concurrent.ConcurrentHashMap[
        String, java.util.concurrent.ConcurrentHashMap[String, Array[String]]] =
      new java.util.concurrent.ConcurrentHashMap(1 << 12)

    /** Unpruned-path twin of [[formsCacheP]] (key = token only — the chain
      * never sees the label when pruning is off). */
    @transient lazy val formsCacheU: java.util.concurrent.ConcurrentHashMap[String, Array[String]] =
      new java.util.concurrent.ConcurrentHashMap[String, Array[String]](1 << 12)

    /** Content fingerprint over every weight tensor + config + lexicon.
      * Stage manifests record it, so `runAll(resume = true)` against a
      * workDir built with DIFFERENT weights rebuilds from annotation instead
      * of silently serving the old model's outputs. */
    lazy val fingerprint: String = {
      val md = java.security.MessageDigest.getInstance("MD5")
      val buf = java.nio.ByteBuffer.allocate(4)
      def f(x: Float): Unit = {
        buf.clear(); buf.putFloat(x); md.update(buf.array(), 0, 4)
      }
      def v(a: Array[Float]): Unit = a.foreach(f)
      def m2(a: Array[Array[Float]]): Unit = a.foreach(v)
      def m3(a: Array[Array[Array[Float]]]): Unit = a.foreach(m2)
      def cell(c: graft.ner.LstmCellWeights): Unit = { m2(c.wi); m2(c.wh); v(c.b) }
      Seq(single, multi, morph).foreach { m =>
        md.update(m.config.toString.getBytes("UTF-8"))
        m2(m.wordEmb); m2(m.charEmb); m3(m.charCnnW); v(m.charCnnB)
        m.charLstm.foreach(_.foreach(cell))
        m.lstm.foreach(_.foreach(cell))
        m3(m.cnnW); v(m.cnnB)
        m2(m.hidden2tag); v(m.hidden2tagB); m2(m.transitions)
      }
      // 0x00 separator per entry: without it {"ab","c"} and {"a","bc"}
      // would feed identical bytes and collide, defeating the resume guard
      lexicon.toSeq.sorted.foreach { s =>
        md.update(s.getBytes("UTF-8")); md.update(0.toByte)
      }
      md.update(maxSentenceLength.toString.getBytes("UTF-8"))
      md.digest().map(b => f"$b%02x").mkString
    }
  }

  /** Which multi model the hybrid pipeline uses (reference config.py:20
    * MULTI_MODEL_FOR_HYBRID). */
  val MultiModelForHybrid = "token-multi"

  /** Model registry mirroring the reference's MODEL_PATHS (config.py:5-19):
    * 3 modes × {standard, `_oov`}. The reference's _oov variants are the same
    * architecture trained with OOV-token augmentation; here each _oov model is
    * synthesized over the oracle vocabulary augmented with an OOV probe entry,
    * so the six registry names resolve to six distinct, decodable models. */
  lazy val fixtureRegistry: Map[String, NerModel] = {
    val (s, m, mo) = Fixtures.oracleVocab(0)
    def oov(v: Map[String, String]) = v + ("שששoov" -> "O")
    Map(
      "token-single" -> NerModel.synthesizeOracle("token-single", s, s.values.toSeq.distinct),
      "token-single_oov" -> NerModel.synthesizeOracle("token-single", oov(s), s.values.toSeq.distinct),
      "token-multi" -> NerModel.synthesizeOracle("token-multi", m, m.values.toSeq.distinct),
      "token-multi_oov" -> NerModel.synthesizeOracle("token-multi", oov(m), m.values.toSeq.distinct),
      "morph" -> NerModel.synthesizeOracle("morph", mo, mo.values.toSeq.distinct),
      "morph_oov" -> NerModel.synthesizeOracle("morph", oov(mo), mo.values.toSeq.distinct))
  }

  /** Oracle models over the fixture gazetteer (FIXTURES.md §5). */
  def fixtureModels(): Models =
    Models(
      fixtureRegistry("token-single"),
      fixtureRegistry(MultiModelForHybrid),
      fixtureRegistry("morph"),
      Fixtures.lexicon)

  // ---------- G1-G6: document annotation (one mapPartitions) ----------

  /** The per-token D1→D2/D3→D4 chain (lattice construction → multi-label
    * pruning → MD Viterbi), memoized in [[Models.formsCacheP]]/[[Models.formsCacheU]]. Single-token
    * equivalence with the sentence-level chain: Analyzer emits each token's
    * sub-DAG between its own start/end nodes, pruneSentence and disambiguate
    * both iterate contiguous tokenId runs independently, and every step is
    * invariant under a uniform node-id offset (validEdgesForToken works on
    * relative (id1,id2) pairs; bestPath's topological DP sorts stably by id1).
    */
  private def tokenForms(m: Models, lex: String => Boolean, token: String,
                         multiLabel: String, usePruning: Boolean): Array[String] = {
    // two-level lookup (token → label → forms): a hit allocates nothing
    var inner: java.util.concurrent.ConcurrentHashMap[String, Array[String]] = null
    if (usePruning) {
      inner = m.formsCacheP.get(token)
      if (inner == null) {
        if (m.formsCacheP.size < (1 << 20)) {
          m.formsCacheP.putIfAbsent(token,
            new java.util.concurrent.ConcurrentHashMap[String, Array[String]](2))
          inner = m.formsCacheP.get(token)
        }
      }
      if (inner != null) {
        val hit = inner.get(multiLabel)
        if (hit != null) return hit
      }
    } else {
      val hit = m.formsCacheU.get(token)
      if (hit != null) return hit
    }
    val lattice = Analyzer.sentenceLattice(IndexedSeq(token), lex).toIndexedSeq
    val pruned =
      if (usePruning) Prune.pruneSentence(lattice, IndexedSeq(multiLabel), nonOOnly = false)
      else lattice
    val md = Disambig.disambiguate(pruned, lex)
    val forms =
      if (md.isEmpty) Array(token)
      else {
        val a = new Array[String](md.length)
        var i = 0
        while (i < md.length) { a(i) = md(i).form; i += 1 }
        a
      }
    if (usePruning) { if (inner != null) inner.put(multiLabel, forms) }
    else if (m.formsCacheU.size < (1 << 20)) m.formsCacheU.put(token, forms)
    forms
  }

  /** Per-doc annotation body — pure function (broadcast value in, Doc out),
    * shared by the batch/streaming mapPartitions stages, the tests, and the
    * no-Spark profiling loop.
    *
    * `usePruning = true` is the hybrid path (G4/G5/G6: token-multi output
    * prunes the MD search space, the paper's headline idea); `false` is the
    * morph_yap path (G3: MD over the raw ambiguous lattice, nemo.py:278-312).
    */
  def annotateDoc(m: Models, lex: String => Boolean, in: InputDoc,
                  usePruning: Boolean = true,
                  preTokenized: Array[Array[String]] = null): Doc = {
    // Imperative assembly throughout: this is the engine's hot path, and the
    // idiomatic Range.map/zip/flatten glue allocated more (Vector builders,
    // boxed indices) than the neural scorer computed — at 32 threads that
    // allocation traffic is the memory-bandwidth contention that caps scaling
    // (measured: tools/ThreadProbe + JFR). Semantics identical; the golden
    // tests and the 36 driver oracles gate every change here.
    import scala.collection.immutable.ArraySeq
    val textSpans = in.spans.filter(_.kind == "text")
    val nSents = textSpans.length
    val tokArrs = new Array[Array[String]](nSents)
    var si = 0
    // preTokenized (serving path, reference `tokenized=True` — api_main.py:85):
    // the request already carries token boundaries; re-tokenizing would merge
    // or re-split them (punctuation), so the caller's split is authoritative
    while (si < nSents) {
      tokArrs(si) =
        if (preTokenized != null) preTokenized(si)
        else HebTokenizer.tokenize(textSpans(si).text).toArray
      si += 1
    }
    // B3 semantic filter: empty / over-long sentences are not scored (ref
    // drops them; we keep the tokens with O labels so passengers stay intact)
    val batchPos = new Array[Int](nSents) // sentence idx → batch slot, -1 = unscored
    val scoreIdx = {
      val b = new Array[Int](nSents)
      var k = 0; var i = 0
      while (i < nSents) {
        val len = tokArrs(i).length
        if (len > 0 && len < m.maxSentenceLength) { b(k) = i; batchPos(i) = k; k += 1 }
        else batchPos(i) = -1
        i += 1
      }
      java.util.Arrays.copyOf(b, k)
    }
    // G1: the F1 batch machinery (desc-length sort → score → recover order) IS
    // the production path — all scoreable sentences of a doc decode as ONE
    // batch per model, not one call per sentence.
    val batchToks: IndexedSeq[IndexedSeq[String]] = {
      val a = new Array[IndexedSeq[String]](scoreIdx.length)
      var i = 0
      while (i < scoreIdx.length) { a(i) = ArraySeq.unsafeWrapArray(tokArrs(scoreIdx(i))); i += 1 }
      ArraySeq.unsafeWrapArray(a)
    }
    val singleB = Scorer.decodeBatch(m.single, batchToks)
    val multiB = Scorer.decodeBatch(m.multi, batchToks)
    // D1 lattice → (D2/D3 prune with multi labels, hybrid only) → D4 MD,
    // per sentence; morph forms grouped per token (C7/C8)
    val formsPerSent = new Array[Array[Array[String]]](scoreIdx.length)
    val morphFlats = new Array[IndexedSeq[String]](scoreIdx.length)
    var bi = 0
    while (bi < scoreIdx.length) {
      val toks = tokArrs(scoreIdx(bi))
      val multi = multiB(bi)
      // per-TOKEN lattice→prune→MD via the Models.formsCacheP/U memo: every
      // stage of the chain is token-local (pruneSentence/disambiguate walk
      // contiguous tokenId runs) and shift-invariant in node ids, so the
      // sentence-level chain ≡ the per-token chain (pinned by PipelineSpec
      // goldens + the six nemo_* oracles)
      val forms = new Array[Array[String]](toks.length)
      var nFlat = 0
      var i = 0
      while (i < toks.length) {
        val label = if (i < multi.length) multi(i) else "O"
        forms(i) = tokenForms(m, lex, toks(i), label, usePruning)
        nFlat += forms(i).length
        i += 1
      }
      formsPerSent(bi) = forms
      val flat = new Array[String](nFlat)
      var off = 0; i = 0
      while (i < forms.length) {
        System.arraycopy(forms(i), 0, flat, off, forms(i).length); off += forms(i).length; i += 1
      }
      morphFlats(bi) = ArraySeq.unsafeWrapArray(flat)
      bi += 1
    }
    // G4 second NER run on predicted morphemes — again one batch per doc
    val morphB = Scorer.decodeBatch(m.morph, ArraySeq.unsafeWrapArray(morphFlats))
    val sents = new Array[Sentence](nSents)
    var idx = 0
    while (idx < nSents) {
      val toks = tokArrs(idx)
      val slot = batchPos(idx)
      if (slot < 0) {
        val tokens = new Array[Token](toks.length)
        var i = 0
        while (i < toks.length) {
          val t = toks(i)
          // tokenId is 1-BASED everywhere (C7/C8 grouping, dep heads) —
          // the unscored fallback must not collapse a sentence onto token 0
          tokens(i) = Token(t, "O", "O", "O", "O", Array(Morpheme(t, t, "NN", "_", i + 1, "O", "O")))
          i += 1
        }
        sents(idx) = Sentence(idx.toLong, tokens)
      } else {
        val single = singleB(slot)
        val multi = multiB(slot)
        val formsPerTok = formsPerSent(slot)
        val morphLabels = morphB(slot)
        // A11/C10: arc-standard dependency parse over the sentence's
        // morpheme sequence; (head, deprel) zip positionally onto morphemes
        val nFlat = morphFlats(slot).length
        val flatPos = {
          val a = new Array[String](nFlat)
          var off = 0; var i = 0
          while (i < formsPerTok.length) {
            val len = formsPerTok(i).length
            var j = 0
            while (j < len) { a(off + j) = if (j < len - 1) "IN" else "NN"; j += 1 }
            off += len; i += 1
          }
          ArraySeq.unsafeWrapArray(a)
        }
        // heads+rels only — the assembly reads nothing else from the parse
        // (full DepNodes copied form/lemma/xpos per morpheme: ~6% of churn)
        val (depHeads, depRels) = graft.lattice.DepParser.parseHeadsRels(flatPos)
        val tokens = new Array[Token](toks.length)
        var off = 0
        var i = 0
        while (i < toks.length) {
          val forms = formsPerTok(i)
          val len = forms.length
          // G5 multi_align_hybrid: soft-merge multi atoms onto morphemes (C4)
          // — label side only, memoized (length forms.length in every branch)
          val alignLabs = Align.softMergeLabels(len, multi(i))
          val morphs = new Array[Morpheme](len)
          var j = 0
          while (j < len) {
            morphs(j) = Morpheme(forms(j), forms(j), if (j < len - 1) "IN" else "NN", "_",
              i + 1,
              nemoMorph = morphLabels(off + j),
              nemoMultiAlignMorph = alignLabs(j),
              head = depHeads(off + j + 1), deprel = depRels(off + j + 1))
            j += 1
          }
          tokens(i) = Token(
            text = toks(i),
            nemoSingle = single(i),
            nemoMulti = multi(i),
            nemoMultiAlignToken = Biose.fixMultiBiose(multi(i)),       // G2/B5
            // G6/C6: fixed token label over this token's slice of the flat
            // morph labels — no per-token array materialization
            nemoMorphAlignToken = Align.fixedTokenLabelSlice(morphLabels, off, len),
            morphs = morphs)
          off += len
          i += 1
        }
        sents(idx) = Sentence(idx.toLong, tokens)
      }
      idx += 1
    }
    Doc(in.doc_id, in.spans, sents)
  }

  /** Annotate documents with all scenario label layers. Narrow (no shuffle). */
  def annotate(spark: SparkSession, docs: Dataset[InputDoc], models: Broadcast[Models],
               usePruning: Boolean = true): Dataset[Doc] = {
    import spark.implicits._
    docs.mapPartitions { it =>
      val m = models.value
      val lex = m.lexPredicate // core set ∪ lexiconExt, all from the broadcast
      it.map(in => annotateDoc(m, lex, in, usePruning))
    }
  }

  // ---------- E1/E2/E6: mention extraction ----------

  /** Scenario → (token texts, labels) extraction expressed as Catalyst
    * higher-order functions over the nested Doc struct; the per-sentence BIOSE
    * scan is the one UDF. level: token | morph.
    *
    * The scan also numbers `occ`, the occurrence index of (surface,
    * category) within the sentence in span order, with the counter the gold
    * side uses ([[graft.eval.Mentions.occurrences]]). A sentence is one row,
    * so the index needs no window, and the plan stays narrow: no shuffle and
    * no sort. */
  def extractMentions(docs: Dataset[Doc], scenario: String): DataFrame = {
    val scanUdf = udf { (toks: Seq[String], labels: Seq[String]) =>
      val spans = Biose.parseSpans(labels.toIndexedSeq)
      val ments = spans.map(s => (toks.slice(s.start, s.end).mkString(" "), s.label))
      spans.lazyZip(ments).lazyZip(graft.eval.Mentions.occurrences(ments)).map {
        case (s, (surface, cat), occ) => (surface, cat, s.start, s.end, occ)
      }
    }
    val s = docs.toDF()
      .select(col("doc_id"), explode(col("sents")).as("sent"))
      .select(col("doc_id"), col("sent.sent_id").as("sent_id"), col("sent.tokens").as("tokens"))
    val (toksCol, labelsCol) = scenario match {
      case "token-single" =>
        (expr("transform(tokens, t -> t.text)"), expr("transform(tokens, t -> t.nemoSingle)"))
      case "multi-align-token" =>
        (expr("transform(tokens, t -> t.text)"), expr("transform(tokens, t -> t.nemoMultiAlignToken)"))
      case "morph-align-token" =>
        (expr("transform(tokens, t -> t.text)"), expr("transform(tokens, t -> t.nemoMorphAlignToken)"))
      case "morph" =>
        (expr("flatten(transform(tokens, t -> transform(t.morphs, m -> m.form)))"),
         expr("flatten(transform(tokens, t -> transform(t.morphs, m -> m.nemoMorph)))"))
      case "multi-align-morph" =>
        (expr("flatten(transform(tokens, t -> transform(t.morphs, m -> m.form)))"),
         expr("flatten(transform(tokens, t -> transform(t.morphs, m -> m.nemoMultiAlignMorph)))"))
      case other => throw new IllegalArgumentException(s"unknown scenario: $other")
    }
    s.withColumn("ment", explode(scanUdf(toksCol, labelsCol)))
      .select(col("doc_id"), col("sent_id"),
        col("ment._1").as("surface"), col("ment._2").as("category"),
        col("ment._3").as("start"), col("ment._4").as("end"),
        lit(if (scenario.contains("morph") && !scenario.endsWith("token")) "morph" else "token").as("level"),
        lit(scenario).as("scenario"), col("ment._5").as("occ"))
  }

  // ---------- G7: full run with checkpointed stages ----------

  final case class StagePaths(root: String) {
    val docsLabeled = s"$root/docs_labeled"
    val mentions = s"$root/mentions"
    val linked = s"$root/linked"
    val entities = s"$root/entities"
    val triples = s"$root/triples"
  }

  /** Run the whole pipeline with checkpoint-resume: a stage whose manifest is
    * already complete is loaded, not recomputed. Returns the triples DF.
    *
    * `models` injects the NER/MD model set — a user brings real weights (the
    * reference loads arbitrary .model/.dset pairs, utils/data.py:342-351,
    * api_main.py:53-70) by constructing a [[Models]] (e.g. from NerModel
    * loaders or [[fixtureRegistry]] entries); the default is the fixture set.
    *
    * `buckets` fixes every stage's bucket count. Without it each stage is
    * sized by its input: ceil(input bytes / `spark.sql.files.maxPartitionBytes`)
    * buckets, clamped to [1, 1024]. A stage fed by an earlier one reads that
    * stage's exact manifest `bytes`; the two fed by the caller (`docs`,
    * `dict`) use the optimizer's size estimate of that input. No join's
    * estimate is used: it can be far larger than the data. `docs` the
    * optimizer cannot size, such as an RDD-backed Dataset, reports
    * `spark.sql.defaultSizeInBytes`; docs_labeled then gets one bucket per
    * partition of `docs`, under the same clamp. */
  def runAll(
      spark: SparkSession,
      docs: Dataset[InputDoc],
      dict: DataFrame,
      workDir: String,
      scenario: String = "morph",
      buckets: Option[Int] = None,
      resume: Boolean = true,
      models: Models = fixtureModels()): DataFrame = {
    import spark.implicits._
    val paths = StagePaths(workDir)
    val modelsBc = spark.sparkContext.broadcast(models)
    val fp = models.fingerprint

    // DIRTY CHAIN (same contract as Curate.runAll): once any stage rebuilds,
    // every downstream stage rebuilds too — a manifest only proves a stage is
    // current w.r.t. the inputs it was built from. The docs_labeled manifest
    // additionally records the model fingerprint: resuming with DIFFERENT
    // injected weights must re-annotate, not serve the old model's outputs.
    // A stage is reused only when its manifest records `field = value`, the
    // input it must have been built from.
    var dirty = false
    def stage(path: String, field: String, value: String)(build: => Unit): Unit =
      if (dirty || !(resume && TableFormat.isComplete(path) &&
          TableFormat.readManifest(path).fields.get(field).contains(value))) {
        build; dirty = true
      }
    // dictionary content fingerprint — linked/entities/triples are functions
    // of the dict, so resuming with a DIFFERENT dictionary must rebuild them
    // (same contract as models_fp).
    val dictFp = dictFingerprint(dict)
    val maxBytes = spark.sessionState.conf.filesMaxPartitionBytes
    def sized(inputBytes: => Long): Int =
      buckets.getOrElse(TableFormat.adaptiveBuckets(inputBytes, maxBytes))
    def planBytes(in: Dataset[_]): Long =
      in.queryExecution.optimizedPlan.stats.sizeInBytes.min(Long.MaxValue).toLong
    // docs the optimizer cannot size: one bucket per input partition
    def docsBuckets: Int = buckets.getOrElse {
      val bytes = planBytes(docs)
      if (bytes != spark.sessionState.conf.defaultSizeInBytes) TableFormat.adaptiveBuckets(bytes, maxBytes)
      else TableFormat.adaptiveBuckets(docs.rdd.getNumPartitions.toLong, 1L)
    }
    def tableBytes(stages: String*): Long = stages.map(TableFormat.readManifest(_).bytes).sum

    // (a) docs_labeled — model-dependent: fingerprint gates the resume
    stage(paths.docsLabeled, "models_fp", fp) {
      val annotated = annotate(spark, docs, modelsBc)
      TableFormat.save(annotated.toDF(), paths.docsLabeled, "doc_id", docsBuckets,
        "docs_labeled", extra = Map("models_fp" -> fp))
    }
    val labeled = TableFormat.load(spark, paths.docsLabeled).as[Doc]

    // (b) mentions — scenario-dependent: a resume with a different scenario
    // must re-extract, not serve the previous scenario's spans
    stage(paths.mentions, "scenario", scenario) {
      TableFormat.save(extractMentions(labeled, scenario), paths.mentions, "doc_id",
        sized(tableBytes(paths.docsLabeled)),
        "mentions", extra = Map("scenario" -> scenario))
    }
    val mentions = TableFormat.load(spark, paths.mentions)

    // (c) linked (broadcast join — shuffle-free); dict-fingerprint-gated
    stage(paths.linked, "dict_fp", dictFp) {
      TableFormat.save(Linker.link(mentions, dict), paths.linked, "doc_id",
        sized(tableBytes(paths.mentions)),
        "linked", extra = Map("dict_fp" -> dictFp))
    }
    val linked = TableFormat.load(spark, paths.linked)

    // (d) canonical entities (dict-only input, but kept on the linear dirty
    // chain — an unnecessary rebuild is cheap and the invariant stays simple)
    stage(paths.entities, "dict_fp", dictFp) {
      TableFormat.save(Canonicalize.canonicalize(spark, dict), paths.entities, "entity_id",
        sized(planBytes(dict)),
        "entities", extra = Map("dict_fp" -> dictFp))
    }
    val entities = TableFormat.load(spark, paths.entities)

    // (e) triples
    if (dirty || !(resume && TableFormat.isComplete(paths.triples))) {
      TableFormat.save(Triples.fromLinkedMentions(Canonicalize.withCanonical(linked, entities)),
        paths.triples, "doc_id", sized(tableBytes(paths.linked, paths.entities)), "triples")
    }
    TableFormat.load(spark, paths.triples)
  }

  // ---------- G7 incremental: snapshot-append delta batches ----------

  /** Order-independent dictionary content fingerprint: one cheap aggregate
    * regardless of dict size (sum of per-row xxhash64 in DECIMAL — a long Σ
    * of 64-bit hashes overflows, and ANSI mode would throw mid-job). */
  private def dictFingerprint(dict: DataFrame): String = {
    val r = dict
      .select(xxhash64(dict.columns.map(col): _*).as("h"))
      .agg(sum(col("h").cast("decimal(38,0)")).as("s"), count(lit(1)).as("n")).head()
    s"${r.get(0)}_${r.getLong(1)}"
  }

  /** How the entity dictionary changed since the previous
    * [[runIncremental]] batch: `rows` are exactly the dictionary rows added
    * or removed. */
  sealed trait DictChange
  object DictChange {
    final case class Added(rows: DataFrame) extends DictChange
    final case class Removed(rows: DataFrame) extends DictChange
  }

  /** Incremental KG maintenance: process ONE new batch of documents and
    * append its outputs to every stage table, without touching (or even
    * reading) the rows of previous batches. At 10^12 docs this is the only
    * runnable shape — a full `runAll` re-annotation per ingest is off the
    * table, so each stage table is a [[graft.io.Snapshots]] log and a batch
    * is one `append` snapshot per stage.
    *
    * Exactness (the invariant IncrementalSpec + the `nemo_triples_incr`
    * oracle check): every stage is per-doc (annotate, mentions, occ-index)
    * or per-mention-vs-static-dict (link, canonical join), and the
    * `distinct()` in [[Triples.fromLinkedMentions]] carries `doc_id` — so for
    * batches that PARTITION the doc set, the union of per-batch outputs is
    * row-identical to one full-batch run. The one global structure,
    * canonicalization, is dict-only: it is committed once (snapshot 1 of
    * `entities`) and reused; a dictionary that changed since the last batch
    * is folded in first, through `dictChange` (see [[foldDictChange]]).
    *
    * Exactly-once per batch: `batchId` names each stage snapshot (its
    * `stage` field). A re-run with the same batchId skips every stage that
    * already committed — same idempotent contract as the streaming epochs,
    * which makes the whole thing checkpoint-resumable mid-batch: crash after
    * the mentions commit resumes at linking, reading the mentions DELTA back
    * from the snapshot log ([[graft.io.Snapshots.changes]]), not from memory.
    *
    * Returns the FULL triples table (all batches) as of this batch. */
  def runIncremental(
      spark: SparkSession,
      deltaDocs: Dataset[InputDoc],
      dict: DataFrame,
      workDir: String,
      batchId: String,
      buckets: Int,
      scenario: String = "morph",
      models: Models = fixtureModels(),
      dictChange: Option[DictChange] = None): DataFrame = {
    import graft.io.Snapshots
    import spark.implicits._
    val paths = StagePaths(workDir)
    val modelsBc = spark.sparkContext.broadcast(models)

    def committed(table: String): Boolean =
      Snapshots.snapshots(table).exists(_.stage == batchId)
    // this batch's rows of a stage table: the incremental scan from the
    // batch snapshot's parent — resumable (re-readable after a crash) and
    // never touching other batches' data dirs
    def deltaOf(table: String): DataFrame = {
      val snap = Snapshots.snapshots(table).find(_.stage == batchId)
        .getOrElse(throw new IllegalStateException(s"batch $batchId not committed in $table"))
      if (snap.parentId == 0L) Snapshots.load(spark, table, asOf = Some(snap.id))
      else Snapshots.changes(spark, table, snap.parentId, Some(snap.id))
    }

    val dictFp = dictFingerprint(dict)
    dictChange.foreach(foldDictChange(spark, _, dict, dictFp, paths, batchId, buckets))

    // (0) entities — dict-only, committed once under the dict's content
    // fingerprint. The static-dict contract is ENFORCED, not assumed: a later
    // batch arriving with a different dictionary would silently link against
    // stale canonical ids (and the already-emitted triples of prior batches
    // would be stale too — append-only cannot express that rewrite), so it
    // fails loudly with the recovery options instead.
    Snapshots.current(paths.entities) match {
      case None =>
        Snapshots.commit(Canonicalize.canonicalize(spark, dict),
          paths.entities, "entity_id", buckets, stage = s"dict:$dictFp")
      case Some(snap) if snap.stage != s"dict:$dictFp" =>
        throw new IllegalStateException(
          s"dictionary changed since ${paths.entities} was built (${snap.stage} != dict:$dictFp); " +
          "a changed dict rewires canonicalization RETROACTIVELY — pass the change as " +
          "runIncremental(dictChange = Some(DictChange.Added(rows))) or " +
          "Some(DictChange.Removed(rows)) to fold it incrementally, " +
          "or rebuild via runAll into a fresh workDir")
      case _ => ()
    }
    val entities = Snapshots.load(spark, paths.entities)

    // (a) annotate ONLY the delta docs
    if (!committed(paths.docsLabeled))
      Snapshots.commit(annotate(spark, deltaDocs, modelsBc).toDF(),
        paths.docsLabeled, "doc_id", buckets, stage = batchId)
    val labeledDelta = deltaOf(paths.docsLabeled).as[Doc]

    // (b) mentions of the delta
    if (!committed(paths.mentions))
      Snapshots.commit(extractMentions(labeledDelta, scenario),
        paths.mentions, "doc_id", buckets, stage = batchId)
    val mentionsDelta = deltaOf(paths.mentions)

    // (c) link the delta (dict broadcast — shuffle-free)
    if (!committed(paths.linked))
      Snapshots.commit(Linker.link(mentionsDelta, dict),
        paths.linked, "doc_id", buckets, stage = batchId)
    val linkedDelta = deltaOf(paths.linked)

    // (d) delta triples
    if (!committed(paths.triples))
      Snapshots.commit(Triples.fromLinkedMentions(Canonicalize.withCanonical(linkedDelta, entities)),
        paths.triples, "doc_id", buckets, stage = batchId)
    Snapshots.load(spark, paths.triples)
  }

  /** Fold a dictionary change into the committed stage tables, so that the
    * KG equals a full rebuild with the changed dict `dict` (fingerprint
    * `dictFp`); the expensive stage, annotation, is never recomputed
    * (IncrementalSpec + the `nemo_triples_dictgrow`/`_dictshrink` oracles).
    * A change rewires the pipeline RETROACTIVELY in two delta-prunable ways:
    *  (1) canonicalization. Added rows can MERGE components: the star edges
    *      of the alias blocks they touch fold into the old assignment
    *      ([[Canonicalize.incrementalComponents]]; old edges are never
    *      re-read). Removed rows can SPLIT components: the survivors of
    *      every component that held a removed entity are re-solved from the
    *      new dict's alias blocks (blocks of survivors hold only survivors —
    *      an edge to an unaffected entity would have put it in the same old
    *      component); everyone else keeps their canonical id.
    *  (2) linking. Added rows re-link the docs with a mention whose blocking
    *      key gained candidates (top-1 over a bigger candidate set); any
    *      other mention kept its candidate set, so its argmax cannot change.
    *      Removed rows re-link only the docs whose top-1 entity was removed
    *      (a losing candidate's removal cannot change an argmax).
    * Triples of the affected docs (re-linked ∪ canonical-changed) are
    * MoR-deleted and recomputed from the updated links and the new map.
    *
    * Crash-resumable: each write is guarded by its stage name, and the
    * entities overwrite is LAST, so a resume that finds entities already at
    * `dictFp` knows the whole fold committed. A removal's re-link doc set is
    * committed to `shrink_docs` before any mutation: it derives from the
    * linked table, which the re-link itself rewrites (an addition's set
    * re-derives from the immutable mentions table). */
  private def foldDictChange(
      spark: SparkSession, change: DictChange, dict: DataFrame, dictFp: String,
      paths: StagePaths, batchId: String, buckets: Int): Unit = {
    import graft.io.Snapshots
    import DictChange.{Added, Removed}
    val curEnt = Snapshots.current(paths.entities)
    if (curEnt.isEmpty || curEnt.exists(_.stage == s"dict:$dictFp")) return // fresh table / already folded
    val (oldDict, prefix) = change match {
      case Added(rows) =>
        (dict.join(rows.select(col("entity_id")), Seq("entity_id"), "left_anti"), s"$batchId:dict")
      case Removed(rows) =>
        (dict.unionByName(rows.select(dict.columns.map(col): _*)), s"$batchId:dict-shrink")
    }
    val fpOld = dictFingerprint(oldDict)
    require(curEnt.get.stage == s"dict:$fpOld",
      s"entities stage ${curEnt.get.stage} matches neither the changed dict (dict:$dictFp) nor the " +
      s"dict before the change (dict:$fpOld): dictChange must hold exactly the rows changed since the last batch")
    def committedStage(table: String, stage: String): Boolean =
      Snapshots.snapshots(table).exists(_.stage == stage)
    // MoR-delete `docs` from `table`, then commit their rebuilt rows; a
    // resume skips each half that already committed
    def replaceDocs(table: String, stage: String, docs: => DataFrame)(rebuild: DataFrame => DataFrame): Unit =
      if (!committedStage(table, stage)) {
        val d = docs
        if (!d.isEmpty) {
          if (!committedStage(table, s"$stage-del"))
            Snapshots.deleteWhere(d, table, stage = s"$stage-del", buckets = buckets)
          Snapshots.commit(rebuild(d), table, "doc_id", buckets, stage = stage)
        }
      }

    // (1) the new component assignment (node, component) and (2) the docs
    // whose top-1 link may have changed
    val oldEntities = Snapshots.load(spark, paths.entities).localCheckpoint()
    val mentionsAll = Snapshots.load(spark, paths.mentions)
    val (comp, linkDocs) = change match {
      case Added(rows) =>
        val added = Linker.aliasBlocks(rows)
        val touched = Linker.aliasBlocks(dict)
          .join(added.select(col("alias_norm")).distinct(), Seq("alias_norm"), "left_semi")
        val prev = oldEntities.select(col("entity_id").as("node"), col("canonical_id").as("component"))
        val docs = mentionsAll
          .withColumn("block", Linker.blockKeyCol(col("surface")))
          .join(added.select(col("block")).distinct(), Seq("block"), "left_semi")
          .select(col("doc_id")).distinct()
        (Canonicalize.incrementalComponents(spark, prev, Canonicalize.starEdges(touched)), docs)
      case Removed(rows) =>
        val removedIds = rows.select(col("entity_id")).distinct().localCheckpoint()
        val affComps = oldEntities.join(removedIds, Seq("entity_id"), "left_semi")
          .select(col("canonical_id")).distinct()
        val survivors = oldEntities
          .join(affComps, Seq("canonical_id"), "left_semi")
          .join(removedIds, Seq("entity_id"), "left_anti")
          .select(col("entity_id")).localCheckpoint()
        val kept = oldEntities.join(survivors, Seq("entity_id"), "left_anti")
          .select(col("entity_id").as("node"), col("canonical_id").as("component"))
        val split = Canonicalize.connectedComponents(spark,
          Canonicalize.starEdges(Linker.aliasBlocks(dict).join(survivors, Seq("entity_id"), "left_semi")))
        val docsTable = s"${paths.root}/shrink_docs"
        if (!committedStage(docsTable, prefix))
          Snapshots.commit(Snapshots.load(spark, paths.linked)
              .join(removedIds, Seq("entity_id"), "left_semi").select(col("doc_id")).distinct(),
            docsTable, "doc_id", buckets, stage = prefix, op = "overwrite")
        (kept.unionByName(split), Snapshots.load(spark, docsTable))
    }
    val newEntities = Canonicalize.withCanonical(dict,
        comp.select(col("node").as("entity_id"), col("component").as("canonical_id")))
      .localCheckpoint() // reused by the refit and the final overwrite
    val affectedLinkDocs = linkDocs.localCheckpoint()

    // (3) re-link the affected docs against the FULL changed dict
    replaceDocs(paths.linked, s"$prefix-relink", affectedLinkDocs) { docs =>
      Linker.link(mentionsAll.join(docs, Seq("doc_id"), "left_semi"), dict)
    }

    // (4) triples of re-linked ∪ canonical-changed docs, the latter found on
    // the POST-relink linked table (a doc that stopped referencing a changed
    // entity is already in the re-link set)
    val linkedAll = Snapshots.load(spark, paths.linked)
    replaceDocs(paths.triples, s"$prefix-refit", {
      val changedEnts = oldEntities
        .select(col("entity_id"), col("canonical_id").as("old_cid"))
        .join(newEntities.select(col("entity_id"), col("canonical_id")), Seq("entity_id"))
        .filter(col("old_cid") =!= col("canonical_id"))
        .select(col("entity_id"))
      affectedLinkDocs
        .union(linkedAll.join(changedEnts, Seq("entity_id"), "left_semi").select(col("doc_id")))
        .distinct().localCheckpoint()
    }) { docs =>
      Triples.fromLinkedMentions(Canonicalize.withCanonical(
        linkedAll.join(docs, Seq("doc_id"), "left_semi"), newEntities))
    }

    // (5) entities overwrite LAST — the commit that marks the fold complete
    Snapshots.commit(newEntities, paths.entities, "entity_id", buckets,
      stage = s"dict:$dictFp", op = "overwrite")
  }
}
