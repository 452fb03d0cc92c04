package graft.serve

import graft.Pipeline
import graft.Pipeline.Models
import graft.fixtures.Fixtures
import graft.label.Biose
import graft.lattice.{Analyzer, DepParser, Disambig, Prune}
import graft.ner.{NerModel, Scorer}
import graft.schema.{Doc, InputDoc, LatticeEdge, Span}
import graft.text.HebTokenizer

/** Single-request serving surface — the reference's primary user-facing entry
  * point (api_main.py:490-500 run_ncrf_model, 545-571 multi_to_single,
  * 573-612 morph_yap, 614-662 multi_align_hybrid, 666-729 morph_hybrid,
  * 735-743 morph_hybrid_align_tokens), re-expressed over the SAME
  * [[Pipeline.annotateDoc]] body the batch/streaming/incremental paths run —
  * one code path for all four consumption modes, no drift between them.
  *
  * A request carries sentences (raw text, '\n'-separated, or pre-tokenized),
  * a model-registry lookup name per model slot (the reference's
  * `loaded_models[model_name]` — api_main.py:516-522), a verbosity
  * (schema.py Verbosity: 0 BASIC / 1 INTERMID / 2 SYNTAX) and
  * `include_yap_outputs`. The response is the nested per-sentence Doc JSON of
  * the reference's pydantic models (schema.py:44-100) under
  * `response_model_exclude_unset` semantics: a field a command/verbosity did
  * not SET is absent from the JSON, not null — ServeSpec pins the exact field
  * sets per command × verbosity against the FastAPI handlers' assignments.
  *
  * Serving is driver-side by construction (one doc, µs-scale) — no Spark job
  * is launched per request; the same `Models` broadcast value the cluster
  * pipeline ships is reused here as a plain object.
  */
object Serve {

  /** api_main.py:470-471. */
  val availableCommands: Seq[String] = Seq(
    "run_ncrf_model", "multi_to_single", "morph_yap", "morph_hybrid",
    "multi_align_hybrid", "morph_hybrid_align_tokens")

  final case class Request(
      sentences: String,
      tokenized: Boolean = false,
      modelName: String = "token-single",      // run_ncrf_model slot
      multiModelName: String = "token-multi",  // hybrid MD slot
      morphModelName: String = "morph",        // morph NER slot
      verbose: Int = 0,                        // 0 BASIC / 1 INTERMID / 2 SYNTAX
      includeYapOutputs: Boolean = false,
      // The NEMOQuery union's list arm (api_main.py:491): pre-tokenized
      // sentences used VERBATIM, exactly like get_sents' list passthrough
      // (api_main.py:84-85) — tokens are never re-split, so a token may
      // contain spaces. When set, `sentences`/`tokenized` are ignored.
      preTokenized: Option[Seq[Seq[String]]] = None)

  /** GET / — the command listing (api_main.py:504-509). */
  def listCommandsJson: String =
    s"""{"message":"Please specify command in URL path in a POST request and provide some input text in the request body.","available_commands":[${availableCommands
      .map(c => "\"" + c + "\"").mkString(",")}]}"""

  /** Dispatch one request. `registry` is the loaded-models lookup (the
    * reference's startup-loaded `loaded_models`); unknown names fail loudly
    * like a dict KeyError. Returns the response body as JSON. */
  def handle(command: String, req: Request,
             registry: Map[String, NerModel] = Pipeline.fixtureRegistry,
             lexicon: Set[String] = Fixtures.lexicon): String = {
    // the reference's empty-input early return applies to the STRING arm only
    // (api_main.py:533: `type(q.sentences) is str and not q.sentences.strip()`)
    if (req.preTokenized.isEmpty && req.sentences.trim.isEmpty) return "[]"
    if (req.preTokenized.exists(_.forall(_.isEmpty))) return "[]"
    def model(name: String): NerModel =
      registry.getOrElse(name, throw new NoSuchElementException(
        s"unknown model '$name' (available: ${registry.keys.toSeq.sorted.mkString(", ")})"))
    command match {
      case "run_ncrf_model" => runNcrfJson(model(req.modelName), req)
      case "multi_to_single" | "morph_yap" | "morph_hybrid" |
           "multi_align_hybrid" | "morph_hybrid_align_tokens" =>
        val models = Models(
          single = model("token-single"),
          multi = model(req.multiModelName),
          morph = model(req.morphModelName),
          lexicon = lexicon)
        docsJson(command, models, req)
      case other => throw new IllegalArgumentException(
        s"unknown command '$other' (available: ${availableCommands.mkString(", ")})")
    }
  }

  // ---------- sentence splitting (api_main.py:83-88 get_sents) ----------

  private def splitSents(req: Request): (Array[String], Array[Array[String]]) =
    req.preTokenized match {
      case Some(sents) =>
        // list-arm passthrough: token lists verbatim, never re-split. Empty
        // sentence lists are dropped — the same fate the reference's tokens-
        // file round-trip gives them (write_tokens_file emits a blank line;
        // the blank-line filter in read_instance skips it).
        val toks = sents.iterator.map(_.toArray).filter(_.nonEmpty).toArray
        (toks.map(_.mkString(" ")), toks)
      case None =>
        val raw = req.sentences.split('\n').map(_.trim).filter(_.nonEmpty)
        val toks =
          if (req.tokenized) raw.map(_.split(' ').filter(_.nonEmpty))
          else raw.map(HebTokenizer.tokenize)
        (raw, toks)
    }

  // ---------- /run_ncrf_model → List[NCRFPreds] ----------

  private def runNcrfJson(m: NerModel, req: Request): String = {
    val (_, toks) = splitSents(req)
    import scala.collection.immutable.ArraySeq
    val batch: IndexedSeq[IndexedSeq[String]] =
      ArraySeq.unsafeWrapArray(toks.map(t => ArraySeq.unsafeWrapArray(t): IndexedSeq[String]))
    val preds = Scorer.decodeBatch(m, batch)
    toks.indices.map { i =>
      obj(
        "tokenized_text" -> Some(arr(toks(i).map(str))),
        "ncrf_preds" -> Some(arr(preds(i).map(str))))
    }.mkString("[", ",", "]")
  }

  // ---------- Doc-shaped commands ----------

  /** Which fields each command × verbosity SETS — a transcription of the
    * FastAPI handlers' assignment order, so exclude_unset falls out of
    * construction. */
  private final case class FieldPlan(
      tokenFields: Seq[String],   // ents token_fields, in reference order
      morphFields: Seq[String],   // ents morph_fields
      setMulti: Boolean,          // Token.nemo_multi present
      setMultiAlignTok: Boolean,  // Token.nemo_multi_align_token present
      setMorphAlignTok: Boolean,  // Token.nemo_morph_align_token present
      initMorphs: Boolean,        // Token.morphs present (form/lemma/pos/feats)
      setNemoMorph: Boolean,      // Morpheme.nemo_morph present
      setMultiAlignMorph: Boolean,// Morpheme.nemo_multi_align_morph present
      setDep: Boolean,            // Morpheme.id/head/deprel present (v≥2)
      usePruning: Boolean,        // hybrid MD vs raw-lattice MD (morph_yap)
      latticeKinds: Seq[String])  // include_yap_outputs payloads for this command

  private def plan(command: String, v: Int): FieldPlan = command match {
    case "multi_to_single" => FieldPlan( // api_main.py:545-571
      tokenFields = Seq("nemo_multi_align_token") ++ (if (v >= 1) Seq("nemo_multi") else Nil),
      morphFields = Nil,
      setMulti = v >= 1, setMultiAlignTok = true, setMorphAlignTok = false,
      initMorphs = false, setNemoMorph = false, setMultiAlignMorph = false,
      setDep = false, usePruning = true, latticeKinds = Nil)
    case "morph_yap" => FieldPlan( // api_main.py:573-612 (no pruning, joint MD)
      tokenFields = Nil, morphFields = Seq("nemo_morph"),
      setMulti = false, setMultiAlignTok = false, setMorphAlignTok = false,
      initMorphs = true, setNemoMorph = true, setMultiAlignMorph = false,
      setDep = v >= 2, usePruning = false,
      latticeKinds = Seq("ma_lattice", "md_lattice"))
    case "multi_align_hybrid" => FieldPlan( // api_main.py:614-662
      tokenFields = if (v >= 1) Seq("nemo_multi_align_token") else Nil,
      morphFields = Seq("nemo_multi_align_morph"),
      setMulti = v >= 1, setMultiAlignTok = v >= 1, setMorphAlignTok = false,
      initMorphs = true, setNemoMorph = false, setMultiAlignMorph = true,
      setDep = v >= 2, usePruning = true,
      latticeKinds = Seq("ma_lattice", "pruned_lattice", "md_lattice"))
    case "morph_hybrid" => FieldPlan( // api_main.py:666-729, align_tokens=False
      tokenFields = if (v >= 1) Seq("nemo_multi_align_token") else Nil,
      morphFields = Seq("nemo_morph") ++ (if (v >= 1) Seq("nemo_multi_align_morph") else Nil),
      setMulti = v >= 1, setMultiAlignTok = v >= 1, setMorphAlignTok = false,
      initMorphs = true, setNemoMorph = true, setMultiAlignMorph = v >= 1,
      setDep = v >= 2, usePruning = true,
      latticeKinds = Seq("ma_lattice", "pruned_lattice", "md_lattice"))
    case "morph_hybrid_align_tokens" => FieldPlan( // align_tokens=True: morphs
      // only materialize at v≥1 (`verbose>=INTERMID or align_tokens==False`)
      tokenFields = (if (v >= 1) Seq("nemo_multi_align_token") else Nil) :+ "nemo_morph_align_token",
      morphFields = if (v >= 1) Seq("nemo_morph", "nemo_multi_align_morph") else Nil,
      setMulti = v >= 1, setMultiAlignTok = v >= 1, setMorphAlignTok = true,
      initMorphs = v >= 1, setNemoMorph = v >= 1, setMultiAlignMorph = v >= 1,
      setDep = v >= 2, usePruning = true,
      latticeKinds = Seq("ma_lattice", "pruned_lattice", "md_lattice"))
    case other => throw new IllegalArgumentException(s"unknown command '$other'")
  }

  private def docsJson(command: String, models: Models, req: Request): String = {
    val (raw, toks) = splitSents(req)
    if (raw.isEmpty) return "[]"
    val p = plan(command, req.verbose)
    // ONE annotateDoc call for the whole request: each sentence is one text
    // span, exactly the batch pipeline's unit of work
    val in = InputDoc("request",
      raw.zipWithIndex.map { case (s, i) => Span("text", s, "", i) })
    val doc: Doc = Pipeline.annotateDoc(models, models.lexPredicate, in,
      usePruning = p.usePruning, preTokenized = toks)
    val lex = models.lexPredicate
    doc.sents.zipWithIndex.map { case (sent, i) =>
      sentJson(command, p, req, raw(i), toks(i), sent, lex)
    }.mkString("[", ",", "]")
  }

  private def sentJson(command: String, p: FieldPlan, req: Request,
                       rawText: String, toks: Array[String],
                       sent: graft.schema.Sentence,
                       lex: String => Boolean): String = {
    // optional raw lattice payloads: the SAME pure stages annotateDoc ran,
    // re-rendered in the reference's lattice TSV (api_main.py:224-231
    // to_lattices_str; cols ID1 ID2 form lemma upostag xpostag feats token_id)
    val lattices: Map[String, String] =
      if (!req.includeYapOutputs || p.latticeKinds.isEmpty) Map.empty
      else {
        import scala.collection.immutable.ArraySeq
        val ma = Analyzer.sentenceLattice(ArraySeq.unsafeWrapArray(toks), lex).toIndexedSeq
        val multi = sent.tokens.map(_.nemoMulti).toIndexedSeq
        val pruned =
          if (p.usePruning) Prune.pruneSentence(ma, multi, nonOOnly = false) else ma
        val md = Disambig.disambiguate(pruned, lex)
        Map("ma_lattice" -> latticeStr(ma), "pruned_lattice" -> latticeStr(pruned),
            "md_lattice" -> latticeStr(md))
          .filter { case (k, _) => p.latticeKinds.contains(k) }
      }
    val depTree: Option[String] =
      if (req.includeYapOutputs && p.setDep)
        Some(graft.io.ConllFiles.writeConll(Seq(
          sent.tokens.flatMap(_.morphs).zipWithIndex.map { case (m, j) =>
            DepParser.DepNode(j + 1, m.form, m.lemma, m.pos, m.feats, m.head, m.deprel)
          }.toSeq)))
      else None

    // tokens
    var morphId = 0 // flat 1-based morpheme id within the sentence (dep node id)
    val tokenJsons = sent.tokens.map { t =>
      val morphsJson: Option[String] =
        if (!p.initMorphs) None
        else Some(arr(t.morphs.map { m =>
          morphId += 1
          obj(
            "form" -> Some(str(m.form)),
            "nemo_morph" -> (if (p.setNemoMorph) Some(str(m.nemoMorph)) else None),
            "nemo_multi_align_morph" -> (if (p.setMultiAlignMorph) Some(str(m.nemoMultiAlignMorph)) else None),
            "id" -> (if (p.setDep) Some(morphId.toString) else None),
            "lemma" -> Some(str(m.lemma)),
            "pos" -> Some(str(m.pos)),
            "feats" -> Some(str(m.feats)),
            "head" -> (if (p.setDep) Some(m.head.toString) else None),
            "deprel" -> (if (p.setDep) Some(str(m.deprel)) else None))
        }))
      if (!p.initMorphs) morphId += t.morphs.length
      obj(
        "text" -> Some(str(t.text)),
        "nemo_single" -> None, // only /run_ncrf_model surfaces the single model
        "nemo_multi" -> (if (p.setMulti) Some(str(t.nemoMulti)) else None),
        "nemo_multi_align_token" -> (if (p.setMultiAlignTok) Some(str(t.nemoMultiAlignToken)) else None),
        "nemo_morph_align_token" -> (if (p.setMorphAlignTok) Some(str(t.nemoMorphAlignToken)) else None),
        "morphs" -> morphsJson)
    }

    // ents (api_main.py:389-419 get_spans / 380-386 to_dict)
    def spansOf(texts: IndexedSeq[String], labels: IndexedSeq[String]): String =
      arr(Biose.parseSpans(labels).map { s =>
        obj(
          "text" -> Some(str(texts.slice(s.start, s.end).mkString(" "))),
          "label" -> Some(str(s.label)),
          "start" -> Some(s.start.toString),
          "end" -> Some(s.end.toString))
      })
    val tokTexts = sent.tokens.map(_.text).toIndexedSeq
    val morTexts = sent.tokens.flatMap(_.morphs.map(_.form)).toIndexedSeq
    def tokLabels(f: String): IndexedSeq[String] = sent.tokens.map(t => f match {
      case "nemo_multi" => t.nemoMulti
      case "nemo_multi_align_token" => t.nemoMultiAlignToken
      case "nemo_morph_align_token" => t.nemoMorphAlignToken
    }).toIndexedSeq
    def morLabels(f: String): IndexedSeq[String] =
      sent.tokens.flatMap(_.morphs.map(m => f match {
        case "nemo_morph" => m.nemoMorph
        case "nemo_multi_align_morph" => m.nemoMultiAlignMorph
      })).toIndexedSeq
    val entsParts = Seq(
      (if (p.morphFields.nonEmpty)
        Some("\"morph\":" + p.morphFields.map(f =>
          str(f) + ":" + spansOf(morTexts, morLabels(f))).mkString("{", ",", "}"))
      else None),
      (if (p.tokenFields.nonEmpty)
        Some("\"token\":" + p.tokenFields.map(f =>
          str(f) + ":" + spansOf(tokTexts, tokLabels(f))).mkString("{", ",", "}"))
      else None)).flatten
    val ents = entsParts.mkString("{", ",", "}")

    obj(
      "text" -> Some(str(rawText)),
      "ents" -> Some(ents),
      "tokens" -> Some(arr(tokenJsons)),
      "ma_lattice" -> lattices.get("ma_lattice").map(str),
      "pruned_lattice" -> lattices.get("pruned_lattice").map(str),
      "md_lattice" -> lattices.get("md_lattice").map(str),
      "dep_tree" -> depTree.map(str))
  }

  private def latticeStr(edges: IndexedSeq[LatticeEdge]): String =
    edges.map(e => Seq(e.id1, e.id2, e.form, e.lemma, e.upos, e.xpos, e.feats,
      e.tokenId).mkString("\t")).mkString("", "\n", "\n")

  // ---------- minimal JSON writer (no deps; strings escaped per RFC 8259) ----------

  /** A JSON string literal — the serve layer's one escaper ([[HttpServe]],
    * [[KgHttp]] and their error bodies use it too). */
  private[serve] def str(s: String): String = {
    val sb = new java.lang.StringBuilder(s.length + 2)
    sb.append('"')
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      c match {
        case '"' => sb.append("\\\"")
        case '\\' => sb.append("\\\\")
        case '\n' => sb.append("\\n")
        case '\r' => sb.append("\\r")
        case '\t' => sb.append("\\t")
        case x if x < 0x20 => sb.append(f"\\u${x.toInt}%04x")
        case x => sb.append(x)
      }
      i += 1
    }
    sb.append('"').toString
  }

  private def arr(xs: Seq[String]): String = xs.mkString("[", ",", "]")

  /** Object from ordered (name → pre-rendered value) pairs; None = unset =
    * absent (pydantic response_model_exclude_unset). */
  private def obj(fields: (String, Option[String])*): String =
    fields.collect { case (k, Some(v)) => str(k) + ":" + v }.mkString("{", ",", "}")
}
