package graft

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import graft.fixtures.Fixtures
import graft.serve.Serve
import graft.serve.Serve.Request
import graft.text.HebTokenizer
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** Serving surface: JSON shape parity with the reference API's pydantic
  * response models (schema.py:44-100) under response_model_exclude_unset —
  * the field SET per command × verbosity is pinned against the FastAPI
  * handlers' assignments (api_main.py:545-743), not just "valid JSON". */
class ServeSpec extends AnyFunSuite {
  private val om = new ObjectMapper()

  private lazy val sentences: String =
    Fixtures.inputDocs(3).flatMap(_.spans.filter(_.kind == "text").map(_.text))
      .take(4).mkString("\n")

  private def keys(n: JsonNode): Set[String] = n.fieldNames().asScala.toSet
  private def docs(json: String): Seq[JsonNode] = {
    val root = om.readTree(json)
    assert(root.isArray, "response must be a JSON array")
    root.elements().asScala.toSeq
  }

  test("command listing mirrors the API root endpoint") {
    val n = om.readTree(Serve.listCommandsJson)
    val cmds = n.get("available_commands").elements().asScala.map(_.asText()).toSeq
    assert(cmds === Seq("run_ncrf_model", "multi_to_single", "morph_yap",
      "morph_hybrid", "multi_align_hybrid", "morph_hybrid_align_tokens"))
  }

  test("empty input returns [] for every command; unknown names fail loudly") {
    for (c <- Serve.availableCommands)
      assert(Serve.handle(c, Request("   \n  ")) === "[]")
    intercept[IllegalArgumentException] { Serve.handle("nope", Request("א")) }
    intercept[NoSuchElementException] {
      Serve.handle("run_ncrf_model", Request("א", modelName = "no-such-model"))
    }
  }

  test("run_ncrf_model returns NCRFPreds rows; tokenized input is authoritative") {
    val ds = docs(Serve.handle("run_ncrf_model", Request(sentences)))
    val lines = sentences.split('\n')
    assert(ds.size === lines.length)
    for ((d, line) <- ds.zip(lines)) {
      assert(keys(d) === Set("tokenized_text", "ncrf_preds"))
      val toks = d.get("tokenized_text").elements().asScala.map(_.asText()).toSeq
      assert(toks === HebTokenizer.tokenize(line).toSeq)
      assert(d.get("ncrf_preds").size() === toks.size)
    }
    // pre-tokenized: the caller's split survives verbatim (a token ending in
    // '.' would otherwise be re-split by the tokenizer)
    val pre = docs(Serve.handle("run_ncrf_model",
      Request("אבג. דהו", tokenized = true)))
    assert(pre.head.get("tokenized_text").elements().asScala.map(_.asText()).toSeq
      === Seq("אבג.", "דהו"))
  }

  test("morph_hybrid v0: BASIC field set, morphs with nemo_morph, morph-level ents") {
    val ds = docs(Serve.handle("morph_hybrid", Request(sentences)))
    val lines = sentences.split('\n')
    assert(ds.size === lines.length)
    for ((d, line) <- ds.zip(lines)) {
      assert(keys(d) === Set("text", "ents", "tokens"), "exclude_unset: only set fields")
      assert(d.get("text").asText() === line)
      val toks = d.get("tokens").elements().asScala.toSeq
      assert(toks.map(_.get("text").asText()) === HebTokenizer.tokenize(line).toSeq)
      for (t <- toks) {
        assert(keys(t) === Set("text", "morphs"))
        for (m <- t.get("morphs").elements().asScala)
          assert(keys(m) === Set("form", "nemo_morph", "lemma", "pos", "feats"))
      }
      assert(keys(d.get("ents")) === Set("morph"))
      assert(keys(d.get("ents").get("morph")) === Set("nemo_morph"))
      // span internal consistency: ents replay from the emitted labels
      val labels = toks.flatMap(_.get("morphs").elements().asScala.map(_.get("nemo_morph").asText()))
      val forms = toks.flatMap(_.get("morphs").elements().asScala.map(_.get("form").asText()))
      val expected = graft.label.Biose.parseSpans(labels.toIndexedSeq).map(s =>
        (forms.slice(s.start, s.end).mkString(" "), s.label, s.start, s.end))
      val got = d.get("ents").get("morph").get("nemo_morph").elements().asScala.map(e =>
        (e.get("text").asText(), e.get("label").asText(), e.get("start").asInt(), e.get("end").asInt())).toSeq
      assert(got === expected)
    }
    // the fixture corpus has entities: at least one span somewhere
    assert(ds.exists(_.get("ents").get("morph").get("nemo_morph").size() > 0))
  }

  test("morph_hybrid v1 adds intermediate preds; v2 adds syntax fields") {
    val d1 = docs(Serve.handle("morph_hybrid", Request(sentences, verbose = 1))).head
    for (t <- d1.get("tokens").elements().asScala) {
      assert(keys(t) === Set("text", "nemo_multi", "nemo_multi_align_token", "morphs"))
      for (m <- t.get("morphs").elements().asScala)
        assert(keys(m) === Set("form", "nemo_morph", "nemo_multi_align_morph", "lemma", "pos", "feats"))
    }
    assert(keys(d1.get("ents")) === Set("morph", "token"))
    assert(keys(d1.get("ents").get("morph")) === Set("nemo_morph", "nemo_multi_align_morph"))
    assert(keys(d1.get("ents").get("token")) === Set("nemo_multi_align_token"))

    val d2 = docs(Serve.handle("morph_hybrid", Request(sentences, verbose = 2))).head
    val morphs2 = d2.get("tokens").elements().asScala.toSeq
      .flatMap(_.get("morphs").elements().asScala)
    for (m <- morphs2)
      assert(keys(m) === Set("form", "nemo_morph", "nemo_multi_align_morph",
        "id", "lemma", "pos", "feats", "head", "deprel"))
    // flat 1-based morpheme ids, heads in range (0 = root)
    assert(morphs2.map(_.get("id").asInt()) === (1 to morphs2.size))
    assert(morphs2.forall(m => m.get("head").asInt() >= 0 && m.get("head").asInt() <= morphs2.size))
  }

  test("include_yap_outputs: lattice TSVs per command; dep_tree only at SYNTAX") {
    val hy = docs(Serve.handle("morph_hybrid",
      Request(sentences, verbose = 2, includeYapOutputs = true))).head
    assert(keys(hy) === Set("text", "ents", "tokens",
      "ma_lattice", "pruned_lattice", "md_lattice", "dep_tree"))
    for (k <- Seq("ma_lattice", "pruned_lattice", "md_lattice");
         line <- hy.get(k).asText().split('\n') if line.nonEmpty)
      assert(line.split('\t').length === 8, s"$k rows are 8-col lattice TSV")
    // pruned ⊆ ma, md ⊆ pruned (the serving lattices replay the same stages)
    def edges(k: String) = hy.get(k).asText().split('\n').filter(_.nonEmpty).toSet
    assert(edges("pruned_lattice").subsetOf(edges("ma_lattice")))
    assert(edges("md_lattice").subsetOf(edges("pruned_lattice")))
    val dep = graft.io.ConllFiles.readConll(hy.get("dep_tree").asText())
    val nMorphs = hy.get("tokens").elements().asScala.toSeq.map(_.get("morphs").size()).sum
    assert(dep.head.size === nMorphs)
    // v0: no dep_tree (add_dep_info only runs at SYNTAX), lattices still present
    val hy0 = docs(Serve.handle("morph_hybrid",
      Request(sentences, verbose = 0, includeYapOutputs = true))).head
    assert(keys(hy0) === Set("text", "ents", "tokens",
      "ma_lattice", "pruned_lattice", "md_lattice"))
    // morph_yap: no pruning stage → no pruned_lattice payload
    val my = docs(Serve.handle("morph_yap",
      Request(sentences, includeYapOutputs = true))).head
    assert(keys(my) === Set("text", "ents", "tokens", "ma_lattice", "md_lattice"))
  }

  test("multi_to_single: token-level only; align_tokens variant at v0 has no morphs") {
    val mts = docs(Serve.handle("multi_to_single", Request(sentences))).head
    assert(keys(mts) === Set("text", "ents", "tokens"))
    for (t <- mts.get("tokens").elements().asScala)
      assert(keys(t) === Set("text", "nemo_multi_align_token"))
    assert(keys(mts.get("ents")) === Set("token"))
    assert(keys(mts.get("ents").get("token")) === Set("nemo_multi_align_token"))

    val hat = docs(Serve.handle("morph_hybrid_align_tokens", Request(sentences))).head
    for (t <- hat.get("tokens").elements().asScala)
      assert(keys(t) === Set("text", "nemo_morph_align_token"))
    assert(keys(hat.get("ents")) === Set("token"))
    assert(keys(hat.get("ents").get("token")) === Set("nemo_morph_align_token"))

    val mah = docs(Serve.handle("multi_align_hybrid", Request(sentences))).head
    for (t <- mah.get("tokens").elements().asScala)
      assert(keys(t) === Set("text", "morphs"))
    assert(keys(mah.get("ents")) === Set("morph"))
    assert(keys(mah.get("ents").get("morph")) === Set("nemo_multi_align_morph"))
  }

  test("serving output agrees with the batch pipeline's labels (one code path)") {
    // the same sentence through Serve and through annotate() must carry
    // identical per-token labels — serving IS the pipeline body
    import org.apache.spark.sql.functions.col
    val spark = SparkTestBase.spark
    import spark.implicits._
    val in = Fixtures.inputDocs(1)
    val line = in.head.spans.filter(_.kind == "text").head.text
    val served = docs(Serve.handle("morph_hybrid", Request(line, verbose = 1))).head
    val models = Pipeline.fixtureModels()
    val bc = spark.sparkContext.broadcast(models)
    val batchDoc = Pipeline.annotate(spark,
      spark.createDataset(Seq(graft.schema.InputDoc("d",
        Array(graft.schema.Span("text", line, "", 0))))), bc).collect().head
    val servedMulti = served.get("tokens").elements().asScala.map(_.get("nemo_multi").asText()).toSeq
    assert(servedMulti === batchDoc.sents.head.tokens.map(_.nemoMulti).toSeq)
    val servedMorph = served.get("tokens").elements().asScala.toSeq
      .flatMap(_.get("morphs").elements().asScala.map(_.get("nemo_morph").asText()))
    assert(servedMorph === batchDoc.sents.head.tokens.flatMap(_.morphs.map(_.nemoMorph)).toSeq)
  }

  test("http listener: end-to-end socket round trip equals Serve.handle; FastAPI error mapping") {
    import java.net.http.{HttpClient, HttpRequest, HttpResponse}
    import java.net.URI
    val server = graft.serve.HttpServe.start(0) // ephemeral port
    try {
      val base = s"http://127.0.0.1:${server.getAddress.getPort}"
      val client = HttpClient.newHttpClient()
      def get(path: String) = client.send(
        HttpRequest.newBuilder(URI.create(base + path)).GET().build(),
        HttpResponse.BodyHandlers.ofString())
      def post(path: String, body: String) = client.send(
        HttpRequest.newBuilder(URI.create(base + path))
          .POST(HttpRequest.BodyPublishers.ofString(body)).build(),
        HttpResponse.BodyHandlers.ofString())

      // GET / — command listing, byte-identical to the non-socket surface
      val root = get("/")
      assert(root.statusCode() === 200)
      assert(root.body() === Serve.listCommandsJson)

      // POST /{command}: socket response == direct Serve.handle for the same
      // request (sentences in the body; verbosity as a query param)
      val body = om.createObjectNode()
      body.put("sentences", sentences)
      val wire = post("/morph_hybrid?verbose=1", om.writeValueAsString(body))
      assert(wire.statusCode() === 200)
      assert(wire.body() === Serve.handle("morph_hybrid", Request(sentences, verbose = 1)))

      // pre-tokenized Union[str, List[List[str]]] body form — the list arm
      // passes through VERBATIM (get_sents api_main.py:84-85), equal to the
      // preTokenized Request, and for space-free tokens also to the legacy
      // joined/tokenized form
      val tokBody = """{"sentences": [["אבג.", "דהו"], ["זחט"]]}"""
      val tok = post("/run_ncrf_model", tokBody)
      assert(tok.statusCode() === 200)
      val expTok = Serve.handle("run_ncrf_model",
        Request("", preTokenized = Some(Seq(Seq("אבג.", "דהו"), Seq("זחט")))))
      assert(tok.body() === expTok)
      assert(expTok === Serve.handle("run_ncrf_model",
        Request("אבג. דהו\nזחט", tokenized = true)))

      // a token CONTAINING a space survives as one token (never re-split),
      // and an empty sentence list is dropped, not propagated
      val spaceTok = post("/run_ncrf_model",
        """{"sentences": [[], ["אבג. דהו"]]}""")
      assert(spaceTok.statusCode() === 200)
      val spaceJson = om.readTree(spaceTok.body())
      assert(spaceJson.size() === 1) // the empty sentence is gone
      assert(spaceJson.get(0).get("tokenized_text").size() === 1) // ONE token
      assert(spaceJson.get(0).get("tokenized_text").get(0).asText === "אבג. דהו")

      // FastAPI-shaped errors: unknown command 404, unknown model 404,
      // malformed JSON 400, missing sentences 422
      assert(post("/nope", """{"sentences":"א"}""").statusCode() === 404)
      assert(post("/run_ncrf_model?model_name=no-such",
        """{"sentences":"א"}""").statusCode() === 404)
      assert(post("/run_ncrf_model", """{"sentences": """).statusCode() === 400)
      assert(post("/run_ncrf_model", """{"text":"א"}""").statusCode() === 422)
      // pydantic-validation parity: null / number / flat string list / a
      // non-scalar token all fail the Union[str, List[List[str]]] model → 422
      assert(post("/run_ncrf_model", """{"sentences": null}""").statusCode() === 422)
      assert(post("/run_ncrf_model", """{"sentences": 5}""").statusCode() === 422)
      assert(post("/run_ncrf_model", """{"sentences": ["flat", "list"]}""").statusCode() === 422)
      assert(post("/run_ncrf_model", """{"sentences": [[["nested"]]]}""").statusCode() === 422)
      // a non-integer verbose query param is the client's error → 422, not 500
      assert(post("/morph_hybrid?verbose=abc", """{"sentences":"א"}""").statusCode() === 422)
      // empty pre-tokenized input behaves like empty text: 200 "[]"
      val empty = post("/run_ncrf_model", """{"sentences": []}""")
      assert(empty.statusCode() === 200 && empty.body() === "[]")
    } finally graft.serve.HttpServe.stop(server)
  }

  test("http listener: keep-alive responses do not wait on the client's delayed ACK") {
    // headers and body leave in two writes; without TCP_NODELAY on the
    // accepted socket, Nagle holds the body ~40 ms for the delayed ACK
    val server = graft.serve.HttpServe.start(0)
    try {
      val median = KeepAliveProbe.medianGetMs(server.getAddress.getPort)
      assert(median < 20.0, s"median keep-alive GET / round trip $median ms")
    } finally graft.serve.HttpServe.stop(server)
  }
}
