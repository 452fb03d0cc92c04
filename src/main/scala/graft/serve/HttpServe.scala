package graft.serve

import com.fasterxml.jackson.databind.ObjectMapper
import com.sun.net.httpserver.HttpServer
import graft.Pipeline
import graft.fixtures.Fixtures
import graft.ner.NerModel
import graft.serve.JsonListener.detail
import java.nio.charset.StandardCharsets.UTF_8

/** Minimal HTTP listener over [[Serve.handle]] — makes the parity with the
  * reference's FastAPI consumption literal (api_main.py:504-509 GET / command
  * listing; :523-530 POST /{command} with a NEMOQuery JSON body
  * `{"sentences": str | [[token]], "tokenized": bool}` and the model /
  * verbosity knobs as URL QUERY parameters, exactly where FastAPI puts
  * `Optional[...] = Query(...)` arguments). JDK `com.sun.net.httpserver`
  * only — no framework, no new dependency; every NER path stays in
  * [[Serve.handle]], the single code body shared with the batch, streaming
  * and incremental consumption modes, so the socket cannot drift from them.
  *
  * Error mapping mirrors FastAPI's: unknown command path → 404, unknown
  * model name (the reference's `loaded_models[...]` KeyError) → 404,
  * malformed JSON body → 400, a body without `sentences` → 422.
  */
object HttpServe {

  private val mapper = new ObjectMapper()

  /** 400-shaped client error (malformed request syntax). */
  private[serve] final class BadRequest(msg: String) extends RuntimeException(msg)

  /** `a=1&b=x` → Map; value-less keys map to "". Percent-decoding via URI;
    * a malformed %-escape is the client's syntax error → 400, never 500. */
  private[serve] def parseQuery(raw: String): Map[String, String] =
    if (raw == null || raw.isEmpty) Map.empty
    else raw.split("&").iterator.filter(_.nonEmpty).map { kv =>
      val i = kv.indexOf('=')
      val (k, v) = if (i < 0) (kv, "") else (kv.take(i), kv.drop(i + 1))
      try java.net.URLDecoder.decode(k, UTF_8) -> java.net.URLDecoder.decode(v, UTF_8)
      catch { case e: IllegalArgumentException =>
        throw new BadRequest(s"malformed query string: ${e.getMessage}") }
    }.toMap

  /** 422-shaped client error — FastAPI/pydantic rejects a request that fails
    * model validation with 422 Unprocessable Entity. */
  private[serve] final class UnprocessableEntity(msg: String) extends RuntimeException(msg)

  /** NEMOQuery body + FastAPI query params → [[Serve.Request]]. The
    * `sentences` union type (api_main.py:491, `str | List[List[str]]`): a
    * JSON string is raw text; a list of token LISTS is pre-tokenized and
    * passes through VERBATIM ([[Serve.Request.preTokenized]] — the reference's
    * get_sents list arm never re-splits tokens). Anything else — null, a
    * number, a flat list of strings, a non-scalar token — fails pydantic
    * validation in the reference and maps to 422 here. */
  private[serve] def parseRequest(body: String, query: Map[String, String]): Serve.Request = {
    val root = mapper.readTree(body)
    if (root == null || !root.has("sentences"))
      throw new UnprocessableEntity("body must be a JSON object with a 'sentences' field")
    val sn = root.get("sentences")
    val (sentences, preTokenized) =
      if (sn.isTextual) (sn.asText, None)
      else if (sn.isArray) {
        val sents = (0 until sn.size).map { i =>
          val s = sn.get(i)
          if (!s.isArray) throw new UnprocessableEntity(
            "'sentences' must be a string or a list of token LISTS")
          (0 until s.size).map { j =>
            val t = s.get(j)
            // pydantic coerces scalar tokens (int/bool) to str, rejects containers
            if (!t.isValueNode || t.isNull) throw new UnprocessableEntity(
              s"token at sentences[$i][$j] is not a string")
            t.asText
          }
        }
        ("", Some(sents: Seq[Seq[String]]))
      } else throw new UnprocessableEntity(
        "'sentences' must be a string or a list of token lists")
    val verbose = query.getOrElse("verbose", "0")
    Serve.Request(
      sentences = sentences,
      tokenized = root.has("tokenized") && root.get("tokenized").asBoolean(false),
      preTokenized = preTokenized,
      modelName = query.getOrElse("model_name", "token-single"),
      multiModelName = query.getOrElse("multi_model_name", "token-multi"),
      morphModelName = query.getOrElse("morph_model_name", "morph"),
      verbose = verbose.toIntOption.getOrElse(throw new UnprocessableEntity(
        s"query parameter 'verbose' must be an integer, got '$verbose'")),
      includeYapOutputs = query.get("include_yap_outputs")
        .exists(v => v == "1" || v.equalsIgnoreCase("true")))
  }

  /** Start the listener (port 0 = ephemeral, read it back from the result).
    * Serving is µs-scale CPU work per request ([[Serve]] scaladoc), so the
    * [[JsonListener]] core's small fixed pool is plenty; the heavy state
    * (model registry) is loaded once here, exactly like the reference's
    * startup `load_all_models`. */
  def start(port: Int,
            registry: Map[String, NerModel] = Pipeline.fixtureRegistry,
            lexicon: Set[String] = Fixtures.lexicon): HttpServer =
    JsonListener.start(port, "graft-serve")(
      ex => (ex.getRequestMethod, JsonListener.path(ex)) match {
        case ("GET", "") => (200, Serve.listCommandsJson)
        case ("POST", cmd) if Serve.availableCommands.contains(cmd) =>
          val req = parseRequest(JsonListener.body(ex), parseQuery(ex.getRequestURI.getRawQuery))
          (200, Serve.handle(cmd, req, registry, lexicon))
        case ("POST", cmd) => (404, detail(s"unknown command '$cmd'"))
        case _             => (405, detail("method not allowed"))
      },
      {
        case e: NoSuchElementException => (404, detail(e.getMessage))
        case e: UnprocessableEntity    => (422, detail(e.getMessage))
        case e: BadRequest             => (400, detail(e.getMessage))
      })

  /** Stop a listener started by [[start]] (socket + its executor pool). */
  def stop(server: HttpServer): Unit = JsonListener.stop(server)

  def main(args: Array[String]): Unit = {
    val port = args.headOption.orElse(sys.env.get("GRAFT_SERVE_PORT"))
      .map(_.toInt).getOrElse(8090)
    val s = start(port)
    println(s"[serve] listening on http://127.0.0.1:${s.getAddress.getPort} " +
      s"(commands: ${Serve.availableCommands.mkString(", ")})")
    Thread.currentThread().join()
  }
}
