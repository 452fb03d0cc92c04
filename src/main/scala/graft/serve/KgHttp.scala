package graft.serve

import com.fasterxml.jackson.databind.ObjectMapper
import com.sun.net.httpserver.HttpServer
import graft.io.TableFormat
import graft.kg.{Pattern, Sparql}
import graft.serve.JsonListener.detail
import graft.serve.Serve.str
import org.apache.spark.sql.{DataFrame, SparkSession}

import java.util.concurrent.atomic.AtomicReference

/** KG query endpoint — the engine-side EXTENSION listener (deliberately a
  * SEPARATE server from [[HttpServe]], whose path space and error mapping
  * are pinned to the reference's FastAPI surface and must not grow):
  *
  *   - `POST /kg`  body `{"query": "SELECT …"}` — a [[Sparql]] string run
  *     against the store this listener was started with. Response:
  *     `{"columns": [...], "rows": [[...], ...], "n": N, "truncated": bool}`
  *     with unbound (NULL) bindings as JSON null.
  *   - `POST /kg/update`  body `{"update": "INSERT DATA { … } ; …"}` — a
  *     SPARQL 1.1 Update script applied to the backing STORE (store-backed
  *     listeners only; see [[start]]). `dry_run` parses without applying;
  *     `update_id` threads the exactly-once resume stamp.
  *   - `GET /`     endpoint + grammar hint.
  *
  * Serving discipline: results are capped at `maxRows` per request
  * (`take(maxRows+1)` detects truncation without a count pass) — an HTTP
  * answer is a page, never a corpus; bulk extraction belongs to the batch
  * path writing parquet. The SparkSession does the real work, so the
  * request pool stays at the same small fixed size as [[HttpServe]] —
  * concurrency beyond it queues on the socket rather than piling drivers
  * onto one session. Parse errors → 400 with the parser's own message;
  * malformed JSON → 400; unknown path → 404; execution failure → 500. */
object KgHttp {

  private val mapper = new ObjectMapper()

  /** Triples frame + per-predicate stats; each reload publishes a new one. */
  private[graft] type Frame = (DataFrame, Option[Map[String, Long]])

  private[graft] def loadFrame(spark: SparkSession, storePath: String): Frame =
    (TableFormat.load(spark, storePath), Some(Pattern.predStatsFromManifest(storePath)))

  /** A read that failed because the parquet facade's files moved under it —
    * an update overwrote/deleted leaf files the served frame's FileIndex
    * still lists. Spark surfaces this as a FileNotFoundException somewhere
    * in the cause chain, or the "REFRESH TABLE" advice message. */
  private[graft] def isStaleRead(e: Throwable): Boolean =
    // bounded walk: a cyclic cause chain (initCause can build one) must not spin
    Iterator.iterate(e)(_.getCause).takeWhile(_ != null).take(64).exists { c =>
      val m = String.valueOf(c.getMessage)
      c.isInstanceOf[java.io.FileNotFoundException] ||
        m.contains("REFRESH TABLE") || m.contains("FILE_NOT_EXIST")
    }

  /** The frame to retry a stale read of `read` on. Under `updateLock` it
    * never sees a mid-commit store, and the compare-and-set against `read`
    * never overwrites a newer frame a commit already published. */
  private[graft] def reloadStale(state: AtomicReference[Frame], read: Frame,
                                 storePath: String, updateLock: AnyRef): Frame =
    updateLock.synchronized {
      if (state.get() eq read) {
        val spark = read._1.sparkSession
        spark.catalog.refreshByPath(storePath)
        state.compareAndSet(read, loadFrame(spark, storePath))
      }
      state.get()
    }

  private[graft] def runQuery(triples: DataFrame, q: String, maxRows: Int,
                              stats: Option[Map[String, Long]] = None): String = {
    val df = Sparql.query(triples, q, stats)
    val cols = df.columns.toSeq
    val rows = df.take(maxRows + 1)
    val truncated = rows.length > maxRows
    val shown = if (truncated) rows.take(maxRows) else rows
    val rowsJson = shown.map { r =>
      cols.indices.map { i =>
        val v = r.get(i)
        if (v == null) "null" else v match {
          case n: java.lang.Long => n.toString
          case other             => str(other.toString)
        }
      }.mkString("[", ",", "]")
    }.mkString("[", ",", "]")
    s"""{"columns":${cols.map(str).mkString("[", ",", "]")},""" +
      s""""rows":$rowsJson,"n":${shown.length},"truncated":$truncated}"""
  }

  /** Start the listener over one loaded store (port 0 = ephemeral).
    * `stats` (per-predicate counts) switches every request to the
    * selectivity-ordered BGP fold — [[startFromStore]] wires them for free.
    *
    * `storePath` arms `POST /kg/update` (SPARQL 1.1 Update scripts,
    * [[Sparql.update]]): after each applied script the served frame and
    * stats reload from the store + merged manifest, so the next query —
    * including the metadata-only COUNT fast path — sees the committed
    * state. Updates serialize behind one lock (single-writer); readers on
    * the parquet facade see the post-commit listing (a real Iceberg sink
    * upgrades this to snapshot isolation, same call sites). `"dry_run":
    * true` parses + validates without touching the store; an optional
    * `"update_id"` threads the exactly-once resume stamp. Without
    * `storePath` the endpoint answers 400 — a frame-backed listener is
    * read-only by construction. */
  def start(port: Int, triples: DataFrame, maxRows: Int = 1000,
            stats: Option[Map[String, Long]] = None,
            storePath: Option[String] = None): HttpServer = {
    val state = new AtomicReference[Frame]((triples, stats))
    val updateLock = new Object
    JsonListener.start(port, "graft-kg-serve")(
      ex => (ex.getRequestMethod, JsonListener.path(ex)) match {
        case ("GET", "") =>
          (200, """{"endpoint":"/kg","body":{"query":"SELECT [DISTINCT] (?v ...|aggs|*) WHERE { ... FILTER/VALUES ... } [GROUP BY][ORDER BY][LIMIT][OFFSET] | ASK { ... } | CONSTRUCT { ... } WHERE { ... } | DESCRIBE (const|?v ... WHERE { ... })"},"update_endpoint":"/kg/update","update_body":{"update":"INSERT DATA { ... } ; DELETE WHERE { ... } ...","dry_run":"bool?","update_id":"string?"}}""")
        case ("POST", "kg") =>
          val root = mapper.readTree(JsonListener.body(ex))
          if (root == null || !root.has("query") || !root.get("query").isTextual)
            (400, detail("body must be a JSON object with a string 'query' field"))
          else {
            val read @ (t, st) = state.get()
            val q = root.get("query").asText
            try (200, runQuery(t, q, maxRows, st))
            catch {
              // stale-file read: a store update raced this query and
              // replaced leaf files the served frame still lists. A
              // store-backed listener self-heals — retry once on the
              // committed state — instead of handing an innocent reader a
              // 500 (the Iceberg-snapshot upgrade removes the race entirely).
              case e: Exception if isStaleRead(e) && storePath.isDefined =>
                val (ft, fst) = reloadStale(state, read, storePath.get, updateLock)
                (200, runQuery(ft, q, maxRows, fst))
            }
          }
        case ("POST", "kg/update") =>
          val root = mapper.readTree(JsonListener.body(ex))
          if (root == null || !root.has("update") || !root.get("update").isTextual)
            (400, detail("body must be a JSON object with a string 'update' field"))
          else {
            val text = root.get("update").asText
            val dryRun = root.has("dry_run") && root.get("dry_run").asBoolean(false)
            if (dryRun)
              (200, s"""{"ops":${Sparql.parseUpdateCount(text)},"dry_run":true}""")
            else storePath match {
              case None =>
                (400, detail("this listener serves a loaded frame — updates need a store-backed listener (startFromStore)"))
              case Some(sp) => updateLock.synchronized {
                val id = if (root.has("update_id") && root.get("update_id").isTextual)
                  Some(root.get("update_id").asText) else None
                val spark = state.get()._1.sparkSession
                val reports = Sparql.update(spark, sp, text, updateId = id)
                state.set(loadFrame(spark, sp))
                val applied = reports.count(!_.skipped)
                (200, s"""{"ops":${reports.size},"applied":$applied,""" +
                  s""""skipped":${reports.size - applied},""" +
                  s""""touched_leaves":${reports.map(_.touchedLeaves).sum},""" +
                  s""""rows_before":${reports.map(_.rowsBefore).sum},""" +
                  s""""rows_after":${reports.map(_.rowsAfter).sum}}""")
              }
            }
          }
        case ("POST", p) => (404, detail(s"unknown path '/$p'"))
        case _           => (405, detail("method not allowed"))
      },
      { case e: IllegalArgumentException => (400, detail(e.getMessage)) })
  }

  /** [[start]] over a TableFormat.savePartitioned store PATH: loads the
    * table and its per-predicate stats in one call — the stats are a
    * metadata read of the store's lineage manifest
    * ([[graft.kg.Pattern.predStatsFromManifest]]), so a server fronting a
    * 10^12-triple store pays one small JSON read, never a counting scan,
    * and every query it serves gets the selectivity-ordered fold. */
  def startFromStore(port: Int, spark: SparkSession,
                     storePath: String, maxRows: Int = 1000): HttpServer = {
    val (triples, stats) = loadFrame(spark, storePath)
    start(port, triples, maxRows, stats, Some(storePath))
  }

  /** Stop a listener started by [[start]] (socket + its executor pool). */
  def stop(server: HttpServer): Unit = JsonListener.stop(server)
}
