package graft

import graft.io.TableFormat
import graft.kg.{Pattern, Sparql}
import org.scalatest.funsuite.AnyFunSuite
import scala.util.Random

/** Property fuzz for SPARQL Update: random op scripts applied to random
  * pred-partitioned stores, compared against a NAIVE driver-side set-algebra
  * model (direct transcription of SPARQL 1.1 Update §3.1's sequential
  * delete-then-insert semantics over an in-memory triple set). Same
  * deterministic-seed style as the other fuzz suites.
  *
  * What this pins beyond UpdateSpec's hand cases: for ANY interleaving of
  * ground inserts/deletes, DELETE WHERE patterns, and modify-form template
  * rewrites — including ops that touch the same leaf twice, empty a leaf,
  * re-create an emptied predicate, or no-op entirely — the store read-back
  * equals the model AND the merged lineage manifest equals a fresh recount
  * (the manifest can never drift from the data it describes, which is what
  * makes the metadata-only COUNT path trustworthy after updates). */
class UpdateFuzzSpec extends AnyFunSuite {
  lazy val spark = SparkTestBase.spark
  import spark.implicits._

  private type Triple = (String, String, String)

  private val subjects = (0 until 8).map(i => s"e$i")
  private val objects = (0 until 6).map(i => s"o$i") ++ subjects.take(3)

  /** A predicate alphabet and how a script spells one of its members. */
  private final case class Preds(all: Vector[String], term: String => String)
  private val plain = Preds(Vector("p0", "p1", "p2"), identity)
  /** Predicates that need path-escaping in their leaf directory name
    * (`:` and `/`, `"`) or that contain JSON structure characters (`}`),
    * written as quoted constants. */
  private val escaped = Preds(Vector("p0", "http://schema.org/name", "a\"b", "x}y"),
    p => "\"" + p.replace("\\", "\\\\").replace("\"", "\\\"") + "\"")

  private def randTriple(rnd: Random, preds: Preds = plain): Triple =
    (subjects(rnd.nextInt(subjects.size)), preds.all(rnd.nextInt(preds.all.size)),
      objects(rnd.nextInt(objects.size)))

  /** One random op: (script text, model transition). The model mirrors the
    * engine's set semantics on (s, p, o). */
  private def randOp(rnd: Random, state: Set[Triple],
                     preds: Preds = plain): (String, Set[Triple] => Set[Triple]) = {
    def pick() = preds.all(rnd.nextInt(preds.all.size))
    def ground(ts: Seq[Triple]) =
      ts.map(t => s"${t._1} ${preds.term(t._2)} ${t._3}").mkString(" . ")
    rnd.nextInt(5) match {
      case 0 => // INSERT DATA, 1-3 ground triples (some likely present)
        val ts = Seq.fill(1 + rnd.nextInt(3))(randTriple(rnd, preds))
        (s"INSERT DATA { ${ground(ts)} }", st => st ++ ts)
      case 1 => // DELETE DATA — bias toward triples that exist
        val pool = if (state.nonEmpty && rnd.nextBoolean())
          Seq(state.toSeq(rnd.nextInt(state.size))) else Seq(randTriple(rnd, preds))
        (s"DELETE DATA { ${ground(pool)} }", st => st -- pool)
      case 2 => // DELETE WHERE ?s <pred> ?o — whole predicate family
        val p = pick()
        (s"DELETE WHERE { ?s ${preds.term(p)} ?o }", st => st.filterNot(_._2 == p))
      case 3 => // DELETE WHERE with a constant subject
        val s0 = subjects(rnd.nextInt(subjects.size))
        val p = pick()
        (s"DELETE WHERE { $s0 ${preds.term(p)} ?o }",
          st => st.filterNot(t => t._1 == s0 && t._2 == p))
      case _ => // modify: rename predicate a→b (delete-then-insert, one op)
        val a = pick()
        val b = pick()
        (s"DELETE { ?s ${preds.term(a)} ?o } INSERT { ?s ${preds.term(b)} ?o } " +
          s"WHERE { ?s ${preds.term(a)} ?o }",
          st => {
            val moved = st.filter(_._2 == a)
            (st -- moved) ++ moved.map(t => (t._1, b, t._3))
          })
    }
  }

  test("random op scripts: store read-back == naive model; manifest == recount (seeds 0-7)") {
    randomScripts(plain)
  }

  test("random op scripts over predicates needing escaping: same properties, file metrics exact") {
    randomScripts(escaped, fileMetrics = true)
  }

  /** Seeds 0-7: random store, six random ops, and after each op the
    * read-back equals the model, the manifest's per-predicate lineage equals
    * a scan's, and no leaf holds more than one file. With `fileMetrics` the
    * manifest's file and byte totals must also equal a walk of the store. */
  private def randomScripts(preds: Preds, fileMetrics: Boolean = false): Unit = {
    for (seed <- 0 until 8) {
      val rnd = new Random(seed)
      val n = 6 + rnd.nextInt(15)
      var model: Set[Triple] = Seq.fill(n)(randTriple(rnd, preds)).toSet
      val dir = java.nio.file.Files.createTempDirectory(s"graft-updfuzz$seed")
        .toString + "/store"
      TableFormat.savePartitioned(model.toSeq.toDF("subj", "pred", "obj"), dir,
        partCol = "pred", keyCol = "subj", buckets = 4, stage = "fuzz")
      for (step <- 0 until 6) {
        val (script, transition) = randOp(rnd, model, preds)
        Sparql.update(spark, dir, script)
        model = transition(model)
        val got = TableFormat.load(spark, dir).select("subj", "pred", "obj")
          .as[Triple].collect().toSet
        assert(got === model, s"seed=$seed step=$step script=$script")
        val scanned = Pattern.predStats(TableFormat.load(spark, dir))
        assert(Pattern.predStatsFromManifest(dir) === scanned,
          s"manifest drift: seed=$seed step=$step script=$script")
        // copy-on-write invariant: every update rewrites its touched leaves
        // WHOLESALE (one file per leaf), so arbitrary update sequences never
        // fragment the store — no compaction debt, ever
        assert(leafFileCounts(dir).forall(_._2 == 1),
          s"fragmented leaf: seed=$seed step=$step ${leafFileCounts(dir).filter(_._2 > 1)}")
        if (fileMetrics) {
          val m = TableFormat.readManifest(dir)
          assert((m.files, m.bytes) === TableFormat.walkFilesBytes(java.nio.file.Paths.get(dir)),
            s"file metrics drift: seed=$seed step=$step script=$script")
        }
      }
    }
  }

  private def leafFileCounts(store: String): Seq[(String, Int)] = {
    import scala.jdk.CollectionConverters._
    val root = java.nio.file.Paths.get(store)
    val walk = java.nio.file.Files.walk(root)
    try walk.iterator().asScala
      .filter(p => java.nio.file.Files.isRegularFile(p) &&
        p.getFileName.toString.endsWith(".parquet"))
      .map(p => root.relativize(p).getParent.toString)
      .toSeq.groupBy(identity).view.mapValues(_.size).toSeq
    finally walk.close()
  }

  test("multi-op scripts with ';' apply sequentially (each op sees the previous one's state)") {
    for (seed <- 100 until 103) {
      val rnd = new Random(seed)
      var model: Set[Triple] = Seq.fill(10)(randTriple(rnd)).toSet
      val dir = java.nio.file.Files.createTempDirectory(s"graft-updseq$seed")
        .toString + "/store"
      TableFormat.savePartitioned(model.toSeq.toDF("subj", "pred", "obj"), dir,
        partCol = "pred", keyCol = "subj", buckets = 4, stage = "fuzz")
      val parts = Seq.fill(3)(randOp(rnd, model))
      Sparql.update(spark, dir, parts.map(_._1).mkString(" ;\n"))
      model = parts.map(_._2).foldLeft(model)((st, f) => f(st))
      val got = TableFormat.load(spark, dir).select("subj", "pred", "obj")
        .as[Triple].collect().toSet
      assert(got === model, s"seed=$seed script=${parts.map(_._1)}")
    }
  }

  test("update parser totality: adversarial strings fail loudly, never crash or hang") {
    val rnd = new Random(42)
    val frags = Vector("INSERT", "DELETE", "DATA", "WHERE", "{", "}", ";", ".",
      "?s", "?o", "p0", "e1", "\"q\"", "(", ")", "FILTER", "OPTIONAL", "=",
      "GRAPH", "BIND", "SELECT", "AS", "&&", "||")
    var parsed = 0
    for (_ <- 0 until 400) {
      val text = Seq.fill(1 + rnd.nextInt(12))(frags(rnd.nextInt(frags.size)))
        .mkString(" ")
      try { Sparql.parseUpdateCount(text); parsed += 1 }
      catch { case _: IllegalArgumentException => () } // loud, typed, fine
    }
    assert(parsed >= 0) // the property is "no other throwable escaped"
  }
}
