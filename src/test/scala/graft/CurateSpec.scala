package graft

import graft.datapipe.Curate
import graft.io.TableFormat
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import scala.util.Random

/** Staged curation runAll: stage manifests, checkpoint-resume, and the
  * composed keep/dedup/sample semantics over a corpus with planted junk and
  * exact duplicates. (Near-dup CLUSTER semantics are covered by the
  * d_neardup_clusters oracle and DatapipeSpec; here the cluster stage runs as
  * part of the flow and must not drop non-duplicated docs.) */
class CurateSpec extends AnyFunSuite {
  lazy val spark = SparkTestBase.spark
  import spark.implicits._

  /** Alphabetic corpus that PASSES the C4 filter (stopwords present, sane
    * token lengths), plus planted exact dups and junk. */
  lazy val corpus = {
    val r = new Random(7)
    // wide vocabulary: narrow vocabs make independent docs' token MULTISETS
    // overlap enough that simhash legitimately clusters them (observed at
    // 16 words); 64 words keeps random docs far apart in hamming space.
    // "the " prefix guarantees the stopword rule passes for every base doc.
    val vocab = (0 until 60).map(i => s"word${('a' + i % 26).toChar}$i") ++
      Seq("and", "of", "to", "in")
    val base = (0 until 40).map { i =>
      (i.toLong, "the " + (0 until 29).map(_ => vocab(r.nextInt(vocab.length))).mkString(" "))
    }
    val exactDups = base.take(5).map { case (i, t) => (1000L + i, t) } // same text, new id
    val junk = Seq(
      (2000L, "too short"),                                               // too_short
      (2001L, "the " + (0 until 29).map(i => s"$i#!x").mkString(" ")),    // symbol_soup (stopword present, varied tokens)
      (2002L, "the " + (0 until 29).map(_ => "kappa").mkString(" ")))     // repetitive (2 distinct / 30)
    (base ++ exactDups ++ junk).toDF("doc_id", "text")
  }

  test("runAll writes all five stages with manifests; semantics compose") {
    val dir = java.nio.file.Files.createTempDirectory("curate").toString
    val out = Curate.runAll(spark, corpus, dir, buckets = 4,
      sampleRateBp = Some(lit(10000L))) // 100% — isolate filter+dedup semantics
    val paths = Curate.StagePaths(dir)
    paths.all.foreach(p => assert(TableFormat.isComplete(p), s"manifest missing at $p"))

    val ids = out.select("doc_id").as[Long].collect().toSet
    // junk rejected by the verdict stage
    assert(Seq(2000L, 2001L, 2002L).forall(!ids.contains(_)))
    // exact dups collapsed to the min-id representative
    assert((1000L until 1005L).forall(!ids.contains(_)))
    assert((0L until 5L).forall(ids.contains))
    // every clean base doc survives (cluster stage must not eat singletons)
    assert(ids === (0L until 40L).toSet)

    // verdict stage records per-rule reasons
    val reasons = TableFormat.load(spark, paths.verdicts)
      .select("doc_id", "reason").as[(Long, String)].collect().toMap
    assert(reasons(2000L) === "too_short")
    assert(reasons(2001L) === "symbol_soup")
    assert(reasons(2002L) === "repetitive")

    // packing stage: manifest over exactly the curated set, tokens conserved
    val packed = TableFormat.load(spark, paths.packed)
    assert(packed.select("doc_id").as[Long].collect().toSet === ids)
    val totalTokens = packed.agg(sum("n_tokens")).head().getLong(0)
    val lastEnd = packed.agg(max(col("tok_offset") + col("n_tokens"))).head().getLong(0)
    assert(totalTokens === lastEnd, "packed offsets must tile the token axis")
  }

  test("resume reuses complete stages and rebuilds only the deleted one") {
    val dir = java.nio.file.Files.createTempDirectory("curate").toString
    Curate.runAll(spark, corpus, dir, buckets = 4,
      sampleRateBp = Some(lit(10000L)))
    val paths = Curate.StagePaths(dir)
    def manifestMs(p: String): String = SparkTestBase.manifestJson(p).get("wall_ms").textValue
    val before = paths.all.dropRight(1).map(manifestMs)
    // nuke only the final stage; resume must rebuild it and ONLY it
    def rmrf(p: java.nio.file.Path): Unit = {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(p).iterator().asScala.toSeq.reverse
        .foreach(java.nio.file.Files.delete)
    }
    rmrf(java.nio.file.Paths.get(paths.packed))
    val out2 = Curate.runAll(spark, corpus, dir, buckets = 4,
      sampleRateBp = Some(lit(10000L)))
    assert(paths.all.dropRight(1).map(manifestMs) === before,
      "an upstream stage was recomputed on resume")
    assert(TableFormat.isComplete(paths.packed))
    assert(out2.select("doc_id").as[Long].collect().toSet === (0L until 40L).toSet)
  }

  test("rebuilding an upstream stage dirties everything downstream (packed can never go stale)") {
    val dir = java.nio.file.Files.createTempDirectory("curate").toString
    Curate.runAll(spark, corpus, dir, buckets = 4, sampleRateBp = Some(lit(10000L)))
    val paths = Curate.StagePaths(dir)
    def manifestMs(p: String): String = SparkTestBase.manifestJson(p).get("wall_ms").textValue
    val upstreamBefore = Seq(paths.verdicts, paths.deduped, paths.clusters).map(manifestMs)
    val packedBefore = manifestMs(paths.packed)
    def rmrf(p: java.nio.file.Path): Unit = {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(p).iterator().asScala.toSeq.reverse
        .foreach(java.nio.file.Files.delete)
    }
    Thread.sleep(2)
    // delete curated (e.g. to re-sample): packed must rebuild too — its
    // offsets are a function of the curated set
    rmrf(java.nio.file.Paths.get(paths.curated))
    Curate.runAll(spark, corpus, dir, buckets = 4, sampleRateBp = Some(lit(10000L)))
    assert(Seq(paths.verdicts, paths.deduped, paths.clusters).map(manifestMs)
      === upstreamBefore, "stages upstream of the deleted one must be reused")
    assert(manifestMs(paths.packed) !== packedBefore,
      "packed served a stale manifest for a rebuilt curated set")
  }

  test("runAll default sample works without a lang column (contract is doc_id+text only)") {
    val dir = java.nio.file.Files.createTempDirectory("curate-nolang").toString
    // corpus has no `lang`; the default rate must fall back to 100% flat
    // instead of resolving col("lang") and dying at stage (d)
    val out = Curate.runAll(spark, corpus, dir, buckets = 4)
    assert(out.count() > 0)
    val e = intercept[IllegalArgumentException] {
      Curate.runAll(spark, corpus.drop("text"), dir, buckets = 4)
    }
    assert(e.getMessage.contains("text"), "missing columns must fail at submit time")
  }

  test("deterministic sampling: same salt+ids give the same curated set at any rate") {
    val d1 = java.nio.file.Files.createTempDirectory("curate").toString
    val d2 = java.nio.file.Files.createTempDirectory("curate").toString
    val a = Curate.runAll(spark, corpus, d1, buckets = 4, resume = false,
      sampleRateBp = Some(lit(6000L))).select("doc_id").as[Long].collect().toSet
    val b = Curate.runAll(spark, corpus, d2, buckets = 4, resume = false,
      sampleRateBp = Some(lit(6000L))).select("doc_id").as[Long].collect().toSet
    assert(a === b)
    assert(a.size < 40 && a.nonEmpty) // the 60% rate actually sampled
  }
}
