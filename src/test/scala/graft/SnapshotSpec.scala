package graft

import graft.io.{Snapshots, TableFormat}
import graft.kg.Canonicalize
import graft.operators.BloomJoin
import graft.fixtures.Fixtures
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import scala.util.Random

/** Snapshot log (time travel / incremental scan / expire), bloom-pruned
  * joins, incremental CC, and the incremental pipeline's full==delta-union
  * invariant. */
class SnapshotSpec extends AnyFunSuite {
  lazy val spark = SparkTestBase.spark
  import spark.implicits._

  private def tmp(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString
  private def rm(f: java.io.File): Unit = {
    if (f.isDirectory) f.listFiles.foreach(rm); f.delete()
  }

  test("snapshot append: time travel and incremental scan are exact") {
    val dir = tmp("graft-snap")
    val t = s"$dir/tbl"
    val s1 = Snapshots.commit((0L until 10L).map(i => (i, s"a$i")).toDF("id", "v"),
      t, "id", buckets = 2, stage = "batch-1")
    val s2 = Snapshots.commit((10L until 25L).map(i => (i, s"b$i")).toDF("id", "v"),
      t, "id", buckets = 2, stage = "batch-2")
    assert(s1.id === 1L && s2.id === 2L && s2.parentId === 1L)
    assert(s1.rows === 10L && s2.rows === 25L) // uniform semantic: total data-dir rows
    // current = union of both batches
    assert(Snapshots.load(spark, t).count() === 25L)
    // time travel to snapshot 1 = first batch only
    assert(Snapshots.load(spark, t, asOf = Some(1L)).as[(Long, String)]
      .collect().toSet === (0L until 10L).map(i => (i, s"a$i")).toSet)
    // incremental scan (1 -> current] = exactly the appended rows
    assert(Snapshots.changes(spark, t, fromId = 1L).as[(Long, String)]
      .collect().toSet === (10L until 25L).map(i => (i, s"b$i")).toSet)
    rm(new java.io.File(dir))
  }

  test("snapshot overwrite resets lineage; incremental scan across it refuses") {
    val dir = tmp("graft-snap-ow")
    val t = s"$dir/tbl"
    Snapshots.commit(Seq((1L, "x")).toDF("id", "v"), t, "id", 2, "b1")
    Snapshots.commit(Seq((2L, "y")).toDF("id", "v"), t, "id", 2, "rewrite", op = "overwrite")
    assert(Snapshots.load(spark, t).as[(Long, String)].collect().toSeq === Seq((2L, "y")))
    // snapshot 1 still resolves (time travel across the overwrite)
    assert(Snapshots.load(spark, t, asOf = Some(1L)).as[(Long, String)]
      .collect().toSeq === Seq((1L, "x")))
    val e = intercept[IllegalStateException](Snapshots.changes(spark, t, 1L))
    assert(e.getMessage.contains("overwrite"))
    rm(new java.io.File(dir))
  }

  test("expire drops only unreferenced data dirs and keeps current reads intact") {
    val dir = tmp("graft-snap-exp")
    val t = s"$dir/tbl"
    Snapshots.commit(Seq((1L, "a")).toDF("id", "v"), t, "id", 2, "b1")
    Snapshots.commit(Seq((2L, "b")).toDF("id", "v"), t, "id", 2, "rewrite", op = "overwrite")
    Snapshots.commit(Seq((3L, "c")).toDF("id", "v"), t, "id", 2, "b3")
    val removed = Snapshots.expire(t, keepLast = 2)
    // snapshots 2 and 3 survive; snapshot 1's dir is referenced by NEITHER
    // (the overwrite dropped it) so it is the single orphan
    assert(removed === Vector("snap-000001"))
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(t, "snap-000001")))
    assert(Snapshots.load(spark, t).count() === 2L)
    assert(Snapshots.snapshots(t).map(_.id) === Vector(2L, 3L))
    intercept[IllegalArgumentException](Snapshots.load(spark, t, asOf = Some(1L)))
    rm(new java.io.File(dir))
  }

  test("rewrite compacts to one dir with identical rows; history survives until expire") {
    val dir = tmp("graft-snap-rw")
    val t = s"$dir/tbl"
    Snapshots.commit((0L until 10L).map(i => (i, s"a$i")).toDF("id", "v"), t, "id", 2, "b1")
    Snapshots.commit((10L until 25L).map(i => (i, s"b$i")).toDF("id", "v"), t, "id", 2, "b2")
    val before = Snapshots.load(spark, t).as[(Long, String)].collect().toSet
    val rw = Snapshots.rewrite(spark, t, "id", buckets = 2)
    assert(rw.id === 3L && rw.op === "overwrite" && rw.dirs.size === 1)
    assert(Snapshots.load(spark, t).as[(Long, String)].collect().toSet === before)
    // pre-rewrite snapshots still time-travel; incremental across it refuses
    assert(Snapshots.load(spark, t, asOf = Some(1L)).count() === 10L)
    intercept[IllegalStateException](Snapshots.changes(spark, t, 1L))
    // a second rewrite is a no-op (no empty commit)
    assert(Snapshots.rewrite(spark, t, "id", buckets = 2).id === 3L)
    // expire reclaims the two pre-rewrite dirs, reads stay intact
    val removed = Snapshots.expire(t, keepLast = 1)
    assert(removed.toSet === Set("snap-000001", "snap-000002"))
    assert(Snapshots.load(spark, t).as[(Long, String)].collect().toSet === before)
    rm(new java.io.File(dir))
  }

  test("schema evolution: a column added in a later snapshot reads as null for old rows") {
    val dir = tmp("graft-snap-evo")
    val t = s"$dir/tbl"
    Snapshots.commit(Seq((1L, "a")).toDF("id", "v"), t, "id", 2, "b1")
    Snapshots.commit(Seq((2L, "b", 9L)).toDF("id", "v", "extra"), t, "id", 2, "b2")
    val rows = Snapshots.load(spark, t)
      .select("id", "v", "extra").as[(Long, String, Option[Long])].collect().toSet
    assert(rows === Set((1L, "a", None), (2L, "b", Some(9L))))
    // time travel to the pre-evolution snapshot shows the old schema
    assert(Snapshots.load(spark, t, asOf = Some(1L)).columns.toSeq === Seq("id", "v"))
    rm(new java.io.File(dir))
  }

  test("runIncremental refuses a changed dictionary (stale-canonicalization guard)") {
    val work = tmp("graft-incr-dict")
    val dict = spark.createDataset(Fixtures.entityDictionary()).toDF()
    val docs = spark.createDataset(Fixtures.inputDocs(6))
    Pipeline.runIncremental(spark, docs, dict, work, batchId = "b1", buckets = 2)
    val grown = dict.unionByName(dict.limit(1)
      .withColumn("entity_id", lit(999999L))
      .withColumn("canonical", lit("brand new entity")))
    val e = intercept[IllegalStateException](
      Pipeline.runIncremental(spark, docs, grown, work, batchId = "b2", buckets = 2))
    assert(e.getMessage.contains("dictionary changed"))
    rm(new java.io.File(work))
  }

  test("bloom-pruned join is row-identical to the plain join (long and string keys)") {
    val r = new Random(7)
    val big = (0 until 5000).map(_ => (r.nextInt(1000).toLong, r.nextInt(100)))
      .toDF("k", "payload")
    val dim = (0 until 200).map(i => (i.toLong * 5, s"d$i")).toDF("dk", "name")
    val pruned = BloomJoin.prunedJoin(big, "k", dim, "dk", expectedItems = 200)
    val plain = big.join(dim, col("k") === col("dk"))
    assert(pruned.count() === plain.count())
    assert(pruned.exceptAll(plain).count() === 0L)
    assert(plain.exceptAll(pruned).count() === 0L)
    // string keys take the binary probe path
    val bigS = (0 until 2000).map(i => (s"e${i % 300}", i)).toDF("k", "n")
    val dimS = (0 until 100).map(i => (s"e${i * 3}", i)).toDF("dk", "m")
    val prunedS = BloomJoin.prunedJoin(bigS, "k", dimS, "dk", expectedItems = 100)
    val plainS = bigS.join(dimS, col("k") === col("dk"))
    assert(prunedS.exceptAll(plainS).count() === 0L)
    assert(plainS.exceptAll(prunedS).count() === 0L)
  }

  test("bloom might_contain has no false negatives and prunes most non-keys") {
    val dim = (0L until 500L).map(i => i * 7).toDF("k")
    val bloom = BloomJoin.keyBloom(dim, "k", expectedItems = 500, fpp = 0.01)
    val probe = (0L until 10000L).toDF("k")
      .withColumn("hit", BloomJoin.mightContain(col("k"), bloom))
    val hits = probe.filter(col("hit")).select("k").as[Long].collect().toSet
    // every true key passes
    assert((0L until 500L).map(_ * 7).forall(hits.contains))
    // false-positive rate stays near the configured 1%
    val fp = hits.size - 500
    assert(fp < 10000 * 0.03, s"false positives too high: $fp")
  }

  test("property: incremental CC equals full recompute on 8 random edge splits") {
    val r = new Random(17)
    for (_ <- 0 until 8) {
      val n = 8 + r.nextInt(25)
      val edges = (0 until 10 + r.nextInt(40))
        .map(_ => (r.nextInt(n).toLong, r.nextInt(n).toLong))
        .filter(e => e._1 != e._2).distinct
      if (edges.size >= 2) {
        val cut = 1 + r.nextInt(edges.size - 1)
        val (oldE, newE) = edges.splitAt(cut)
        val prev = Canonicalize.connectedComponents(spark, oldE.toDF("src", "dst"))
        val got = Canonicalize
          .incrementalComponents(spark, prev, newE.toDF("src", "dst"))
          .as[(Long, Long)].collect().toMap
        val full = Canonicalize.connectedComponents(spark, edges.toDF("src", "dst"))
          .as[(Long, Long)].collect().toMap
        assert(got === full, s"old=$oldE new=$newE")
      }
    }
  }

  test("runIncremental over a doc split equals runAll over the union, and is idempotent") {
    val work = tmp("graft-incr")
    val dict = spark.createDataset(Fixtures.entityDictionary()).toDF()
    val docs = spark.createDataset(Fixtures.inputDocs(24))
    val full = Pipeline.runAll(spark, docs, dict, s"$work/full", buckets = Some(2))

    val firstHalf = docs.filter(d => d.doc_id < "doc-000012")
    val secondHalf = docs.filter(d => d.doc_id >= "doc-000012")
    val after1 = Pipeline.runIncremental(spark, firstHalf, dict,
      s"$work/incr", batchId = "b1", buckets = 2)
    val n1 = after1.count()
    assert(n1 > 0)
    val after2 = Pipeline.runIncremental(spark, secondHalf, dict,
      s"$work/incr", batchId = "b2", buckets = 2)
    assert(after2.exceptAll(full).count() === 0L)
    assert(full.exceptAll(after2).count() === 0L)
    // exactly-once: re-running batch b2 commits nothing new
    val snapsBefore = Snapshots.snapshots(s"$work/incr/triples").map(_.id)
    val again = Pipeline.runIncremental(spark, secondHalf, dict,
      s"$work/incr", batchId = "b2", buckets = 2)
    assert(Snapshots.snapshots(s"$work/incr/triples").map(_.id) === snapsBefore)
    assert(again.count() === after2.count())
    // per-stage snapshot logs carry one append per batch, entities one dict commit
    for (st <- Seq("docs_labeled", "mentions", "linked", "triples"))
      assert(Snapshots.snapshots(s"$work/incr/$st").map(_.stage) === Vector("b1", "b2"), st)
    val entStages = Snapshots.snapshots(s"$work/incr/entities").map(_.stage)
    assert(entStages.size === 1 && entStages.head.startsWith("dict:"), entStages)
    rm(new java.io.File(work))
  }

  test("runIncremental with dict growth equals a full rebuild with the grown dict") {
    val work = tmp("graft-incr-dictgrow")
    val dict = spark.createDataset(Fixtures.entityDictionary()).toDF()
    // delta = every entity_id ≡ 1 mod 5: includes the second member of every
    // shared group-N alias pair, so the fold must MERGE real components, and
    // plenty of linkable surfaces, so retro-linking must fire
    val delta = dict.filter(col("entity_id") % 5 === 1)
    val oldDict = dict.filter(col("entity_id") % 5 =!= 1)
    assert(delta.count() > 0 && oldDict.count() > 0)
    val docs = spark.createDataset(Fixtures.inputDocs(24))
    val full = Pipeline.runAll(spark, docs, dict, s"$work/full", buckets = Some(2))

    val firstHalf = docs.filter(d => d.doc_id < "doc-000012")
    val secondHalf = docs.filter(d => d.doc_id >= "doc-000012")
    // batch 1 under the SMALLER dict
    Pipeline.runIncremental(spark, firstHalf, oldDict,
      s"$work/incr", batchId = "b1", buckets = 2)
    // batch 2 arrives with the grown dict + the delta → recovery fold
    val after2 = Pipeline.runIncremental(spark, secondHalf, dict,
      s"$work/incr", batchId = "b2", buckets = 2, dictChange = Some(Pipeline.DictChange.Added(delta)))
    assert(after2.exceptAll(full).count() === 0L)
    assert(full.exceptAll(after2).count() === 0L)
    // the fold actually rewired canonicalization: entities table now carries
    // the full-dict fingerprint and at least one merged component
    val entStages = Snapshots.snapshots(s"$work/incr/entities").map(_.stage)
    assert(entStages.size === 2 && entStages.forall(_.startsWith("dict:")))
    assert(entStages.distinct.size === 2, "overwrite must carry the NEW dict fp")
    // idempotent: re-running b2 with the same delta commits nothing new
    val snapsBefore = Snapshots.snapshots(s"$work/incr/triples").map(_.id)
    val again = Pipeline.runIncremental(spark, secondHalf, dict,
      s"$work/incr", batchId = "b2", buckets = 2, dictChange = Some(Pipeline.DictChange.Added(delta)))
    assert(Snapshots.snapshots(s"$work/incr/triples").map(_.id) === snapsBefore)
    assert(again.count() === after2.count())
    rm(new java.io.File(work))
  }

  test("runIncremental with dict shrink equals a full rebuild with the shrunk dict") {
    val work = tmp("graft-incr-dictshrink")
    val dict = spark.createDataset(Fixtures.entityDictionary()).toDF()
    // removed = every entity_id ≡ 0 mod 5: includes the 40k-member of every
    // shared group-K alias pair, so components must SPLIT, and linkable
    // surfaces, so removed-winner retro-linking must fire
    val removed = dict.filter(col("entity_id") % 5 === 0)
    val newDict = dict.filter(col("entity_id") % 5 =!= 0)
    assert(removed.count() > 0 && newDict.count() > 0)
    val docs = spark.createDataset(Fixtures.inputDocs(24))
    val full = Pipeline.runAll(spark, docs, newDict, s"$work/full", buckets = Some(2))

    val firstHalf = docs.filter(d => d.doc_id < "doc-000012")
    val secondHalf = docs.filter(d => d.doc_id >= "doc-000012")
    // batch 1 under the FULL dict
    Pipeline.runIncremental(spark, firstHalf, dict,
      s"$work/incr", batchId = "b1", buckets = 2)
    // the shrink genuinely rewires state: some doc linked a removed entity
    val preLinked = Snapshots.load(spark, s"$work/incr/linked")
    assert(preLinked.join(removed.select(col("entity_id")), Seq("entity_id"), "left_semi")
      .count() > 0, "fixture must have linked a to-be-removed entity for the test to bite")
    // batch 2 arrives after the deletion → recovery fold
    val after2 = Pipeline.runIncremental(spark, secondHalf, newDict,
      s"$work/incr", batchId = "b2", buckets = 2, dictChange = Some(Pipeline.DictChange.Removed(removed)))
    assert(after2.exceptAll(full).count() === 0L)
    assert(full.exceptAll(after2).count() === 0L)
    // no triple or linked row references a removed entity anymore
    val remIds = removed.select(concat(lit("ent:"), col("entity_id").cast("string")).as("subj"))
    assert(after2.join(remIds, Seq("subj"), "left_semi").count() === 0L)
    // entities table carries the shrunk-dict fingerprint (two dict stages)
    val entStages = Snapshots.snapshots(s"$work/incr/entities").map(_.stage)
    assert(entStages.size === 2 && entStages.distinct.size === 2)
    // idempotent: re-running b2 with the same removal commits nothing new
    val snapsBefore = Snapshots.snapshots(s"$work/incr/triples").map(_.id)
    val again = Pipeline.runIncremental(spark, secondHalf, newDict,
      s"$work/incr", batchId = "b2", buckets = 2, dictChange = Some(Pipeline.DictChange.Removed(removed)))
    assert(Snapshots.snapshots(s"$work/incr/triples").map(_.id) === snapsBefore)
    assert(again.count() === after2.count())
    rm(new java.io.File(work))
  }

  test("dict-change fold resumes from every commit boundary of batch 2 to the one-shot triples") {
    import java.nio.file.{Files, Paths}
    val dict = spark.createDataset(Fixtures.entityDictionary()).toDF()
    val docs = spark.createDataset(Fixtures.inputDocs(24))
    val firstHalf = docs.filter(d => d.doc_id < "doc-000012")
    val secondHalf = docs.filter(d => d.doc_id >= "doc-000012")
    val tables = Seq("docs_labeled", "mentions", "linked", "entities", "triples", "shrink_docs")
    def logLines(t: String): Vector[String] = {
      val p = Paths.get(t, "_snapshots.jsonl")
      if (!Files.exists(p)) Vector.empty
      else Files.readAllLines(p).toArray(Array.empty[String]).toVector.filter(_.nonEmpty)
    }
    def sorted(df: org.apache.spark.sql.DataFrame, cols: Seq[String]): Seq[String] =
      df.select(cols.map(col): _*).collect().map(_.toString).toSeq.sorted
    val cases = Seq(
      ("added", dict.filter(col("entity_id") % 5 =!= 1), dict,
        Pipeline.DictChange.Added(dict.filter(col("entity_id") % 5 === 1)), "b2:dict"),
      ("removed", dict, dict.filter(col("entity_id") % 5 =!= 0),
        Pipeline.DictChange.Removed(dict.filter(col("entity_id") % 5 === 0)), "b2:dict-shrink"))
    for ((name, dict1, dict2, change, prefix) <- cases) {
      val work = tmp(s"graft-fold-crash-$name")
      val full = Pipeline.runAll(spark, docs, dict2, s"$work/full", buckets = Some(2))
      val want = sorted(full, full.columns.toSeq)
      val incr = s"$work/incr"
      def runB2() = Pipeline.runIncremental(spark, secondHalf, dict2, incr,
        batchId = "b2", buckets = 2, dictChange = Some(change))
      Pipeline.runIncremental(spark, firstHalf, dict1, incr, batchId = "b1", buckets = 2)
      val b1Lines = tables.map(t => t -> logLines(s"$incr/$t")).toMap
      assert(sorted(runB2(), full.columns.toSeq) === want, name)
      val b2Lines = tables.map(t => t -> logLines(s"$incr/$t").drop(b1Lines(t).size)).toMap
      val stagesAfterB2 = tables.map(t => t -> Snapshots.snapshots(s"$incr/$t").map(_.stage)).toMap
      // every commit batch 2 made, in commit order
      val commits = tables.flatMap { t =>
        Snapshots.snapshots(s"$incr/$t").drop(b1Lines(t).size).map(sn => (sn.tsMs, t, sn.stage))
      }.sortBy(_._1)
      assert(commits.map(_._1).distinct.size === commits.size, s"$name: tied commit times $commits")
      // the fold committed every step, so each boundary below is a real one
      val foldStages = Seq(s"$prefix-relink-del", s"$prefix-relink", s"$prefix-refit-del", s"$prefix-refit")
      assert(foldStages.forall(commits.map(_._3).contains), s"$name: $commits")
      for (k <- commits.indices) {
        // crash after batch 2's first k commits: every log keeps its lines
        // up to there; the orphaned snap-* dirs of later commits stay on disk
        val kept = commits.take(k).groupBy(_._2).map { case (t, cs) => t -> cs.size }
        for (t <- tables) {
          val log = Paths.get(incr, t, "_snapshots.jsonl")
          if (Files.exists(log)) Files.writeString(log,
            (b1Lines(t) ++ b2Lines(t).take(kept.getOrElse(t, 0))).map(_ + "\n").mkString)
        }
        assert(sorted(runB2(), full.columns.toSeq) === want, s"$name: resume after commit $k")
        for (t <- tables)
          assert(Snapshots.snapshots(s"$incr/$t").map(_.stage) === stagesAfterB2(t),
            s"$name: $t log after resuming from commit $k")
      }
      rm(new java.io.File(work))
    }
  }

  test("column stats sidecar: bounds, null count, and string columns round-trip") {
    val dir = tmp("graft-stats")
    val t = s"$dir/tbl"
    val rows = Seq((5L, "mm"), (17L, "aa"), (9L, null)).toDF("id", "v")
    Snapshots.commit(rows, t, "id", buckets = 2, stage = "b1",
      statsCols = Seq("id", "v"))
    val st = Snapshots.stats(t, "snap-000001").get
    val idS = st.find(_.col == "id").get
    assert(idS.typ === "long" && idS.min === "5" && idS.max === "17" && idS.nulls === 0L)
    val vS = st.find(_.col == "v").get
    assert(vS.typ === "string" && vS.min === "aa" && vS.max === "mm" && vS.nulls === 1L)
    // a dir committed WITHOUT stats has no sidecar and is never prunable
    Snapshots.commit(Seq((100L, "z")).toDF("id", "v"), t, "id", 2, "b2")
    assert(Snapshots.stats(t, "snap-000002").isEmpty)
    val (kept, all) = Snapshots.pruneDirs(t, "id", 0L, 1L)
    assert(all.size === 2 && kept === Vector("snap-000002"), kept)
    // a genuine empty-string bound is BOUNDED (distinct from the all-null
    // sentinel) — the dir must stay readable for ranges containing ""
    Snapshots.commit(Seq((200L, ""), (201L, "")).toDF("id", "v"), t, "id", 2,
      "b3", statsCols = Seq("v"))
    val eS = Snapshots.stats(t, "snap-000003").get.find(_.col == "v").get
    assert(eS.bounded && eS.min === "" && eS.max === "")
    assert(Snapshots.pruneDirs(t, "v", "", "z")._1.contains("snap-000003"))
    // control characters in string bounds round-trip through the \uXXXX
    // escape and compare UNESCAPED
    Snapshots.commit(Seq((300L, "\t1")).toDF("id", "v"), t, "id", 2,
      "b4", statsCols = Seq("v"))
    val cS = Snapshots.stats(t, "snap-000004").get.find(_.col == "v").get
    assert(cS.min === "\t1" && cS.max === "\t1")
    assert(Snapshots.pruneDirs(t, "v", "\t0", "\t2")._1.contains("snap-000004"))
    // supplementary characters: bounds compare in UTF-8/code-point order
    // (Java UTF-16 unit order would call U+1F600 < U+E000 and prune wrongly)
    val emoji = new String(Character.toChars(0x1F600))
    Snapshots.commit(Seq((400L, "\uE000"), (401L, emoji)).toDF("id", "v"),
      t, "id", 2, "b5", statsCols = Seq("v"))
    val uS = Snapshots.stats(t, "snap-000005").get.find(_.col == "v").get
    assert(uS.min === "\uE000" && uS.max === emoji)
    // probe at U+F000: inside [U+E000, U+1F600] by code points, but OUTSIDE by
    // UTF-16 units (emoji's lead surrogate 0xD83D < 0xF000) — must be kept
    assert(Snapshots.pruneDirs(t, "v", "\uF000", "\uF000")._1.contains("snap-000005"))
    rm(new java.io.File(dir))
  }

  test("stats-pruned scan: equals the full-scan filter, skips disjoint dirs") {
    val dir = tmp("graft-stats-prune")
    val t = s"$dir/tbl"
    // key-range-ordered ingest: four batches over [0,40), plus an all-null dir
    val batches = Seq(0L until 10L, 10L until 20L, 20L until 30L, 30L until 40L)
    batches.foreach { r =>
      Snapshots.commit(r.map(i => (i, s"v$i")).toDF("id", "v"), t, "id",
        buckets = 2, stage = s"b${r.head / 10}", statsCols = Seq("id"))
    }
    Snapshots.commit(Seq((null.asInstanceOf[java.lang.Long], "orphan"))
        .toDF("id", "v"), t, "id", buckets = 2, stage = "nulls",
      statsCols = Seq("id"))
    // [12, 27] overlaps exactly batches 2 and 3; the null dir is skippable
    // (no null row satisfies a range predicate)
    val (kept, all) = Snapshots.pruneDirs(t, "id", 12L, 27L)
    assert(all.size === 5 && kept === Vector("snap-000002", "snap-000003"), kept)
    val pruned = Snapshots.loadPruned(spark, t, "id", 12L, 27L)
      .as[(Long, String)].collect().toSet
    assert(pruned === (12L to 27L).map(i => (i, s"v$i")).toSet)
    // inclusive-bound edges: lo == a dir max and hi == a dir min both keep
    assert(Snapshots.pruneDirs(t, "id", 9L, 10L)._1 ===
      Vector("snap-000001", "snap-000002"))
    // disjoint range: zero dirs kept, scan returns zero rows with the schema
    val (none, _) = Snapshots.pruneDirs(t, "id", 100L, 200L)
    assert(none.isEmpty)
    val empty = Snapshots.loadPruned(spark, t, "id", 100L, 200L)
    assert(empty.columns.toSeq === Seq("id", "v") && empty.count() === 0L)
    // string-bound pruning over string stats
    val (sKept, _) = Snapshots.pruneDirs(t, "v", "v12", "v27")
    assert(sKept.nonEmpty) // v-stats absent → every dir kept, never pruned wrong
    // type mismatch between bounds and recorded stats fails loudly
    val e = intercept[IllegalArgumentException](
      Snapshots.pruneDirs(t, "id", "a", "b"))
    assert(e.getMessage.contains("long"))
    rm(new java.io.File(dir))
  }

  test("metadata written in the earlier byte format (spaces after ':' and ',') still reads") {
    import java.nio.file.{Files, Paths}
    val dir = tmp("graft-compat")
    // a manifest exactly as the string-built writer laid it out
    val store = s"$dir/store"
    Files.createDirectories(Paths.get(store))
    Files.writeString(Paths.get(store, "_manifest.json"),
      """{"stage": "triples", "bucket_key": "subj", "buckets": "4", "part_col": "pred", """ +
      """"wall_ms": "1700000000123", "partition_rows": {"pred=inDoc/part_bucket=0": 3, """ +
      """"pred=inDoc/part_bucket=3": 2, "pred=label/part_bucket=1": 5}, """ +
      """"metrics": {"rows": 10, "files": 3, "bytes": 4096, "write_ms": 17}, "complete": true}""")
    val m = TableFormat.readManifest(store)
    assert(m.fields === Map("stage" -> "triples", "bucket_key" -> "subj", "buckets" -> "4",
      "part_col" -> "pred", "wall_ms" -> "1700000000123"))
    assert(m.leafRows === Seq("pred=inDoc/part_bucket=0" -> 3L,
      "pred=inDoc/part_bucket=3" -> 2L, "pred=label/part_bucket=1" -> 5L))
    assert(m.files === 3L && m.bytes === 4096L && m.buckets === 4)
    assert(graft.kg.Pattern.predStatsFromManifest(store) === Map("inDoc" -> 5L, "label" -> 5L))
    assert(TableFormat.manifestWallMs(store) === 1700000000123L)

    // a snapshot log line from before merge-on-read deletes: no "dels"
    val t = s"$dir/tbl"
    val s1 = Snapshots.commit((0L until 6L).map(i => (i, s"v$i")).toDF("id", "v"),
      t, "id", buckets = 2, stage = "b\"1", statsCols = Seq("id", "v"))
    Files.writeString(Paths.get(t, "_snapshots.jsonl"),
      s"""{"id": 1, "parent": 0, "op": "append", "dirs": ["snap-000001"], """ +
      s""""stage": "b\\"1", "rows": 6, "ts_ms": ${s1.tsMs}}\n""")
    assert(Snapshots.snapshots(t) === Vector(s1))
    assert(Snapshots.load(spark, t).count() === 6L)

    // a stats sidecar line in the same earlier layout reads back unchanged
    val s1Stats = Paths.get(t, "snap-000001", "_stats.jsonl")
    val written = Snapshots.stats(t, "snap-000001").get
    Files.writeString(s1Stats,
      """{"col": "id", "type": "long", "bounded": true, "min": "0", "max": "5", "nulls": 0}""" +
      "\n" +
      """{"col": "v", "type": "string", "bounded": true, "min": "v0", "max": "v5", "nulls": 0}""" +
      "\n")
    assert(Snapshots.stats(t, "snap-000001") === Some(written))

    // a corrupt sidecar reads as None, and the pruned scan still equals the
    // unpruned filter (the dir is kept, never pruned wrongly)
    Snapshots.commit((100L until 104L).map(i => (i, s"w$i")).toDF("id", "v"),
      t, "id", buckets = 2, stage = "b2", statsCols = Seq("id"))
    Files.writeString(Paths.get(t, "snap-000002", "_stats.jsonl"),
      """{"col": "id", "type": "long", "bounded": tr""")
    assert(Snapshots.stats(t, "snap-000002") === None)
    for ((lo, hi) <- Seq((2L, 4L), (101L, 102L), (50L, 60L))) {
      val pruned = Snapshots.loadPruned(spark, t, "id", lo, hi).as[(Long, String)].collect().toSet
      val full = Snapshots.load(spark, t).filter(col("id").between(lo, hi))
        .as[(Long, String)].collect().toSet
      assert(pruned === full, s"[$lo, $hi]")
    }
    assert(Snapshots.pruneDirs(t, "id", 101L, 102L)._1 === Vector("snap-000002"))
    rm(new java.io.File(dir))
  }

  test("clustered rewrite: second-column pruning, null routing, history intact") {
    val dir = tmp("graft-clus")
    val t = s"$dir/tbl"
    // ingest ordered by id; the SECOND column w is id*7 mod 100 — scattered,
    // so pre-rewrite every dir's w-bounds overlap and nothing prunes on w
    def w(i: Long): java.lang.Long = if (i == 13L) null else (i * 7) % 100
    Snapshots.commit((0L until 20L).map(i => (i, w(i), s"v$i")).toDF("id", "w", "v"),
      t, "id", buckets = 2, stage = "b1", statsCols = Seq("id", "w"))
    Snapshots.commit((20L until 40L).map(i => (i, w(i), s"v$i")).toDF("id", "w", "v"),
      t, "id", buckets = 2, stage = "b2", statsCols = Seq("id", "w"))
    assert(Snapshots.pruneDirs(t, "w", 10L, 30L)._1.size === 2) // no skipping yet
    val rw = Snapshots.rewriteClustered(spark, t, "id", "w",
      splits = Seq(25L, 50L, 75L), buckets = 2, statsCols = Seq("id"))
    assert(rw.op === "overwrite" && rw.dirs.size === 4 && rw.rows === 40L)
    // every slice dir carries stats for BOTH the cluster col and id
    rw.dirs.foreach { d =>
      val cols = Snapshots.stats(t, d).get.map(_.col).toSet
      assert(cols === Set("w", "id"), d)
    }
    // full read preserves every row including the null-w one (slice 0)
    val all = Snapshots.load(spark, t).select("id").as[Long].collect().toSet
    assert(all === (0L until 40L).toSet)
    assert(Snapshots.stats(t, rw.dirs.head).get.find(_.col == "w").get.nulls === 1L)
    // a w-range inside one slice now reads ONE dir, exactly
    val (kept, _) = Snapshots.pruneDirs(t, "w", 30L, 45L)
    assert(kept === Vector(rw.dirs(1)), kept)
    val expect = (0L until 40L).filter(i => w(i) != null && w(i) >= 30 && w(i) <= 45)
      .map(i => (i, s"v$i")).toSet
    assert(Snapshots.loadPruned(spark, t, "w", 30L, 45L)
      .select($"id", $"v").as[(Long, String)].collect().toSet === expect)
    // pre-rewrite snapshots still time-travel
    assert(Snapshots.load(spark, t, asOf = Some(1L)).count() === 20L)
    // slice bounds respect the slice predicate (slice 3 = (75, ∞))
    val s3 = Snapshots.stats(t, rw.dirs(3)).get.find(_.col == "w").get
    assert(s3.min.toLong > 75L)
    rm(new java.io.File(dir))
  }

  test("merge: CoW upsert rewrites only dirs holding delta keys; others ride by reference") {
    val dir = tmp("graft-merge")
    val t = s"$dir/tbl"
    for ((r, st) <- Seq((0L until 10L, "b1"), (10L until 20L, "b2"), (20L until 30L, "b3")))
      Snapshots.commit(r.map(i => (i, s"old$i")).toDF("id", "v"), t, "id",
        buckets = 2, stage = st, statsCols = Seq("id"))
    // delta: update id 12, insert id 100. Bounds [12, 100] overlap b2 AND b3
    // — but only b2 holds an actual delta key, so the semi-join probe must
    // leave b3 (and the stats-pruned b1) carried by reference
    val snap = Snapshots.merge(Seq((12L, "NEW"), (100L, "ins")).toDF("id", "v"),
      t, "id", buckets = 2, statsCols = Seq("id"))
    assert(snap.op === "merge" && snap.rows === 31L)
    assert(snap.dirs.count(_ == "snap-000001") === 1, "b1 not carried by reference")
    assert(snap.dirs.count(_ == "snap-000003") === 1, "b3 not carried by reference")
    assert(snap.dirs.count(_.contains("-m")) === 1, snap.dirs)  // only b2 rewritten
    assert(snap.dirs.count(_.contains("-d")) === 1, snap.dirs)
    val got = Snapshots.load(spark, t).as[(Long, String)].collect().toMap
    assert(got.size === 31 && got(12L) === "NEW" && got(100L) === "ins" && got(11L) === "old11")
    // rewritten + delta dirs carry key stats, so pruning still engages
    assert(Snapshots.pruneDirs(t, "id", 0L, 5L)._1 === Vector("snap-000001"))
    // pre-merge time travel intact; incremental scan across the merge refuses
    assert(Snapshots.load(spark, t, asOf = Some(3L)).as[(Long, String)]
      .collect().toMap.get(12L) === Some("old12"))
    val e = intercept[IllegalStateException](Snapshots.changes(spark, t, 1L))
    assert(e.getMessage.contains("merge"))
    // ambiguous delta (duplicate key) fails loudly
    intercept[IllegalArgumentException](Snapshots.merge(
      Seq((5L, "a"), (5L, "b")).toDF("id", "v"), t, "id", buckets = 2))
    // append AFTER a merge keeps building on the merged dir set
    val s5 = Snapshots.commit(Seq((200L, "later")).toDF("id", "v"), t, "id", 2, "b4")
    assert(s5.dirs.toSet.intersect(snap.dirs.toSet) === snap.dirs.toSet)
    assert(Snapshots.load(spark, t).count() === 32L)
    rm(new java.io.File(dir))
  }

  test("maintain: folds append creep and pending delete masks, expires history, idempotent") {
    val dir = tmp("graft-maint")
    val t = s"$dir/tbl"
    for (i <- 0L until 5L)
      Snapshots.commit(Seq((i, s"v$i")).toDF("id", "v"), t, "id", 2, s"b$i")
    Snapshots.deleteWhere(Seq(1L).toDF("id"), t)
    val before = Snapshots.load(spark, t).as[(Long, String)].collect().toSet
    // 5 dirs > maxDirs=3 AND a pending delete mask → fold + expire
    val (folded, expired) = Snapshots.maintain(spark, t, "id", maxDirs = 3,
      keepSnapshots = 1, buckets = 2)
    assert(folded && expired.nonEmpty)
    val cur = Snapshots.current(t).get
    assert(cur.dirs.size === 1 && cur.dels.isEmpty && cur.rows === 4L)
    assert(Snapshots.load(spark, t).as[(Long, String)].collect().toSet === before)
    // second run: nothing to do
    val (folded2, expired2) = Snapshots.maintain(spark, t, "id", maxDirs = 3,
      keepSnapshots = 1, buckets = 2)
    assert(!folded2 && expired2.isEmpty)
    assert(Snapshots.current(t).get.id === cur.id)
    // stats inheritance: a stats-carrying table keeps its sidecars when the
    // MAINTENANCE fold runs with default statsCols
    val t2 = s"$dir/tbl2"
    for (i <- 0L until 5L)
      Snapshots.commit(Seq((i, s"v$i")).toDF("id", "v"), t2, "id", 2, s"b$i",
        statsCols = Seq("id"))
    val (folded3, _) = Snapshots.maintain(spark, t2, "id", maxDirs = 3,
      keepSnapshots = 1, buckets = 2)
    assert(folded3)
    val fd = Snapshots.current(t2).get.dirs.head
    assert(Snapshots.stats(t2, fd).get.exists(_.col == "id"),
      "maintenance fold stripped the stats sidecar")
    // a grid layout's cells are NOT append creep — only post-overwrite dirs count
    val t3 = s"$dir/tbl3"
    Snapshots.commit((0L until 20L).map(i => (i, i % 7, s"v$i")).toDF("x", "y", "v"),
      t3, "x", 2, "b1")
    Snapshots.rewriteGrid(spark, t3, "x",
      axes = Seq(("x", Seq(10L)), ("y", Seq(3L))), buckets = 2) // 4 cell dirs
    Snapshots.commit(Seq((100L, 0L, "later")).toDF("x", "y", "v"), t3, "x", 2, "b2")
    val (folded4, _) = Snapshots.maintain(spark, t3, "x", maxDirs = 3,
      keepSnapshots = 5, buckets = 2)
    assert(!folded4, "grid cells mistaken for append creep")
    assert(Snapshots.current(t3).get.dirs.size === 5)
    rm(new java.io.File(dir))
  }

  test("merge with deleteKeys: WHEN MATCHED DELETE, pure deletes, contradiction guard") {
    val dir = tmp("graft-merge-del")
    val t = s"$dir/tbl"
    for ((r, st) <- Seq((0L until 10L, "b1"), (10L until 20L, "b2"), (20L until 30L, "b3")))
      Snapshots.commit(r.map(i => (i, s"old$i")).toDF("id", "v"), t, "id",
        buckets = 2, stage = st, statsCols = Seq("id"))
    // one merge: update 12, delete 5 and 25 — all three dirs hold affected keys
    val snap = Snapshots.merge(Seq((12L, "NEW")).toDF("id", "v"), t, "id",
      buckets = 2, statsCols = Seq("id"),
      deleteKeys = Some(Seq(5L, 25L).toDF("id")))
    assert(snap.op === "merge" && snap.rows === 28L)
    assert(snap.dirs.count(_.contains("-m")) === 3 && snap.dirs.count(_.contains("-d")) === 1)
    val got = Snapshots.load(spark, t).as[(Long, String)].collect().toMap
    assert(got.size === 28 && !got.contains(5L) && !got.contains(25L) && got(12L) === "NEW")
    // pure delete: empty delta + deleteKeys commits a merge with NO delta dir
    val snap2 = Snapshots.merge(Seq.empty[(Long, String)].toDF("id", "v"),
      t, "id", buckets = 2, deleteKeys = Some(Seq(7L).toDF("id")))
    // no NEW delta dir for this snapshot (prior dirs ride by reference)
    assert(snap2.rows === 27L &&
      !snap2.dirs.exists(d => d.startsWith(f"snap-${snap2.id}%06d") && d.endsWith("-d")),
      snap2.dirs)
    assert(!Snapshots.load(spark, t).as[(Long, String)].collect().toMap.contains(7L))
    // upsert-and-delete of the same key in one merge is contradictory
    val e = intercept[IllegalArgumentException](Snapshots.merge(
      Seq((3L, "x")).toDF("id", "v"), t, "id", buckets = 2,
      deleteKeys = Some(Seq(3L).toDF("id"))))
    assert(e.getMessage.contains("BOTH"))
    // null delete keys fail loudly
    intercept[IllegalArgumentException](Snapshots.merge(
      Seq((4L, "x")).toDF("id", "v"), t, "id", buckets = 2,
      deleteKeys = Some(Seq(Tuple1(null: java.lang.Long)).toDF("id"))))
    // neither delta nor deletes: refused
    intercept[IllegalArgumentException](Snapshots.merge(
      Seq.empty[(Long, String)].toDF("id", "v"), t, "id", buckets = 2))
    // deleting keys the table does not hold is a NO-OP, not a dead snapshot
    // (a dead op=merge would break incremental changes() for zero change)
    val snapsBefore = Snapshots.snapshots(t).map(_.id)
    val noop = Snapshots.merge(Seq.empty[(Long, String)].toDF("id", "v"),
      t, "id", buckets = 2, deleteKeys = Some(Seq(99999L).toDF("id")))
    assert(noop.id === snapsBefore.last)
    assert(Snapshots.snapshots(t).map(_.id) === snapsBefore)
    rm(new java.io.File(dir))
  }

  test("merge-on-read delete: sequence-number masking, fold on rewrite, expire") {
    val dir = tmp("graft-mor")
    val t = s"$dir/tbl"
    for ((r, st) <- Seq((0L until 10L, "b1"), (10L until 20L, "b2"), (20L until 30L, "b3")))
      Snapshots.commit(r.map(i => (i, s"v$i")).toDF("id", "v"), t, "id",
        buckets = 2, stage = st, statsCols = Seq("id"))
    val del = Snapshots.deleteWhere(Seq(5L, 12L, 25L).toDF("id"), t)
    assert(del.op === "delete" && del.dels.size === 1 && del.dirs.size === 3)
    val afterDel = Snapshots.load(spark, t).as[(Long, String)].collect().toMap
    assert(afterDel.size === 27 && !afterDel.contains(5L) && !afterDel.contains(12L))
    // a LATER re-insert of a deleted key is not masked (sequence-number rule)
    Snapshots.commit(Seq((12L, "re")).toDF("id", "v"), t, "id", 2, "reinsert")
    val afterRe = Snapshots.load(spark, t).as[(Long, String)].collect().toMap
    assert(afterRe.size === 28 && afterRe(12L) === "re" && !afterRe.contains(5L))
    // pruned scans apply the same mask
    assert(Snapshots.loadPruned(spark, t, "id", 0L, 9L)
      .as[(Long, String)].collect().map(_._1).toSet === (0L to 9L).toSet - 5L)
    // a SECOND delete of key 12 masks the re-insert dir too (it is older now)
    Snapshots.deleteWhere(Seq(12L).toDF("id"), t)
    assert(!Snapshots.load(spark, t).as[(Long, String)].collect().toMap.contains(12L))
    // pre-delete time travel unaffected; incremental scan refuses to span it
    assert(Snapshots.load(spark, t, asOf = Some(3L)).count() === 30L)
    val e = intercept[IllegalStateException](Snapshots.changes(spark, t, 3L))
    assert(e.getMessage.contains("delete"))
    // CoW merge refuses while deletes are pending
    val e2 = intercept[IllegalArgumentException](Snapshots.merge(
      Seq((1L, "x")).toDF("id", "v"), t, "id", buckets = 2))
    assert(e2.getMessage.contains("rewrite"))
    // rewrite folds the masks: one dir, no dels, same MoR content
    val before = Snapshots.load(spark, t).as[(Long, String)].collect().toSet
    val rw = Snapshots.rewrite(spark, t, "id", buckets = 2)
    assert(rw.op === "overwrite" && rw.dels.isEmpty && rw.rows === 27L)
    assert(Snapshots.load(spark, t).as[(Long, String)].collect().toSet === before)
    // and a merge is allowed again now
    Snapshots.merge(Seq((1L, "x")).toDF("id", "v"), t, "id", buckets = 2)
    assert(Snapshots.load(spark, t).as[(Long, String)].collect().toMap.apply(1L) === "x")
    // expire reclaims dead delete dirs along with dead data dirs
    val removed = Snapshots.expire(t, keepLast = 1)
    assert(removed.exists(_.endsWith("-del")), removed)
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(t, "snap-000004-del")))
    assert(Snapshots.load(spark, t).count() === 27L) // key 1 was an update
    // null delete keys fail loudly
    intercept[IllegalArgumentException](Snapshots.deleteWhere(
      Seq(Tuple1(3L: java.lang.Long), Tuple1(null: java.lang.Long)).toDF("id"), t))
    rm(new java.io.File(dir))
  }

  test("grid rewrite: box queries read only intersecting cells; single-axis pruning too") {
    val dir = tmp("graft-grid")
    val t = s"$dir/tbl"
    // 60 rows over a 2-D key space: x = i, y = (i * 37) % 90 — scattered in
    // y, so no single-axis clustering could bound both
    def y(i: Long): Long = (i * 37) % 90
    Snapshots.commit((0L until 60L).map(i => (i, y(i), s"v$i")).toDF("x", "y", "v"),
      t, "x", buckets = 2, stage = "b1")
    val rw = Snapshots.rewriteGrid(spark, t, "x",
      axes = Seq(("x", Seq(20L, 40L)), ("y", Seq(30L, 60L))), buckets = 2)
    assert(rw.op === "overwrite" && rw.dirs.size === 9 && rw.rows === 60L)
    // every cell carries stats on BOTH axes
    rw.dirs.foreach { d =>
      assert(Snapshots.stats(t, d).get.map(_.col).toSet === Set("x", "y"), d)
    }
    // full read preserved
    assert(Snapshots.load(spark, t).count() === 60L)
    // box fully inside one cell: x ∈ (20,40], y ∈ (30,60] → exactly 1 dir
    val box1 = Seq[(String, Any, Any)](("x", 25L, 35L), ("y", 40L, 50L))
    val (kept1, all1) = Snapshots.pruneDirsMulti(t, box1)
    assert(all1.size === 9 && kept1.size === 1, kept1)
    val expect1 = (0L until 60L).filter(i =>
      i >= 25 && i <= 35 && y(i) >= 40 && y(i) <= 50).map(i => (i, y(i), s"v$i")).toSet
    assert(Snapshots.loadPrunedMulti(spark, t, box1)
      .as[(Long, Long, String)].collect().toSet === expect1)
    // box spanning two x slices: ≤ 2 cells read, still exact
    val box2 = Seq[(String, Any, Any)](("x", 15L, 25L), ("y", 40L, 50L))
    assert(Snapshots.pruneDirsMulti(t, box2)._1.size <= 2)
    val expect2 = (0L until 60L).filter(i =>
      i >= 15 && i <= 25 && y(i) >= 40 && y(i) <= 50).map(i => (i, y(i), s"v$i")).toSet
    assert(Snapshots.loadPrunedMulti(spark, t, box2)
      .as[(Long, Long, String)].collect().toSet === expect2)
    // a single-axis range query prunes on that axis alone (3 of 9 cells)
    assert(Snapshots.pruneDirs(t, "y", 70L, 89L)._1.size === 3)
    assert(Snapshots.loadPruned(spark, t, "y", 70L, 89L)
      .select($"x").as[Long].collect().toSet ===
      (0L until 60L).filter(i => y(i) >= 70).toSet)
    // pre-grid time travel intact
    assert(Snapshots.load(spark, t, asOf = Some(1L)).count() === 60L)
    rm(new java.io.File(dir))
  }

  test("stats survive rewrite; pruned scan equals filter on a random split") {
    val dir = tmp("graft-stats-rw")
    val t = s"$dir/tbl"
    val rnd = new Random(7)
    val ids = rnd.shuffle((0L until 60L).toVector)
    // UNORDERED ingest: each batch holds a random id subset, so batch bound
    // ranges overlap — pruning keeps several dirs and must still be exact
    ids.grouped(15).zipWithIndex.foreach { case (g, i) =>
      Snapshots.commit(g.map(x => (x, s"v$x")).toDF("id", "v"), t, "id",
        buckets = 2, stage = s"b$i", statsCols = Seq("id"))
    }
    val expect = (10L to 35L).map(i => (i, s"v$i")).toSet
    assert(Snapshots.loadPruned(spark, t, "id", 10L, 35L)
      .as[(Long, String)].collect().toSet === expect)
    // compaction re-derives stats for the merged dir when asked
    val rw = Snapshots.rewrite(spark, t, "id", buckets = 2, statsCols = Seq("id"))
    val rwStats = Snapshots.stats(t, rw.dirs.head).get.find(_.col == "id").get
    assert(rwStats.min === "0" && rwStats.max === "59")
    assert(Snapshots.loadPruned(spark, t, "id", 10L, 35L)
      .as[(Long, String)].collect().toSet === expect)
    rm(new java.io.File(dir))
  }

  test("merge with default statsCols inherits sidecar columns (never strips pruning metadata)") {
    val dir = tmp("graft-merge-inherit")
    val t = s"$dir/tbl"
    for ((r, st) <- Seq((0L until 10L, "b1"), (10L until 20L, "b2")))
      Snapshots.commit(r.map(i => (i, s"old$i")).toDF("id", "v"), t, "id",
        buckets = 2, stage = st, statsCols = Seq("id"))
    // merge WITHOUT statsCols: the rewritten dir and the delta dir must still
    // carry id bounds (inherited from the existing sidecars), or every later
    // merge/pruned scan degrades to a full-table candidate set
    val snap = Snapshots.merge(Seq((12L, "NEW"), (100L, "ins")).toDF("id", "v"),
      t, "id", buckets = 2)
    val fresh = snap.dirs.filter(d => d.contains("-m") || d.endsWith("-d"))
    assert(fresh.nonEmpty)
    fresh.foreach { d =>
      assert(Snapshots.stats(t, d).exists(_.exists(_.col == "id")),
        s"$d lost its id stats sidecar")
    }
    // and pruning on the merged table is still dir-exact: a range touching
    // only the delta dir keeps exactly that dir
    val (kept, all) = Snapshots.pruneDirs(t, "id", 90L, 200L)
    assert(kept === Vector(fresh.find(_.endsWith("-d")).get), (kept, all))
    rm(new java.io.File(dir))
  }
}
