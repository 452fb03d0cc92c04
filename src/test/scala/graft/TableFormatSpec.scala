package graft

import graft.fixtures.Fixtures
import graft.io.TableFormat
import org.apache.spark.ListenerBusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, SaveMode}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, StructType}
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.{Files, Paths}

/** A table commit is one Spark write: the manifest's lineage comes from the
  * parquet footers, `load` takes the schema from the snapshot, and point
  * lookups hash the key on the driver. Each is checked against the Spark
  * computation it replaces. */
class TableFormatSpec extends AnyFunSuite {
  lazy val spark = SparkTestBase.spark
  import spark.implicits._

  private def tmp(name: String): String = Files.createTempDirectory(name).resolve("t").toString

  private def rm(f: java.io.File): Unit = { if (f.isDirectory) f.listFiles.foreach(rm); f.delete() }

  private def jobs(body: => Unit): Long = {
    val n = new java.util.concurrent.atomic.AtomicLong
    val counter = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = { n.incrementAndGet(); () }
    }
    ListenerBusDrain.drain(spark.sparkContext)
    spark.sparkContext.addSparkListener(counter)
    try { body; ListenerBusDrain.drain(spark.sparkContext); n.get }
    finally spark.sparkContext.removeSparkListener(counter)
  }

  /** The manifest's lineage, files and bytes against a Spark
    * `groupBy(...).count()` of the table and a walk of its directory. */
  private def assertLineage(path: String, independent: Seq[(String, Long)]): Unit = {
    val m = TableFormat.readManifest(path)
    assert(m.leafRows.toMap === independent.toMap)
    assert(m.leafRows.map(_._1) === m.leafRows.map(_._1).sorted)
    assert((m.files, m.bytes) === TableFormat.walkFilesBytes(Paths.get(path)))
  }

  private val docs = (0 until 300).map(i => (s"doc-$i", i.toLong, s"text ${i * 7}"))

  test("save lineage from parquet footers equals a groupBy count, at 1, 4 and 32 buckets and empty") {
    val df = docs.toDF("doc_id", "n", "text").repartition(3)
    for (b <- Seq(1, 4, 32)) {
      val path = tmp(s"lineage-$b")
      TableFormat.save(df, path, "doc_id", buckets = b)
      val counted = spark.read.parquet(path).groupBy(TableFormat.BucketCol).count()
        .as[(Int, Long)].collect().toSeq.map { case (k, n) => k.toString -> n }
      assert(counted.map(_._2).sum === 300L)
      assertLineage(path, counted)
      rm(new java.io.File(path).getParentFile)
    }
    val empty = tmp("lineage-empty")
    TableFormat.save(df.limit(0), empty, "doc_id", buckets = 4)
    assertLineage(empty, Nil)
    assert(TableFormat.readManifest(empty).rows === 0L)
    rm(new java.io.File(empty).getParentFile)
  }

  test("savePartitioned lineage keys are leafPaths with footer counts, for escaped and null preds") {
    val preds = Seq("http://schema.org/name", "a\"b", "x}y", null)
    val rows = (0 until 200).map(i => (s"ent:${i % 37}", preds(i % preds.size), s"o$i"))
    val path = tmp("lineage-two-level")
    TableFormat.savePartitioned(rows.toDF("subj", "pred", "obj"), path, "pred", "subj", buckets = 4)
    val counted = spark.read.parquet(path).groupBy("pred", TableFormat.BucketCol).count()
      .collect().toSeq.map(r => TableFormat.leafPath("pred", r.getString(0), r.getInt(1)) -> r.getLong(2))
    assert(counted.map(_._2).sum === 200L)
    assert(counted.exists(_._1.startsWith("pred=__HIVE_DEFAULT_PARTITION__/")), counted)
    assertLineage(path, counted)
    counted.foreach { case (leaf, _) => assert(Files.isDirectory(Paths.get(path, leaf)), leaf) }
    rm(new java.io.File(path).getParentFile)
  }

  test("a save commit and a load(...).count() run only the write's and the count's jobs") {
    val df = docs.toDF("doc_id", "n", "text").repartition(3)
    val ref = tmp("jobs-ref")
    val path = tmp("jobs-table")
    // the same write save issues, then a count of the written files
    val plain = jobs {
      df.withColumn(TableFormat.BucketCol, pmod(xxhash64(col("doc_id")), lit(4L)).cast("int"))
        .repartition(4, col(TableFormat.BucketCol))
        .write.mode(SaveMode.Overwrite).partitionBy(TableFormat.BucketCol).parquet(ref)
      assert(spark.read.schema(df.schema.add(TableFormat.BucketCol, IntegerType)).parquet(ref)
        .count() === 300L)
    }
    val committed = jobs {
      TableFormat.save(df, path, "doc_id", buckets = 4)
      assert(TableFormat.load(spark, path).count() === 300L)
    }
    assert(committed === plain)
    rm(new java.io.File(ref).getParentFile); rm(new java.io.File(path).getParentFile)
  }

  test("load takes the schema snapshot: same schema as inference, nested, empty or without a snapshot") {
    def inferred(path: String): StructType = spark.read.parquet(path).drop(TableFormat.BucketCol).schema
    val labeled = Pipeline.annotate(spark, spark.createDataset(Fixtures.inputDocs(6)),
      spark.sparkContext.broadcast(Pipeline.fixtureModels())).toDF()
    val nested = tmp("schema-doc")
    TableFormat.save(labeled, nested, "doc_id", buckets = 2)
    assert(TableFormat.load(spark, nested).schema === inferred(nested))
    assert(TableFormat.load(spark, nested).as[graft.schema.Doc].count() === 6L)

    val empty = tmp("schema-empty")
    TableFormat.save(labeled.limit(0), empty, "doc_id", buckets = 2)
    assert(TableFormat.load(spark, empty).schema === inferred(nested))
    assert(TableFormat.load(spark, empty).count() === 0L)

    Files.delete(Paths.get(nested, "_schema.json"))
    assert(TableFormat.load(spark, nested).schema === inferred(nested))
    assert(TableFormat.load(spark, nested).count() === 6L)
    Seq(nested, empty).foreach(p => rm(new java.io.File(p).getParentFile))
  }

  test("bucketOf equals pmod(xxhash64(key), n) over 1k random keys, non-ASCII included") {
    val rnd = new scala.util.Random(11)
    val alphabet = "abcXYZ019 -_:/\"}éßשלוםحمد日本語" + new String(Character.toChars(0x1F642))
    val chars = alphabet.codePoints().toArray.map(cp => new String(Character.toChars(cp)))
    val keys = Seq.fill(1000)(Seq.fill(rnd.nextInt(16))(chars(rnd.nextInt(chars.length))).mkString)
    for (n <- Seq(1, 4, 32, 1021)) {
      val expected = keys.toDF("k")
        .select(pmod(xxhash64(col("k")), lit(n.toLong)).cast("int")).as[Int].collect().toSeq
      assert(keys.map(TableFormat.bucketOf(_, n)) === expected, s"n = $n")
    }
  }

  test("lookup reads the bucket count from the manifest") {
    val df: DataFrame = docs.toDF("doc_id", "n", "text")
    for (b <- Seq(1, 5)) {
      val path = tmp(s"lookup-$b")
      TableFormat.save(df, path, "doc_id", buckets = b)
      for (i <- Seq(0, 17, 299))
        assert(TableFormat.lookup(spark, path, "doc_id", s"doc-$i").select("n").as[Long].collect()
          .toSeq === Seq(i.toLong), s"buckets = $b, doc-$i")
      assert(TableFormat.lookup(spark, path, "doc_id", "doc-absent").count() === 0L)
      rm(new java.io.File(path).getParentFile)
    }
  }
}
