package graft

import graft.schema.{InputDoc, Span}
import graft.io.TableFormat
import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** spark-submit entry point (north rule: "runs via spark-submit on a
  * multi-executor cluster"):
  *
  *   spark-submit --class graft.Main \
  *     --conf spark.sql.extensions=graft.GraftExtensions \
  *     nemospark.jar <inputTable> <workDir> [scenario] [buckets]
  *
  * `inputTable` is the Iceberg-shaped bucketed-Parquet document table
  * (doc_id, spans); pass `fixture:N` to synthesize N deterministic docs
  * instead. The entity dictionary defaults to the fixture gazetteer; point
  * arg 5 at a parquet of (entity_id, canonical, aliases, category) for a
  * real one.
  */
object Main {

  /** Asserted input schema — never inferred (SURVEY §1.2). */
  val inputSchema: StructType = StructType(Seq(
    StructField("doc_id", StringType, nullable = false),
    StructField("spans", ArrayType(StructType(Seq(
      StructField("kind", StringType, nullable = false),
      StructField("text", StringType, nullable = true),
      StructField("media_ref", StringType, nullable = true),
      StructField("offset", IntegerType, nullable = false))), containsNull = false))))

  /** Load the north-rule input table with schema assertion. */
  def loadInputTable(spark: SparkSession, path: String): Dataset[InputDoc] = {
    import spark.implicits._
    val df = TableFormat.load(spark, path)
    val got = df.select("doc_id", "spans").schema
    require(compatible(got, inputSchema), s"input table schema mismatch:\n got $got\n want $inputSchema")
    df.select("doc_id", "spans").as[InputDoc]
  }

  private def compatible(got: StructType, want: StructType): Boolean =
    got.fields.length == want.fields.length &&
      got.fields.zip(want.fields).forall { case (g, w) =>
        g.name == w.name &&
          org.apache.spark.sql.GraftBridge.sameTypeIgnoreNullability(g.dataType, w.dataType)
      }

  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: graft.Main <inputTable|fixture:N> <workDir> [scenario] [buckets] [dictParquet]")
    val input = args(0)
    val workDir = args(1)
    val scenario = if (args.length > 2) args(2) else "morph"
    val buckets = if (args.length > 3) args(3).toInt else 32

    val spark = SparkSession.builder()
      .appName("nemospark-kg")
      // spark-submit injects spark.master; fall back to local[] for dev runs
      .config("spark.master", sys.props.getOrElse("spark.master",
        s"local[${sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")}]"))
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .getOrCreate()
    import spark.implicits._

    val docs =
      if (input.startsWith("fixture:"))
        fixtures.Fixtures.inputDocsDs(spark, input.stripPrefix("fixture:").toInt,
          spark.sparkContext.defaultParallelism * 4)
      else loadInputTable(spark, input)

    val dict =
      if (args.length > 4) spark.read.parquet(args(4))
      else spark.createDataset(fixtures.Fixtures.entityDictionary()).toDF()

    val triples = Pipeline.runAll(spark, docs, dict, workDir, scenario, Some(buckets))
    println(s"[graft] triples written: ${triples.count()} rows under $workDir/triples")
    spark.stop()
  }
}
