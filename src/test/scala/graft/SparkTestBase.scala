package graft

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.SparkSession

/** One shared local SparkSession for the whole test JVM. */
object SparkTestBase {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** A table's `_manifest.json` parsed by a plain Jackson mapper, not by
    * `TableFormat.readManifest`: tests check the file, not the reader. */
  def manifestJson(dir: String): JsonNode = new ObjectMapper().readTree(
    java.nio.file.Files.readString(java.nio.file.Paths.get(dir, "_manifest.json")))
}
