package graft.io

import com.fasterxml.jackson.databind.{DeserializationFeature, JsonNode, ObjectMapper}
import org.apache.spark.sql.{DataFrame, SparkSession, SaveMode}
import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
import org.apache.spark.sql.catalyst.expressions.XXH64
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, IntegerType, StructType}
import org.apache.spark.unsafe.types.UTF8String
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.io.LocalInputFile
import java.nio.file.{AtomicMoveNotSupportedException, Files, Paths, Path}
import java.nio.file.StandardCopyOption.{ATOMIC_MOVE, REPLACE_EXISTING}
import scala.jdk.CollectionConverters._

/** Iceberg-shaped table facade (SURVEY §7.5#2): the sandbox has no Iceberg jar,
  * so tables are bucketed partitioned Parquet plus a `_manifest.json` snapshot
  * file carrying the properties the north rule needs — per-partition lineage
  * (partition → row count), stage metadata, and an atomic "complete" marker that
  * makes every stage write idempotent and the pipeline checkpoint-resumable.
  *
  * Swap-in point for real Iceberg: replace save/load with
  * `df.writeTo(table).partitionedBy(bucket(N, col))` — the call sites and the
  * bucketing column stay identical.
  *
  * This object is the one owner of the on-disk metadata: the table manifest,
  * the [[Snapshots]] log and its per-dir stats sidecars are JSON documents
  * built and parsed here with one Jackson mapper, published with one atomic
  * rename, and every leaf directory name comes from [[leafPath]].
  */
object TableFormat {

  val BucketCol = "part_bucket"

  private val ManifestFile = "_manifest.json"
  private val SnapshotLog = "_snapshots.jsonl"
  private val StatsFile = "_stats.jsonl"

  /** Write `df` bucketed by xxhash64(keyCol) % buckets. Deterministic layout:
    * the same row lands in the same partition directory at any cluster size.
    *
    * Rows are repartitioned onto their bucket BEFORE the write: without it,
    * every input task fans out into every bucket directory (inputPartitions ×
    * buckets small files per stage — the classic small-files explosion that
    * kills a 10^12-doc table's metadata layer). One shuffle buys one
    * well-sized file per bucket per stage. */
  def save(df: DataFrame, path: String, keyCol: String, buckets: Int = 32,
           stage: String = "", extra: Map[String, String] = Map.empty): Unit = {
    val t0 = System.currentTimeMillis()
    val out = df.withColumn(BucketCol, pmod(xxhash64(col(keyCol)), lit(buckets.toLong)).cast("int"))
      .repartition(buckets, col(BucketCol))
    out.write.mode(SaveMode.Overwrite).partitionBy(BucketCol).parquet(path)
    // an Overwrite replaces file names under an already-listed path — drop the
    // session's cached FileIndex or later reads resolve to the deleted files
    df.sparkSession.catalog.refreshByPath(path)
    // Schema snapshot (pre-bucket-column): a stage whose output is
    // legitimately EMPTY (e.g. a clean corpus yields zero near-dup clusters)
    // writes no parquet part files under partitionBy, so a later load cannot
    // infer the schema from data. Iceberg carries the schema in table
    // metadata; this is our facade's equivalent.
    Files.writeString(Paths.get(path, "_schema.json"), df.schema.json)
    // bucket layout metadata (key column + modulus) recorded in the manifest:
    // what plans.BucketPrune needs to conjoin the partition predicate for
    // key-equality scans automatically (Iceberg keeps the same facts in its
    // partition spec)
    writeManifest(path, stage,
      extra + ("bucket_key" -> keyCol, "buckets" -> buckets.toString),
      writeMs = System.currentTimeMillis() - t0)
    // exact invalidation of the rule's layout cache: an mtime check alone
    // can miss a same-millisecond re-save with a different bucket count
    // (coarse-mtime filesystems), and a stale modulus prunes WRONG
    graft.plans.BucketPrune.invalidate(path)
  }

  /** Write `df` with a TWO-LEVEL layout `partCol=v/part_bucket=h` — the
    * vertical-partitioning triple-store layout (one predicate value, one
    * directory family). A constant in `partCol` then prunes whole value
    * directories at the scan (PartitionFilters, before any IO), and a
    * key-equality on `keyCol` still prunes to one bucket inside each value —
    * at 10^12 triples a constant-pred BGP step reads one predicate's worth
    * of the table, not the table.
    *
    * File-count discipline matches [[save]]: the repartition hashes exactly
    * the two layout columns, so every (value, bucket) combination lands on
    * one task → one file per leaf directory per stage, regardless of input
    * parallelism. Per-partition lineage in the manifest is keyed by the
    * leaf's relative directory, [[leafPath]]. Any `partCol` value is legal:
    * Spark path-escapes it in the directory name (`http://x` → `pred=http%3A%2F%2Fx`)
    * and un-escapes it on load, where it comes back as a string partition
    * column, like Iceberg identity partitioning. */
  def savePartitioned(df: DataFrame, path: String, partCol: String,
                      keyCol: String, buckets: Int = 32, stage: String = "",
                      extra: Map[String, String] = Map.empty): Unit = {
    val t0 = System.currentTimeMillis()
    val out = df.withColumn(BucketCol, pmod(xxhash64(col(keyCol)), lit(buckets.toLong)).cast("int"))
      .repartition(col(partCol), col(BucketCol))
    out.write.mode(SaveMode.Overwrite).partitionBy(partCol, BucketCol).parquet(path)
    df.sparkSession.catalog.refreshByPath(path)
    Files.writeString(Paths.get(path, "_schema.json"), df.schema.json)
    writeManifest(path, stage,
      extra + ("bucket_key" -> keyCol, "buckets" -> buckets.toString,
        "part_col" -> partCol),
      writeMs = System.currentTimeMillis() - t0)
    graft.plans.BucketPrune.invalidate(path)
  }

  /** Scale-adaptive bucket count (guide-§2 rule: derive partitioning from
    * input size, never from a constant tuned to one deployment): enough
    * buckets that a leaf holds ≤ ~targetRows rows (≈ the 128 MB–1 GB output
    * file-sizing guidance at the store's ~30–100 B triple rows), clamped to
    * [1, maxBuckets]. The same call yields 1 bucket per predicate for a
    * fixture-sized store — one well-sized file instead of 32 ten-row ones —
    * and hundreds for a corpus-scale one. Callers with a fixed production
    * layout keep passing an explicit bucket count. The same clamped ceiling
    * sizes by bytes too: `Pipeline.runAll` passes a stage's input bytes
    * against `spark.sql.files.maxPartitionBytes`. */
  def adaptiveBuckets(rows: Long, targetRows: Long = 4000000L,
                      maxBuckets: Int = 1024): Int = {
    val r = math.max(rows, 0L)
    // overflow-safe ceiling division (r + target - 1 wraps near Long.MaxValue)
    val q = r / targetRows + (if (r % targetRows == 0L) 0L else 1L)
    math.max(1L, math.min(maxBuckets.toLong, q)).toInt
  }

  /** Publish the manifest of the table just written at `path` without a
    * Spark job: one walk of the directory gives the file metrics and the
    * lineage. A leaf's row count is the sum of the record counts in its part
    * files' parquet footers, keyed by the leaf's directory relative to
    * `path` — exactly [[leafPath]] for a two-level layout, the bare bucket
    * value for a one-level one. An empty frame writes no leaf, so its
    * lineage is empty. */
  private def writeManifest(path: String, stage: String,
                            extra: Map[String, String], writeMs: Long): Unit = {
    val root = Paths.get(path)
    val files = dataFiles(root)
    val counts = files.groupMapReduce { f =>
      val leaf = root.relativize(f.getParent).iterator().asScala.mkString("/")
      if (leaf.contains('/')) leaf else leaf.stripPrefix(s"$BucketCol=")
    }(footerRows)(_ + _).toSeq.filter(_._2 > 0L).sortBy(_._1)
    publishManifest(path, extra + ("stage" -> stage), counts, files.size.toLong,
      files.map(Files.size).sum, writeMs)
  }

  private def footerRows(file: Path): Long = {
    val reader = ParquetFileReader.open(new LocalInputFile(file))
    try reader.getRecordCount finally reader.close()
  }

  /** Regular-file count + byte total under `root` (manifest/marker files
    * excluded). Metadata-priced: callers hand it either a whole fixture-scale
    * table or, on the update path, just the touched leaf directories. */
  private[graft] def walkFilesBytes(root: Path): (Long, Long) = {
    val files = dataFiles(root)
    (files.size.toLong, files.map(Files.size).sum)
  }

  /** The files a parquet scan of `root` reads: every regular file whose
    * name starts with neither `_` nor `.` (Spark's own hidden-file rule). */
  private def dataFiles(root: Path): Seq[Path] =
    if (!Files.exists(root)) Seq.empty
    else {
      val walk = Files.walk(root)
      try walk.iterator().asScala.filter { p =>
        val name = p.getFileName.toString
        Files.isRegularFile(p) && !name.startsWith("_") && !name.startsWith(".")
      }.toVector
      finally walk.close()
    }

  /** Relative directory of one leaf of a [[savePartitioned]] table, named
    * exactly as Spark's writer names it: each level is `col=value` with the
    * value path-escaped by `ExternalCatalogUtils.getPartitionPathString`
    * (`a"b` → `a%22b`; null or empty → Spark's default partition). It is
    * also the leaf's lineage key in the manifest, so a key always names a
    * directory that exists. Plain identifiers pass through unchanged. */
  def leafPath(partCol: String, value: String, bucket: Int): String =
    ExternalCatalogUtils.getPartitionPathString(partCol, value) + "/" +
      ExternalCatalogUtils.getPartitionPathString(BucketCol, bucket.toString)

  /** Assemble + atomically publish a manifest from PRE-COMPUTED lineage
    * counts and file metrics. [[save]]/[[savePartitioned]] feed it the
    * footer counts of what they just wrote; the update path
    * ([[graft.kg.Update.applyDelta]]) feeds it a MERGE — untouched leaves
    * inherit their write-time counts, touched leaves are re-counted — so a
    * 10^12-row store's manifest refresh prices by the delta, not the table.
    * The flat fields are JSON strings (untrusted text such as the HTTP
    * surface's update_id stamp rides here); [[readManifest]] is the inverse. */
  private[graft] def publishManifest(path: String, fields: Map[String, String],
                                     counts: Seq[(String, Long)],
                                     nFiles: Long, nBytes: Long,
                                     writeMs: Long): Unit = {
    val m = mapper.createObjectNode()
    (fields + ("wall_ms" -> System.currentTimeMillis().toString))
      .foreach { case (k, v) => m.put(k, v) }
    val leaves = m.putObject("partition_rows")
    counts.foreach { case (k, n) => leaves.put(k, n) }
    m.putObject("metrics").put("rows", counts.map(_._2).sum).put("files", nFiles)
      .put("bytes", nBytes).put("write_ms", writeMs)
    m.put("complete", true)
    publish(manifestFile(path), mapper.writeValueAsString(m))
  }

  /** Atomic publish of one metadata file: the manifest is a stage's
    * "complete" marker and the snapshot log names every live dir, so a crash
    * mid-write must not leave a readable half file (resume or time travel
    * would then trust a broken snapshot). Write a temp name, fsync-free
    * rename over the target. */
  private def publish(file: Path, text: String): Unit = {
    Files.createDirectories(file.getParent)
    val tmp = file.resolveSibling(s".${file.getFileName}.tmp")
    Files.writeString(tmp, text)
    try Files.move(tmp, file, ATOMIC_MOVE, REPLACE_EXISTING)
    catch { case _: AtomicMoveNotSupportedException => Files.move(tmp, file, REPLACE_EXISTING) }
  }

  private[graft] def manifestFile(path: String): Path = Paths.get(path, ManifestFile)

  /** True iff the path holds a complete snapshot (manifest present). */
  def isComplete(path: String): Boolean = Files.exists(manifestFile(path))

  /** A parsed `_manifest.json`: the flat string fields (stage, bucket_key,
    * buckets, part_col, update lineage, …), the per-leaf row-count lineage,
    * and the global file metrics. */
  final case class Manifest(fields: Map[String, String],
                            leafRows: Seq[(String, Long)],
                            files: Long, bytes: Long) {
    def buckets: Int = fields("buckets").toInt

    def rows: Long = leafRows.map(_._2).sum

    /** Rows per first-level value of a [[savePartitioned]] layout, summed
      * over buckets — [[leafPath]] read backwards. */
    def partRows: Map[String, Long] = leafRows.collect {
      case (k, n) if k.contains('/') =>
        ExternalCatalogUtils.unescapePathName(k.substring(k.indexOf('=') + 1, k.indexOf('/'))) -> n
    }.groupMapReduce(_._1)(_._2)(_ + _)
  }

  private val mapper = new ObjectMapper()
    .enable(DeserializationFeature.FAIL_ON_TRAILING_TOKENS)

  /** Read back what [[publishManifest]] wrote — the metadata half of the
    * table, one small JSON file, no scan. The update path starts here:
    * layout facts (part_col/bucket_key/buckets) drive the delta's leaf
    * mapping, and the per-leaf counts are the lineage baseline the merged
    * manifest inherits for untouched leaves. */
  def readManifest(path: String): Manifest = {
    val root = mapper.readTree(Files.readString(manifestFile(path)))
    def longs(name: String): Seq[(String, Long)] =
      Option(root.get(name)).toSeq.flatMap(_.properties().asScala.toSeq)
        .map(e => e.getKey -> e.getValue.longValue)
    val fields = root.properties().asScala.collect {
      case e if e.getValue.isTextual => e.getKey -> e.getValue.textValue
    }.toMap
    val met = longs("metrics").toMap
    Manifest(fields, longs("partition_rows"), met.getOrElse("files", 0L), met.getOrElse("bytes", 0L))
  }

  /** The manifest's wall_ms completion stamp. Fails loudly on a missing or
    * malformed manifest — a silent 0 would make the NEXT stage's computed
    * wall ≈ the whole epoch and poison any timing breakdown built on it. */
  def manifestWallMs(path: String): Long =
    readManifest(path).fields.get("wall_ms").map(_.toLong)
      .getOrElse(throw new IllegalStateException(s"no wall_ms in ${manifestFile(path)}"))

  /** Per-stage wall seconds from consecutive manifest completion stamps
    * (shared by Bench's e2e breakdown and perfbench's build workload — one
    * parser, one semantics). */
  def stageWallsSec(workDir: String, stages: Seq[String], startMs: Long): Seq[(String, Double)] = {
    val ends = stages.map(st => manifestWallMs(s"$workDir/$st"))
    stages.zip((startMs +: ends).sliding(2).map(p => math.max(p(1) - p(0), 0L) / 1e3).toSeq)
  }

  // ---- the Snapshots log and stats sidecars: one JSON object per line ----

  /** All snapshots of `tableDir`, oldest first; empty before the first
    * commit. A pre-merge-on-read line without `dels` reads with none. */
  private[io] def readSnapshotLog(tableDir: String): Vector[Snapshots.Snapshot] =
    jsonLines(Paths.get(tableDir, SnapshotLog)).map { n =>
      def names(k: String) = Option(n.get(k)).toVector.flatMap(_.asScala.map(_.textValue))
      Snapshots.Snapshot(num(n, "id"), num(n, "parent"), str(n, "op"), names("dirs"),
        str(n, "stage"), num(n, "rows"), num(n, "ts_ms"), names("dels"))
    }

  private[io] def writeSnapshotLog(tableDir: String, snaps: Seq[Snapshots.Snapshot]): Unit =
    publish(Paths.get(tableDir, SnapshotLog), snaps.map { s =>
      val n = mapper.createObjectNode().put("id", s.id).put("parent", s.parentId).put("op", s.op)
      s.dirs.foldLeft(n.putArray("dirs"))(_.add(_))
      s.dels.foldLeft(n.putArray("dels"))(_.add(_))
      mapper.writeValueAsString(n.put("stage", s.stage).put("rows", s.rows).put("ts_ms", s.tsMs))
    }.mkString("", "\n", "\n"))

  /** One data dir's column-stats sidecar; None when it is absent or fails
    * to parse (see [[Snapshots.stats]]). */
  private[io] def readColumnStats(dataDir: String): Option[Vector[Snapshots.ColumnStats]] = {
    val p = Paths.get(dataDir, StatsFile)
    if (!Files.exists(p)) None
    else scala.util.Try(jsonLines(p).map { n =>
      Snapshots.ColumnStats(str(n, "col"), str(n, "type"), req(n, "bounded", _.isBoolean).booleanValue,
        str(n, "min"), str(n, "max"), num(n, "nulls"))
    }).toOption
  }

  private[io] def writeColumnStats(dataDir: String, stats: Seq[Snapshots.ColumnStats]): Unit =
    publish(Paths.get(dataDir, StatsFile), stats.map { c =>
      mapper.writeValueAsString(mapper.createObjectNode().put("col", c.col).put("type", c.typ)
        .put("bounded", c.bounded).put("min", c.min).put("max", c.max).put("nulls", c.nulls))
    }.mkString("", "\n", "\n"))

  private def jsonLines(p: Path): Vector[JsonNode] =
    if (!Files.exists(p)) Vector.empty
    else Files.readAllLines(p).asScala.iterator.filter(_.nonEmpty).map(l => mapper.readTree(l)).toVector

  /** Field `k` of `n`, which must exist and pass `ok` — a line missing a
    * field or holding the wrong type fails loudly instead of defaulting. */
  private def req(n: JsonNode, k: String, ok: JsonNode => Boolean): JsonNode = {
    val v = n.required(k)
    require(ok(v), s"field '$k' has the wrong type in $n")
    v
  }
  private def str(n: JsonNode, k: String): String = req(n, k, _.isTextual).textValue
  private def num(n: JsonNode, k: String): Long = req(n, k, _.isIntegralNumber).longValue

  /** Load a table previously written by save (drops the bucket column). */
  def load(spark: SparkSession, path: String): DataFrame = read(spark, path).drop(BucketCol)

  /** The table at `path` with its `part_bucket` column. A [[save]]-written
    * table reads with the schema snapshot plus `part_bucket: int`, so no
    * inference job runs; an empty one needs no part file either. A
    * [[savePartitioned]] table (its first level is a partition column) or
    * one without a snapshot infers the schema from the files. */
  private def read(spark: SparkSession, path: String): DataFrame = {
    val schemaFile = Paths.get(path, "_schema.json")
    lazy val written = StructType(DataType.fromJson(Files.readString(schemaFile))
      .asInstanceOf[StructType].filterNot(_.name == BucketCol)).add(BucketCol, IntegerType)
    if (Files.exists(schemaFile) && isComplete(path) && !readManifest(path).fields.contains("part_col"))
      spark.read.schema(written).parquet(path)
    else
      try spark.read.parquet(path)
      catch {
        case e: org.apache.spark.sql.AnalysisException
            if e.getCondition == "UNABLE_TO_INFER_SCHEMA" && Files.exists(schemaFile) =>
          spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], written)
      }
  }

  /** The bucket a key lands in: `pmod(xxhash64(key), buckets)`, the
    * expression [[save]] lays rows out by, evaluated on the driver. */
  def bucketOf(key: String, buckets: Int): Int =
    java.lang.Math.floorMod(XXH64.hashUTF8String(UTF8String.fromString(key), 42L), buckets.toLong).toInt

  /** Point lookup: rows whose `keyCol` equals `key`, reading ONLY that key's
    * bucket directory (partition pruning on the bucket column — at 10^12-doc
    * scale a doc fetch touches 1/buckets of the table, and the pruned
    * partition shows up as PartitionFilters in the scan). The bucket count
    * comes from the table's manifest. */
  def lookup(spark: SparkSession, path: String, keyCol: String, key: String): DataFrame =
    read(spark, path)
      .filter(col(BucketCol) === bucketOf(key, readManifest(path).buckets) && col(keyCol) === key)
      .drop(BucketCol)
}
