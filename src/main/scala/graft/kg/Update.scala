package graft.kg

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import graft.io.TableFormat
import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

/** Partition-scoped updates of a [[graft.io.TableFormat.savePartitioned]]
  * triple store — the write half of the SPARQL surface
  * ([[Sparql.update]] parses SPARQL 1.1 Update §3.1 forms into the delta
  * this applies).
  *
  * Design (Iceberg overwrite-by-partition, on the parquet facade): an
  * update names a delta — triples to delete, triples to insert. The store
  * layout `pred=v/part_bucket=h` (h = xxhash64(subj) % buckets) pins every
  * triple to exactly ONE leaf directory, so the delta's leaf set is
  * computable from the delta alone. Leaf directories and their lineage keys
  * are both [[graft.io.TableFormat.leafPath]], Spark's own partition-path
  * escaping, so a predicate such as `http://schema.org/name` names the
  * directory Spark wrote (`pred=http%3A%2F%2Fschema.org%2Fname`). The
  * rewrite then
  *
  *  1. reads ONLY the touched leaves (both partition columns constrained →
  *     the scan partition-prunes to those directories),
  *  2. anti-joins the deletions out and unions the novel insertions in,
  *  3. writes back with dynamic partition overwrite, so untouched leaves'
  *     files are never rewritten (asserted by mtime in UpdateSpec), and
  *  4. removes leaf directories the delta emptied (dynamic overwrite only
  *     replaces partitions PRESENT in the written frame — a leaf whose
  *     every row was deleted would otherwise keep its stale files).
  *
  * At 10^12 triples an update therefore prices by its delta — touched
  * leaves ≤ |delta| distinct (pred, bucket) pairs — not by the store.
  *
  * Set semantics on (subj, pred, obj): DELETE removes every stored row
  * matching the triple (any passenger/provenance values); INSERT is a
  * no-op for a triple already present. Inserted rows keep whatever
  * passenger (provenance) columns the caller's frame carries — the
  * streaming ingest threads doc provenance through — and absent
  * passengers become typed NULL ([[Sparql.update]]'s ground/template
  * inserts send bare triples). A triple in both sides of one delta
  * survives — SPARQL's modify order, delete-then-insert.
  *
  * Lineage: the manifest's per-leaf row counts are MERGED — untouched
  * leaves inherit their write-time counts with no re-scan, touched leaves
  * carry the per-leaf counts of the exact survivor rows written (one
  * aggregate over the checkpointed survivor frame — equal to a footer
  * recount, without re-opening the just-written files), and file/byte
  * metrics merge from walks of the touched leaf directories only. The
  * publish stays atomic (temp + rename), so a crash mid-update leaves the
  * OLD manifest intact and re-running the update is the recovery rule;
  * [[Sparql.update]]'s update-id stamp then skips ops the manifest already
  * committed (exactly-once at op granularity).
  */
object Update {

  /** What one delta did: leaf-directory counts and the touched-leaf row
    * delta (rowsBefore/rowsAfter are sums over TOUCHED leaves only —
    * untouched lineage is inherited, never re-read). */
  final case class Report(touchedLeaves: Int, writtenLeaves: Int,
                          removedLeaves: Int, rowsBefore: Long,
                          rowsAfter: Long, skipped: Boolean = false)

  private val TripleCols = Seq("subj", "pred", "obj")

  /** One row per (subj, pred, obj) — the store is a GRAPH on the triple
    * projection. With passenger columns the kept row is the deterministic
    * minimum over them (first provenance by sort order), never a
    * nondeterministic dropDuplicates pick. */
  private def dedupTriples(df: DataFrame): DataFrame = {
    val passengers = df.columns.filterNot(TripleCols.contains)
    if (passengers.isEmpty) df.distinct()
    else {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(TripleCols.map(col): _*)
        .orderBy(passengers.map(c => col(c).asc_nulls_first): _*)
      df.withColumn("__rn", row_number().over(w))
        .filter(col("__rn") === 1).drop("__rn")
    }
  }

  /** A zero-row (subj, pred, obj) frame — the empty side of a delta. */
  def noTriples(spark: SparkSession): DataFrame = {
    import org.apache.spark.sql.types._
    spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      StructType(TripleCols.map(StructField(_, StringType))))
  }

  /** Apply one delete/insert delta to the store at `storePath`.
    * `extraFields` is merged into the manifest's flat fields (the update-id
    * resume stamp rides here) and is published even when the delta is a
    * no-op, so resume bookkeeping survives empty ops. */
  def applyDelta(spark: SparkSession, storePath: String,
                 delete: DataFrame, insert: DataFrame,
                 extraFields: Map[String, String] = Map.empty): Report = {
    val m = TableFormat.readManifest(storePath)
    val partCol = m.fields.getOrElse("part_col", "")
    val keyCol = m.fields.getOrElse("bucket_key", "")
    require(partCol == "pred" && keyCol == "subj",
      s"not a triple store layout: part_col=$partCol bucket_key=$keyCol")
    val buckets = m.buckets
    val bcol = TableFormat.BucketCol
    def leafOf = pmod(xxhash64(col("subj")), lit(buckets.toLong)).cast("int")

    // lazy localCheckpoint: each side is computed once (pattern-form deltas
    // re-read the store; the first action materializes, later uses replay).
    // Insert-side passenger columns (provenance) ride along when the caller
    // provides them (the streaming ingest does); [[Sparql.update]] sends
    // bare triples and absent passengers become typed NULL at alignment.
    val del = delete.select(TripleCols.map(col): _*).localCheckpoint(false)
    val insCols = TripleCols ++ insert.columns.filterNot(TripleCols.contains)
    val ins = dedupTriples(insert.select(insCols.map(col): _*)).localCheckpoint(false)

    // the delta's leaf set — ≤ |delta| distinct (pred, bucket) pairs, the
    // only driver-side collect on this path
    val touched = del.select(col("pred"), leafOf.as(bcol))
      .unionByName(ins.select(col("pred"), leafOf.as(bcol)))
      .distinct()
      .collect().map(r => (r.getString(0), r.getInt(1))).toSeq.sorted
    def leafKey(pb: (String, Int)) = TableFormat.leafPath("pred", pb._1, pb._2)
    def leafDir(pb: (String, Int)): Path = Paths.get(storePath, leafKey(pb))

    if (touched.isEmpty) {
      if (extraFields.nonEmpty)
        TableFormat.publishManifest(storePath, m.fields ++ extraFields,
          m.leafRows, m.files, m.bytes, writeMs = 0L)
      return Report(0, 0, 0, 0L, 0L)
    }

    val t0 = System.currentTimeMillis()
    val (filesBefore, bytesBefore) =
      touched.map(pb => TableFormat.walkFilesBytes(leafDir(pb)))
        .foldLeft((0L, 0L)) { case ((f, b), (f2, b2)) => (f + f2, b + b2) }

    // partition-pruned read of ONLY the touched leaves: both partition
    // columns constrained, grouped per predicate. An EMPTY store (streaming
    // bootstrap: schema snapshot + zero-partition manifest, no part files
    // yet) reads as a zero-row frame of the snapshot schema.
    val prune = touched.groupBy(_._1).map { case (p, pbs) =>
      col("pred") === p && col(bcol).isin(pbs.map(b => Integer.valueOf(b._2)): _*)
    }.reduce(_ || _)
    val (full, storeEmpty) =
      try (spark.read.parquet(storePath), false)
      catch {
        case e: org.apache.spark.sql.AnalysisException
            if e.getCondition == "UNABLE_TO_INFER_SCHEMA" =>
          (TableFormat.load(spark, storePath), true) // schema-snapshot path
      }
    val rowCols = full.columns.filterNot(_ == bcol) // data cols + pred
    val leafRows =
      (if (storeEmpty) full else full.filter(prune)).select(rowCols.map(col): _*)

    // delete: drop every stored row matching a deleted (subj, pred, obj);
    // insert: only triples not already present, passengers typed NULL. An
    // inserted triple's leaf is in the touched set by construction, so the
    // presence check against leafRows is complete.
    val kept = leafRows.join(del, TripleCols, "left_anti")
    val passengers = rowCols.filterNot(TripleCols.contains)
    val insAligned = passengers.foldLeft(ins)((d, c) =>
        if (d.columns.contains(c)) d.withColumn(c, col(c).cast(full.schema(c).dataType))
        else d.withColumn(c, lit(null).cast(full.schema(c).dataType)))
      .select(rowCols.map(col): _*)
    val insNew = insAligned.join(kept.select(TripleCols.map(col): _*),
      TripleCols, "left_anti")

    // lazy cut, materialized by the leafCounts collect BELOW — i.e. before
    // the write — which both severs lineage from the files the write
    // replaces (Spark refuses to overwrite a path its own plan still reads)
    // and folds the old eager-checkpoint job into the counting job. The
    // materialization is touched-leaf-sized, not store-sized; a real
    // Iceberg sink writes new snapshot files instead and skips this.
    val surv = kept.unionByName(insNew)
      .withColumn(bcol, leafOf)
      .repartition(col("pred"), col(bcol)) // one file per leaf per update
      .localCheckpoint(false)
    // ONE aggregate over the checkpointed survivors yields both the
    // written-leaf set AND the per-leaf row counts the merged manifest needs
    // — the write below persists exactly these rows, so counting surv now
    // equals the old post-write footer recount, minus one distinct-collect
    // job and one parquet re-read job per op
    val leafCounts = surv.groupBy(col("pred"), col(bcol)).count()
      .collect().map(r => (r.getString(0), r.getInt(1), r.getLong(2))).toSeq
      .sortBy(t => (t._1, t._2))
    val written = leafCounts.map(t => (t._1, t._2))

    if (written.nonEmpty)
      surv.write.mode(SaveMode.Overwrite)
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("pred", bcol).parquet(storePath)

    // leaves the delta emptied: dynamic overwrite never visited them
    val stale = touched.filterNot(written.toSet)
    stale.foreach { pb =>
      val dir = leafDir(pb)
      if (Files.exists(dir)) {
        val walk = Files.walk(dir)
        try walk.sorted(java.util.Comparator.reverseOrder())
          .iterator().asScala.foreach(Files.delete)
        finally walk.close()
      }
      val parent = dir.getParent // pred=<v> dir: drop it when emptied
      if (Files.exists(parent)) {
        // close the listing stream — a leaked directory handle per emptied
        // leaf accumulates open descriptors in a long-running store listener
        val ls = Files.list(parent)
        val empty = try !ls.iterator().hasNext finally ls.close()
        if (empty) Files.delete(parent)
      }
    }
    spark.catalog.refreshByPath(storePath)
    graft.plans.BucketPrune.invalidate(storePath)

    // merged lineage: untouched leaves inherit, written leaves carry the
    // counts of the exact rows just written (from the surv aggregate above)
    val recount: Seq[(String, Long)] =
      leafCounts.map(t => (leafKey((t._1, t._2)), t._3))
    val touchedKeys = touched.map(leafKey).toSet
    val mergedCounts = (m.leafRows.filterNot(c => touchedKeys(c._1)) ++ recount)
      .sortBy(_._1)
    val (filesAfter, bytesAfter) =
      written.map(pb => TableFormat.walkFilesBytes(leafDir(pb)))
        .foldLeft((0L, 0L)) { case ((f, b), (f2, b2)) => (f + f2, b + b2) }
    TableFormat.publishManifest(storePath, m.fields ++ extraFields,
      mergedCounts,
      m.files - filesBefore + filesAfter,
      m.bytes - bytesBefore + bytesAfter,
      writeMs = System.currentTimeMillis() - t0)

    Report(touched.size, written.size, stale.size,
      rowsBefore = m.leafRows.collect { case (k, n) if touchedKeys(k) => n }.sum,
      rowsAfter = recount.map(_._2).sum)
  }
}
