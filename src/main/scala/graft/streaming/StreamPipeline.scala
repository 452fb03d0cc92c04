package graft.streaming

import graft.{Pipeline, SparkEntry}
import graft.schema.InputDoc
import graft.io.TableFormat
import graft.kg.{Canonicalize, Linker, Triples}
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger, OutputMode}

/** Structured-Streaming front end (SURVEY §2 H "streaming" note: the reference
  * is batch/request-response; our engine is batch-first, and this is the thin
  * streaming wrapper over the SAME stage functions).
  *
  * Design: annotation is a narrow per-row transform → it runs directly on the
  * streaming Dataset (mapPartitions is stream-safe). Everything stateful
  * (occurrence windows, linking joins, triple materialization) runs inside
  * `foreachBatch`, where each micro-batch is a plain DataFrame processed by the
  * identical batch-stage code and appended to the bucketed triple store —
  * exactly-once per epoch via idempotent epoch-keyed output paths.
  */
object StreamPipeline {

  /** Streaming annotate: same mapPartitions stage as the batch path. */
  def annotateStream(spark: SparkSession, docs: Dataset[InputDoc],
                     models: Broadcast[Pipeline.Models]): Dataset[graft.schema.Doc] =
    Pipeline.annotate(spark, docs, models) // narrow → stream-safe as-is

  /** Streaming exact dedup: drop re-ingested documents by content fingerprint,
    * with watermarked state cleanup (an unbounded-state dropDuplicates would
    * OOM a long-running ingest — the watermark bounds it to the late-data
    * window). Input needs an event-time column `ingest_ts`. */
  def dedupStream(docs: DataFrame, watermark: String = "1 hour"): DataFrame =
    docs
      .withColumn("fp", graft.datapipe.TextQuality.fingerprint(
        org.apache.spark.sql.functions.to_json(org.apache.spark.sql.functions.col("spans"))))
      .withWatermark("ingest_ts", watermark)
      .dropDuplicatesWithinWatermark("fp")
      .drop("fp")

  /** Full streaming pipeline: docs stream → annotate → per-batch mentions →
    * link → triples appended under `outDir/epoch=N`. Returns the running query.
    * `models` injects the NER/MD model set (default: fixture models) — same
    * contract as Pipeline.runAll.
    */
  def run(
      spark: SparkSession,
      docs: Dataset[InputDoc],
      dict: DataFrame,
      outDir: String,
      checkpointDir: String,
      scenario: String = "morph",
      trigger: Trigger = Trigger.AvailableNow(),
      models: Pipeline.Models = Pipeline.fixtureModels()): StreamingQuery =
    startTriples(spark, docs, dict, checkpointDir, scenario, trigger, models) {
      (triples, epochId, streamId) =>
        // idempotent epoch-keyed write: a replayed epoch overwrites itself;
        // the checkpoint-scoped stream_id keeps its Compact identity stable
        // across replays (no double-merge after compaction deleted the dir)
        TableFormat.save(triples, s"$outDir/epoch=$epochId", "doc_id",
          buckets = 8, stage = s"triples-epoch-$epochId",
          extra = Map("stream_id" -> streamId))
    }

  /** Streaming KG construction into the ONE pred-partitioned, SPARQL-
    * queryable triple STORE — the continuous-ingest twin of [[run]] (which
    * appends epoch-keyed quad snapshots). Each micro-batch becomes an
    * [[graft.kg.Update.applyDelta]] commit: only the batch's (pred, bucket)
    * leaves are read + rewritten, the lineage manifest merges (so
    * [[graft.kg.Pattern.predStatsFromManifest]] and the metadata-only COUNT
    * stay fresh after every epoch), and doc provenance rides the insert as
    * a passenger column.
    *
    * Exactly-once across failure recovery: the applied epoch stamps
    * `update_id = <stream_id>:<epochId>` atomically with the manifest;
    * Structured Streaming only ever replays the in-flight epoch, and a
    * replayed epoch whose stamp already committed is skipped outright. A
    * crash BETWEEN the data write and the manifest publish re-runs the
    * epoch, which converges — insert-if-absent is idempotent.
    *
    * Store semantics: a GRAPH — one row per (subj, pred, obj), first-seen
    * provenance kept (deterministic min). The per-mention quad multiset
    * lives in [[run]]'s epoch tables; this store is the entity-graph read
    * surface the SPARQL/BGP/path machinery queries. The first epoch
    * bootstraps the store (a full savePartitioned IS that epoch's delta);
    * at 10^12 docs every later epoch prices by its batch, not the store. */
  def runIntoStore(
      spark: SparkSession,
      docs: Dataset[InputDoc],
      dict: DataFrame,
      storePath: String,
      checkpointDir: String,
      scenario: String = "morph",
      trigger: Trigger = Trigger.AvailableNow(),
      models: Pipeline.Models = Pipeline.fixtureModels()): StreamingQuery =
    startTriples(spark, docs, dict, checkpointDir, scenario, trigger, models) {
      (triples, epochId, streamId) =>
        val stamp = s"$streamId:$epochId"
        val committed = TableFormat.isComplete(storePath) &&
          TableFormat.readManifest(storePath).fields.get("update_id").contains(stamp)
        if (!committed) {
          // bootstrap: an EMPTY store (schema + zero-partition manifest), so
          // every epoch — including the first — lands through the one
          // applyDelta path with identical graph semantics
          if (!TableFormat.isComplete(storePath))
            TableFormat.savePartitioned(triples.limit(0), storePath,
              partCol = "pred", keyCol = "subj", stage = "triples-stream",
              extra = Map("stream_id" -> streamId))
          graft.kg.Update.applyDelta(spark, storePath,
            delete = graft.kg.Update.noTriples(spark),
            insert = triples,
            extraFields = Map("update_id" -> stamp))
        }
    }

  /** The streaming query both sinks share: annotate the stream, then per
    * micro-batch run the batch stages (mentions → link → canonical join →
    * triples) and hand the batch's triples, its epoch id and the
    * checkpoint-scoped stream id to `sink`.
    *
    * Canonicalization is dictionary-side and static for the stream's
    * lifetime: it runs ONCE at stream start, and the (dictionary-sized,
    * broadcastable by design) result is held ON THE DRIVER and rebuilt as
    * the side frame per batch — localCheckpoint blocks live on executors, so
    * one lost executor would kill every later micro-batch of a long-running
    * query ("checkpoint block not found" with the lineage already
    * truncated). The streaming path emits the same canonical subjects and
    * sameAs triples as batch. */
  private def startTriples(
      spark: SparkSession,
      docs: Dataset[InputDoc],
      dict: DataFrame,
      checkpointDir: String,
      scenario: String,
      trigger: Trigger,
      models: Pipeline.Models)(sink: (DataFrame, Long, String) => Unit): StreamingQuery = {
    val modelsBc = spark.sparkContext.broadcast(models)
    val entityRows: Seq[(Long, Long)] = Canonicalize.canonicalize(spark, dict)
      .select(col("entity_id").cast("long"), col("canonical_id").cast("long"))
      .collect().toSeq.map(r => (r.getLong(0), r.getLong(1)))
    val entities = {
      import spark.implicits._
      entityRows.toDF("entity_id", "canonical_id")
    }
    val streamId = graft.io.Compact.streamInstanceId(checkpointDir)
    annotateStream(spark, docs, modelsBc).writeStream
      .outputMode(OutputMode.Append())
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch { (batch: Dataset[graft.schema.Doc], epochId: Long) =>
        val linked = Linker.link(Pipeline.extractMentions(batch, scenario), dict)
        sink(Triples.fromLinkedMentions(Canonicalize.withCanonical(linked, entities)),
          epochId, streamId)
      }
      .start()
  }
}
