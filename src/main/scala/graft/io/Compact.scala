package graft.io

import org.apache.spark.sql.{DataFrame, SparkSession}
import java.nio.file.{Files, Paths, Path}
import scala.jdk.CollectionConverters._

/** Epoch compaction — fold the streaming sinks' per-epoch tables
  * (`<streamDir>/epoch=N`, each a complete [[TableFormat]] table) into one
  * base table, EXACTLY ONCE and crash-safe. This closes the standard
  * streaming/batch split: micro-batches append small epoch tables at ingest
  * latency; a periodic compaction folds them into the query-facing base so
  * readers never fan out over thousands of epoch directories (the
  * metadata-explosion failure mode of append-only streaming sinks at scale).
  *
  * Semantics: MULTISET-preserving — rows are never deduplicated (triple
  * streams carry meaningful duplicate `mentions` rows), so exactly-once comes
  * from bookkeeping, not idempotent rows:
  *
  *   - the base's manifest carries the cumulative list of merged epoch names
  *     (`compacted_epochs`); an epoch in that list is skipped even if its
  *     directory still exists (deletion crashed last time);
  *   - the new generation is written beside the base (`<base>.next`), then
  *     swapped in (base → `<base>.old` → delete). A crash between write and
  *     swap leaves a complete `.next` whose manifest names the epochs it
  *     contains — the next run finishes the swap instead of re-merging;
  *   - merged epoch directories are deleted only after the swap.
  *
  * Scale shape: the merge is one unionByName of already-bucketed tables and
  * one bucket repartition into the write (TableFormat.save) — no join, no
  * dedup shuffle; compaction cost is proportional to data merged, and the
  * epoch tables are micro-batch-sized.
  */
object Compact {

  private def rmrf(p: Path): Unit =
    if (Files.exists(p)) {
      val walk = Files.walk(p)
      try walk.iterator().asScala.toSeq.reverse.foreach(Files.delete)
      finally walk.close()
    }

  private def listField(path: String, field: String): Seq[String] =
    if (!TableFormat.isComplete(path)) Seq.empty
    else TableFormat.readManifest(path).fields.get(field)
      .filter(_.nonEmpty).map(_.split(",").toSeq).getOrElse(Seq.empty)

  /** Identity of an epoch table. Epoch NAMES alone are not stable identities:
    * a stream whose checkpoint is cleared restarts epoch numbering at 0, so a
    * re-used name with new data must read as a FRESH epoch, never as "already
    * merged" (which would delete unmerged data).
    *
    * Preferred identity: `name@stream:<stream_id>` — the writer stamps each
    * epoch manifest with [[streamInstanceId]], a UUID that LIVES IN THE
    * STREAMING CHECKPOINT. Same checkpoint ⇒ same id, and Structured
    * Streaming's foreachBatch contract (same epochId ⇒ same data) makes the
    * identity stable across replays: an epoch re-written after a crash —
    * even after compaction already merged and DELETED it — reproduces the
    * identity it was merged under and is skipped, not double-merged. A
    * cleared checkpoint mints a new UUID, so re-used epoch numbers with
    * genuinely new data merge as fresh.
    *
    * Fallback for writers that don't stamp a stream id: `name@wall_ms` —
    * replay-after-delete of such an epoch gets a fresh stamp and WILL merge
    * again (exactly-once there requires the epoch dir to outlive the
    * checkpoint commit, the pre-stream_id behavior). */
  private def epochIdentity(streamDir: String, name: String): String = {
    val dir = s"$streamDir/$name"
    listField(dir, "stream_id").headOption match {
      case Some(sid) => s"$name@stream:$sid"
      case None =>
        val stamp = listField(dir, "wall_ms").headOption.getOrElse("?")
        s"$name@$stamp"
    }
  }

  /** The stream-instance id for a streaming query: a UUID stored as
    * `_graft_stream_id` INSIDE the checkpoint directory, created on first
    * use. It shares the checkpoint's fate — replays (same checkpoint) reuse
    * it, a cleared checkpoint mints a new one — which is exactly the
    * lifetime an epoch identity needs. Epoch writers pass it to
    * [[TableFormat.save]] as `extra = Map("stream_id" -> ...)`. */
  def streamInstanceId(checkpointDir: String): String = {
    val dir = Paths.get(checkpointDir)
    Files.createDirectories(dir)
    val f = dir.resolve("_graft_stream_id")
    if (Files.exists(f)) Files.readString(f).trim
    else {
      val id = java.util.UUID.randomUUID().toString
      val tmp = dir.resolve("._graft_stream_id.tmp")
      Files.writeString(tmp, id)
      try Files.move(tmp, f, java.nio.file.StandardCopyOption.ATOMIC_MOVE)
      catch {
        // lost a creation race or FS lacks atomic move: trust whoever won
        case _: java.nio.file.FileAlreadyExistsException
           | _: java.nio.file.AtomicMoveNotSupportedException =>
          if (!Files.exists(f)) Files.move(tmp, f)
          else Files.deleteIfExists(tmp)
      }
      Files.readString(f).trim
    }
  }

  /** Complete epoch tables under streamDir, oldest first. */
  def completeEpochs(streamDir: String): Seq[String] = {
    val d = Paths.get(streamDir)
    if (!Files.exists(d)) Seq.empty
    else {
      val ls = Files.list(d)
      try ls.iterator().asScala
        .filter(p => p.getFileName.toString.startsWith("epoch="))
        .filter(p => TableFormat.isComplete(p.toString))
        .map(_.getFileName.toString).toSeq
        .sortBy(n => n.stripPrefix("epoch=").toLong)
      finally ls.close()
    }
  }

  /** Swap a complete `.next` generation into place and drop the epochs its
    * manifest says it absorbed. Safe to call when no `.next` exists. */
  private def finishSwap(streamDir: String, baseDir: String): Unit = {
    val next = s"$baseDir.next"
    val old = Paths.get(s"$baseDir.old")
    if (!TableFormat.isComplete(next)) {
      // half-written generation → discard; stranded old generation (crash
      // after swap, before cleanup) → base already supersedes it, drop it
      rmrf(Paths.get(next)); rmrf(old); return
    }
    rmrf(old)
    if (Files.exists(Paths.get(baseDir))) {
      Files.move(Paths.get(baseDir), old)
    }
    Files.move(Paths.get(next), Paths.get(baseDir))
    rmrf(old)
    dropAbsorbed(streamDir, listField(baseDir, "compacted_epochs").toSet)
  }

  /** Delete on-disk epochs whose CURRENT identity is in the absorbed set —
    * a same-named epoch with a different stamp is new data and survives. */
  private def dropAbsorbed(streamDir: String, absorbed: Set[String]): Unit =
    completeEpochs(streamDir)
      .filter(e => absorbed.contains(epochIdentity(streamDir, e)))
      .foreach(e => rmrf(Paths.get(streamDir, e)))

  /** How many of the newest merged epochs per stream instance stay in the
    * ledger. Structured Streaming re-delivers at most the batches after the
    * last checkpoint commit — in practice the single in-flight batch — so an
    * epoch 64 batches behind the newest merged one can never be replayed. */
  private val ReplayWindow = 64L

  private def epochNumOf(identity: String): Long =
    identity.takeWhile(_ != '@').stripPrefix("epoch=").toLong

  /** Bound the `compacted_epochs` ledger (it would otherwise grow by one
    * entry per micro-batch forever — the metadata-growth problem this module
    * exists to solve, recreated in its own manifest). An entry may be
    * dropped only when its epoch can never be presented for merging again:
    *
    *   - stream-identified entries (`@stream:<id>`): droppable once older
    *     than [[ReplayWindow]] behind that stream's newest merged epoch —
    *     past the checkpoint's replay horizon, the identity cannot recur;
    *   - stamp-identified entries (`@wall_ms`): droppable as soon as the
    *     epoch directory is gone — a future re-write of the same name mints
    *     a fresh stamp, so this exact identity cannot recur.
    *
    * Entries whose directory still exists are always kept (deletion may have
    * crashed; the ledger is what lets the next run finish it). */
  private[graft] def pruneLedger(streamDir: String, ids: Seq[String]): Seq[String] = {
    val onDisk: Set[String] =
      completeEpochs(streamDir).map(e => epochIdentity(streamDir, e)).toSet
    ids.groupBy(id => id.substring(id.indexOf('@') + 1)).flatMap { case (suffix, group) =>
      if (!suffix.startsWith("stream:")) group.filter(onDisk.contains)
      else {
        val horizon = group.map(epochNumOf).max - ReplayWindow
        group.filter(id => epochNumOf(id) > horizon || onDisk.contains(id))
      }
    }.toSeq
  }

  /** Merge all complete, not-yet-merged epochs into baseDir. Returns the
    * number of epochs folded in (0 = nothing to do). */
  def mergeEpochs(spark: SparkSession, streamDir: String, baseDir: String,
                  keyCol: String, buckets: Int = 32): Int = {
    finishSwap(streamDir, baseDir) // recover a crashed previous run first
    val already = listField(baseDir, "compacted_epochs").toSet
    // an epoch whose identity is listed but still on disk: deletion crashed —
    // finish it; a SAME-NAMED epoch with a new stamp stays and merges fresh
    dropAbsorbed(streamDir, already)
    val fresh = completeEpochs(streamDir)
      .filterNot(e => already.contains(epochIdentity(streamDir, e)))
    if (fresh.isEmpty) return 0
    val freshIds = fresh.map(e => epochIdentity(streamDir, e))

    val parts: Seq[DataFrame] =
      (if (TableFormat.isComplete(baseDir)) Seq(TableFormat.load(spark, baseDir)) else Seq.empty) ++
        fresh.map(e => TableFormat.load(spark, s"$streamDir/$e"))
    val merged = parts.reduce(_.unionByName(_))
    // fresh ids are NEVER pruned here — their directories are deleted only
    // in the finishSwap below, and the ledger is what authorizes that delete
    val ledger = (pruneLedger(streamDir, already.toSeq) ++ freshIds).distinct
    TableFormat.save(merged, s"$baseDir.next", keyCol, buckets,
      stage = "compacted",
      extra = Map("compacted_epochs" -> ledger.sorted.mkString(",")))
    finishSwap(streamDir, baseDir)
    fresh.size
  }
}
