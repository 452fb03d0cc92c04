package graft

import graft.io.{Compact, TableFormat}
import org.scalatest.funsuite.AnyFunSuite

/** Streaming-epoch compaction: exactly-once multiset merge into the base
  * table, crash recovery via the `.next` generation, epoch cleanup. */
class CompactSpec extends AnyFunSuite {
  lazy val spark = SparkTestBase.spark
  import spark.implicits._

  private def tmp() = java.nio.file.Files.createTempDirectory("compact").toString

  private def writeEpoch(dir: String, n: Long, rows: Seq[(Long, String)]): Unit =
    TableFormat.save(rows.toDF("id", "v"), s"$dir/epoch=$n", "id", buckets = 4,
      stage = s"epoch-$n")

  private def baseRows(base: String): Seq[(Long, String)] =
    TableFormat.load(spark, base).as[(Long, String)].collect().toSeq.sorted

  test("merge folds all complete epochs once, preserves multisets, deletes epoch dirs") {
    val stream = tmp(); val base = s"${tmp()}/base"
    // duplicate rows WITHIN and ACROSS epochs are meaningful (triple multiset)
    writeEpoch(stream, 0, Seq((1L, "a"), (1L, "a"), (2L, "b")))
    writeEpoch(stream, 1, Seq((1L, "a"), (3L, "c")))
    assert(Compact.mergeEpochs(spark, stream, base, "id", 4) === 2)
    assert(baseRows(base) === Seq((1L, "a"), (1L, "a"), (1L, "a"), (2L, "b"), (3L, "c")))
    assert(Compact.completeEpochs(stream).isEmpty, "merged epochs must be deleted")
    // idempotent: nothing new → no-op, base unchanged
    assert(Compact.mergeEpochs(spark, stream, base, "id", 4) === 0)
    assert(baseRows(base).size === 5)
  }

  test("incremental merge appends only fresh epochs") {
    val stream = tmp(); val base = s"${tmp()}/base"
    writeEpoch(stream, 0, Seq((1L, "a")))
    assert(Compact.mergeEpochs(spark, stream, base, "id", 4) === 1)
    writeEpoch(stream, 1, Seq((2L, "b")))
    writeEpoch(stream, 2, Seq((3L, "c")))
    assert(Compact.mergeEpochs(spark, stream, base, "id", 4) === 2)
    assert(baseRows(base) === Seq((1L, "a"), (2L, "b"), (3L, "c")))
  }

  private def epochStamp(stream: String, n: Long): String =
    SparkTestBase.manifestJson(s"$stream/epoch=$n").get("wall_ms").textValue

  private def copyDir(from: String, to: String): Unit = {
    import scala.jdk.CollectionConverters._
    val src = java.nio.file.Paths.get(from)
    val walk = java.nio.file.Files.walk(src)
    try walk.iterator().asScala.foreach { p =>
      val dst = java.nio.file.Paths.get(to).resolve(src.relativize(p))
      if (java.nio.file.Files.isDirectory(p)) java.nio.file.Files.createDirectories(dst)
      else java.nio.file.Files.copy(p, dst)
    } finally walk.close()
  }

  test("a crashed run with a complete .next generation is finished, not re-merged") {
    val stream = tmp(); val base = s"${tmp()}/base"
    writeEpoch(stream, 0, Seq((1L, "a")))
    // simulate: previous run wrote the merged generation and died pre-swap
    // (bookkeeping carries epoch IDENTITIES = name@wall_ms)
    TableFormat.save(Seq((1L, "a")).toDF("id", "v"), s"$base.next", "id", 4,
      stage = "compacted",
      extra = Map("compacted_epochs" -> s"epoch=0@${epochStamp(stream, 0)}"))
    assert(Compact.mergeEpochs(spark, stream, base, "id", 4) === 0)
    assert(baseRows(base) === Seq((1L, "a")))
    assert(Compact.completeEpochs(stream).isEmpty, "absorbed epoch must be dropped on recovery")
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(s"$base.next")))
  }

  test("an epoch whose deletion crashed (same identity back on disk) is dropped, never double-counted") {
    val stream = tmp(); val base = s"${tmp()}/base"
    writeEpoch(stream, 0, Seq((1L, "a")))
    val saved = s"${tmp()}/saved-epoch"
    copyDir(s"$stream/epoch=0", saved)
    assert(Compact.mergeEpochs(spark, stream, base, "id", 4) === 1)
    // simulate: deletion crashed — the IDENTICAL merged epoch dir reappears
    copyDir(saved, s"$stream/epoch=0")
    assert(Compact.mergeEpochs(spark, stream, base, "id", 4) === 0)
    assert(baseRows(base) === Seq((1L, "a")))
    assert(Compact.completeEpochs(stream).isEmpty)
  }

  test("a stream restart that reuses epoch numbers merges the new data instead of deleting it") {
    val stream = tmp(); val base = s"${tmp()}/base"
    writeEpoch(stream, 0, Seq((1L, "a")))
    assert(Compact.mergeEpochs(spark, stream, base, "id", 4) === 1)
    Thread.sleep(2) // distinct wall_ms stamp for the reused epoch number
    // checkpoint cleared → Spark restarts batch ids at 0 with FRESH docs
    writeEpoch(stream, 0, Seq((9L, "z")))
    assert(Compact.mergeEpochs(spark, stream, base, "id", 4) === 1,
      "same-named epoch with new identity must merge as fresh data")
    assert(baseRows(base) === Seq((1L, "a"), (9L, "z")))
    assert(Compact.completeEpochs(stream).isEmpty)
  }

  private def writeEpochStream(dir: String, n: Long, rows: Seq[(Long, String)],
                               streamId: String): Unit =
    TableFormat.save(rows.toDF("id", "v"), s"$dir/epoch=$n", "id", buckets = 4,
      stage = s"epoch-$n", extra = Map("stream_id" -> streamId))

  test("a replayed epoch is NOT double-merged even after compaction deleted its directory") {
    val stream = tmp(); val base = s"${tmp()}/base"
    val sid = "ck-1111"
    writeEpochStream(stream, 0, Seq((1L, "a"), (1L, "a")), sid)
    assert(Compact.mergeEpochs(spark, stream, base, "id", 4) === 1)
    assert(Compact.completeEpochs(stream).isEmpty)
    // crash before the streaming checkpoint committed batch 0 → on restart
    // foreachBatch re-delivers epoch 0 (same data, same stream id, NEW wall
    // stamp) and the writer recreates the deleted directory
    Thread.sleep(2)
    writeEpochStream(stream, 0, Seq((1L, "a"), (1L, "a")), sid)
    assert(Compact.mergeEpochs(spark, stream, base, "id", 4) === 0,
      "replayed epoch carries its merged identity and must be skipped")
    assert(baseRows(base) === Seq((1L, "a"), (1L, "a")))
    assert(Compact.completeEpochs(stream).isEmpty, "the replayed dir is dropped")
  }

  test("a cleared checkpoint (new stream id) reusing epoch numbers merges as fresh data") {
    val stream = tmp(); val base = s"${tmp()}/base"
    writeEpochStream(stream, 0, Seq((1L, "a")), "ck-old")
    assert(Compact.mergeEpochs(spark, stream, base, "id", 4) === 1)
    writeEpochStream(stream, 0, Seq((9L, "z")), "ck-new")
    assert(Compact.mergeEpochs(spark, stream, base, "id", 4) === 1)
    assert(baseRows(base) === Seq((1L, "a"), (9L, "z")))
  }

  test("streamInstanceId is checkpoint-scoped: stable across calls, fresh after the checkpoint is cleared") {
    val ckpt = tmp()
    val a = Compact.streamInstanceId(ckpt)
    assert(Compact.streamInstanceId(ckpt) === a)
    val walk = java.nio.file.Files.walk(java.nio.file.Paths.get(ckpt))
    try { import scala.jdk.CollectionConverters._
      walk.iterator().asScala.toSeq.reverse.foreach(java.nio.file.Files.delete)
    } finally walk.close()
    assert(Compact.streamInstanceId(ckpt) !== a, "cleared checkpoint mints a new id")
  }

  test("the compacted_epochs ledger stays bounded") {
    val stream = tmp() // no epoch dirs on disk
    // stream-identified: only the ReplayWindow (64) newest per stream survive
    val ids = (0L to 100L).map(n => s"epoch=$n@stream:ck-x")
    val kept = Compact.pruneLedger(stream, ids)
    assert(kept.size === 64)
    assert(kept.map(_.stripPrefix("epoch=").takeWhile(_ != '@').toLong).min === 37L)
    // two streams prune independently
    val two = ids ++ (0L to 10L).map(n => s"epoch=$n@stream:ck-y")
    assert(Compact.pruneLedger(stream, two).size === 64 + 11)
    // stamp-identified: dropped once the directory is gone…
    assert(Compact.pruneLedger(stream, Seq("epoch=5@1234")) === Seq.empty)
    // …but kept while the (identical) directory still exists — deletion may
    // have crashed and the ledger authorizes finishing it
    writeEpoch(stream, 7, Seq((1L, "a")))
    val stamped = s"epoch=7@${epochStamp(stream, 7)}"
    assert(Compact.pruneLedger(stream, Seq(stamped)) === Seq(stamped))
  }

  test("ledger pruning survives end-to-end: merged-long-ago entries leave the manifest") {
    val stream = tmp(); val base = s"${tmp()}/base"
    writeEpoch(stream, 0, Seq((1L, "a"))) // stamp-identified epoch
    assert(Compact.mergeEpochs(spark, stream, base, "id", 4) === 1)
    writeEpoch(stream, 1, Seq((2L, "b")))
    assert(Compact.mergeEpochs(spark, stream, base, "id", 4) === 1)
    val mf = java.nio.file.Files.readString(
      java.nio.file.Paths.get(base, "_manifest.json"))
    assert(!mf.contains("epoch=0@"), s"epoch=0 (dir long gone) must be pruned: $mf")
    assert(mf.contains("epoch=1@"), "the just-merged epoch must be present")
    assert(baseRows(base) === Seq((1L, "a"), (2L, "b")))
  }

  test("incomplete epochs (in-flight micro-batch) are left alone") {
    val stream = tmp(); val base = s"${tmp()}/base"
    writeEpoch(stream, 0, Seq((1L, "a")))
    // epoch=1 exists but has no manifest → in flight
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(s"$stream/epoch=1"))
    assert(Compact.mergeEpochs(spark, stream, base, "id", 4) === 1)
    assert(java.nio.file.Files.exists(java.nio.file.Paths.get(s"$stream/epoch=1")))
    assert(baseRows(base) === Seq((1L, "a")))
  }
}
