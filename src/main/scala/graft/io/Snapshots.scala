package graft.io

import org.apache.spark.sql.{DataFrame, SparkSession}
import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** Iceberg-style snapshot log over [[TableFormat]] data directories:
  * time-travel reads, incremental (changes-between-snapshots) scans, and
  * snapshot expiry — the table-format half of the north rule's
  * "checkpoint-resumable with per-partition lineage" contract that plain
  * directory-per-stage parquet cannot express.
  *
  * Model (the same three layers Iceberg uses, scaled to the sandbox):
  *  - data layer: each commit writes ONE new bucketed data directory
  *    (`snap-NNNNNN/`, a full [[TableFormat]] dir with its own per-partition
  *    lineage manifest);
  *  - snapshot: an immutable LIST of data directories. `append` = parent's
  *    list + the new dir; `overwrite` = just the new dir. Old snapshots keep
  *    resolving as long as their dirs live — that is what makes time travel
  *    and incremental scans O(1) metadata operations, not data copies;
  *  - log: `_snapshots.jsonl`, one JSON object per line, rewritten atomically
  *    (temp file + rename) by [[TableFormat]] on every commit. Single-writer by design — real
  *    Iceberg arbitrates concurrent committers with optimistic locking on the
  *    catalog pointer; the pipeline's stage writers are single-owner per
  *    table, so a compare-and-swap on the rename is the swap-in point.
  *
  * At 10^12-doc scale the snapshot log stays tiny (one line per ingest
  * batch); readers never list the table root — they read the log and go
  * straight to the named directories, exactly like Iceberg's manifest list
  * avoiding S3 LIST storms. */
object Snapshots {

  /** `dirs` are data dirs; `dels` are merge-on-read equality-delete dirs
    * (each a one-column key table). A delete dir masks only data dirs whose
    * snapshot id (parsed from the dir name) is OLDER than its own —
    * Iceberg's sequence-number rule, which is what lets a later insert of a
    * previously-deleted key survive. `rows` has ONE meaning across every
    * commit path (append, overwrite, merge, delete, clustered/grid rewrite):
    * the SUM of the snapshot's data-dir row counts, from each dir's manifest
    * (footer-priced — never a data re-read). Pending MoR delete masks are
    * not subtracted, so a masked read can return fewer; folding the masks
    * (rewrite) re-syncs `rows` with the live count. */
  final case class Snapshot(id: Long, parentId: Long, op: String,
                            dirs: Vector[String], stage: String,
                            rows: Long, tsMs: Long,
                            dels: Vector[String] = Vector.empty)

  /** Per-data-dir column bounds (Iceberg's manifest `lower_bounds` /
    * `upper_bounds`, per data dir instead of per data file). `typ` is
    * "long" or "string"; min/max are the rendered values (longs in decimal).
    * `bounded = false` marks an empty or all-null dir (no non-null value
    * existed — NOT the same as a genuine empty-string bound, which is
    * bounded with min = ""). Nulls are counted separately and never fold
    * into the bounds, so a pruned scan with a range predicate (which no
    * null row can satisfy) stays exact. */
  final case class ColumnStats(col: String, typ: String, bounded: Boolean,
                               min: String, max: String, nulls: Long)

  /** Append-only ingest commit: the new rows land in their own data dir; the
    * new snapshot references parent dirs + the new one. Returns the snapshot.
    * `op = "overwrite"` starts a fresh dir list (full rewrite semantics).
    * `statsCols`: record per-dir min/max bounds for these columns in the
    * dir's `_stats.jsonl` sidecar — the metadata [[loadPruned]] consults to
    * skip whole dirs at scan-planning time (Iceberg's data-skipping stats).
    * Bounds come from the WRITTEN dir (one column-pruned agg over the new
    * dir only — with parquet aggregate pushdown this is footer-priced; it is
    * never a re-read of the whole table), so they are ground truth even when
    * `df` is nondeterministic. */
  def commit(df: DataFrame, tableDir: String, keyCol: String,
             buckets: Int = 32, stage: String = "",
             op: String = "append", statsCols: Seq[String] = Nil): Snapshot = {
    require(op == "append" || op == "overwrite", s"unknown snapshot op: $op")
    val prior = snapshots(tableDir)
    val id = prior.lastOption.map(_.id + 1).getOrElse(1L)
    val dirName = f"snap-$id%06d"
    TableFormat.save(df, s"$tableDir/$dirName", keyCol, buckets,
      stage = if (stage.isEmpty) s"snapshot-$id" else stage)
    if (statsCols.nonEmpty)
      writeStats(df.sparkSession, s"$tableDir/$dirName", statsCols)
    val parentDirs =
      if (op == "overwrite") Vector.empty
      else prior.lastOption.map(_.dirs).getOrElse(Vector.empty)
    // one uniform Snapshot.rows semantic (see the case-class doc): total
    // data-dir rows at this snapshot — parents' manifest counts + the new dir
    val rows = dirRows(tableDir, parentDirs :+ dirName)
    // an overwrite rewrites CURRENT content (deletes already applied by
    // load), so it also clears the delete list; appends carry it forward
    val parentDels =
      if (op == "overwrite") Vector.empty[String]
      else prior.lastOption.map(_.dels).getOrElse(Vector.empty)
    val snap = Snapshot(id, prior.lastOption.map(_.id).getOrElse(0L), op,
      parentDirs :+ dirName, stage, rows, System.currentTimeMillis(), parentDels)
    TableFormat.writeSnapshotLog(tableDir, prior :+ snap)
    snap
  }

  /** Total row count of data dirs, from their TableFormat manifests
    * (footer-priced at write time — never a data re-read). */
  private def dirRows(tableDir: String, dirs: Seq[String]): Long =
    dirs.map(d => TableFormat.readManifest(s"$tableDir/$d").rows).sum

  /** All snapshots, oldest first. Empty for a table that has never committed. */
  def snapshots(tableDir: String): Vector[Snapshot] = TableFormat.readSnapshotLog(tableDir)

  def current(tableDir: String): Option[Snapshot] = snapshots(tableDir).lastOption

  /** Read the table at a snapshot (`asOf = None` → current). The scan unions
    * exactly the snapshot's data dirs — partition pruning and the bucket
    * layout of each dir are preserved (the dirs are ordinary TableFormat
    * dirs). Time travel is a metadata resolution, not a data operation. */
  def load(spark: SparkSession, tableDir: String,
           asOf: Option[Long] = None): DataFrame = {
    val snap = resolve(tableDir, asOf)
    readDirs(spark, tableDir, snap.dirs, snap.dels)
  }

  /** Incremental scan: rows ADDED after `fromId` up to and including `toId`
    * (`toId = None` → current) — the CDC feed an incremental pipeline run
    * consumes. Fails loudly if an `overwrite` snapshot intervenes: its delta
    * is not expressible as "new dirs only" and the caller must fall back to a
    * full diff (same contract as Iceberg's incremental append scan). */
  def changes(spark: SparkSession, tableDir: String, fromId: Long,
              toId: Option[Long] = None): DataFrame = {
    val all = snapshots(tableDir)
    val from = all.find(_.id == fromId)
      .getOrElse(throw new IllegalArgumentException(s"no snapshot $fromId in $tableDir"))
    val to = resolve(tableDir, toId)
    require(to.id >= from.id, s"changes($fromId -> ${to.id}) runs backwards")
    val between = all.filter(s => s.id > from.id && s.id <= to.id)
    between.find(_.op != "append").foreach { s =>
      throw new IllegalStateException(
        s"snapshot ${s.id} is '${s.op}' — incremental scan only spans appends")
    }
    val newDirs = to.dirs.filterNot(from.dirs.toSet)
    readDirs(spark, tableDir, newDirs)
  }

  // ---- column-stats data skipping (Iceberg manifest bounds, per dir) ----

  /** Compute and write the `_stats.jsonl` sidecar for one data dir: one
    * min/max/null-count line per stats column, from a single column-pruned
    * aggregate over that dir alone. Long (any integral) and string columns
    * only — fail loudly on anything else rather than record bounds whose
    * comparison semantics differ between engines (floats, timestamps). */
  private def writeStats(spark: SparkSession, dataDir: String,
                         cols: Seq[String]): Unit = {
    import org.apache.spark.sql.functions.{col, count, lit, max, min, sum, when}
    import org.apache.spark.sql.types.{IntegerType, LongType, ShortType, ByteType, StringType}
    val df = TableFormat.load(spark, dataDir)
    val typs = cols.map { c =>
      df.schema.find(_.name == c).getOrElse(
        throw new IllegalArgumentException(s"stats column $c not in ${df.columns.mkString(",")}")
      ).dataType match {
        case IntegerType | LongType | ShortType | ByteType => "long"
        case StringType => "string"
        case other => throw new IllegalArgumentException(
          s"stats column $c has unsupported type $other (long/string only)")
      }
    }
    val aggs = cols.flatMap { c =>
      Seq(min(col(c)).cast("string").as(s"min_$c"),
          max(col(c)).cast("string").as(s"max_$c"),
          sum(when(col(c).isNull, lit(1L)).otherwise(lit(0L))).as(s"nulls_$c"))
    }
    val row = df.agg(count(lit(1)).as("n"), aggs: _*).collect()(0)
    val empty = row.getAs[Long]("n") == 0L
    TableFormat.writeColumnStats(dataDir, cols.zip(typs).map { case (c, t) =>
      val nulls = if (empty) 0L else row.getAs[Long](s"nulls_$c")
      // `bounded` is the explicit no-non-null-value marker — a genuine
      // empty-string min must stay distinguishable from "no bounds"
      val bounded = !(empty || row.getAs[String](s"min_$c") == null)
      val (mn, mx) =
        if (!bounded) ("", "")
        else (row.getAs[String](s"min_$c"), row.getAs[String](s"max_$c"))
      ColumnStats(c, t, bounded, mn, mx, nulls)
    })
  }

  /** The stats sidecar of one data dir, or None if it was committed without
    * stats (pre-stats dirs are never prunable — [[pruneDirs]] keeps them).
    * A sidecar that fails to parse — older format, corruption — also reads
    * as None: unreadable stats must degrade to an UNPRUNED (correct, just
    * slower) scan, never to an unreadable table. */
  def stats(tableDir: String, dirName: String): Option[Vector[ColumnStats]] =
    TableFormat.readColumnStats(s"$tableDir/$dirName")

  /** Scan planning with data skipping: of the snapshot's dirs, which can
    * contain a row with `col` in [lo, hi] (inclusive)? Returns (kept, all).
    * A dir is SKIPPED only when its recorded bounds prove `[min, max]` and
    * `[lo, hi]` are disjoint; an empty or all-null dir records empty bounds
    * and is also skipped (no null row satisfies a range predicate). Missing
    * sidecar or missing column ⇒ kept (never a wrong answer, only a wasted
    * read). Type mismatch between the bound and the recorded stats fails
    * loudly — a miswired predicate must not silently degrade every scan to
    * full. */
  def pruneDirs(tableDir: String, colName: String, lo: Any, hi: Any,
                asOf: Option[Long] = None): (Vector[String], Vector[String]) =
    pruneDirsMulti(tableDir, Seq((colName, lo, hi)), asOf)

  /** Conjunctive multi-column scan planning: a dir is kept only if EVERY
    * (col, lo, hi) box constraint can be satisfied by its bounds — the read
    * path of [[rewriteGrid]]'s multi-dimensional clustering, where each dir
    * carries tight bounds on every grid axis. Single-column [[pruneDirs]]
    * is the one-constraint case. */
  def pruneDirsMulti(tableDir: String, bounds: Seq[(String, Any, Any)],
                     asOf: Option[Long] = None): (Vector[String], Vector[String]) = {
    require(bounds.nonEmpty, "need at least one bound")
    val snap = resolve(tableDir, asOf)
    val typed = bounds.map { case (c, lo, hi) =>
      val (t, loS, hiS) = (lo, hi) match {
        case (a: Long, b: Long)     => ("long", a.toString, b.toString)
        case (a: Int, b: Int)       => ("long", a.toString, b.toString)
        case (a: String, b: String) => ("string", a, b)
        case other => throw new IllegalArgumentException(
          s"bounds must be both Long/Int or both String, got $other")
      }
      (c, t, loS, hiS)
    }
    val kept = snap.dirs.filter { d =>
      val st = stats(tableDir, d)
      typed.forall { case (colName, boundTyp, loS, hiS) =>
        st.flatMap(_.find(_.col == colName)) match {
          case None => true // no stats recorded — cannot prune, must read
          case Some(cs) =>
            require(cs.typ == boundTyp,
              s"stats for $colName in $d are ${cs.typ}, bounds are $boundTyp")
            if (!cs.bounded) false // empty or all-null dir — no row can match
            else if (boundTyp == "long")
              !(cs.max.toLong < loS.toLong || cs.min.toLong > hiS.toLong)
            // UTF-8 byte order — the order Spark's UTF8String min/max used
            // to produce the bounds; Java String '<' (UTF-16 units)
            // disagrees on supplementary characters and would prune wrongly
            else !(utf8Lt(cs.max, loS) || utf8Lt(hiS, cs.min))
        }
      }
    }
    (kept, snap.dirs)
  }

  /** Strict less-than in unsigned UTF-8 byte order (= Unicode code-point
    * order, = Spark UTF8String.compareTo). */
  private def utf8Lt(a: String, b: String): Boolean = {
    val x = a.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val y = b.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val n = math.min(x.length, y.length)
    var i = 0
    while (i < n) {
      val c = (x(i) & 0xff) - (y(i) & 0xff)
      if (c != 0) return c < 0
      i += 1
    }
    x.length < y.length
  }

  /** Range scan with dir-level data skipping: resolve the snapshot, drop
    * every dir whose recorded bounds cannot intersect [lo, hi], union-read
    * the survivors, and apply the EXACT predicate (stats pruning is a
    * superset guarantee, not a filter). At 10^12 docs with ingest batches
    * arriving roughly key-ordered this is the difference between reading one
    * batch dir and reading the table — the same lever as Iceberg's
    * min/max-based file skipping, and it composes with the per-dir bucket
    * pruning TableFormat.lookup already does. */
  def loadPruned(spark: SparkSession, tableDir: String, colName: String,
                 lo: Any, hi: Any, asOf: Option[Long] = None): DataFrame =
    loadPrunedMulti(spark, tableDir, Seq((colName, lo, hi)), asOf)

  /** Box scan with conjunctive data skipping: drop every dir some bound
    * proves empty, union-read the survivors, re-apply ALL exact predicates.
    * Over a [[rewriteGrid]]-clustered table a k-dimensional box query reads
    * only the grid cells the box intersects. */
  def loadPrunedMulti(spark: SparkSession, tableDir: String,
                      bounds: Seq[(String, Any, Any)],
                      asOf: Option[Long] = None): DataFrame = {
    import org.apache.spark.sql.functions.{col, lit}
    val (kept, all) = pruneDirsMulti(tableDir, bounds, asOf)
    val dels = resolve(tableDir, asOf).dels
    val exact = (df: DataFrame) => bounds.foldLeft(df) { case (d, (c, lo, hi)) =>
      d.filter(col(c) >= lit(lo) && col(c) <= lit(hi))
    }
    if (kept.isEmpty)
      // nothing can match: keep the schema (read one dir's metadata, emit 0
      // rows — the lit(false) filter prunes at the source)
      exact(readDirs(spark, tableDir, all.take(1)).filter(lit(false)))
    else exact(readDirs(spark, tableDir, kept, dels))
  }

  /** Compaction (Iceberg's rewrite_data_files): merge the current snapshot's
    * data dirs into ONE fresh dir, committed as an `overwrite` snapshot with
    * identical rows. Bounds the per-read dir count an append-only ingest
    * grows without losing history: older snapshots stay time-travelable
    * until [[expire]] reclaims their dirs. Readers of the pre-rewrite
    * snapshots are unaffected (their dirs are immutable); incremental scans
    * cannot span the rewrite (op=overwrite — callers checkpoint their last
    * consumed snapshot BEFORE compaction windows, the same contract as
    * Iceberg's incremental append scan). */
  def rewrite(spark: SparkSession, tableDir: String, keyCol: String,
              buckets: Int = 32, stage: String = "rewrite",
              statsCols: Seq[String] = Nil): Snapshot = {
    val cur = current(tableDir)
      .getOrElse(throw new IllegalStateException(s"$tableDir has no snapshots to rewrite"))
    // no-op only when there is nothing to fold: one dir AND no pending
    // merge-on-read deletes (rewriting applies + clears the delete masks)
    if (cur.dirs.size == 1 && cur.dels.isEmpty) cur
    else commit(load(spark, tableDir), tableDir, keyCol, buckets, stage,
      op = "overwrite", statsCols = statsCols)
  }

  /** Merge-on-read DELETE (Iceberg v2 equality deletes): instead of
    * rewriting any data dir, the keys to delete are written as ONE small
    * one-column table and the snapshot records it in `dels`. Reads apply the
    * mask lazily — each data dir anti-joins the delete-key sets whose
    * snapshot id is NEWER than its own (the sequence-number rule: a later
    * re-insert of a deleted key is NOT masked). Deletion is O(delete set),
    * the write path of choice when deletes are frequent and small (GDPR
    * erasure, retractions) — reads pay a broadcast anti-join per masked dir
    * until [[rewrite]] folds the deletes in (an overwrite clears `dels`).
    * `keys` must be a ONE-column DataFrame named exactly like the data
    * key column; null keys fail loudly (an equality delete can never match
    * null — silently dropping nothing would be a lie). */
  def deleteWhere(keys: DataFrame, tableDir: String,
                  stage: String = "delete", buckets: Int = 8): Snapshot = {
    import org.apache.spark.sql.functions.{col, count, lit, sum, when}
    require(keys.columns.length == 1,
      s"delete keys must be one column (the key), got ${keys.columns.mkString(",")}")
    val keyCol = keys.columns.head
    val prior = snapshots(tableDir)
    require(prior.nonEmpty, s"$tableDir has no snapshots to delete from")
    val cur = prior.last
    val id = cur.id + 1
    val head = keys.agg(count(lit(1)).as("n"),
      sum(when(col(keyCol).isNull, lit(1L)).otherwise(lit(0L))).as("nulls")).collect()(0)
    require(head.getAs[Long]("n") > 0L, "delete key set is empty")
    require(head.getAs[Long]("nulls") == 0L,
      s"delete keys contain null $keyCol values — equality deletes cannot match null")
    val dd = f"snap-$id%06d-del"
    TableFormat.save(keys.distinct(), s"$tableDir/$dd", keyCol, buckets,
      stage = s"$stage-keys")
    // data dirs are unchanged, so the uniform rows semantic (sum of data-dir
    // counts — masks not subtracted) carries the parent's value forward
    val snap = Snapshot(id, cur.id, "delete", cur.dirs, stage, cur.rows,
      System.currentTimeMillis(), cur.dels :+ dd)
    TableFormat.writeSnapshotLog(tableDir, prior :+ snap)
    snap
  }

  /** Row-level MERGE (Iceberg's copy-on-write MERGE INTO, at dir
    * granularity): every `delta` row REPLACES the current row with the same
    * key, or inserts if the key is new. Only AFFECTED dirs are rewritten:
    * candidates come from the key-bounds stats ([[pruneDirs]] against the
    * delta's key range — dirs without stats are always candidates), then a
    * cheap semi-join probe drops candidates holding no delta key; each hit
    * dir is rewritten WITHOUT its stale rows, every untouched dir carries
    * forward BY REFERENCE (zero data copied — the same file-reuse economics
    * that make Iceberg CoW viable), and the delta lands in one new dir. One
    * `op = "merge"` snapshot commits the whole set atomically; incremental
    * scans refuse to span it (like overwrite — a replace is not expressible
    * as "new dirs only"), time travel to pre-merge snapshots still works.
    *
    * At 10^12 docs the lever is the stats gate: a key-clustered delta batch
    * (the normal ingest-correction shape) rewrites one or two batch dirs,
    * never the table. Delta keys must be unique — a delta that disagrees
    * with itself fails loudly rather than committing either version.
    *
    * `deleteKeys` is the WHEN MATCHED DELETE half of MERGE INTO: those keys
    * are removed without replacement (they join the rewrite anti-join but
    * nothing is appended for them). A key in both `delta` and `deleteKeys`
    * is contradictory and fails; a pure delete (empty delta + deleteKeys)
    * commits a merge snapshot with no delta dir. */
  def merge(delta: DataFrame, tableDir: String, keyCol: String,
            buckets: Int = 32, stage: String = "merge",
            statsCols: Seq[String] = Nil,
            deleteKeys: Option[DataFrame] = None): Snapshot = {
    import org.apache.spark.sql.functions.{col, count, countDistinct, lit, max, min, sum, when}
    import org.apache.spark.sql.types.{ByteType, IntegerType, LongType, ShortType, StringType}
    val spark = delta.sparkSession
    val prior = snapshots(tableDir)
    require(prior.nonEmpty, s"$tableDir has no snapshots to merge into")
    val cur = prior.last
    require(cur.dels.isEmpty,
      "pending merge-on-read deletes — rewrite() first: a CoW-rewritten dir " +
        "gets a NEW snapshot id and would escape the delete masks")
    val id = cur.id + 1
    // ONE aggregate over the delta: size, uniqueness, and key bounds
    val dHead = delta.agg(count(lit(1)).as("n"), countDistinct(col(keyCol)).as("d"),
      min(col(keyCol)).cast("string").as("lo"), max(col(keyCol)).cast("string").as("hi"))
      .collect()(0)
    val deltaN = dHead.getAs[Long]("n")
    require(deltaN == dHead.getAs[Long]("d"),
      s"merge delta has duplicate or null $keyCol values — ambiguous upsert " +
        "(countDistinct excludes nulls, so a null key also trips this)")
    val deltaKeys = delta.select(col(keyCol)).localCheckpoint()
    // WHEN MATCHED DELETE half: keys to remove WITHOUT replacement. A key
    // both upserted and deleted in one merge is contradictory input.
    val delKeys = deleteKeys.map { dk =>
      val k = dk.select(col(keyCol)).distinct().localCheckpoint()
      val nulls = k.agg(sum(when(col(keyCol).isNull, lit(1L)).otherwise(lit(0L)))
        .as("nn")).collect()(0).getAs[Long]("nn")
      require(nulls == 0L, s"merge deleteKeys contain null $keyCol values")
      require(deltaN == 0L ||
          deltaKeys.join(k, Seq(keyCol), "left_semi").isEmpty,
        s"merge: some $keyCol appears in BOTH delta and deleteKeys — " +
          "upsert-and-delete of one key in one merge has no meaning")
      k
    }
    // every key this merge touches — drives candidate selection, the probe,
    // and the rewrite anti-join (updated rows replaced, deleted rows gone).
    // Without deleteKeys this IS deltaKeys (already checkpointed, bounds
    // already known from dHead) — no extra jobs on the common path.
    val (affected, loS, hiS) = delKeys match {
      case None =>
        require(deltaN > 0L, "merge with neither delta nor deleteKeys")
        (deltaKeys, dHead.getAs[String]("lo"), dHead.getAs[String]("hi"))
      case Some(k) =>
        val a = deltaKeys.unionByName(k).distinct().localCheckpoint()
        val aHead = a.agg(min(col(keyCol)).cast("string").as("lo"),
          max(col(keyCol)).cast("string").as("hi")).collect()(0)
        require(aHead.getAs[String]("lo") != null,
          "merge with neither delta nor deleteKeys")
        (a, aHead.getAs[String]("lo"), aHead.getAs[String]("hi"))
    }
    val keyTyp = delta.schema.find(_.name == keyCol).get.dataType
    val candidates = keyTyp match {
      case LongType | IntegerType | ShortType | ByteType =>
        pruneDirs(tableDir, keyCol, loS.toLong, hiS.toLong)._1
      case StringType => pruneDirs(tableDir, keyCol, loS, hiS)._1
      case other => throw new IllegalArgumentException(
        s"merge key $keyCol must be integral or string, got $other")
    }
    // ONE key-column-pruned probe job over all candidate dirs at once (a
    // per-dir isEmpty probe would read each candidate twice — probe + the
    // rewrite below): which candidates actually hold an affected key?
    val hitDirs: Set[String] =
      if (candidates.isEmpty) Set.empty
      else candidates.map { d =>
          TableFormat.load(spark, s"$tableDir/$d")
            .select(col(keyCol)).withColumn("_dir", lit(d))
        }.reduce(_.unionByName(_))
        .join(affected, Seq(keyCol), "left_semi")
        .select("_dir").distinct().collect().map(_.getString(0)).toSet
    // pure-delete of keys the table doesn't hold (routine under upstream
    // replays): nothing changes — committing a dead op=merge snapshot would
    // only break incremental changes() consumers and grow the log
    if (hitDirs.isEmpty && deltaN == 0L) return cur
    // statsCols = Nil INHERITS the union of columns the current dirs carry
    // sidecars for — the same never-silently-strip rule as maintain(): a CoW
    // rewrite (and the new delta dir) must not lose pruning metadata the
    // table previously had, or every later merge/scan degrades to full reads
    val effStats =
      if (statsCols.nonEmpty) statsCols
      else cur.dirs.flatMap(d => stats(tableDir, d).toSeq.flatten.map(_.col)).distinct
    var slice = 0
    val rewritten = cur.dirs.map { d =>
      if (!hitDirs.contains(d)) d // untouched (or bounds-only overlap): by reference
      else {
        val nd = f"snap-$id%06d-m$slice"; slice += 1
        TableFormat.save(
          TableFormat.load(spark, s"$tableDir/$d")
            .join(affected, Seq(keyCol), "left_anti"),
          s"$tableDir/$nd", keyCol, buckets, stage = s"$stage-rewrite")
        if (effStats.nonEmpty) writeStats(spark, s"$tableDir/$nd", effStats)
        nd
      }
    }
    val newDirs =
      if (deltaN == 0L) rewritten // pure delete — nothing to append
      else rewritten :+ {
        val dd = f"snap-$id%06d-d"
        TableFormat.save(delta, s"$tableDir/$dd", keyCol, buckets, stage = s"$stage-delta")
        if (effStats.nonEmpty) writeStats(spark, s"$tableDir/$dd", effStats)
        dd
      }
    val rows = dirRows(tableDir, newDirs)
    val snap = Snapshot(id, cur.id, "merge", newDirs, stage, rows,
      System.currentTimeMillis())
    TableFormat.writeSnapshotLog(tableDir, prior :+ snap)
    snap
  }

  /** Sort-order compaction (Iceberg's rewrite_data_files WITH a sort order):
    * re-shard the current snapshot into one data dir per `clusterCol` range
    * — boundaries are caller-given (deterministic; no sampling, unlike
    * repartitionByRange) — each dir carrying bounds stats, committed as ONE
    * overwrite snapshot whose dir list is the slice set. After a clustered
    * rewrite, [[loadPruned]] on `clusterCol` reads only the slices whose
    * range intersects the predicate: data skipping on a SECOND column even
    * when ingest order followed the primary key, which is exactly why
    * Iceberg re-sorts files. `splits = Seq(s0, s1, …)` yields slices
    * (−∞, s0], (s0, s1], …, (sLast, ∞); rows with a NULL cluster value ride
    * in slice 0 (nulls-first), where they are invisible to range pruning
    * (no null satisfies a range predicate) but preserved for full scans.
    * Empty slices still commit (their empty bounds make them free to skip),
    * keeping the dir count deterministic. */
  def rewriteClustered(spark: SparkSession, tableDir: String, keyCol: String,
                       clusterCol: String, splits: Seq[Long],
                       buckets: Int = 32, stage: String = "cluster",
                       statsCols: Seq[String] = Nil): Snapshot = {
    val prior = snapshots(tableDir)
    require(prior.nonEmpty, s"$tableDir has no snapshots to rewrite")
    // materialize the (multi-dir, possibly delete-masked) current table ONCE
    // — each slice below re-reads the checkpointed copy, not the union scan
    val df = load(spark, tableDir).localCheckpoint()
    val id = prior.last.id + 1
    val slices = axisSlices(df, clusterCol, splits) // validates splits + type
    val wantStats = (clusterCol +: statsCols).distinct
    val dirs = slices.zipWithIndex.map { case (pred, i) =>
      val dirName = f"snap-$id%06d-c$i"
      TableFormat.save(df.filter(pred), s"$tableDir/$dirName", keyCol, buckets,
        stage = s"$stage-slice$i")
      writeStats(spark, s"$tableDir/$dirName", wantStats)
      dirName
    }.toVector
    val rows = dirRows(tableDir, dirs)
    val snap = Snapshot(id, prior.last.id, "overwrite", dirs, stage, rows,
      System.currentTimeMillis())
    TableFormat.writeSnapshotLog(tableDir, prior :+ snap)
    snap
  }

  /** Range-slice predicates for one integral cluster axis: (−∞, s0],
    * (s0, s1], …, (sLast, ∞), nulls riding slice 0 (nulls-first — invisible
    * to range pruning, preserved for full scans). Shared by
    * [[rewriteClustered]] and [[rewriteGrid]]. */
  private def axisSlices(df: DataFrame, colName: String,
                         splits: Seq[Long]): Seq[org.apache.spark.sql.Column] = {
    import org.apache.spark.sql.functions.{col, lit}
    import org.apache.spark.sql.types.{ByteType, IntegerType, LongType, ShortType}
    require(splits.nonEmpty, s"axis $colName needs at least one split point")
    require(splits == splits.sorted && splits.distinct == splits,
      s"splits must be strictly increasing: $splits")
    val typ = df.schema.find(_.name == colName).map(_.dataType)
      .getOrElse(throw new IllegalArgumentException(
        s"cluster column $colName not in ${df.columns.mkString(",")}"))
    require(Seq(LongType, IntegerType, ShortType, ByteType).contains(typ),
      s"cluster column $colName must be integral (Long splits), got $typ")
    val c = col(colName)
    val mids = splits.sliding(2).collect {
      case Seq(lo, hi) => c > lit(lo) && c <= lit(hi)
    }.toSeq
    (c.isNull || c <= lit(splits.head)) +: mids :+ (c > lit(splits.last))
  }

  /** Multi-dimensional clustered rewrite (the dir-granularity analogue of
    * Iceberg's rewrite with a Z-ORDER sort: at file granularity Iceberg
    * interleaves bits so one sort order packs both axes; at dir granularity
    * the explicit grid gives every cell tight bounds on EVERY axis
    * directly): the current snapshot is re-sharded into one data dir per
    * CELL of the cross product of the given per-axis range slices, each
    * carrying bounds stats on all axes, committed as one overwrite
    * snapshot. After a grid rewrite, a box query ([[loadPrunedMulti]])
    * reads only the cells its box intersects — and a single-axis range
    * query still prunes on that axis alone. Cell count = Π(|splits|+1);
    * size the grid so cells stay file-sized, exactly like choosing a
    * Z-order chunk size. */
  def rewriteGrid(spark: SparkSession, tableDir: String, keyCol: String,
                  axes: Seq[(String, Seq[Long])],
                  buckets: Int = 32, stage: String = "grid",
                  statsCols: Seq[String] = Nil): Snapshot = {
    import org.apache.spark.sql.functions.lit
    require(axes.size >= 2, "rewriteGrid needs ≥ 2 axes (one → rewriteClustered)")
    val prior = snapshots(tableDir)
    require(prior.nonEmpty, s"$tableDir has no snapshots to rewrite")
    // ONE materialization of the current table; the Π(|splits|+1) per-cell
    // filters below scan the checkpointed copy, not `cells` full table reads
    val df = load(spark, tableDir).localCheckpoint()
    val id = prior.last.id + 1
    val perAxis = axes.map { case (c, sp) => axisSlices(df, c, sp).zipWithIndex }
    val cells = perAxis.foldLeft(Seq(("", lit(true)))) { case (acc, ax) =>
      for { (sfx, p) <- acc; (q, i) <- ax } yield (s"$sfx-$i", p && q)
    }
    val wantStats = (axes.map(_._1) ++ statsCols).distinct
    val dirs = cells.map { case (sfx, pred) =>
      val dirName = f"snap-$id%06d-g$sfx"
      TableFormat.save(df.filter(pred), s"$tableDir/$dirName", keyCol, buckets,
        stage = s"$stage-cell$sfx")
      writeStats(spark, s"$tableDir/$dirName", wantStats)
      dirName
    }.toVector
    val rows = dirRows(tableDir, dirs)
    val snap = Snapshot(id, prior.last.id, "overwrite", dirs, stage, rows,
      System.currentTimeMillis())
    TableFormat.writeSnapshotLog(tableDir, prior :+ snap)
    snap
  }

  /** Periodic table maintenance policy — the scheduled job the TABLE'S
    * OWNER runs (Iceberg deployments pair rewrite_data_files +
    * expire_snapshots the same way): fold when APPEND CREEP — dirs added
    * SINCE the last overwrite, so an intentional clustered/grid layout's
    * cell count is not itself a trigger — exceeds `maxDirs`, or when
    * pending merge-on-read delete masks exist (every read pays their
    * anti-joins until folded); then expire history beyond `keepSnapshots`.
    * Returns (didRewrite, expiredDirNames). Idempotent: a maintained table
    * is a no-op.
    *
    * `statsCols = Nil` (the default) INHERITS the union of columns the
    * current dirs carry sidecars for — folding must never silently strip a
    * table's data-skipping metadata (that would make every later merge
    * candidate the WHOLE table).
    *
    * Two caveats, by design: (1) the snapshot log is single-writer — run
    * maintain from the same owner that commits (e.g. between stream
    * epochs), never as an independent concurrent writer; (2) the fold is a
    * plain rewrite — a clustered/grid table whose creep tripped the
    * threshold flattens to one dir, so re-run rewriteClustered/rewriteGrid
    * after maintenance to restore the layout. */
  def maintain(spark: SparkSession, tableDir: String, keyCol: String,
               maxDirs: Int = 8, keepSnapshots: Int = 3, buckets: Int = 32,
               statsCols: Seq[String] = Nil): (Boolean, Vector[String]) = {
    require(maxDirs >= 1 && keepSnapshots >= 1)
    current(tableDir) match {
      case None => (false, Vector.empty) // nothing committed yet
      case Some(cur) =>
        val all = snapshots(tableDir)
        val lastOverwriteId = all.filter(_.op == "overwrite").lastOption.map(_.id).getOrElse(0L)
        val creep = cur.dirs.count(d => dirSnapId(d) > lastOverwriteId)
        val needsFold = creep > maxDirs || cur.dels.nonEmpty
        if (needsFold) {
          val inherited =
            if (statsCols.nonEmpty) statsCols
            else cur.dirs.flatMap(d =>
              stats(tableDir, d).toSeq.flatten.map(_.col)).distinct
          rewrite(spark, tableDir, keyCol, buckets, statsCols = inherited)
        }
        (needsFold, expire(tableDir, keepSnapshots))
    }
  }

  /** Expire snapshots older than the last `keepLast`, deleting data dirs no
    * surviving snapshot references (Iceberg's expire_snapshots + orphan file
    * cleanup collapsed into one step — safe here because the log atomically
    * names every live dir). Returns the deleted dir names. */
  def expire(tableDir: String, keepLast: Int): Vector[String] = {
    require(keepLast >= 1, "must keep at least the current snapshot")
    val all = snapshots(tableDir)
    if (all.size <= keepLast) return Vector.empty
    val (dead, live) = all.splitAt(all.size - keepLast)
    val liveDirs = live.flatMap(s => s.dirs ++ s.dels).toSet
    val orphans = dead.flatMap(s => s.dirs ++ s.dels).distinct.filterNot(liveDirs)
    TableFormat.writeSnapshotLog(tableDir, live)
    orphans.foreach { d =>
      val root = Paths.get(tableDir, d)
      if (Files.exists(root)) {
        val walk = Files.walk(root)
        try walk.sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
          .iterator().asScala.foreach(Files.delete)
        finally walk.close()
      }
    }
    orphans.toVector
  }

  private def resolve(tableDir: String, asOf: Option[Long]): Snapshot = {
    val all = snapshots(tableDir)
    require(all.nonEmpty, s"$tableDir has no snapshots")
    asOf match {
      case None => all.last
      case Some(id) => all.find(_.id == id)
        .getOrElse(throw new IllegalArgumentException(s"no snapshot $id in $tableDir"))
    }
  }

  /** Union-read a snapshot's data dirs. An empty dir list (fresh overwrite of
    * nothing — impossible today but cheap to guard) and the empty-stage case
    * both fall back to the schema snapshot via TableFormat.load.
    * `allowMissingColumns`: schema evolution by ADDED column — an old data
    * dir written before the column existed reads as null for it (Iceberg's
    * add-column semantics); renames/drops stay breaking, as they should. */
  private def readDirs(spark: SparkSession, tableDir: String,
                       dirs: Seq[String], dels: Seq[String] = Nil): DataFrame = {
    require(dirs.nonEmpty, s"snapshot of $tableDir references no data dirs")
    // merge-on-read: each delete-key set masks only data dirs OLDER than the
    // delete snapshot (sequence-number rule). Delete sets are small by
    // design — broadcast the anti-join so no data-side shuffle is added.
    val delKeys = dels.map { dd =>
      val df = TableFormat.load(spark, s"$tableDir/$dd")
      (dirSnapId(dd), df, df.columns.head)
    }
    dirs.map { d =>
      val base = TableFormat.load(spark, s"$tableDir/$d")
      val masked = delKeys.filter(_._1 > dirSnapId(d)).foldLeft(base) {
        case (df, (_, kdf, kc)) =>
          df.join(org.apache.spark.sql.functions.broadcast(kdf), Seq(kc), "left_anti")
      }
      // a USING anti-join moves the key column to the front: re-project to
      // the dir's own column order so a masked read is column-order-stable
      // with an unmasked one (callers compare snapshots positionally)
      if (masked eq base) base
      else masked.select(base.columns.map(org.apache.spark.sql.functions.col): _*)
    }.reduce(_.unionByName(_, allowMissingColumns = true))
  }

  /** Snapshot id encoded in a data/delete dir name (`snap-NNNNNN[-suffix]`)
    * — the sequence number that orders delete masks against data dirs. */
  private def dirSnapId(d: String): Long =
    "snap-(\\d+)".r.findFirstMatchIn(d).map(_.group(1).toLong)
      .getOrElse(throw new IllegalStateException(s"unparseable dir name: $d"))
}
