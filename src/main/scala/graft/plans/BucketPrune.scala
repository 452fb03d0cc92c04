package graft.plans

import graft.io.TableFormat
import org.apache.spark.sql.catalyst.expressions.{And, Attribute, EqualTo, Literal, PredicateHelper, XxHash64}
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.types.IntegerType

/** Optimizer rule: automatic bucket pruning for key-equality scans of
  * TableFormat tables — the `Rule[LogicalPlan]` member of the extension set
  * (scalar Expressions: CosineSim/PolyHash64/BloomMightContain; aggregate:
  * KMinValues; this rule completes the Catalyst extension-point matrix).
  *
  * `TableFormat.save` lays rows out by `xxhash64(key) % buckets` and records
  * (bucket_key, buckets) in the table manifest. `TableFormat.lookup` applies
  * the matching partition predicate BY HAND; any plain
  * `load(..).filter($"key" === v)` used to scan every bucket. This rule
  * closes that gap the way Iceberg's scan planning does from its partition
  * spec: for a Filter sitting directly on the parquet relation (where
  * predicate pushdown has already placed it) with a conjunct `key = literal`
  * matching the manifest's bucket key, it conjoins
  * `part_bucket = xxhash64(literal) % buckets` — computed with the SAME hash
  * expression the writer used — and partition pruning does the rest: the
  * scan reads 1/buckets of a 10^12-doc table.
  *
  * Conservative by construction: fires only when the manifest declares the
  * bucket layout, the equality literal's type equals the column type (the
  * analyzer would otherwise have inserted a cast, changing the hash), and
  * the condition does not already constrain the bucket column (idempotence
  * under the optimizer's fixed-point batches). Anything else — no-op. */
object BucketPrune extends Rule[LogicalPlan] with PredicateHelper {

  // cache value: ((manifest lastModified, manifest size) at read time, parsed
  // layout) — the (mtime, size) pair guards against re-save of the path with
  // a different bucket count (TableFormat.save overwrites in place and
  // refreshes Spark's own FileIndex for exactly that pattern; a stale modulus
  // here would prune to the WRONG bucket and silently drop rows). Size is in
  // the key because a CROSS-PROCESS re-save can land inside one mtime granule
  // where same-JVM invalidate() never fires; a changed bucket count or key
  // always changes the manifest's byte length (digit/name change), so the
  // pair detects what mtime alone cannot. Same-length same-granule rewrites
  // of a DIFFERENT layout remain theoretically invisible — TableFormat
  // tables are single-writer by contract (see Snapshots' log doc), and this
  // check is belt-and-braces for external writers.
  private val metaCache =
    new java.util.concurrent.ConcurrentHashMap[String, ((Long, Long), Option[(String, Int)])]()

  def clearMetaCacheForTest(): Unit = metaCache.clear()

  /** Exact invalidation hook, called by TableFormat.save after every write:
    * drops any cached layout whose root resolves to `path` regardless of
    * URI scheme spelling, closing the same-millisecond re-save window the
    * mtime check cannot see. */
  def invalidate(path: String): Unit = {
    val abs = new java.io.File(path).getAbsolutePath
    val it = metaCache.keySet().iterator()
    while (it.hasNext) {
      val k = it.next()
      val kPath = try new java.io.File(new java.net.URI(k).getPath).getAbsolutePath
        catch { case _: Exception => k }
      if (kPath == abs) it.remove()
    }
  }

  /** (bucket key column, modulus) from the table dir's manifest, or None.
    * Re-parsed whenever the manifest's mtime changes (re-save of the same
    * path); a missing manifest is cached as None with mtime 0, and an
    * unreadable one reads as None — the optimizer must never throw. */
  private def bucketMeta(rel: LogicalRelation): Option[(String, Int)] =
    rel.relation match {
      case fs: HadoopFsRelation if fs.location.rootPaths.length == 1 =>
        val root = fs.location.rootPaths.head.toString
        try {
          val dir = new java.net.URI(root).getPath
          val mf = TableFormat.manifestFile(dir)
          val stamp =
            if (java.nio.file.Files.exists(mf))
              (java.nio.file.Files.getLastModifiedTime(mf).toMillis,
                java.nio.file.Files.size(mf))
            else (0L, 0L)
          val cached = metaCache.get(root)
          if (cached != null && cached._1 == stamp) cached._2
          else {
            val meta =
              if (stamp == (0L, 0L)) None
              else {
                val f = TableFormat.readManifest(dir).fields
                for (k <- f.get("bucket_key"); n <- f.get("buckets")) yield (k, n.toInt)
              }
            metaCache.put(root, (stamp, meta))
            meta
          }
        } catch { case scala.util.control.NonFatal(_) => None }
      case _ => None
    }

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transform {
    case f @ Filter(cond, rel: LogicalRelation)
        if !cond.references.exists(_.name == TableFormat.BucketCol) =>
      (for {
        (keyName, n) <- bucketMeta(rel)
        bucketAttr <- rel.output.find(a =>
          a.name == TableFormat.BucketCol && a.dataType == IntegerType)
        (attr, lit) <- splitConjunctivePredicates(cond).collectFirst {
          case EqualTo(a: Attribute, l: Literal)
              if a.name == keyName && l.value != null && l.dataType == a.dataType &&
                rel.output.exists(_.exprId == a.exprId) => (a, l)
          case EqualTo(l: Literal, a: Attribute)
              if a.name == keyName && l.value != null && l.dataType == a.dataType &&
                rel.output.exists(_.exprId == a.exprId) => (a, l)
        }
      } yield {
        // the writer's exact layout function: pmod(xxhash64(key), buckets)
        val h = XxHash64(Seq(lit), 42L).eval(null).asInstanceOf[Long]
        val bucket = (((h % n) + n) % n).toInt
        Filter(And(cond, EqualTo(bucketAttr, Literal(bucket, IntegerType))), rel)
      }).getOrElse(f)
  }
}
