package graft.kg

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.CatalystTypeConverters
import org.apache.spark.sql.catalyst.util.TypeUtils
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StructField, StructType}

/** Entity canonicalization (SURVEY §2 C12): connected components over
  * entity-equivalence edges, GraphFrames-free.
  *
  * Two algorithms, one result. [[connectedComponents]] picks by size, with
  * the test Spark itself uses to decide that a relation may be collected and
  * broadcast: an edge set whose estimated size is at most
  * `spark.sql.autoBroadcastJoinThreshold` is collected once and solved by
  * union-find on the driver (one Spark job, no fixpoint loop, and no
  * per-round generated code to compile); a larger one — the design scale —
  * runs the distributed loop. At most a broadcast-sized edge set is ever
  * collected. Setting the threshold to `-1` forces the loop.
  *
  * The distributed loop: min-label propagation with POINTER JUMPING — every
  * node starts with label = own id; each iteration takes the min over
  * neighbors' labels and then adopts label(label(v)) (path doubling), so
  * convergence is O(log diameter) iterations even on chain-shaped components
  * (plain propagation is O(diameter) — a 30-diameter near-dup chain costs 31
  * rounds vs 6 jumped). `localCheckpoint()` per iteration cuts the lineage so
  * plans stay O(1) instead of growing per loop (classic iterative-Dataset
  * failure mode at scale); the fixpoint test is a narrow scan (monotone
  * label-sum), not a join against the previous labels. Edge count ≪ doc count
  * so the per-iteration shuffle is small.
  */
object Canonicalize {

  /** edges: (src, dst) undirected, non-null ids of any orderable type (long
    * ids get the distributed loop's cheapest convergence detector; string
    * ids work — "component" is then the min member id in Spark's ordering,
    * UTF-8 byte order). Returns (node, component = min node id of its
    * component), one row per edge endpoint.
    *
    * Runs on the driver when the edge set's estimated size is within Spark's
    * broadcast threshold (`spark.sql.autoBroadcastJoinThreshold`, ≥ 0), else
    * as the distributed loop; `-1` forces the loop. Both return the same rows
    * and schema. The driver path always converges, so `maxIter` only bounds
    * the distributed loop. */
  def connectedComponents(spark: SparkSession, edges: DataFrame, maxIter: Int = 50): DataFrame = {
    val pairs = edges.select(col("src"), col("dst"))
    if (fitsDriver(spark, pairs)) driverComponents(spark, pairs)
    else distributedComponents(spark, edges, maxIter)
  }

  /** Spark's own test for collecting a relation to broadcast it: its
    * estimated size is within `spark.sql.autoBroadcastJoinThreshold` (≥ 0). */
  private def fitsDriver(spark: SparkSession, df: DataFrame): Boolean = {
    val threshold = spark.sessionState.conf.autoBroadcastJoinThreshold
    threshold >= 0 && df.queryExecution.optimizedPlan.stats.sizeInBytes <= threshold
  }

  /** Both directions of every edge: the distributed loop's neighbor relation,
    * and the source of the node column's type and nullability on both paths. */
  private def symmetric(edges: DataFrame): DataFrame =
    edges.select(col("src"), col("dst"))
      .union(edges.select(col("dst").as("src"), col("src").as("dst")))

  /** [[unionFind]] over the collected edges. */
  private def driverComponents(spark: SparkSession, pairs: DataFrame): DataFrame = {
    val nodeField = symmetric(pairs).schema("src")
    val dt = nodeField.dataType
    val edges = pairs.select(col("src").cast(dt), col("dst").cast(dt)).collect()
    unionFind(spark, nodeField, edges.map(r => (r.get(0), r.get(1))))
  }

  /** (node, component) for every endpoint of `edges`, whose ids are external
    * values of `nodeField`'s type. Nodes are numbered in Spark's ordering of
    * their ids, and a union keeps the smaller root, so each root is its
    * component's minimum — the label [[distributedComponents]] converges
    * to. */
  private def unionFind(spark: SparkSession, nodeField: StructField,
                        edges: Seq[(Any, Any)]): DataFrame = {
    val dt = nodeField.dataType
    val toCatalyst = CatalystTypeConverters.createToCatalystConverter(dt)
    val ordering = TypeUtils.getInterpretedOrdering(dt)
    val nodes = edges.iterator.flatMap(e => Iterator(e._1, e._2)).distinct
      .map(id => (id, toCatalyst(id))).toArray
      .sortWith((a, b) => ordering.lt(a._2, b._2)).map(_._1)
    val index = nodes.iterator.zipWithIndex.toMap
    val parent = Array.range(0, nodes.length)
    def find(x: Int): Int = {
      var r = x
      while (parent(r) != r) r = parent(r)
      var y = x
      while (parent(y) != r) { val next = parent(y); parent(y) = r; y = next }
      r
    }
    edges.foreach { e =>
      val (a, b) = (find(index(e._1)), find(index(e._2)))
      if (a < b) parent(b) = a else if (b < a) parent(a) = b
    }
    val rows = nodes.indices.map(i => Row(nodes(i), nodes(find(i))))
    // component comes out of the loop's min aggregate, which is nullable
    val schema = StructType(Seq(nodeField.copy(name = "node"),
      StructField("component", dt, nullable = true)))
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
  }

  /** The distributed fixpoint loop (see the object doc); what
    * [[connectedComponents]] runs on an edge set above the broadcast
    * threshold. */
  private def distributedComponents(spark: SparkSession, edges: DataFrame, maxIter: Int): DataFrame = {
    // partitioned ONCE on the per-iteration join key (dst), with the dedup
    // fused into that same exchange (partition-local distinct: same-dst rows
    // are co-located, and HashPartitioning(dst) satisfies the aggregate's
    // ClusteredDistribution(src, dst)); localCheckpoint preserves the
    // physical partitioning, so every iteration's neighbor join reuses it
    // and only the vertex-sized label side shuffles per round. The previous
    // shape (distinct, then checkpoint, no repartition) left sym hashed on
    // (src, dst) and re-exchanged the whole edge set EVERY iteration.
    val sym = symmetric(edges)
      .repartition(col("dst"))
      .distinct()
      .localCheckpoint(false) // lazy: materializes inside iteration 1's job
    val numericIds = Set[org.apache.spark.sql.types.DataType](
      org.apache.spark.sql.types.ByteType, org.apache.spark.sql.types.ShortType,
      org.apache.spark.sql.types.IntegerType, org.apache.spark.sql.types.LongType,
      org.apache.spark.sql.types.FloatType, org.apache.spark.sql.types.DoubleType)
      .contains(sym.schema("src").dataType) ||
      sym.schema("src").dataType.isInstanceOf[org.apache.spark.sql.types.DecimalType]

    var labels = sym.select(col("src").as("node")).distinct()
      .withColumn("component", col("node"))
      .localCheckpoint(false)

    // Fixpoint detector, numeric ids: min-label propagation is MONOTONE (a
    // node's label only ever decreases), so Σ labels strictly decreases until
    // convergence — one narrow scan of the just-checkpointed labels per
    // iteration, instead of a join-with-previous + count (a whole extra
    // shuffle join per loop).
    // decimal(38,0): a long Σ can overflow past ~10^10 nodes of 48-bit ids
    // (ANSI mode would throw mid-job); the decimal sum stays exact.
    // coalesce: sum over ZERO rows is NULL — an empty edge set (no duplicates
    // anywhere, a perfectly clean corpus) must converge, not NPE.
    // NON-numeric ids never take this path: cast("decimal") of a string id
    // is NULL (non-ANSI), the sum would read 0 every round and the loop
    // would declare convergence after one iteration with wrong components.
    def labelSum(df: DataFrame): java.math.BigDecimal =
      df.agg(coalesce(sum(col("component").cast("decimal(38,0)")),
        lit(0).cast("decimal(38,0)"))).head().getDecimal(0)
    // Generic detector: stability under one neighbor-min round means labels
    // agree across every edge (label(u) ≤ label(v) and vice versa), i.e.
    // labels are component-constant = the fixpoint. One labels-sized join
    // per iteration — only paid when the cheap sum detector can't run.
    def changed(prev: DataFrame, next: DataFrame): Boolean =
      next.join(prev.select(col("node"), col("component").as("prev_component")), "node")
        .filter(col("component") =!= col("prev_component"))
        .limit(1).count() > 0
    var prevSum = if (numericIds) labelSum(labels) else null
    var prevLabels = labels
    var iter = 0
    var converged = false
    while (!converged && iter < maxIter) {
      // candidate labels: own + min over neighbors' labels
      val viaNeighbor = sym
        .join(labels.withColumnRenamed("node", "dst2"), col("dst") === col("dst2"))
        .select(col("src").as("node"), col("component"))
      // checkpointed BEFORE the self-join below: cuts lineage, avoids
      // re-computing the groupBy on both sides, and sidesteps Catalyst's
      // Union-constraint rewrite tripping on a Union self-joined with
      // shared attribute ids (NoSuchElementException in rewriteConstraints)
      // lazy cut: the convergence scan below is the materializing action —
      // an eager checkpoint here launched a separate job per iteration for
      // the same work
      val half = labels.select("node", "component").union(viaNeighbor)
        .groupBy("node").agg(min("component").as("component"))
        .localCheckpoint(false)
      // pointer jump (path doubling): also adopt label(label(v)) — turns
      // convergence from O(diameter) iterations into O(log diameter). A
      // transitively-chained near-dup component (fuzzy dedup's classic
      // degenerate shape; a 548-doc chain in the sf0.1 fixtures has
      // diameter ~30) closes in ~6 rounds instead of ~31, and each round
      // is a fixed number of small shuffles on the edge/label sets.
      // Labels are always ids of in-component nodes, so the jump row
      // always exists; left join keeps the node even if it didn't.
      val next = half
        .join(half.select(col("node").as("jn"), col("component").as("jc")),
          col("component") === col("jn"), "left")
        .select(col("node"),
          least(col("component"), coalesce(col("jc"), col("component"))).as("component"))
      // convergence test on the CHECKPOINTED half (a cached-RDD scan — the
      // jump join above is never executed just for the test): labels is a
      // deterministic function of half, so half stabilizing ⟹ labels
      // stabilized, and the stabilized state is a fixpoint of the combined
      // neighbor-min operator (component-constant labels = component min)
      if (numericIds) {
        val s = labelSum(half)
        converged = s.compareTo(prevSum) == 0
        prevSum = s
      } else {
        converged = !changed(prevLabels, half)
        prevLabels = half
      }
      labels = next
      iter += 1
    }
    labels
  }

  /** Build equivalence edges between entities that share a FULL normalized
    * alias (not the first-token blocking key — that is a candidate-generation
    * signature, far too coarse for merging identities), then assign
    * canonical_id = component min. Input: dict DataFrame
    * (entity_id, canonical, aliases, category). Output: dict + canonical_id.
    *
    * Edge generation is STAR-shaped, not all-pairs: every entity of an alias
    * block gets one edge to the block's min entity_id. A degenerate alias
    * shared by k entities emits k−1 edges (all-pairs would emit k²/2 — a
    * quadratic blowup on a hot alias at dictionary scale). The connected
    * components of the star graph equal those of the all-pairs graph by
    * construction (every member reaches every other through the hub).
    *
    * The size rule of [[connectedComponents]] applies one level up, at the
    * (entity_id, alias_norm) blocks: blocks within the broadcast threshold
    * are collected once and solved on the driver, one Spark job with no
    * exchange. There each block's members are edged to one of them; as the
    * union keeps the smaller root, that gives the star graph's components
    * and labels. Larger blocks build [[starEdges]] for [[connectedComponents]]. */
  def canonicalize(spark: SparkSession, dict: DataFrame): DataFrame = {
    val blocks = Linker.aliasBlocks(dict).select(col("entity_id"), col("alias_norm"))
    val comp =
      if (fitsDriver(spark, blocks)) {
        val members = blocks.filter(col("entity_id").isNotNull).collect()
          .groupMap(_.get(1))(_.get(0)).valuesIterator.map(_.distinct)
        unionFind(spark, blocks.schema("entity_id"),
          members.flatMap(ids => ids.tail.map(_ -> ids.head)).toSeq)
      } else connectedComponents(spark, starEdges(blocks))
    dict.join(comp.withColumnRenamed("node", "entity_id"), Seq("entity_id"), "left")
      .withColumn("canonical_id", coalesce(col("component"), col("entity_id")))
      .drop("component")
  }

  /** The star edges of alias blocks (SparkER's blocking graph, PAPERS.md):
    * `blocks` holds (entity_id, alias_norm) rows, e.g. [[Linker.aliasBlocks]]
    * or a subset of it; every entity of a block gets one edge (src, dst) to
    * the block's min entity_id. Duplicate block rows need no `distinct` of
    * their own: they leave the minimum unchanged, and the edges' `distinct`
    * drops the duplicate edges. [[canonicalize]] above the broadcast
    * threshold and the dictionary-change folds of
    * [[graft.Pipeline.runIncremental]] build their edges here. */
  def starEdges(blocks: DataFrame): DataFrame = {
    val hub = org.apache.spark.sql.expressions.Window.partitionBy("block")
    blocks
      .select(col("entity_id"), col("alias_norm").as("block"))
      .withColumn("dst", min("entity_id").over(hub))
      .filter(col("entity_id") =!= col("dst"))
      .select(col("entity_id").as("src"), col("dst"))
      .distinct()
  }

  /** `rows` (any frame with `entity_id`) plus `canonical_id` from `entities`
    * (entity_id, canonical_id): an entity with no canonical row is its own
    * canonical id. The entity map is dictionary-sized and broadcast, so the
    * join never shuffles `rows`. */
  def withCanonical(rows: DataFrame, entities: DataFrame): DataFrame =
    rows.join(broadcast(entities.select(col("entity_id"), col("canonical_id"))),
        Seq("entity_id"), "left")
      .withColumn("canonical_id", coalesce(col("canonical_id"), col("entity_id")))

  /** Incremental CC maintenance: fold NEW edges into a previous component
    * assignment without re-reading the old edge set — the canonicalization
    * step of an incremental pipeline run whose entity dictionary GREW.
    *
    * Standard contraction argument: each old component is internally
    * connected, so contracting it to its label preserves the components of
    * (oldEdges ∪ newEdges); run CC only on the new edges with endpoints
    * mapped through the old assignment (nodes never seen before map to
    * themselves), then re-expand old nodes through their label's new
    * component. Cost scales with |newEdges| + |prev| — the old edges are
    * never touched, which at a 10^9-entity dictionary is the difference
    * between a delta-sized job and a nightly full rebuild.
    *
    * Exactness relies on labels being in-component node ids and `min` being
    * associative: min over the contracted graph = min of component mins =
    * the global component min, so the result is row-identical to
    * `connectedComponents(oldEdges ∪ newEdges)` restricted to prev's nodes ∪
    * new endpoints (CanonicalizeSpec property-checks this). */
  def incrementalComponents(spark: SparkSession, prev: DataFrame,
                            newEdges: DataFrame): DataFrame = {
    val m = prev.select(col("node"), col("component")).localCheckpoint()
    // contract: map each new-edge endpoint onto its old label (or itself)
    val contracted = newEdges
      .join(m.select(col("node").as("src"), col("component").as("src_c")), Seq("src"), "left")
      .join(m.select(col("node").as("dst"), col("component").as("dst_c")), Seq("dst"), "left")
      .select(coalesce(col("src_c"), col("src")).as("src"),
        coalesce(col("dst_c"), col("dst")).as("dst"))
      .filter(col("src") =!= col("dst"))
    val relabel = connectedComponents(spark, contracted)
    // expand: old nodes follow their label's new component (labels untouched
    // by any new edge keep their old component); brand-new nodes appear with
    // their contracted component directly
    val oldSide = m
      .join(relabel.select(col("node").as("component"), col("component").as("merged")),
        Seq("component"), "left")
      .select(col("node"), coalesce(col("merged"), col("component")).as("component"))
    val newSide = relabel.join(m.select(col("node")), Seq("node"), "left_anti")
      // a contracted node that IS an old label is represented by oldSide
      .join(m.select(col("component").as("node")).distinct(), Seq("node"), "left_anti")
    oldSide.unionByName(newSide)
  }
}
