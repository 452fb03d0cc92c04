package graft.kg

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Basic-graph-pattern (BGP) matching over the materialized triple store —
  * the KG READ path. Every other KG query here runs over pre-triple stages
  * (mentions, linked, cooc edges); a downstream consumer of the emitted
  * (subj, pred, obj) table asks SPARQL-shaped questions of the TRIPLES
  * themselves ("which entities co-occur in a document with a PER entity"),
  * and this is that surface: a conjunction of triple patterns sharing
  * variables, compiled to a declarative Catalyst join tree.
  *
  * Spark-first compilation, one frame per pattern:
  *   1. constant terms → `filter` on the scan. The triple store is written
  *      bucketed (io/TableFormat) and `pred` is a natural partition column at
  *      scale (the classic vertical-partitioning layout for triple stores —
  *      one predicate, one partition): a constant-`pred` pattern then prunes
  *      to ONE predicate's partitions before any shuffle, and the remaining
  *      subj/obj constants reach parquet as PushedFilters.
  *   2. a variable repeated INSIDE one pattern → in-row equality filter
  *      (still scan-stage, no shuffle).
  *   3. patterns are joined left-to-right on their shared variables — plain
  *      equi-joins Catalyst reorders and AQE sizes: a selective pattern
  *      (e.g. `?a category "PER"`, one predicate × one object) comes out
  *      broadcast; only genuinely large-large steps shuffle, keyed by the
  *      shared variable. Patterns with NO shared variable cross-join — that
  *      is BGP semantics (a cartesian of independent matches). Callers can
  *      order patterns by hand, or pass per-predicate `stats` ([[predStats]],
  *      free from the store's lineage manifest) and [[orderBgp]] picks the
  *      selectivity order — seeded at the cheapest pattern, always joining a
  *      variable-connected pattern next, so avoidable cartesians never form.
  *
  * No RDDs, no UDFs, no driver-side evaluation: the whole BGP is one logical
  * plan, so predicate pushdown / join reordering / AQE apply end-to-end.
  */
object Pattern {

  /** A term of a triple pattern: variable or constant. */
  sealed trait Term
  final case class V(name: String) extends Term
  final case class C(value: String) extends Term

  /** One (subject, predicate, object) pattern. */
  final case class Tp(s: Term, p: Term, o: Term)

  /** Match a conjunction of triple patterns against a (subj, pred, obj)
    * table. Output: one column per distinct variable, named after it, in
    * first-appearance order; rows are distinct bindings (set semantics, like
    * SPARQL SELECT DISTINCT — the triple store carries per-doc provenance
    * duplicates a reader of entity-level answers does not want). A pattern
    * with no variables degrades to an existence gate: it contributes one row
    * when at least one triple matches, none otherwise.
    *
    * `stats` (per-predicate triple counts, [[predStats]]) turns on
    * selectivity-ordered evaluation: the patterns are FOLDED in
    * [[orderBgp]]'s greedy cost order instead of caller order, which (a)
    * starts the join tree from the most selective pattern so intermediate
    * bindings stay small — Catalyst's heuristic ReorderJoin can pull a
    * conditional join ahead of a cartesian, but it keeps caller order
    * among joinable frames and knows nothing about cardinalities, so a
    * badly-ordered BGP still joins its two biggest frames first without
    * this (measured in PatternSpec: the naive fold's deepest join is
    * inDoc⋈inDoc — the quadratic co-entity intermediate — vs
    * category⋈inDoc for the stats fold); CBO join re-association needs
    * relation-level statistics an in-plan frame fold doesn't carry, and
    * AQE re-sizes the joins the fold chose, it does not re-associate
    * them; and (b) never BUILDS a condition-free cross join while any
    * unjoined pattern shares a variable with the prefix — cartesian
    * avoidance by construction rather than by optimizer rescue (asserted
    * with ReorderJoin excluded). Bindings are order-independent (a BGP is
    * one natural join, commutative/associative), so `stats` changes the
    * PLAN only — asserted by the fuzz suite and the shared oracle of the
    * reordered twin. Output columns stay in CALLER first-appearance order
    * either way. */
  def matchBgp(triples: DataFrame, bgp: Seq[Tp],
               distinctRows: Boolean = true,
               stats: Option[Map[String, Long]] = None): DataFrame =
    foldBgp(bgp, one(triples, _), bgpVarOrder(bgp), distinctRows, stats)

  /** The shared BGP machinery behind [[matchBgp]] and [[matchBgpGraph]]:
    * stats-ordered fold of per-pattern frames into the conditional
    * join-vs-crossJoin chain, `__exists` drop, first-appearance column
    * restore (Spark's USING-join hoists join keys to the front), trailing
    * set-semantics distinct. One body so a fix to the fold can never drift
    * between the plain and graph-scoped entry points. */
  private def foldBgp(bgp: Seq[Tp], leaf: Tp => DataFrame,
                      varOrder: Seq[String], distinctRows: Boolean,
                      stats: Option[Map[String, Long]]): DataFrame = {
    require(bgp.nonEmpty, "empty basic graph pattern")
    val folded = stats.fold(bgp)(st => orderBgp(bgp, st))
    val joined = folded.map(leaf).reduceLeft { (acc, f) =>
      val shared = acc.columns.toSeq.intersect(f.columns.toSeq)
      if (shared.nonEmpty) acc.join(f, shared) else acc.crossJoin(f)
    }
    val out = joined.drop("__exists")
    val ordered =
      if (varOrder.nonEmpty) out.select(varOrder.map(col): _*) else out
    if (distinctRows && ordered.columns.nonEmpty) ordered.distinct() else ordered
  }

  private def bgpVarOrder(bgp: Seq[Tp]): Seq[String] =
    bgp.flatMap(tp => Seq(tp.s, tp.p, tp.o)).collect { case V(n) => n }.distinct

  /** [[matchBgp]] under a GRAPH scope (SPARQL 1.1 §13.3): every pattern in
    * the block must match a triple asserted by the same graph binding —
    * the store's per-row doc provenance read as its named-graph dimension.
    * A constant graph filters every pattern's scan (provenance-pruned); a
    * variable graph becomes a normal binding column, so the BGP fold joins
    * on it like any shared variable ("co-asserted in one document") and
    * projects it. Same fold/ordering/distinct machinery as [[matchBgp]];
    * the graph variable appears after the pattern variables in the output
    * unless the pattern already binds it. */
  def matchBgpGraph(triples: DataFrame, bgp: Seq[Tp], graph: Term,
                    distinctRows: Boolean = true,
                    stats: Option[Map[String, Long]] = None,
                    provCol: String = "doc_id"): DataFrame = {
    val bgpVars = bgpVarOrder(bgp)
    val varOrder = graph match {
      case V(g) if !bgpVars.contains(g) => bgpVars :+ g
      case _                            => bgpVars
    }
    foldBgp(bgp, oneGraph(triples, _, graph, provCol), varOrder,
      distinctRows, stats)
  }

  /** Per-predicate triple counts — the BGP cost model's one statistic, and
    * deliberately the one a pred-partitioned store yields for free: over
    * the vertical-partitioning layout this groupBy is answered from parquet
    * file footers (zero data columns read), and [[predStatsFromManifest]]
    * reads the SAME numbers from the write-time lineage manifest without
    * touching the table at all. */
  def predStats(triples: DataFrame): Map[String, Long] =
    triples.groupBy("pred").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap

  /** [[predStats]] from a TableFormat.savePartitioned store's
    * `_manifest.json` — a metadata READ (one small JSON file), no table
    * scan: the per-partition lineage the north rule requires is keyed by
    * leaf directory (`pred=X/part_bucket=N → rows`), so summing over buckets
    * per predicate IS the cost model's input. At 10^12 triples this is the
    * only sane source — the stats are a byproduct of the write that built
    * the store. */
  def predStatsFromManifest(storePath: String): Map[String, Long] =
    graft.io.TableFormat.readManifest(storePath).partRows

  /** Greedy selectivity order for a BGP fold. Cost model: a pattern's
    * estimate is its predicate's triple count (constant pred → that
    * predicate's stat, variable pred → the store total), divided by a fixed
    * factor per additional restriction (constant subject/object, or a
    * variable repeated within the pattern). The factor's VALUE only breaks
    * ties between same-predicate patterns — relative predicate mass does
    * the real work, which is why one Map[pred → count] is enough statistic.
    *
    * Order: seed with the globally cheapest pattern, then repeatedly take
    * the cheapest pattern CONNECTED to the bound-variable prefix (shares
    * ≥1 variable — all-constant existence gates count as connected: their
    * 0/1-row frame is free wherever it lands). Only when no unjoined
    * pattern is connected does the order fall through to the cheapest
    * remaining one — the genuine cartesian a disconnected BGP asks for.
    * Deterministic: ties break on caller position. */
  def orderBgp(bgp: Seq[Tp], stats: Map[String, Long]): Seq[Tp] = {
    val total = math.max(1L, stats.valuesIterator.sum).toDouble
    greedyOrder(bgp, stats, (tp: Tp) =>
      (Seq(tp.s, tp.p, tp.o).collect { case V(n) => n }.toSet, tpEst(tp, stats, total)))
  }

  private def tpEst(tp: Tp, stats: Map[String, Long], total: Double): Double = {
    val base = tp.p match {
      case C(p) => stats.getOrElse(p, 0L).toDouble
      case _    => total
    }
    val consts = Seq(tp.s, tp.o).count(_.isInstanceOf[C])
    val repeats = Seq(tp.s, tp.p, tp.o).collect { case V(n) => n }
      .groupBy(identity).count(_._2.size > 1)
    base / math.pow(8.0, (consts + repeats).toDouble)
  }

  /** The greedy connected-first minimum-estimate order shared by
    * [[orderBgp]] and [[matchMixed]]'s part ordering: seed cheapest, grow
    * by the cheapest item sharing a variable with the bound prefix,
    * cartesian only when no item connects, caller-position tie-break. */
  private def greedyOrder[A](items: Seq[A], stats: Map[String, Long],
                             shape: A => (Set[String], Double)): Seq[A] = {
    val shaped = items.map(shape)
    val remaining = scala.collection.mutable.LinkedHashSet(items.indices: _*)
    val out = scala.collection.mutable.ArrayBuffer.empty[A]
    var bound = Set.empty[String]
    while (remaining.nonEmpty) {
      val connected =
        if (out.isEmpty) remaining.toSeq
        else remaining.toSeq.filter { i =>
          val vs = shaped(i)._1; vs.isEmpty || vs.intersect(bound).nonEmpty
        }
      val pool = if (connected.nonEmpty) connected else remaining.toSeq
      val pick = pool.minBy(i => (shaped(i)._2, i))
      remaining -= pick
      out += items(pick)
      bound ++= shaped(pick)._1
    }
    out.toSeq
  }

  /** [[matchBgp]] plus SPARQL OPTIONAL groups (left-join semantics,
    * SPARQL 1.1 §8.3): each group is matched as its own BGP and LEFT
    * outer-joined to the pattern prefix on their shared variables — a
    * required-part solution with no compatible optional match SURVIVES with
    * the group's variables unbound (NULL), which no conjunctive BGP can
    * express. Groups evaluate left-to-right against the growing prefix
    * (required + earlier optionals), the standard well-designed-pattern
    * order. Every group must share ≥1 variable with the prefix: a
    * shared-variable-free OPTIONAL is a cartesian decoration this API
    * rejects rather than silently exploding.
    *
    * Spark-first: required and optional parts are each [[matchBgp]]'s
    * declarative join tree; the OPTIONAL boundary is ONE left outer
    * equi-join per group. A constant-pred group (`?a sameAs ?al`) is a
    * single pruned predicate family — over the pred-partitioned store
    * (TableFormat.savePartitioned) it scans one directory family and AQE
    * broadcasts it; only large-large boundaries shuffle, keyed by the
    * shared variable. */
  def matchBgpOpt(triples: DataFrame, bgp: Seq[Tp], optionals: Seq[Seq[Tp]],
                  distinctRows: Boolean = true): DataFrame = {
    val req = matchBgp(triples, bgp, distinctRows = false)
    var varOrder = req.columns.toSeq
    val joined = optionals.foldLeft(req) { (acc, grp) =>
      val f = matchBgp(triples, grp, distinctRows = false)
      val shared = acc.columns.toSeq.intersect(f.columns.toSeq)
      require(shared.nonEmpty,
        s"optional group ${grp.mkString(", ")} shares no variable with the pattern prefix")
      varOrder = varOrder ++ f.columns.toSeq.filterNot(varOrder.contains)
      acc.join(f, shared, "left")
    }
    val ordered = joined.select(varOrder.map(col): _*)
    if (distinctRows) ordered.distinct() else ordered
  }

  /** SPARQL UNION (SPARQL 1.1 §8.3, algebra `Union`): the union of each
    * branch's solution mappings. Branches may bind DIFFERENT variable sets —
    * the output schema is the union of all branch variables in
    * branch-order/first-appearance order, and a variable a branch does not
    * bind is NULL (unbound) in that branch's rows, exactly the standard's
    * different-domain solution-mapping semantics. FILTER needs no wrapper:
    * the result is a DataFrame, so SPARQL FILTER is a native `.filter`
    * Column predicate Catalyst pushes through the union into each branch.
    *
    * Spark-first: each branch is [[matchBgp]]'s declarative join tree; the
    * UNION itself is a narrow concat (no exchange of its own — branches keep
    * their partitioning); the trailing `distinct` for set semantics is the
    * only shuffle, the same one SELECT DISTINCT always pays. */
  def matchUnion(triples: DataFrame, branches: Seq[Seq[Tp]],
                 distinctRows: Boolean = true,
                 stats: Option[Map[String, Long]] = None): DataFrame = {
    require(branches.nonEmpty, "empty UNION")
    val matched =
      branches.map(b => matchBgp(triples, b, distinctRows = false, stats = stats))
    val varOrder = matched.flatMap(_.columns).distinct
    val aligned = matched.map { m =>
      val have = m.columns.toSet
      m.select(varOrder.map(v =>
        if (have(v)) col(v) else lit(null).cast("string").as(v)): _*)
    }
    val out = aligned.reduceLeft(_.unionByName(_))
    if (distinctRows) out.distinct() else out
  }

  /** SPARQL MINUS (SPARQL 1.1 §8.3, algebra `Minus`): remove every solution
    * of the pattern prefix that is COMPATIBLE with some solution of a minus
    * group — i.e. agrees on their shared variables. With ≥1 shared variable
    * (the useful case) that is exactly a LEFT ANTI join on the shared
    * columns; a minus group sharing NO variable with the prefix removes
    * nothing per the standard (disjoint domains are vacuously compatible
    * only when the minus side is nonempty, but the spec's `Minus` keeps
    * μ₁ when dom(μ₁)∩dom(μ₂)=∅) — this API rejects that degenerate group
    * loudly instead of silently keeping everything.
    *
    * Spark-first: each minus group is [[matchBgp]]'s join tree; the MINUS
    * boundary is ONE `left_anti` equi-join per group — anti joins broadcast
    * like semi joins when the minus side is selective (a constant-pred
    * group over the pred-partitioned store is one pruned family). */
  def matchBgpMinus(triples: DataFrame, bgp: Seq[Tp], minus: Seq[Seq[Tp]],
                    distinctRows: Boolean = true): DataFrame = {
    val req = matchBgp(triples, bgp, distinctRows = false)
    val out = minus.foldLeft(req) { (acc, grp) =>
      val f = matchBgp(triples, grp, distinctRows = false)
      val shared = acc.columns.toSeq.intersect(f.columns.toSeq)
      require(shared.nonEmpty,
        s"MINUS group ${grp.mkString(", ")} shares no variable with the pattern prefix" +
          " — per SPARQL semantics it would remove nothing")
      acc.join(f.select(shared.map(col): _*), shared, "left_anti")
    }
    // USING-join hoists the shared columns to the front — restore matchBgp's
    // first-appearance order (caught by the PatternFuzzSpec order property)
    val ordered = out.select(req.columns.map(col): _*)
    if (distinctRows) ordered.distinct() else ordered
  }

  /** SPARQL `FILTER EXISTS` / `FILTER NOT EXISTS` (SPARQL 1.1 §8.1.1): keep
    * prefix solutions for which the group pattern has ≥1 / 0 compatible
    * match. On shared variables this is a LEFT SEMI (exists) or LEFT ANTI
    * (not exists) equi-join — the same plan shape Catalyst gives
    * `WHERE [NOT] EXISTS (correlated subquery)`, with the correlation keys
    * being the shared variables. Like [[matchBgpMinus]], a group sharing no
    * variable is rejected (it would be a constant gate, expressible more
    * cheaply as an all-constant BGP pattern). */
  def filterExists(triples: DataFrame, bgp: Seq[Tp], group: Seq[Tp],
                   negate: Boolean = false,
                   distinctRows: Boolean = true): DataFrame = {
    val req = matchBgp(triples, bgp, distinctRows = false)
    val f = matchBgp(triples, group, distinctRows = false)
    val shared = req.columns.toSeq.intersect(f.columns.toSeq)
    require(shared.nonEmpty,
      s"EXISTS group ${group.mkString(", ")} shares no variable with the pattern")
    val out = req.join(f.select(shared.map(col): _*), shared,
        if (negate) "left_anti" else "left_semi")
      // restore first-appearance order (USING-join hoists the join keys)
      .select(req.columns.map(col): _*)
    if (distinctRows) out.distinct() else out
  }

  /** SPARQL property path `p+` (arbitrary-length, SPARQL 1.1 §9.1) over an
    * edge set: every (src, dst) pair connected by a path of ≥1 edges.
    * Computed by ITERATIVE DOUBLING — each round joins the reach set with
    * ITSELF (`reach ∘ reach`), so a diameter-D graph closes in ⌈log₂ D⌉
    * rounds of equi-joins instead of D frontier rounds; a cycle yields its
    * (x, x) pairs, exactly the standard's arbitrary-length semantics.
    * Fixpoint = the distinct pair count going stationary (monotone
    * nondecreasing, so one count per round decides); `localCheckpoint` cuts
    * lineage per round like Canonicalize's CC loop.
    *
    * Scale: each round shuffles the current reach set keyed by the join
    * column — for KG predicates the edge relation is dictionary-sized
    * (entities, not documents). The reachable-PAIRS output is inherently
    * Σ|component|² in the worst case: right for the shallow/star graphs KG
    * predicates like sameAs produce and for selective sources; for
    * connectivity over dense graphs prefer the linear-output component
    * labels (kg.Canonicalize / q_cc_components). `maxRounds` caps runaway
    * closures (paths to length 2^maxRounds are complete at the default). */
  def pathPlus(edges: DataFrame, maxRounds: Int = 20): DataFrame = {
    // lazy cuts throughout: the per-round count IS the materializing action
    // (an eager checkpoint launched a second job per round for the same work)
    var reach = edges.select(col("src"), col("dst")).distinct()
      .localCheckpoint(false)
    var n = reach.count()
    var round = 0
    var done = n == 0L
    while (!done && round < maxRounds) {
      val step = reach.as("r").join(reach.as("e"), col("r.dst") === col("e.src"))
        .select(col("r.src").as("src"), col("e.dst").as("dst"))
      val next = reach.unionByName(step).distinct().localCheckpoint(false)
      val m = next.count()
      done = m == n
      reach = next; n = m; round += 1
    }
    reach
  }

  /** `p+` over ONE predicate of a triple store: [[pathPlus]] of the pruned
    * `pred = <pred>` edge family — over the pred-partitioned layout this is
    * a single directory family, read once before the closure loop. */
  def predPathPlus(triples: DataFrame, pred: String, maxRounds: Int = 20): DataFrame =
    pathPlus(triples.filter(col("pred") === lit(pred))
      .select(col("subj").as("src"), col("obj").as("dst")), maxRounds)

  /** Property-path ALTERNATION `p₁|p₂|…` (SPARQL 1.1 §9.1) as an edge set:
    * the union of each predicate family's (subj, obj) edges. Over the
    * pred-partitioned store this reads exactly the named families (one
    * `pred IN (...)` partition-pruned scan); the union itself is narrow. */
  def predAlt(triples: DataFrame, preds: Seq[String]): DataFrame = {
    require(preds.nonEmpty, "empty alternation")
    triples.filter(col("pred").isin(preds.map(lit): _*))
      .select(col("subj").as("src"), col("obj").as("dst")).distinct()
  }

  /** Property-path INVERSE `^p` (SPARQL 1.1 §9.1) as an edge set: the
    * predicate family with subject and object swapped — a pure projection,
    * no shuffle of its own. */
  def predInv(triples: DataFrame, pred: String): DataFrame =
    triples.filter(col("pred") === lit(pred))
      .select(col("obj").as("src"), col("subj").as("dst")).distinct()

  /** Path SEQUENCE `e₁/e₂` over two edge sets: one equi-join on the middle
    * node (dst of e₁ = src of e₂). Arbitrary path expressions compose from
    * [[predAlt]]/[[predInv]]/[[pathSeq]]/[[pathPlus]]/[[pathStar]] — each
    * step stays a declarative join/union, so a whole path expression is one
    * Catalyst plan until a closure's fixpoint loop forces materialization. */
  def pathSeq(e1: DataFrame, e2: DataFrame): DataFrame =
    e1.as("a").join(e2.as("b"), col("a.dst") === col("b.src"))
      .select(col("a.src").as("src"), col("b.dst").as("dst")).distinct()

  /** `p*` (zero-or-more): [[pathPlus]] ∪ the identity over the node
    * universe. Per SPARQL §9.1 zero-length paths hold for every graph TERM,
    * so the caller passes the universe (for a triple store: distinct subj ∪
    * obj — or a narrower domain when the query scopes it). */
  def pathStar(edges: DataFrame, nodes: DataFrame, maxRounds: Int = 20): DataFrame = {
    val id = nodes.select(col(nodes.columns.head).as("src"))
      .distinct().withColumn("dst", col("src"))
    pathPlus(edges, maxRounds).unionByName(id).distinct()
  }

  /** `p+` specialized to a SYMMETRIC edge set — the linear-shuffle path the
    * [[pathPlus]] scaladoc points dense graphs at: on symmetric edges,
    * reachability is exactly "same connected component" (and every edge
    * endpoint has the 2-cycle that yields its (x, x) pair), so the closure
    * is component LABELS (kg.Canonicalize's min-label propagation — per-node
    * rows, linear shuffles, diameter-bounded rounds of narrow join+groupBy)
    * followed by ONE within-component self-join to expand the answer pairs.
    * The Σ|component|² cost is then paid only in the final expansion — the
    * output itself — never in intermediate join fanout: iterative doubling
    * on a c-node component pushes ~c³ intermediate rows per round through
    * the shuffle; this path shuffles c rows per round and c² once.
    * Result-equal to [[pathPlus]] on any symmetric input (asserted in
    * PatternSpec).
    *
    * The labels come from [[Canonicalize.connectedComponents]]: union-find
    * on the driver when the edge set's estimated size is within Spark's
    * broadcast threshold (`spark.sql.autoBroadcastJoinThreshold`), else the
    * distributed loop, which `-1` forces; `maxIter` only bounds that loop.
    * The pair expansion is a Spark join on either path. */
  def symClosurePairs(edges: DataFrame, maxIter: Int = 50): DataFrame = {
    val labels = Canonicalize.connectedComponents(edges.sparkSession, edges, maxIter)
    labels.as("a").join(labels.as("b"), col("a.component") === col("b.component"))
      .select(col("a.node").as("src"), col("b.node").as("dst"))
  }

  /** The undirected/symmetric closure `(p|^p)+` — the alias-connectivity
    * question ("which entities are transitively the same, following sameAs
    * edges in either direction"): [[pathPlus]] over the predicate family
    * unioned with its inverse. Output is pairs; for dense components prefer
    * component LABELS (kg.Canonicalize's pointer-jumping CC — linear output)
    * and derive pairs only for the components a query actually touches.
    * This is the doubling reference; parsed `(p|^p)+` in [[Sparql]] takes
    * [[symClosurePairs]] instead, which labels a broadcast-sized family on
    * the driver and runs the distributed CC loop only above Spark's
    * broadcast threshold (or when it is `-1`). */
  def predSymPathPlus(triples: DataFrame, pred: String, maxRounds: Int = 20): DataFrame = {
    val fam = triples.filter(col("pred") === lit(pred))
    val fwd = fam.select(col("subj").as("src"), col("obj").as("dst"))
    pathPlus(fwd.unionByName(fwd.select(col("dst").as("src"), col("src").as("dst"))),
      maxRounds)
  }

  /** A BGP whose steps may be PLAIN triple patterns or pre-evaluated EDGE
    * SETS (property-path results: [[pathPlus]]/[[predAlt]]/… output bound to
    * subject/object terms) — the conjunction [[Sparql]] compiles a body with
    * path expressions to. Each edge part behaves exactly like a pattern:
    * constants filter the edge frame, a repeated variable forces in-row
    * equality, variables project in first-appearance order, and the join
    * fold on shared variables is the same one [[matchBgp]] uses. The edge
    * frames themselves are whatever plan produced them — a pred-pruned
    * projection for `^p`/`p₁|p₂`, a materialized fixpoint for closures. */
  def matchMixed(triples: DataFrame,
                 parts: Seq[Either[Tp, (Term, DataFrame, Term)]],
                 distinctRows: Boolean = true,
                 stats: Option[Map[String, Long]] = None): DataFrame = {
    require(parts.nonEmpty, "empty graph pattern")
    // stats order the FOLD only (output columns stay caller-ordered below).
    // A pre-evaluated edge set has no predicate stat — closures and
    // alternations are usually the LARGE side, so they cost the store total
    // (divided per constant endpoint like any other restriction) and the
    // greedy order naturally joins selective plain patterns before them.
    val folded = stats.fold(parts) { st =>
      val total = math.max(1L, st.valuesIterator.sum).toDouble
      greedyOrder(parts, st, (part: Either[Tp, (Term, DataFrame, Term)]) => part match {
        case Left(tp) =>
          (Seq(tp.s, tp.p, tp.o).collect { case V(n) => n }.toSet,
            tpEst(tp, st, total))
        case Right((s, _, o)) =>
          val vs = Seq(s, o).collect { case V(n) => n }.toSet
          val consts = Seq(s, o).count(_.isInstanceOf[C])
          (vs, total / math.pow(8.0, consts.toDouble))
      })
    }
    val frames = folded.map {
      case Left(tp) => one(triples, tp)
      case Right((s, edges, o)) => edgeOne(edges, s, o)
    }
    val joined = frames.reduceLeft { (acc, f) =>
      val shared = acc.columns.toSeq.intersect(f.columns.toSeq)
      if (shared.nonEmpty) acc.join(f, shared) else acc.crossJoin(f)
    }
    val varOrder = parts.flatMap {
      case Left(tp) => Seq(tp.s, tp.p, tp.o)
      case Right((s, _, o)) => Seq(s, o)
    }.collect { case V(n) => n }.distinct
    val out = joined.drop("__exists")
    val ordered =
      if (varOrder.nonEmpty) out.select(varOrder.map(col): _*) else out
    if (distinctRows && ordered.columns.nonEmpty) ordered.distinct() else ordered
  }

  /** One (src, dst) edge set bound to subject/object terms — the edge-part
    * analogue of the triple-pattern frame builder. */
  private def edgeOne(edges: DataFrame, s: Term, o: Term): DataFrame = {
    var df = edges.select(col("src"), col("dst"))
    Seq("src" -> s, "dst" -> o).foreach {
      case (c, C(v)) => df = df.filter(col(c) === lit(v))
      case _ =>
    }
    (s, o) match {
      case (V(a), V(b)) if a == b =>
        df.filter(col("src") === col("dst")).select(col("src").as(a))
      case (V(a), V(b)) => df.select(col("src").as(a), col("dst").as(b))
      case (V(a), _)    => df.select(col("src").as(a))
      case (_, V(b))    => df.select(col("dst").as(b))
      case _            => df.limit(1).select(lit(1).as("__exists"))
    }
  }

  /** [[matchPattern]] with an arbitrary pre-built solution PREFIX (e.g.
    * [[matchMixed]] over path-bearing conjunctions) instead of a plain BGP:
    * OPTIONALs fold left-to-right, then the negation/existence gates. */
  def matchPatternFrom(triples: DataFrame, prefix: DataFrame,
                       optionals: Seq[Seq[Tp]] = Nil,
                       minus: Seq[Seq[Tp]] = Nil,
                       exists: Seq[Seq[Tp]] = Nil,
                       notExists: Seq[Seq[Tp]] = Nil,
                       distinctRows: Boolean = true): DataFrame = {
    var acc = prefix
    var varOrder = acc.columns.toSeq
    optionals.foreach { grp =>
      val f = matchBgp(triples, grp, distinctRows = false)
      val shared = acc.columns.toSeq.intersect(f.columns.toSeq)
      require(shared.nonEmpty,
        s"optional group ${grp.mkString(", ")} shares no variable with the pattern prefix")
      varOrder = varOrder ++ f.columns.toSeq.filterNot(varOrder.contains)
      acc = acc.join(f, shared, "left")
    }
    acc = acc.select(varOrder.map(col): _*)
    def gate(groups: Seq[Seq[Tp]], how: String, label: String): Unit =
      groups.foreach { grp =>
        val f = matchBgp(triples, grp, distinctRows = false)
        val shared = acc.columns.toSeq.intersect(f.columns.toSeq)
        require(shared.nonEmpty,
          s"$label group ${grp.mkString(", ")} shares no variable with the pattern prefix")
        val cols = acc.columns.toSeq
        acc = acc.join(f.select(shared.map(col): _*), shared, how)
          .select(cols.map(col): _*) // USING-join hoists keys; restore order
      }
    gate(minus, "left_anti", "MINUS")
    gate(notExists, "left_anti", "FILTER NOT EXISTS")
    gate(exists, "left_semi", "FILTER EXISTS")
    if (distinctRows) acc.distinct() else acc
  }

  /** The general composed form the [[Sparql]] string front end compiles to:
    * required BGP + OPTIONAL groups + MINUS groups + FILTER [NOT] EXISTS
    * groups in one call — OPTIONALs fold first (left-to-right, the
    * well-designed order), then each negation/existence gate is one
    * semi/anti join against the grown prefix carrying only the shared
    * columns. Equivalent to composing [[matchBgpOpt]] / [[matchBgpMinus]] /
    * [[filterExists]]; exists here so a parsed query stays ONE logical plan
    * with the same boundary shapes the individual operators document. */
  def matchPattern(triples: DataFrame, bgp: Seq[Tp],
                   optionals: Seq[Seq[Tp]] = Nil,
                   minus: Seq[Seq[Tp]] = Nil,
                   exists: Seq[Seq[Tp]] = Nil,
                   notExists: Seq[Seq[Tp]] = Nil,
                   distinctRows: Boolean = true,
                   stats: Option[Map[String, Long]] = None): DataFrame =
    // stats drive the REQUIRED fold only: OPTIONAL/MINUS/EXISTS groups fold
    // in the caller's well-designed order (their left-to-right evaluation
    // against the growing prefix is semantics, not a cost choice)
    matchPatternFrom(triples,
      matchBgp(triples, bgp, distinctRows = false, stats = stats),
      optionals, minus, exists, notExists, distinctRows)

  /** SPARQL CONSTRUCT (SPARQL 1.1 §16.2): instantiate a TEMPLATE of triple
    * patterns once per solution of the WHERE pattern — the rule-inference
    * shape ("from ?a sameAs ?al, derive (?al aliasOf ?a)"): how a KG grows
    * new edges from existing ones without re-running the document pipeline.
    * Template variables must be bound by the pattern (checked); constants
    * pass through. Output is a (subj, pred, obj) DataFrame in the store's
    * own schema, distinct (CONSTRUCT emits a graph — a SET of triples), so
    * the result unions/saves straight back into the triple store.
    *
    * Spark-first: one narrow projection per template pattern over the ONE
    * matched solution set (computed once, template arms share it), unioned;
    * the only shuffle is the graph-set distinct. */
  def construct(triples: DataFrame, bgp: Seq[Tp], template: Seq[Tp]): DataFrame = {
    require(template.nonEmpty, "empty CONSTRUCT template")
    val sol = matchBgp(triples, bgp, distinctRows = false)
    val bound = sol.columns.toSet
    def term(t: Term) = t match {
      case V(n) =>
        require(bound(n), s"template variable ?$n is not bound by the pattern")
        col(n)
      case C(v) => lit(v)
    }
    template.map { tp =>
      sol.select(term(tp.s).as("subj"), term(tp.p).as("pred"), term(tp.o).as("obj"))
    }.reduceLeft(_.unionByName(_)).distinct()
  }

  /** SPARQL ASK (SPARQL 1.1 §16.3): does the pattern have ≥1 solution?
    * Evaluated as `limit(1)` over the BGP plan — Catalyst's LocalLimit
    * short-circuits the scan on the first match, so a true answer on a
    * selective pattern touches one partition, not the store. */
  def ask(triples: DataFrame, bgp: Seq[Tp]): Boolean =
    !matchBgp(triples, bgp, distinctRows = false).limit(1).isEmpty

  private def one(triples: DataFrame, tp: Tp): DataFrame =
    oneTerms(triples.select("subj", "pred", "obj"),
      Seq("subj" -> tp.s, "pred" -> tp.p, "obj" -> tp.o))

  /** [[one]] with the provenance column bound as a GRAPH term (SPARQL 1.1
    * §13: the store's doc provenance IS its named-graph dimension — each
    * source document is the graph that asserts its triples). A constant
    * graph filters; a variable graph projects the provenance as a binding,
    * so patterns sharing the graph variable join on provenance — "asserted
    * by the SAME document" — exactly like any other shared variable. */
  private def oneGraph(triples: DataFrame, tp: Tp, graph: Term,
                       provCol: String): DataFrame = {
    require(triples.columns.contains(provCol),
      s"GRAPH needs a provenance column '$provCol' on the triple table")
    oneTerms(
      triples.select(col("subj"), col("pred"), col("obj"),
        col(provCol).cast("string").as(GraphCol)),
      Seq("subj" -> tp.s, "pred" -> tp.p, "obj" -> tp.o, GraphCol -> graph))
  }

  private val GraphCol = "__graph"

  private def oneTerms(selected: DataFrame,
                       terms: Seq[(String, Term)]): DataFrame = {
    // constants filter first — these are the scan-stage pruners
    var df = terms.foldLeft(selected) {
      case (d, (c, C(v))) => d.filter(col(c) === lit(v))
      case (d, _) => d
    }
    // same variable twice within the pattern → in-row equality, still pre-shuffle
    val varCols = terms.collect { case (c, V(n)) => (c, n) }
    varCols.groupBy(_._2).valuesIterator.filter(_.size > 1).foreach { g =>
      g.map(_._1).sliding(2).foreach {
        case Seq(a, b) => df = df.filter(col(a) === col(b))
        case _ =>
      }
    }
    // one output column per distinct variable, first-appearance order
    val firstCol = scala.collection.mutable.LinkedHashMap[String, String]()
    varCols.foreach { case (c, n) => if (!firstCol.contains(n)) firstCol(n) = c }
    if (firstCol.isEmpty)
      // all-constant pattern: existence gate (≥1 match → one neutral row)
      df.limit(1).select(lit(1).as("__exists"))
    else
      df.select(firstCol.toSeq.map { case (n, c) => col(c).as(n) }: _*)
  }
}
