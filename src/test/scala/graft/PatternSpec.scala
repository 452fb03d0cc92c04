package graft

import graft.kg.Pattern
import graft.kg.Pattern.{C, Tp, V}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** BGP matching over a (subj, pred, obj) triple table: SPARQL set semantics
  * replayed against a hand-enumerated oracle on a tiny store. */
class PatternSpec extends AnyFunSuite {
  lazy val spark = SparkTestBase.spark
  import spark.implicits._

  private lazy val trip = Seq(
    // (subj, pred, obj, doc_id) — doc_id is provenance, not matched on
    ("ent:1", "category", "PER", "d1"),
    ("ent:2", "category", "ORG", "d1"),
    ("ent:3", "category", "PER", "d2"),
    ("ent:1", "inDoc", "d1", "d1"),
    ("ent:2", "inDoc", "d1", "d1"),
    ("ent:1", "inDoc", "d2", "d2"),
    ("ent:3", "inDoc", "d2", "d2"),
    ("ent:1", "label", "alpha", "d1"),
    ("ent:1", "label", "alpha", "d2"), // provenance dup — must collapse
    ("ent:4", "sameAs", "ent:4", "d1") // self-loop for the repeated-var case
  ).toDF("subj", "pred", "obj", "doc_id")

  test("single pattern: constant filters + variable projection, distinct bindings") {
    val r = Pattern.matchBgp(trip, Seq(Tp(V("e"), C("label"), V("l"))))
      .as[(String, String)].collect().toSet
    assert(r === Set(("ent:1", "alpha"))) // the two provenance rows collapse
  }

  test("shared-variable chain joins like SPARQL") {
    // ?e category PER . ?e inDoc ?d
    val r = Pattern.matchBgp(trip, Seq(
        Tp(V("e"), C("category"), C("PER")),
        Tp(V("e"), C("inDoc"), V("d"))))
      .as[(String, String)].collect().toSet
    assert(r === Set(("ent:1", "d1"), ("ent:1", "d2"), ("ent:3", "d2")))
  }

  test("two-hop co-occurrence pattern matches the hand oracle") {
    val r = Pattern.matchBgp(trip, Seq(
        Tp(V("a"), C("category"), C("PER")),
        Tp(V("a"), C("inDoc"), V("d")),
        Tp(V("b"), C("inDoc"), V("d"))))
      .filter(col("a") =!= col("b"))
      .as[(String, String, String)].collect().toSet
    assert(r === Set(
      ("ent:1", "d1", "ent:2"),
      ("ent:1", "d2", "ent:3"),
      ("ent:3", "d2", "ent:1")))
  }

  test("repeated variable inside one pattern becomes in-row equality") {
    val r = Pattern.matchBgp(trip, Seq(Tp(V("x"), C("sameAs"), V("x"))))
      .as[String].collect().toSeq
    assert(r === Seq("ent:4"))
  }

  test("all-constant pattern is an existence gate") {
    val some = Pattern.matchBgp(trip, Seq(
      Tp(C("ent:1"), C("category"), C("PER")), Tp(V("e"), C("inDoc"), C("d2"))))
    assert(some.select("e").as[String].collect().toSet === Set("ent:1", "ent:3"))
    val none = Pattern.matchBgp(trip, Seq(
      Tp(C("ent:9"), C("category"), C("PER")), Tp(V("e"), C("inDoc"), C("d2"))))
    assert(none.count() === 0)
  }

  test("disjoint patterns cross-join (BGP cartesian semantics)") {
    val r = Pattern.matchBgp(trip, Seq(
        Tp(V("p"), C("category"), C("PER")),
        Tp(V("o"), C("category"), C("ORG"))))
      .as[(String, String)].collect().toSet
    assert(r === Set(("ent:1", "ent:2"), ("ent:3", "ent:2")))
  }

  test("variable column order follows first appearance") {
    val cols = Pattern.matchBgp(trip, Seq(
      Tp(V("z"), C("inDoc"), V("a")))).columns.toSeq
    assert(cols === Seq("z", "a"))
  }

  test("OPTIONAL: unmatched rows survive with the variable unbound") {
    // ?e category ?c OPTIONAL { ?e label ?l } — only ent:1 has a label
    val r = Pattern.matchBgpOpt(trip,
        Seq(Tp(V("e"), C("category"), V("c"))),
        Seq(Seq(Tp(V("e"), C("label"), V("l")))))
    assert(r.columns.toSeq === Seq("e", "c", "l")) // optional vars append last
    assert(r.as[(String, String, Option[String])].collect().toSet === Set(
      ("ent:1", "PER", Some("alpha")),
      ("ent:2", "ORG", None),
      ("ent:3", "PER", None)))
  }

  test("OPTIONAL: groups evaluate left-to-right against the growing prefix") {
    val r = Pattern.matchBgpOpt(trip,
        Seq(Tp(V("e"), C("category"), V("c"))),
        Seq(Seq(Tp(V("e"), C("label"), V("l"))),
            Seq(Tp(V("e"), C("inDoc"), V("d")))))
      .as[(String, String, Option[String], Option[String])].collect().toSet
    assert(r === Set(
      ("ent:1", "PER", Some("alpha"), Some("d1")),
      ("ent:1", "PER", Some("alpha"), Some("d2")),
      ("ent:2", "ORG", None, Some("d1")),
      ("ent:3", "PER", None, Some("d2"))))
  }

  test("OPTIONAL: a group sharing no variable with the prefix is rejected") {
    intercept[IllegalArgumentException] {
      Pattern.matchBgpOpt(trip,
        Seq(Tp(V("e"), C("category"), C("PER"))),
        Seq(Seq(Tp(V("x"), C("label"), V("l")))))
    }
  }

  test("MINUS removes prefix solutions compatible on shared variables") {
    // ?e category ?c MINUS { ?e label ?l } — ent:1 is the only labeled entity
    val r = Pattern.matchBgpMinus(trip,
        Seq(Tp(V("e"), C("category"), V("c"))),
        Seq(Seq(Tp(V("e"), C("label"), V("l")))))
      .as[(String, String)].collect().toSet
    assert(r === Set(("ent:2", "ORG"), ("ent:3", "PER")))
  }

  test("MINUS group with no shared variable is rejected loudly") {
    intercept[IllegalArgumentException] {
      Pattern.matchBgpMinus(trip,
        Seq(Tp(V("e"), C("category"), C("PER"))),
        Seq(Seq(Tp(V("x"), C("label"), V("l")))))
    }
  }

  test("FILTER EXISTS keeps, NOT EXISTS drops — semi/anti duals partition the prefix") {
    val bgp = Seq(Tp(V("e"), C("category"), V("c")))
    val grp = Seq(Tp(V("e"), C("label"), V("l")))
    val ex = Pattern.filterExists(trip, bgp, grp)
      .as[(String, String)].collect().toSet
    val nx = Pattern.filterExists(trip, bgp, grp, negate = true)
      .as[(String, String)].collect().toSet
    assert(ex === Set(("ent:1", "PER")))
    assert(nx === Set(("ent:2", "ORG"), ("ent:3", "PER")))
    // duals: together they tile the unfiltered prefix exactly
    val all = Pattern.matchBgp(trip, bgp).as[(String, String)].collect().toSet
    assert((ex ++ nx) === all && ex.intersect(nx).isEmpty)
  }

  test("pathPlus: directed chain closes to all forward pairs, no backward ones") {
    val e = Seq(("a", "b"), ("b", "c"), ("c", "d")).toDF("src", "dst")
    val r = Pattern.pathPlus(e).as[(String, String)].collect().toSet
    assert(r === Set(("a", "b"), ("a", "c"), ("a", "d"),
                     ("b", "c"), ("b", "d"), ("c", "d")))
  }

  test("pathPlus: cycles yield their (x, x) pairs — SPARQL p+ semantics") {
    val e = Seq(("a", "b"), ("b", "a")).toDF("src", "dst")
    val r = Pattern.pathPlus(e).as[(String, String)].collect().toSet
    assert(r === Set(("a", "b"), ("b", "a"), ("a", "a"), ("b", "b")))
  }

  test("pathPlus: maxRounds caps the closure depth") {
    // chain of 6 edges; one round of doubling reaches paths of length ≤2
    val e = (0 until 6).map(i => (s"n$i", s"n${i + 1}")).toDF("src", "dst")
    val capped = Pattern.pathPlus(e, maxRounds = 1).as[(String, String)].collect().toSet
    assert(capped === (0 until 6).map(i => (s"n$i", s"n${i + 1}")).toSet ++
                      (0 until 5).map(i => (s"n$i", s"n${i + 2}")).toSet)
    val full = Pattern.pathPlus(e).as[(String, String)].collect().toSet
    assert(full.size === 6 * 7 / 2) // all forward pairs
  }

  test("predPathPlus prunes to one predicate family") {
    // the only sameAs edge is ent:4's self-loop
    val r = Pattern.predPathPlus(trip, "sameAs").as[(String, String)].collect().toSet
    assert(r === Set(("ent:4", "ent:4")))
  }

  test("doc-share reachability is genuinely multi-hop (the nemo_kg_reach shape)") {
    // derived symmetric edges: d1 links 1-2, d2 links 1-3; ent:2 and ent:3
    // share NO document but must be mutually reachable through ent:1
    val ind = trip.filter(col("pred") === "inDoc")
      .select(col("subj").as("ent"), col("obj").as("d")).distinct()
    val edges = ind.as("x").join(ind.as("y"), col("x.d") === col("y.d"))
      .filter(col("x.ent") =!= col("y.ent"))
      .select(col("x.ent").as("src"), col("y.ent").as("dst")).distinct()
    val r = Pattern.pathPlus(edges).as[(String, String)].collect().toSet
    val ents = Set("ent:1", "ent:2", "ent:3")
    assert(r === (for { a <- ents; b <- ents } yield (a, b)).toSet)
    assert(r.contains(("ent:2", "ent:3"))) // the multi-hop pair
  }

  test("path algebra: alternation, inverse, sequence, star compose as edge sets") {
    val t = Seq(
      ("a", "p", "b"), ("b", "q", "c"),   // p|q chain a→b→c
      ("x", "p", "a")                      // ^p gives a→x
    ).toDF("subj", "pred", "obj")
    // alternation: p|q edge set
    assert(Pattern.predAlt(t, Seq("p", "q")).as[(String, String)].collect().toSet ===
      Set(("a", "b"), ("b", "c"), ("x", "a")))
    // inverse: ^p swaps direction
    assert(Pattern.predInv(t, "p").as[(String, String)].collect().toSet ===
      Set(("b", "a"), ("a", "x")))
    // sequence p/q: one middle-node join
    assert(Pattern.pathSeq(Pattern.predAlt(t, Seq("p")), Pattern.predAlt(t, Seq("q")))
      .as[(String, String)].collect().toSet === Set(("a", "c")))
    // (p|q)+ closes the chain; (p|q)* adds the identity over the given universe
    val plus = Pattern.pathPlus(Pattern.predAlt(t, Seq("p", "q")))
      .as[(String, String)].collect().toSet
    assert(plus === Set(("a", "b"), ("b", "c"), ("a", "c"), ("x", "a"),
                        ("x", "b"), ("x", "c")))
    val nodes = t.select(col("subj").as("n"))
      .unionByName(t.select(col("obj").as("n"))).distinct()
    val star = Pattern.pathStar(Pattern.predAlt(t, Seq("p", "q")), nodes)
      .as[(String, String)].collect().toSet
    assert(star === plus ++ Set("a", "b", "c", "x").map(n => (n, n)))
  }

  test("symClosurePairs equals pathPlus on symmetric edges (the dense-graph path)") {
    // multi-component symmetric graph: a 4-cycle, a 2-path, an isolated
    // self-loop — every shape the component expansion must reproduce
    val und = Seq(("a", "b"), ("b", "c"), ("c", "d"), ("d", "a"),
                  ("p", "q"), ("z", "z"))
    val edges = und.toDF("src", "dst")
      .unionByName(und.map(_.swap).toDF("src", "dst")).distinct()
    val viaCc = Pattern.symClosurePairs(edges).as[(String, String)].collect().toSet
    val viaDoubling = Pattern.pathPlus(edges).as[(String, String)].collect().toSet
    assert(viaCc === viaDoubling)
    // and the expected value itself: full pair square per component
    val comps = Seq(Set("a", "b", "c", "d"), Set("p", "q"), Set("z"))
    assert(viaCc === comps.flatMap(c => for { x <- c; y <- c } yield (x, y)).toSet)
  }

  test("predSymPathPlus: (p|^p)+ alias connectivity crosses direction changes") {
    // sameAs chain 1→2, 3→2: 1 and 3 are connected only via 2's inverse edge
    val t = Seq(
      ("e1", "sameAs", "e2"), ("e3", "sameAs", "e2"),
      ("e9", "other", "e1") // different predicate family — must not leak in
    ).toDF("subj", "pred", "obj")
    val r = Pattern.predSymPathPlus(t, "sameAs").as[(String, String)].collect().toSet
    val ents = Set("e1", "e2", "e3")
    assert(r === (for { a <- ents; b <- ents } yield (a, b)).toSet)
  }

  test("CONSTRUCT instantiates the template per solution, distinct graph out") {
    // from ?e label ?l derive (?l labelOf ?e) + (?e hasLabel ?l): the two
    // provenance rows for ent:1/alpha must collapse to ONE derived pair each
    val r = Pattern.construct(trip,
        Seq(Tp(V("e"), C("label"), V("l"))),
        Seq(Tp(V("l"), C("labelOf"), V("e")),
            Tp(V("e"), C("hasLabel"), V("l"))))
      .as[(String, String, String)].collect().toSet
    assert(r === Set(
      ("alpha", "labelOf", "ent:1"),
      ("ent:1", "hasLabel", "alpha")))
    // output schema is the store's own — the derived graph unions back in
    assert(Pattern.matchBgp(
      trip.select("subj", "pred", "obj")
        .unionByName(Pattern.construct(trip,
          Seq(Tp(V("e"), C("label"), V("l"))),
          Seq(Tp(V("l"), C("labelOf"), V("e"))))),
      Seq(Tp(C("alpha"), C("labelOf"), V("x")))).as[String].collect().toSeq === Seq("ent:1"))
  }

  test("CONSTRUCT rejects a template variable the pattern does not bind") {
    intercept[IllegalArgumentException] {
      Pattern.construct(trip,
        Seq(Tp(V("e"), C("label"), V("l"))),
        Seq(Tp(V("e"), C("p"), V("unbound"))))
    }
  }

  test("ASK short-circuits to a boolean") {
    assert(Pattern.ask(trip, Seq(Tp(V("e"), C("category"), C("PER")))))
    assert(!Pattern.ask(trip, Seq(Tp(V("e"), C("category"), C("ZZZ")))))
    // conjunction: both patterns must match
    assert(!Pattern.ask(trip, Seq(
      Tp(V("e"), C("category"), C("PER")), Tp(V("e"), C("label"), C("nope")))))
  }

  test("pred-partitioned store: round-trip, BGP equality, directory pruning, lineage") {
    import graft.io.TableFormat
    val store = java.nio.file.Files.createTempDirectory("graft-patstore").toString + "/triples"
    TableFormat.savePartitioned(trip, store, partCol = "pred", keyCol = "subj",
      buckets = 4, stage = "triples")
    val loaded = TableFormat.load(spark, store)

    // round-trip: same multiset of rows (pred comes back from directory names)
    assert(loaded.select("subj", "pred", "obj", "doc_id").as[(String, String, String, String)]
      .collect().sorted.toSeq ===
      trip.as[(String, String, String, String)].collect().sorted.toSeq)

    // the SAME BGP over the loaded store binds identically to the in-memory run
    val bgp = Seq(
      Tp(V("a"), C("category"), C("PER")),
      Tp(V("a"), C("inDoc"), V("d")),
      Tp(V("b"), C("inDoc"), V("d")))
    assert(Pattern.matchBgp(loaded, bgp).as[(String, String, String)].collect().toSet ===
      Pattern.matchBgp(trip, bgp).as[(String, String, String)].collect().toSet)

    // directory-level pruning: a constant-pred scan reads ONLY that
    // predicate's files (behavioral check via input_file_name — stronger
    // than grepping the plan string) and the plan carries it as a
    // PartitionFilter, i.e. the prune happens before IO, not post-scan
    val perFiles = loaded.filter(col("pred") === "category")
      .select(input_file_name()).as[String].collect().toSet
    assert(perFiles.nonEmpty && perFiles.forall(_.contains("pred=category")))
    assert(Pattern.matchBgp(loaded, Seq(Tp(V("e"), C("category"), V("c"))))
      .queryExecution.executedPlan.toString.contains("PartitionFilters"))

    // subj-key bucket pruning still composes inside a predicate directory
    val oneKey = spark.read.parquet(store)
      .filter(col("pred") === "inDoc" &&
        col(TableFormat.BucketCol) === TableFormat.bucketOf("ent:1", 4) &&
        col("subj") === "ent:1")
      .select(input_file_name()).as[String].collect().toSet
    assert(oneKey.forall(f => f.contains("pred=inDoc") && f.contains("part_bucket=")))

    // manifest: two-level lineage keys, counts sum to the row count, one
    // file per leaf directory (the small-files discipline)
    val mf = SparkTestBase.manifestJson(store)
    assert(mf.get("part_col").textValue == "pred" && mf.get("complete").booleanValue)
    val lineage = mf.get("partition_rows").properties().asScala.toSeq
      .map(e => e.getKey -> e.getValue.longValue)
      .filter(_._1.matches("""pred=[^"]+/part_bucket=\d+"""))
    assert(lineage.map(_._2).sum === trip.count())
    val leafFiles = java.nio.file.Files.walk(java.nio.file.Paths.get(store))
      .iterator().asScala
      .filter(p => java.nio.file.Files.isRegularFile(p) && p.getFileName.toString.endsWith(".parquet"))
      .toSeq
    assert(leafFiles.map(_.getParent.toString).distinct.size === leafFiles.size)
    assert(lineage.size === leafFiles.size) // every leaf dir appears in lineage
  }

  test("orderBgp: selective seed, connected growth, cartesian only when forced") {
    val stats = Map("category" -> 1000L, "inDoc" -> 100000L, "label" -> 50L)
    // adversarial caller order: the two inDoc patterns share no variable
    // until the category pattern connects them
    val big1 = Tp(V("b"), C("inDoc"), V("d"))
    val sel  = Tp(V("a"), C("category"), C("PER"))
    val big2 = Tp(V("a"), C("inDoc"), V("d"))
    assert(Pattern.orderBgp(Seq(big1, sel, big2), stats) === Seq(sel, big2, big1))
    // deterministic tie-break on caller position
    val t1 = Tp(V("x"), C("label"), V("l"))
    val t2 = Tp(V("x"), C("label"), V("m"))
    assert(Pattern.orderBgp(Seq(t1, t2), stats) === Seq(t1, t2))
    assert(Pattern.orderBgp(Seq(t2, t1), stats) === Seq(t2, t1))
    // genuinely disconnected BGP still yields its cartesian — cheapest first
    val island = Tp(V("q"), C("label"), V("l"))
    assert(Pattern.orderBgp(Seq(big1, island), stats) === Seq(island, big1))
    // an all-constant existence gate is connected anywhere and maximally cheap
    val gate = Tp(C("ent:1"), C("inDoc"), C("d1"))
    assert(Pattern.orderBgp(Seq(big1, gate), stats).head === gate)
  }

  test("stats-ordered fold: same bindings, no cartesian in the plan") {
    import graft.io.TableFormat
    val store = java.nio.file.Files.createTempDirectory("graft-statstore").toString + "/triples"
    TableFormat.savePartitioned(trip, store, partCol = "pred", keyCol = "subj",
      buckets = 4, stage = "triples")
    val loaded = TableFormat.load(spark, store)

    // manifest stats are the groupBy counts, read without a table scan
    val fromManifest = Pattern.predStatsFromManifest(store)
    assert(fromManifest === Pattern.predStats(trip))

    // adversarial order: two variable-disjoint patterns first
    val bad = Seq(
      Tp(V("b"), C("inDoc"), V("d")),
      Tp(V("a"), C("category"), C("PER")),
      Tp(V("a"), C("inDoc"), V("d")))
    val naive = Pattern.matchBgp(loaded, bad)
    val ordered = Pattern.matchBgp(loaded, bad, stats = Some(fromManifest))
    // identical bindings, identical caller-order output columns
    assert(ordered.columns.toSeq === naive.columns.toSeq)
    assert(ordered.as[(String, String, String)].collect().toSet ===
      naive.as[(String, String, String)].collect().toSet)
    // the stats fold joins selective-first: its DEEPEST join is seeded by the
    // category=PER scan, where the naive fold's deepest join is inDoc⋈inDoc
    // on d — the quadratic co-entity intermediate the reorder exists to avoid
    def deepestJoinScans(df: org.apache.spark.sql.DataFrame): Set[String] = {
      import org.apache.spark.sql.catalyst.plans.logical.Join
      val joins = df.queryExecution.optimizedPlan.collect { case j: Join => j }
      val deepest = joins.last // collect is pre-order; last = innermost
      // the pred constants filter each pattern's scan subtree
      Set("category", "inDoc", "label", "sameAs").filter(p =>
        (deepest.left.toString + deepest.right.toString).contains(p))
    }
    assert(deepestJoinScans(ordered) === Set("category", "inDoc"))
    assert(deepestJoinScans(naive) === Set("inDoc"))
    // and the fold itself never builds a condition-free cartesian: even with
    // Catalyst's ReorderJoin rescue rule excluded, the stats plan stays
    // cartesian-free while the naive fold's cross join becomes real
    val key = "spark.sql.optimizer.excludedRules"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, "org.apache.spark.sql.catalyst.optimizer.ReorderJoin")
    try {
      def hasCartesian(df: org.apache.spark.sql.DataFrame): Boolean = {
        val p = df.queryExecution.executedPlan.toString
        p.contains("CartesianProduct") || p.contains("BroadcastNestedLoopJoin")
      }
      assert(hasCartesian(Pattern.matchBgp(loaded, bad)))
      assert(!hasCartesian(Pattern.matchBgp(loaded, bad, stats = Some(fromManifest))))
    } finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None    => spark.conf.unset(key)
    }
  }
}
