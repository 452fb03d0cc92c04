package graft

import graft.kg.{Pattern, Sparql}
import graft.kg.Pattern.{C, Tp, V}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The query-string front end: every parsed form must equal the
  * programmatic [[Pattern]] call it claims to compile to, on the same
  * hand-enumerated store PatternSpec uses — plus parser-level error and
  * quoting behavior the algebra never sees. */
class SparqlSpec extends AnyFunSuite {
  lazy val spark = SparkTestBase.spark
  import spark.implicits._

  private lazy val trip = Seq(
    ("ent:1", "category", "PER", "d1"),
    ("ent:2", "category", "ORG", "d1"),
    ("ent:3", "category", "PER", "d2"),
    ("ent:1", "inDoc", "d1", "d1"),
    ("ent:2", "inDoc", "d1", "d1"),
    ("ent:1", "inDoc", "d2", "d2"),
    ("ent:3", "inDoc", "d2", "d2"),
    ("ent:1", "label", "alpha beta", "d1"), // space: needs quoting in queries
    ("ent:4", "sameAs", "ent:1", "d1")
  ).toDF("subj", "pred", "obj", "doc_id")

  test("SELECT DISTINCT compiles to the BGP join tree") {
    val got = Sparql.query(trip,
      "SELECT DISTINCT ?e ?d WHERE { ?e category PER . ?e inDoc ?d }")
      .as[(String, String)].collect().toSet
    val want = Pattern.matchBgp(trip, Seq(
        Tp(V("e"), C("category"), C("PER")), Tp(V("e"), C("inDoc"), V("d"))))
      .as[(String, String)].collect().toSet
    assert(got === want && want.nonEmpty)
  }

  test("SELECT without DISTINCT is multiset semantics; projection reorders") {
    // ent:1 is PER and in two docs → ?e alone repeats without DISTINCT
    val rows = Sparql.query(trip,
      "SELECT ?e WHERE { ?e category PER . ?e inDoc ?d }")
      .as[String].collect().toSeq
    assert(rows.count(_ == "ent:1") === 2)
    // projection can reorder and drop variables
    val cols = Sparql.query(trip,
      "SELECT ?d ?e WHERE { ?e inDoc ?d }").columns.toSeq
    assert(cols === Seq("d", "e"))
  }

  test("SELECT * binds first-appearance order; LIMIT applies") {
    val df = Sparql.query(trip, "SELECT * WHERE { ?e inDoc ?d }")
    assert(df.columns.toSeq === Seq("e", "d"))
    assert(Sparql.query(trip,
      "SELECT DISTINCT * WHERE { ?e inDoc ?d } LIMIT 2").count() === 2)
  }

  test("OPTIONAL / MINUS / FILTER EXISTS blocks compile to their operators") {
    val opt = Sparql.query(trip,
      "SELECT DISTINCT ?e ?c ?x WHERE { ?e category ?c OPTIONAL { ?x sameAs ?e } }")
      .as[(String, String, Option[String])].collect().toSet
    assert(opt === Pattern.matchBgpOpt(trip,
        Seq(Tp(V("e"), C("category"), V("c"))),
        Seq(Seq(Tp(V("x"), C("sameAs"), V("e")))))
      .as[(String, String, Option[String])].collect().toSet)
    assert(opt.contains(("ent:1", "PER", Some("ent:4"))))
    assert(opt.contains(("ent:2", "ORG", None)))

    val minus = Sparql.query(trip,
      "SELECT DISTINCT ?e WHERE { ?e category PER MINUS { ?x sameAs ?e } }")
      .as[String].collect().toSet
    assert(minus === Set("ent:3")) // ent:1 removed: it is an alias target

    val exists = Sparql.query(trip,
      "SELECT DISTINCT ?e WHERE { ?e category PER FILTER EXISTS { ?x sameAs ?e } }")
      .as[String].collect().toSet
    assert(exists === Set("ent:1"))
    val notExists = Sparql.query(trip,
      "SELECT DISTINCT ?e WHERE { ?e category PER FILTER NOT EXISTS { ?x sameAs ?e } }")
      .as[String].collect().toSet
    assert(notExists === Set("ent:3"))
    // duals tile
    assert((exists ++ notExists) === Set("ent:1", "ent:3"))
  }

  test("UNION form with different-domain branches") {
    val got = Sparql.query(trip,
      "SELECT DISTINCT ?a ?al WHERE { { ?a category PER } UNION { ?a sameAs ?al } }")
      .as[(String, Option[String])].collect().toSet
    assert(got === Set(
      ("ent:1", None), ("ent:3", None), ("ent:4", Some("ent:1"))))
  }

  test("quoted constants carry spaces and escapes") {
    val got = Sparql.query(trip,
      """SELECT DISTINCT ?e WHERE { ?e label "alpha beta" }""")
      .as[String].collect().toSeq
    assert(got === Seq("ent:1"))
    val got2 = Sparql.query(trip,
      """SELECT DISTINCT ?e WHERE { ?e label 'alpha beta' }""")
      .as[String].collect().toSeq
    assert(got2 === Seq("ent:1"))
  }

  test("ASK returns 1/0; CONSTRUCT instantiates the template") {
    assert(Sparql.query(trip, "ASK { ?e category PER }")
      .as[Long].collect().toSeq === Seq(1L))
    assert(Sparql.query(trip, "ASK WHERE { ?e category ZZZ }")
      .as[Long].collect().toSeq === Seq(0L))
    val g = Sparql.query(trip,
      "CONSTRUCT { ?al aliasOf ?a . ?al category ALIAS } WHERE { ?a sameAs ?al }")
      .as[(String, String, String)].collect().toSet
    assert(g === Pattern.construct(trip,
        Seq(Tp(V("a"), C("sameAs"), V("al"))),
        Seq(Tp(V("al"), C("aliasOf"), V("a")),
            Tp(V("al"), C("category"), C("ALIAS"))))
      .as[(String, String, String)].collect().toSet)
    // CONSTRUCT body may carry negation gates
    val g2 = Sparql.query(trip,
      "CONSTRUCT { ?e category UNALIASED } WHERE { ?e category PER FILTER NOT EXISTS { ?x sameAs ?e } }")
      .as[(String, String, String)].collect().toSet
    assert(g2 === Set(("ent:3", "category", "UNALIASED")))
  }

  test("aggregates: COUNT/COUNT DISTINCT/MIN/MAX with GROUP BY over the multiset") {
    // per-entity doc degree — the parsed twin of nemo_kg_degree's shape
    val deg = Sparql.query(trip,
      "SELECT ?e (COUNT(DISTINCT ?d) AS ?deg) WHERE { ?e inDoc ?d } GROUP BY ?e")
      .as[(String, Long)].collect().toMap
    assert(deg === Map("ent:1" -> 2L, "ent:2" -> 1L, "ent:3" -> 1L))
    // COUNT without DISTINCT counts the multiset (provenance duplicates)
    val n = Sparql.query(trip,
      "SELECT (COUNT(*) AS ?n) WHERE { ?s ?p ?o }").as[Long].head()
    assert(n === trip.count())
    // COUNT(?v) skips unbound OPTIONAL bindings, COUNT(*) keeps the rows
    val cnt = Sparql.query(trip,
      "SELECT (COUNT(?al) AS ?a) (COUNT(*) AS ?r) WHERE { ?e category PER OPTIONAL { ?x sameAs ?e . ?x sameAs ?al } }")
      .as[(Long, Long)].head()
    assert(cnt === ((1L, 2L))) // ent:1 aliased, ent:3 not
    // MIN/MAX over string bindings; global group (no GROUP BY)
    val mm = Sparql.query(trip,
      "SELECT (MIN(?e) AS ?lo) (MAX(?e) AS ?hi) WHERE { ?e category ?c }")
      .as[(String, String)].head()
    assert(mm === (("ent:1", "ent:3")))
  }

  test("ORDER BY / OFFSET page deterministically") {
    val asc = Sparql.query(trip,
      "SELECT DISTINCT ?e WHERE { ?e category ?c } ORDER BY ?e")
      .as[String].collect().toSeq
    assert(asc === Seq("ent:1", "ent:2", "ent:3"))
    val desc = Sparql.query(trip,
      "SELECT DISTINCT ?e WHERE { ?e category ?c } ORDER BY DESC(?e) LIMIT 2")
      .as[String].collect().toSeq
    assert(desc === Seq("ent:3", "ent:2"))
    val page = Sparql.query(trip,
      "SELECT DISTINCT ?e WHERE { ?e category ?c } ORDER BY ?e OFFSET 1 LIMIT 1")
      .as[String].collect().toSeq
    assert(page === Seq("ent:2"))
    // aggregate + order compose
    val top = Sparql.query(trip,
      "SELECT ?e (COUNT(DISTINCT ?d) AS ?deg) WHERE { ?e inDoc ?d } GROUP BY ?e ORDER BY DESC(?deg) ?e LIMIT 1")
      .as[(String, Long)].collect().toSeq
    assert(top === Seq(("ent:1", 2L)))
    // bare ?var keeps its case: under a case-sensitive session the sort
    // column must be the raw variable name, not the parser's uppercased peek
    val prev = spark.conf.get("spark.sql.caseSensitive")
    spark.conf.set("spark.sql.caseSensitive", "true")
    try {
      val mixed = Sparql.query(trip,
        "SELECT DISTINCT ?myEnt WHERE { ?myEnt category ?c } ORDER BY ?myEnt")
        .as[String].collect().toSeq
      assert(mixed === Seq("ent:1", "ent:2", "ent:3"))
    } finally spark.conf.set("spark.sql.caseSensitive", prev)
  }

  test("property paths in the predicate position compile to the path algebra") {
    val chain = Seq(
      ("a", "p", "b"), ("b", "q", "c"), ("x", "p", "a"), ("q1", "r", "q2")
    ).toDF("subj", "pred", "obj")
    // closure p+ == programmatic pathPlus over the family
    val plus = Sparql.query(chain, "SELECT ?s ?t WHERE { ?s p+ ?t }")
      .as[(String, String)].collect().toSet
    assert(plus === Pattern.predPathPlus(chain, "p")
      .as[(String, String)].collect().toSet)
    assert(plus === Set(("a", "b"), ("x", "a"), ("x", "b")))
    // sequence p/q: one middle-node hop
    assert(Sparql.query(chain, "SELECT ?s ?t WHERE { ?s p/q ?t }")
      .as[(String, String)].collect().toSet === Set(("a", "c")))
    // alternation + closure crossing direction changes: (p|^p)+
    val sym = Sparql.query(chain, "SELECT DISTINCT ?s ?t WHERE { ?s (p|^p)+ ?t }")
      .as[(String, String)].collect().toSet
    assert(sym === Pattern.predSymPathPlus(chain, "p")
      .as[(String, String)].collect().toSet)
    assert(sym.contains(("b", "x"))) // b→a backwards, a→x backwards
    // inverse alone
    assert(Sparql.query(chain, "SELECT ?s ?t WHERE { ?s ^q ?t }")
      .as[(String, String)].collect().toSet === Set(("c", "b")))
    // star: includes the zero-length identity over the node universe
    val star = Sparql.query(chain, "SELECT ?s ?t WHERE { ?s q* ?t }")
      .as[(String, String)].collect().toSet
    assert(star.contains(("b", "c")) && star.contains(("q1", "q1")) &&
      star.contains(("a", "a")))
    // a path pattern JOINS with plain patterns on shared variables,
    // constants bind the endpoint, and the multi-hop answer survives gates
    val joined = Sparql.query(chain,
      "SELECT DISTINCT ?t WHERE { x p+ ?t . ?t q ?c }")
      .as[String].collect().toSeq
    assert(joined === Seq("b")) // x reaches a,b; only b has a q-edge
    // path syntax errors are loud
    assert(intercept[IllegalArgumentException](
      Sparql.query(chain, "SELECT ?s ?t WHERE { ?s (p|q ?t }"))
      .getMessage.contains("path"))
    // paths rejected inside groups
    assert(intercept[IllegalArgumentException](Sparql.query(chain,
      "SELECT ?s WHERE { ?s p ?t OPTIONAL { ?s q+ ?u } }"))
      .getMessage.contains("required pattern only"))
  }

  test("(p|^p)+ takes as many Spark jobs over a 64-edge chain as over one edge") {
    // connected components over a broadcast-sized family run on the driver:
    // a distributed fixpoint loop would add rounds as the diameter grows
    val q = "SELECT DISTINCT ?src ?dst WHERE { ?src (sameAs|^sameAs)+ ?dst }"
    def jobs(edges: Int): Long = {
      // read back from parquet, like the store: the optimizer folds an
      // in-memory one-row relation's DISTINCTs away, which would cost the
      // one-edge run a job for a reason unrelated to the closure
      val dir = java.nio.file.Files.createTempDirectory("sameas").resolve("t").toString
      (0 until edges).map(i => (s"e$i", "sameAs", s"e${i + 1}"))
        .toDF("subj", "pred", "obj").write.parquet(dir)
      val chain = spark.read.parquet(dir)
      val n = new java.util.concurrent.atomic.AtomicLong
      val counter = new org.apache.spark.scheduler.SparkListener {
        override def onJobEnd(e: org.apache.spark.scheduler.SparkListenerJobEnd): Unit =
          n.incrementAndGet()
      }
      org.apache.spark.ListenerBusDrain.drain(spark.sparkContext)
      spark.sparkContext.addSparkListener(counter)
      try {
        // one component of edges + 1 nodes: every ordered pair, (x, x) included
        assert(Sparql.query(chain, q).collect().length === (edges + 1) * (edges + 1))
        org.apache.spark.ListenerBusDrain.drain(spark.sparkContext)
        n.get
      } finally spark.sparkContext.removeSparkListener(counter)
    }
    assert(jobs(64) === jobs(1))
  }

  test("aggregate validation errors are loud") {
    def err(q: String): String =
      intercept[IllegalArgumentException](Sparql.query(trip, q)).getMessage
    assert(err("SELECT ?e (COUNT(?d) AS ?n) WHERE { ?e inDoc ?d }")
      .contains("must appear in GROUP BY"))
    assert(err("SELECT (FOO(?d) AS ?n) WHERE { ?e inDoc ?d }")
      .contains("unknown aggregate"))
    assert(err("SELECT (MIN(*) AS ?n) WHERE { ?e inDoc ?d }")
      .contains("not defined"))
    assert(err("SELECT (COUNT(?zz) AS ?n) WHERE { ?e inDoc ?d }")
      .contains("not bound"))
  }

  test("GRAPH binds doc provenance as the named-graph dimension; joins enforce same-graph") {
    // variable graph: provenance projected as a binding
    val got = Sparql.query(trip,
      "SELECT DISTINCT ?g ?e WHERE { GRAPH ?g { ?e category PER } }")
      .as[(String, String)].collect().toSet
    assert(got === Set(("d1", "ent:1"), ("d2", "ent:3")))
    // shared graph variable joins on provenance: pairs co-asserted by ONE doc
    val pairs = Sparql.query(trip,
      "SELECT DISTINCT ?g ?a ?b WHERE { GRAPH ?g { ?a inDoc ?x . ?b inDoc ?y } . FILTER ( ?b != ?a ) }")
      .as[(String, String, String)].collect().toSet
    assert(pairs === Set(
      ("d1", "ent:1", "ent:2"), ("d1", "ent:2", "ent:1"),
      ("d2", "ent:1", "ent:3"), ("d2", "ent:3", "ent:1")))
    // constant graph: provenance filter, no extra binding
    val inD2 = Sparql.query(trip,
      "SELECT DISTINCT ?e WHERE { GRAPH d2 { ?e inDoc ?d } }")
      .as[String].collect().toSet
    assert(inD2 === Set("ent:1", "ent:3"))
    // OPTIONAL composes OUTSIDE the graph scope (matches any provenance)
    val withAl = Sparql.query(trip,
      "SELECT DISTINCT ?g ?e ?al WHERE { GRAPH ?g { ?e category PER } OPTIONAL { ?al sameAs ?e } }")
      .collect().map(r => (r.getString(0), r.getString(1), Option(r.getString(2)).getOrElse(""))).toSet
    assert(withAl === Set(("d1", "ent:1", "ent:4"), ("d2", "ent:3", "")))
    // keyword only when shaped like a scope (GRAPH term {): a bareword
    // 'graph' subject in a plain pattern still parses as a constant
    assert(Sparql.query(trip, "SELECT ?o WHERE { graph inDoc ?o }")
      .collect().isEmpty)
    // guards: no provenance column → loud; paths inside GRAPH → loud
    val noProv = trip.select("subj", "pred", "obj")
    assert(intercept[IllegalArgumentException] {
      Sparql.query(noProv, "SELECT ?g WHERE { GRAPH ?g { ?s category ?o } }").collect()
    }.getMessage.contains("provenance"))
    assert(intercept[IllegalArgumentException] {
      Sparql.query(trip, "SELECT ?g WHERE { GRAPH ?g { ?s sameAs+ ?o } }")
    }.getMessage.contains("path"))
  }

  test("HAVING filters aggregated solutions by key or alias") {
    // ent:1 is in two docs, ent:2/ent:3 in one each
    val got = Sparql.query(trip,
      "SELECT ?e ( COUNT ( * ) AS ?n ) WHERE { ?e inDoc ?d } GROUP BY ?e HAVING ( ?n >= 2 )")
      .as[(String, Long)].collect().toSet
    assert(got === Set(("ent:1", 2L)))
    // two HAVINGs conjoin; key operands work too
    val both = Sparql.query(trip,
      "SELECT ?e ( COUNT ( * ) AS ?n ) WHERE { ?e inDoc ?d } GROUP BY ?e HAVING ( ?n >= 1 ) HAVING ( ?e != ent:1 )")
      .as[(String, Long)].collect().toSet
    assert(both === Set(("ent:2", 1L), ("ent:3", 1L)))
    // an UNPROJECTED group key can still gate (valid SPARQL: the key need
    // not be selected) — counts of the two non-ent:1 groups survive
    val unproj = Sparql.query(trip,
      "SELECT ( COUNT ( * ) AS ?n ) WHERE { ?e inDoc ?d } GROUP BY ?e HAVING ( ?e != ent:1 )")
      .as[Long].collect().sorted.toSeq
    assert(unproj === Seq(1L, 1L))
    // guards: unknown alias, non-aggregating SELECT
    assert(intercept[IllegalArgumentException](Sparql.query(trip,
      "SELECT ?e ( COUNT ( * ) AS ?n ) WHERE { ?e inDoc ?d } GROUP BY ?e HAVING ( ?zz > 1 )"))
      .getMessage.contains("HAVING variable"))
    assert(intercept[IllegalArgumentException](Sparql.query(trip,
      "SELECT ?e WHERE { ?e inDoc ?d } HAVING ( ?e != ent:1 )"))
      .getMessage.contains("aggregating"))
  }

  test("BIND extends solutions; CONCAT composes; guards are loud") {
    val got = Sparql.query(trip,
      "SELECT DISTINCT ?e ?k WHERE { ?e category ?c . BIND ( CONCAT ( ?c , \"/\" , ?e ) AS ?k ) }")
      .as[(String, String)].collect().toSet
    assert(got === Set(("ent:1", "PER/ent:1"), ("ent:2", "ORG/ent:2"),
      ("ent:3", "PER/ent:3")))
    // single-operand form copies a binding; later filters see the target
    val copy = Sparql.query(trip,
      "SELECT DISTINCT ?cc WHERE { ?e category ?c . BIND ( ?c AS ?cc ) FILTER ( ?cc = PER ) }")
      .as[String].collect().toSet
    assert(copy === Set("PER"))
    // SELECT * includes bind targets after the pattern vars
    assert(Sparql.query(trip,
      "SELECT * WHERE { ?e category ?c . BIND ( ?e AS ?e2 ) }").columns.toSeq
      === Seq("e", "c", "e2"))
    assert(intercept[IllegalArgumentException](Sparql.query(trip,
      "SELECT ?e WHERE { ?e category ?c . BIND ( ?c AS ?e ) }").collect())
      .getMessage.contains("already bound"))
    assert(intercept[IllegalArgumentException](Sparql.query(trip,
      "SELECT ?e WHERE { ?e category ?c . BIND ( ?zz AS ?k ) }").collect())
      .getMessage.contains("not bound"))
  }

  test("GROUP_CONCAT sorts for determinism; SAMPLE is the deterministic pick; separator forms") {
    val got = Sparql.query(trip,
      "SELECT ?d ( GROUP_CONCAT ( ?e ) AS ?ents ) ( SAMPLE ( ?e ) AS ?one ) WHERE { ?e inDoc ?d } GROUP BY ?d")
      .as[(String, String, String)].collect().toSet
    assert(got === Set(("d1", "ent:1,ent:2", "ent:1"), ("d2", "ent:1,ent:3", "ent:1")))
    // custom separator; DISTINCT composes before the sort (multiset input:
    // the category join duplicates nothing here, so use inDoc ×2 patterns)
    val sep = Sparql.query(trip,
      "SELECT ( GROUP_CONCAT ( DISTINCT ?e , \"|\" ) AS ?all ) WHERE { ?e inDoc ?d }")
      .as[String].collect().head
    assert(sep === "ent:1|ent:2|ent:3")
    // non-distinct keeps multiset copies (ent:1 is in two docs)
    val multi = Sparql.query(trip,
      "SELECT ( GROUP_CONCAT ( ?e ) AS ?all ) WHERE { ?e inDoc ?d }")
      .as[String].collect().head
    assert(multi === "ent:1,ent:1,ent:2,ent:3")
    assert(intercept[IllegalArgumentException](Sparql.query(trip,
      "SELECT ( GROUP_CONCAT ( ?e , ?s ) AS ?x ) WHERE { ?e inDoc ?d }"))
      .getMessage.contains("separator must be a constant"))
  }

  test("FILTER connectives: || and && with precedence, grouping, REGEX; HAVING takes them") {
    val or = Sparql.query(trip,
      "SELECT DISTINCT ?e ?c ?d WHERE { ?e category ?c . ?e inDoc ?d . FILTER ( ?c = ORG || ?d = d2 ) }")
      .as[(String, String, String)].collect().toSet
    assert(or === Set(("ent:2", "ORG", "d1"), ("ent:1", "PER", "d2"),
      ("ent:3", "PER", "d2")))
    val and = Sparql.query(trip,
      "SELECT DISTINCT ?e WHERE { ?e category ?c . ?e inDoc ?d . FILTER ( ?c = PER && ?d = d1 ) }")
      .as[String].collect().toSet
    assert(and === Set("ent:1"))
    // && binds tighter than ||: ORG-anywhere OR (PER on d2)
    val prec = Sparql.query(trip,
      "SELECT DISTINCT ?e WHERE { ?e category ?c . ?e inDoc ?d . FILTER ( ?c = ORG || ?c = PER && ?d = d2 ) }")
      .as[String].collect().toSet
    assert(prec === Set("ent:1", "ent:2", "ent:3"))
    // explicit parens override: (ORG or PER) AND d2 — drops ent:2
    val grouped = Sparql.query(trip,
      "SELECT DISTINCT ?e WHERE { ?e category ?c . ?e inDoc ?d . FILTER ( ( ?c = ORG || ?c = PER ) && ?d = d2 ) }")
      .as[String].collect().toSet
    assert(grouped === Set("ent:1", "ent:3"))
    // REGEX composes as an atom
    val rx = Sparql.query(trip,
      "SELECT DISTINCT ?e WHERE { ?e category ?c . FILTER ( REGEX ( ?e , \"[13]$\" ) && ?c = PER ) }")
      .as[String].collect().toSet
    assert(rx === Set("ent:1", "ent:3"))
    // HAVING shares the expression grammar
    val hav = Sparql.query(trip,
      "SELECT ?e ( COUNT ( * ) AS ?n ) WHERE { ?e inDoc ?d } GROUP BY ?e HAVING ( ?n >= 2 || ?e = ent:3 )")
      .as[(String, Long)].collect().toSet
    assert(hav === Set(("ent:1", 2L), ("ent:3", 1L)))
  }

  test("subqueries join the group on shared projected variables") {
    // aggregate-inside-a-pattern: categories of entities in ≥2 docs
    val got = Sparql.query(trip,
      "SELECT DISTINCT ?e ?c ?n WHERE { ?e category ?c . " +
        "{ SELECT ?e ( COUNT ( * ) AS ?n ) WHERE { ?e inDoc ?d } GROUP BY ?e } " +
        "FILTER ( ?n >= 2 ) }")
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
    assert(got === Set(("ent:1", "PER", 2L)))
    // subquery HAVING composes (same restriction pushed inside)
    val having = Sparql.query(trip,
      "SELECT DISTINCT ?e ?c WHERE { ?e category ?c . " +
        "{ SELECT ?e ( COUNT ( * ) AS ?n ) WHERE { ?e inDoc ?d } GROUP BY ?e HAVING ( ?n >= 2 ) } }")
      .as[(String, String)].collect().toSet
    assert(having === Set(("ent:1", "PER")))
    // guards: no shared variable; SELECT * subquery; alias colliding with
    // an outer binding (silent bigint-vs-string coercion otherwise); a
    // shared variable bound only by an OPTIONAL (SQL NULL-never-joins
    // would silently drop what SPARQL's unbound-compatible rule keeps)
    assert(intercept[IllegalArgumentException](Sparql.query(trip,
      "SELECT ?e WHERE { ?e category ?c . { SELECT ?q WHERE { ?q sameAs ?w } } }").collect())
      .getMessage.contains("shares no variable"))
    assert(intercept[IllegalArgumentException](Sparql.query(trip,
      "SELECT ?e WHERE { ?e category ?c . { SELECT * WHERE { ?e sameAs ?w } } }"))
      .getMessage.contains("no *"))
    assert(intercept[IllegalArgumentException](Sparql.query(trip,
      "SELECT ?e WHERE { ?e label ?n . { SELECT ?e ( COUNT ( * ) AS ?n ) WHERE { ?e inDoc ?d } GROUP BY ?e } }").collect())
      .getMessage.contains("collides"))
    assert(intercept[IllegalArgumentException](Sparql.query(trip,
      "SELECT ?e WHERE { ?e category ?c OPTIONAL { ?x sameAs ?e } " +
        "{ SELECT ?x ( COUNT ( * ) AS ?cnt ) WHERE { ?x inDoc ?d } GROUP BY ?x } }").collect())
      .getMessage.contains("OPTIONAL-bound"))
  }

  test("parse errors are loud and specific") {
    def err(q: String): String =
      intercept[IllegalArgumentException](Sparql.query(trip, q)).getMessage
    assert(err("FOO ?a WHERE { ?a b ?c }").contains("expected SELECT"))
    assert(err("SELECT WHERE { ?a b ?c }").contains("SELECT needs"))
    assert(err("SELECT ?z WHERE { ?a b ?c }").contains("not bound"))
    assert(err("SELECT ?a WHERE { ?a b }").contains("unexpected end")
      || err("SELECT ?a WHERE { ?a b }").contains("expected"))
    assert(err("SELECT ?a WHERE { { ?a b ?c } }").contains("UNION"))
    assert(err("SELECT ?a WHERE { ?a b ?c } trailing").contains("trailing"))
    assert(err("SELECT ?a WHERE { }").contains("empty graph pattern"))
    // ill-designed groups rejected by the algebra's own require
    assert(intercept[IllegalArgumentException](Sparql.query(trip,
      "SELECT ?a WHERE { ?a category PER MINUS { ?x label ?y } }"))
      .getMessage.contains("shares no variable"))
  }

  test("matchPattern composes OPTIONAL with negation gates in one plan") {
    // PER entities, alias-decorated, minus those in d1 — all three boundary
    // kinds in one call, cross-checked against manual composition
    val got = Pattern.matchPattern(trip,
        bgp = Seq(Tp(V("e"), C("category"), C("PER"))),
        optionals = Seq(Seq(Tp(V("x"), C("sameAs"), V("e")))),
        notExists = Seq(Seq(Tp(V("e"), C("inDoc"), C("d1")))))
      .as[(String, Option[String])].collect().toSet
    assert(got === Set(("ent:3", None))) // ent:1 is in d1; ent:3 unaliased
    val parsed = Sparql.query(trip,
      "SELECT DISTINCT ?e ?x WHERE { ?e category PER OPTIONAL { ?x sameAs ?e } FILTER NOT EXISTS { ?e inDoc d1 } }")
      .as[(String, Option[String])].collect().toSet
    assert(parsed === got)
  }

  test("stats make query text order irrelevant to the plan, not the bindings") {
    val stats = Pattern.predStats(trip)
    // adversarial text order: the first two patterns share no variable
    val q = "SELECT DISTINCT ?b ?a ?d WHERE { ?b inDoc ?d . ?a category PER . ?a inDoc ?d }"
    val plain = Sparql.query(trip, q)
    val ordered = Sparql.query(trip, q, stats = Some(stats))
    assert(ordered.columns.toSeq === plain.columns.toSeq)
    assert(ordered.as[(String, String, String)].collect().toSet ===
      plain.as[(String, String, String)].collect().toSet)
    val planStr = ordered.queryExecution.executedPlan.toString
    assert(!planStr.contains("CartesianProduct") &&
      !planStr.contains("BroadcastNestedLoopJoin"))
    // stats reach every query form: a path-bearing body and a UNION body
    // bind identically with and without them
    val pathQ = "SELECT DISTINCT ?x WHERE { ?x sameAs+ ?y . ?y category PER }"
    assert(Sparql.query(trip, pathQ, stats = Some(stats)).as[String].collect().toSet ===
      Sparql.query(trip, pathQ).as[String].collect().toSet)
    val unionQ = "SELECT DISTINCT ?e WHERE { { ?e category PER } UNION { ?e category ORG } }"
    assert(Sparql.query(trip, unionQ, stats = Some(stats)).as[String].collect().toSet ===
      Sparql.query(trip, unionQ).as[String].collect().toSet)
  }

  test("value FILTERs: comparisons, regex, numeric coercion, group-end scope") {
    // string inequality (var vs const) — drops the d1 bindings
    assert(Sparql.query(trip,
        "SELECT DISTINCT ?e ?d WHERE { ?e inDoc ?d FILTER ( ?d != d1 ) }")
      .as[(String, String)].collect().toSet ===
      Set(("ent:1", "d2"), ("ent:3", "d2")))
    // var-vs-var compare rides the same solution frame
    assert(Sparql.query(trip,
        "SELECT DISTINCT ?a ?b WHERE { ?a sameAs ?b FILTER ( ?a != ?b ) }")
      .as[(String, String)].collect().toSet === Set(("ent:4", "ent:1")))
    // regex, both spellings, partial match like SPARQL's regex()
    assert(Sparql.query(trip,
        "SELECT DISTINCT ?e WHERE { ?e category ?c FILTER REGEX ( ?c , \"^P\" ) }")
      .as[String].collect().toSet === Set("ent:1", "ent:3"))
    assert(Sparql.query(trip,
        "SELECT DISTINCT ?e WHERE { ?e category ?c FILTER ( REGEX ( ?c , 'ER' ) ) }")
      .as[String].collect().toSet === Set("ent:1", "ent:3"))
    // a numeric literal coerces the comparison to double; a non-numeric
    // binding casts to NULL and DROPS (SPARQL's type-error rule), so only
    // numerically-comparable values survive
    val num = Seq(("a", "score", "10"), ("b", "score", "9"), ("c", "score", "x"))
      .toDF("subj", "pred", "obj")
    assert(Sparql.query(num,
        "SELECT ?s WHERE { ?s score ?v FILTER ( ?v >= 10 ) }")
      .as[String].collect().toSet === Set("a")) // lexicographic would keep "9" and "x"
    // group-end scope: an OPTIONAL-unbound variable compares NULL → row
    // drops (ent:3 has no alias; ent:1's alias ent:4 passes the filter)
    assert(Sparql.query(trip,
        "SELECT DISTINCT ?e ?x WHERE { ?e category PER OPTIONAL { ?x sameAs ?e } FILTER ( ?x != zzz ) }")
      .as[(String, String)].collect().toSet === Set(("ent:1", "ent:4")))
    // loud errors: unbound filter var, variable regex pattern, unknown op
    for (bad <- Seq(
        "SELECT ?e WHERE { ?e category PER FILTER ( ?nope = x ) }",
        "SELECT ?e WHERE { ?e category ?c FILTER REGEX ( ?c , ?c ) }",
        "SELECT ?e WHERE { ?e category ?c FILTER ( ?c LIKE x ) }")) {
      assertThrows[IllegalArgumentException](Sparql.query(trip, bad).collect())
    }
  }

  test("VALUES restricts a bound variable to an inline constant list") {
    assert(Sparql.query(trip,
        "SELECT DISTINCT ?e ?d WHERE { ?e inDoc ?d . VALUES ?e { ent:1 ent:3 nope } }")
      .as[(String, String)].collect().toSet ===
      Set(("ent:1", "d1"), ("ent:1", "d2"), ("ent:3", "d2")))
    // zero-row VALUES means no solutions, not all solutions
    assert(Sparql.query(trip,
        "SELECT ?e WHERE { ?e category PER . VALUES ?e { } }").count() === 0L)
    // the variable must be bound by the pattern; entries must be constants
    assertThrows[IllegalArgumentException](Sparql.query(trip,
      "SELECT ?e WHERE { ?e category PER . VALUES ?x { ent:1 } }").collect())
    assertThrows[IllegalArgumentException](Sparql.query(trip,
      "SELECT ?e WHERE { ?e category PER . VALUES ?e { ?y } }"))
  }

  test("SUM and AVG aggregate try_cast-double over string bindings") {
    val num = Seq(
      ("a", "score", "10"), ("a", "score", "4"), ("a", "score", "x"),
      ("b", "score", "7"), ("b", "score", "7")).toDF("subj", "pred", "obj")
    val got = Sparql.query(num,
      "SELECT ?s ( SUM ( ?v ) AS ?total ) ( AVG ( ?v ) AS ?mean ) WHERE { ?s score ?v } GROUP BY ?s")
      .as[(String, Double, Double)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    assert(got("a") === ((14.0, 7.0))) // "x" casts NULL and is skipped
    assert(got("b") === ((14.0, 7.0))) // multiset: the duplicate 7 counts twice
    // SUM DISTINCT sums the distinct values
    assert(Sparql.query(num,
        "SELECT ( SUM ( DISTINCT ?v ) AS ?t ) WHERE { b score ?v }")
      .as[Double].collect().toSeq === Seq(7.0))
    assertThrows[IllegalArgumentException](Sparql.query(num,
      "SELECT ( AVG ( DISTINCT ?v ) AS ?t ) WHERE { ?s score ?v }"))
  }

  test("DESCRIBE returns every triple touching the described nodes") {
    // constant form: subject AND object appearances
    val one = Sparql.query(trip, "DESCRIBE ent:1")
      .as[(String, String, String)].collect().toSet
    assert(one === Set(
      ("ent:1", "category", "PER"), ("ent:1", "inDoc", "d1"),
      ("ent:1", "inDoc", "d2"), ("ent:1", "label", "alpha beta"),
      ("ent:4", "sameAs", "ent:1"))) // ent:1 as OBJECT
    // several constants union their descriptions
    val two = Sparql.query(trip, "DESCRIBE ent:2 d2")
      .as[(String, String, String)].collect().toSet
    assert(two === Set(
      ("ent:2", "category", "ORG"), ("ent:2", "inDoc", "d1"),
      ("ent:1", "inDoc", "d2"), ("ent:3", "inDoc", "d2")))
    // variable form: nodes come from the pattern's bindings
    val per = Sparql.query(trip, "DESCRIBE ?a WHERE { ?a category PER }")
      .as[(String, String, String)].collect().toSet
    assert(per === trip.select("subj", "pred", "obj")
      .filter(col("subj").isin("ent:1", "ent:3") || col("obj").isin("ent:1", "ent:3"))
      .as[(String, String, String)].collect().toSet)
    // loud errors: var without WHERE, var not bound, const with WHERE
    for (bad <- Seq(
        "DESCRIBE ?a",
        "DESCRIBE ?z WHERE { ?a category PER }",
        "DESCRIBE ent:1 WHERE { ?a category PER }")) {
      assertThrows[IllegalArgumentException](Sparql.query(trip, bad).collect())
    }
  }

  test("metadata-only COUNT answers from stats without scanning the store") {
    val stats = Pattern.predStats(trip)
    val q = "SELECT (COUNT(*) AS ?n) WHERE { ?s inDoc ?o }"
    val fast = Sparql.query(trip, q, stats = Some(stats))
    // same number as the scan path, and the alias survives
    assert(fast.columns.toSeq === Seq("n"))
    assert(fast.as[Long].collect().toSeq ===
      Sparql.query(trip, q).as[Long].collect().toSeq)
    // the fast plan never touches the triple table: its only leaf is Range
    val leaves = fast.queryExecution.optimizedPlan.collectLeaves()
    assert(leaves.sizeIs == 1 && leaves.head.toString.contains("Range"))
    // an absent predicate counts zero; count semantics, not empty result
    assert(Sparql.query(trip, "SELECT (COUNT(*) AS ?n) WHERE { ?s nope ?o }",
      stats = Some(stats)).as[Long].collect().toSeq === Seq(0L))
    // guard rails: every shape outside the identity falls through to the scan
    for (g <- Seq(
        "SELECT (COUNT(DISTINCT ?s) AS ?n) WHERE { ?s inDoc ?o }",  // distinct
        "SELECT (COUNT(*) AS ?n) WHERE { ?s inDoc ?o . ?s category PER }", // 2 patterns
        "SELECT (COUNT(*) AS ?n) WHERE { ?s inDoc d1 }",            // const obj
        "SELECT (COUNT(*) AS ?n) WHERE { ?s ?p ?o }")) {            // var pred
      val df = Sparql.query(trip, g, stats = Some(stats))
      assert(!df.queryExecution.optimizedPlan.collectLeaves()
        .forall(_.toString.contains("Range")), g)
      assert(df.as[Long].collect().toSeq ===
        Sparql.query(trip, g).as[Long].collect().toSeq, g)
    }
  }
}
