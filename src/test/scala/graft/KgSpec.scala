package graft

import graft.kg.Canonicalize
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import scala.reflect.runtime.universe.TypeTag
import scala.util.Random

class KgSpec extends AnyFunSuite {
  lazy val spark = SparkTestBase.spark
  import spark.implicits._

  /** Union-find oracle: each node maps to its component's minimum under
    * `ord`. */
  private def ufComponents[T](edges: Seq[(T, T)])(implicit ord: Ordering[T]): Map[T, T] = {
    val parent = scala.collection.mutable.HashMap[T, T]()
    def find(x: T): T = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    def union(a: T, b: T): Unit = { val (ra, rb) = (find(a), find(b)); if (ra != rb) parent(ord.max(ra, rb)) = ord.min(ra, rb) }
    edges.foreach { case (a, b) => union(a, b) }
    val nodes = edges.flatMap(e => Seq(e._1, e._2)).distinct
    // min-id labeling
    val byRoot = nodes.groupBy(find)
    byRoot.flatMap { case (_, ns) => val m = ns.min; ns.map(_ -> m) }.toMap
  }

  /** Spark's string ordering: unsigned UTF-8 bytes, which differs from
    * `String.compareTo` (UTF-16 code units) above the BMP. */
  private val utf8Order: Ordering[String] = (a: String, b: String) =>
    java.util.Arrays.compareUnsigned(a.getBytes("UTF-8"), b.getBytes("UTF-8"))

  /** Components of `edges` on the driver path (default broadcast threshold)
    * and on the distributed loop (threshold -1): both must equal the
    * union-find oracle, with one output schema. */
  private def assertBothPaths[T: TypeTag](edges: Seq[(T, T)])(implicit ord: Ordering[T]): Map[T, T] = {
    val df = edges.toDF("src", "dst")
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val driver = Canonicalize.connectedComponents(spark, df)
    assert(driver.isLocal, "a broadcast-sized edge set takes the driver path")
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, "-1")
    val loop = try Canonicalize.connectedComponents(spark, df)
      finally prev.fold(spark.conf.unset(key))(spark.conf.set(key, _))
    assert(!loop.isLocal, "threshold -1 forces the distributed loop")
    assert(driver.schema === loop.schema)
    val expect = ufComponents(edges)
    for (df <- Seq(driver, loop)) {
      val got = df.as[(T, T)].collect()
      assert(got.length === expect.size && got.toMap === expect)
    }
    expect
  }

  /** `canonicalize` of `dict` on the driver path (default broadcast
    * threshold) and on the star-edge loop (threshold -1): one schema and the
    * same rows. Returns entity_id → canonical_id. */
  private def assertCanonicalizeBothPaths(dict: org.apache.spark.sql.DataFrame): Map[Long, Long] = {
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val driver = Canonicalize.canonicalize(spark, dict)
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, "-1")
    val (loopSchema, loopRows) = try {
      val loop = Canonicalize.canonicalize(spark, dict)
      (loop.schema, loop.collect().toSeq)
    } finally prev.fold(spark.conf.unset(key))(spark.conf.set(key, _))
    assert(driver.schema === loopSchema)
    def multiset(rows: Seq[org.apache.spark.sql.Row]) = rows.groupMapReduce(identity)(_ => 1)(_ + _)
    val driverRows = driver.collect().toSeq
    assert(multiset(driverRows) === multiset(loopRows))
    driver.select("entity_id", "canonical_id").as[(Long, Long)].collect().toMap
  }

  test("canonicalize: driver path and star-edge loop give the same entity table") {
    val fixture = assertCanonicalizeBothPaths(
      spark.createDataset(graft.fixtures.Fixtures.entityDictionary()).toDF())
    assert(fixture.exists { case (e, c) => e != c }, "the fixture dictionary merges entities")
    val r = new Random(43)
    val aliases = Vector("acme", "acme corp", "zebra", "zebra park", "ACME", "  acme  ", "x y z", "omega")
    for (_ <- 0 until 12) {
      val n = 1 + r.nextInt(25)
      val dict = (0 until n).map { i =>
        // repeated aliases inside an entity give duplicate block rows
        val as = Seq.fill(1 + r.nextInt(3))(aliases(r.nextInt(aliases.size)))
        (r.nextInt(1000).toLong * 1000 + i, s"e$i", as, if (r.nextBoolean()) "ORG" else "LOC")
      }.toDF("entity_id", "canonical", "aliases", "category")
      assertCanonicalizeBothPaths(dict)
    }
  }

  test("property: connected components equal union-find oracle on 20 random graphs") {
    val r = new Random(31)
    for (_ <- 0 until 20) {
      val n = 5 + r.nextInt(30)
      val nEdges = r.nextInt(40)
      val edges = (0 until nEdges).map(_ => (r.nextInt(n).toLong, r.nextInt(n).toLong)).distinct
      if (edges.nonEmpty) assertBothPaths(edges)
    }
  }

  test("connected components on a long chain and an empty edge set (pointer-jump paths)") {
    // 120-node chain: diameter 119 — plain min-propagation would need 120
    // rounds and hit maxIter=50; pointer jumping closes in ~log2(119)+1
    val got = assertBothPaths((0L until 119L).map(i => (i, i + 1)))
    assert(got.size === 120 && got.values.forall(_ === 0L))
    // empty edge set (clean corpus): converges immediately, returns no rows
    assert(assertBothPaths(Seq.empty[(Long, Long)]).isEmpty)
  }

  test("connected components over STRING ids: chain converges via the generic detector") {
    // decimal-cast of a string id is NULL (non-ANSI), so the numeric sum
    // detector would read Σ=0 every round and declare convergence after one
    // iteration — this chain needs several rounds, catching exactly that
    implicit val ord: Ordering[String] = utf8Order
    val got = assertBothPaths(Seq(("a", "b"), ("b", "c"), ("c", "d"), ("d", "e"), ("e", "f")))
    assert(got.size === 6 && got.values.forall(_ === "a"))
    // component label is the LEXICOGRAPHIC min for string ids
    assert(assertBothPaths(Seq(("doc-7", "doc-100"), ("doc-100", "doc-07"))).values.toSet ===
      Set("doc-07"))
    // ...in UTF-8 byte order: U+FF21 (EF BC A1) sorts before U+1F600
    // (F0 9F 98 80), though String.compareTo puts the emoji's surrogate first
    assert("😀".compareTo("Ａ") < 0)
    assert(assertBothPaths(Seq(("Ａ", "😀"))) === Map("Ａ" -> "Ａ", "😀" -> "Ａ"))
  }

  test("connected components: self-loops, duplicate and reversed edges, IntegerType ids") {
    // a self-loop alone still makes its endpoint a node of its own component
    assert(assertBothPaths(Seq((5L, 5L), (2L, 3L), (3L, 3L))) ===
      Map(5L -> 5L, 2L -> 2L, 3L -> 2L))
    assert(assertBothPaths(Seq((1L, 2L), (2L, 1L), (1L, 2L), (4L, 3L), (3L, 4L), (4L, 3L))) ===
      Map(1L -> 1L, 2L -> 1L, 3L -> 3L, 4L -> 3L))
    val ints = Seq((7, 3), (3, 7), (9, 9), (3, 1), (20, 11))
    assert(assertBothPaths(ints) === Map(1 -> 1, 3 -> 1, 7 -> 1, 9 -> 9, 11 -> 11, 20 -> 11))
    assert(Canonicalize.connectedComponents(spark, ints.toDF("src", "dst")).schema("node").dataType ===
      org.apache.spark.sql.types.IntegerType)
  }

  test("fuzzy linking: near-miss surface reaches its entity through the block") {
    import org.apache.spark.sql.functions._
    val dict = Seq(
      (0L, "acme corporation", Seq("acme corporation"), "ORG"),
      (1L, "zebra park", Seq("zebra park"), "LOC"))
      .toDF("entity_id", "canonical", "aliases", "category")
    val mentions = Seq(
      ("d1", 0L, "acme corporation ltd", "ORG", 1, 0, "token", "t"), // near miss
      ("d1", 0L, "zebra park", "LOC", 1, 1, "token", "t"),           // exact
      ("d1", 0L, "unrelated thing", "ORG", 1, 2, "token", "t"))      // no block hit
      .toDF("doc_id", "sent_id", "surface", "category", "occ", "start", "level", "scenario")
    val linked = graft.kg.Linker.link(mentions, dict)
      .select("surface", "entity_id").as[(String, Long)].collect().toMap
    assert(linked("acme corporation ltd") === 0L) // jaccard 2/3 + cat 0.5 ≥ 0.6
    assert(linked("zebra park") === 1L)
    assert(!linked.contains("unrelated thing"))
  }

  test("canonicalize merges entities sharing an alias") {
    val dict = Seq(
      (0L, "acme corp", Seq("acme corp", "acme"), "ORG"),
      (1L, "acme inc", Seq("acme inc", "acme"), "ORG"),   // shares "acme" with 0
      (2L, "zebra", Seq("zebra"), "ANG"))
      .toDF("entity_id", "canonical", "aliases", "category")
    val out = Canonicalize.canonicalize(spark, dict)
      .select("entity_id", "canonical_id").as[(Long, Long)].collect().toMap
    assert(out(0L) === 0L)
    assert(out(1L) === 0L) // merged into min id
    assert(out(2L) === 2L)
  }
}
