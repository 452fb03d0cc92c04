package graft.kg

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.io.TableFormat

/** A SPARQL-subset QUERY-STRING front end over [[Pattern]] — the
  * `spark.sql(...)` analog for the triple store: the programmatic algebra
  * (matchBgp/OPTIONAL/UNION/MINUS/EXISTS/CONSTRUCT/ASK) exposed as text, so
  * a store consumer can ship queries as data instead of code.
  *
  * Supported grammar (whitespace-tokenized; `.` separates patterns and must
  * stand alone; constants are barewords or '…'/"…" quoted):
  *
  * {{{
  * SELECT [DISTINCT] item … WHERE { body }
  *        [GROUP BY ?v …] [HAVING ( fx ) …]
  *        [ORDER BY ord …] [LIMIT n] [OFFSET n]
  * item  :=  ?v | * | ( FUNC ( [DISTINCT] ?v | * [, "sep"] ) AS ?alias )
  * FUNC  :=  COUNT | MIN | MAX | SAMPLE                   -- string bindings
  *        |  SUM | AVG                                    -- try_cast-double
  *        |  GROUP_CONCAT                                 -- sorted + joined
  * ord   :=  ?v | ASC ( ?v ) | DESC ( ?v )
  * ASK [WHERE] { body }
  * CONSTRUCT { triples } WHERE { body }
  * DESCRIBE (const | ?v) … [WHERE { body }]
  * body  :=  { triples } UNION { triples } [UNION …]      -- union form
  *        |  patterns block*                              -- conjunctive form
  * block :=  OPTIONAL { triples } | MINUS { triples }
  *        |  FILTER EXISTS { triples } | FILTER NOT EXISTS { triples }
  *        |  FILTER ( fx ) | FILTER [(] REGEX ( ?v , "re" ) [)]
  *        |  VALUES ?v { const … }
  *        |  BIND ( operand AS ?v ) | BIND ( CONCAT ( operand [, operand …] ) AS ?v )
  *        |  { SELECT … }                                 -- subquery (§12)
  * fx    :=  fc ( || fc )*                                -- && binds tighter
  * fc    :=  fa ( && fa )*
  * fa    :=  operand cmp operand | REGEX ( ?v , "re" ) | ( fx )
  * cmp   :=  = | != | < | <= | > | >=
  * }}}
  *
  * Subqueries (SPARQL 1.1 §12) evaluate bottom-up and join the enclosing
  * group on their shared PROJECTED variables — the aggregation-inside-a-
  * pattern device ("entities whose mention count clears k" as one query).
  * They follow the required pattern (a leading `{` is the UNION form) and
  * must project explicitly (no `SELECT *`) and share ≥1 variable with the
  * group. BIND (§10.1) introduces a fresh variable from bound operands —
  * string semantics, matching the store's string terms; later group filters
  * and projection see it, and sequential BINDs see earlier targets. HAVING
  * (§11.2) filters the aggregated solutions; its operands resolve against
  * GROUP BY keys (projected or not — a key may gate without being
  * selected) and aggregate aliases.
  *
  * Reserved words: the block keywords (OPTIONAL, MINUS, FILTER, VALUES,
  * BIND, …) cannot open a pattern as bareword subjects — quote them
  * ('bind'). GRAPH is reserved only when shaped like a scope
  * (`GRAPH term {`); elsewhere the bareword stays a constant.
  *
  * The REQUIRED pattern's predicate position also takes SPARQL property
  * paths (§9.1) written without internal spaces — `sameAs+`, `^p`, `p|q`,
  * `p/q`, `(sameAs|^sameAs)+`, `p*` — compiled to the [[Pattern]] path
  * algebra (predAlt/predInv/pathSeq/pathPlus/pathStar) and joined into the
  * conjunction like any other pattern; groups and UNION branches stay
  * plain-predicate (the Pattern API they compile to). `(p|^p)+` is answered
  * from connected-component labels: union-find on the driver while the
  * family's estimated size is within Spark's broadcast threshold
  * (`spark.sql.autoBroadcastJoinThreshold`), the distributed CC loop above
  * it or when it is `-1`. Directed `p+`/`p*` always run the doubling loop.
  *
  * Aggregates follow SPARQL §11: they evaluate over the solution MULTISET
  * (provenance duplicates count unless the aggregate says DISTINCT), plain
  * projected variables must appear in GROUP BY, and aggregates without a
  * GROUP BY aggregate the whole solution set as one group.
  *
  * Same documented scope as the algebra it compiles to: groups must be
  * well-designed (share ≥1 variable with the required part — enforced by
  * [[Pattern]]'s own `require`s). SELECT without DISTINCT is multiset
  * semantics (per-doc provenance duplicates are visible); DISTINCT dedups
  * over the PROJECTED variables, exactly SPARQL's SELECT DISTINCT. Value
  * FILTERs (`FILTER ( ?v op operand )`, `FILTER REGEX(?v, "re")`) cover the
  * comparison subset a string-only caller (the HTTP endpoint) needs; the
  * result is still a DataFrame, so anything richer stays a native Column
  * predicate Catalyst pushes into the plan.
  *
  * Scale: the string compiles 1:1 to the [[Pattern]] plan it names — no new
  * execution machinery, so every plan property recorded for the algebra
  * (pred-pruned scans, AQE-broadcast boundaries, single distinct shuffle)
  * holds verbatim for parsed queries.
  */
object Sparql {
  import Pattern.{C, Term, Tp, V}

  /** Parse + execute `query` against a (subj, pred, obj) table.
    * SELECT → binding table; ASK → one row (matched: 1/0 bigint);
    * CONSTRUCT → (subj, pred, obj) triples.
    *
    * `stats` (per-predicate counts — [[Pattern.predStatsFromManifest]] reads
    * them from the store's lineage manifest without a scan) turns on
    * selectivity-ordered evaluation of the required pattern: text order in
    * the query stops mattering for the PLAN, exactly as in a real SPARQL
    * engine's BGP optimizer. Bindings are unchanged (fuzz-asserted). */
  def query(triples: DataFrame, query: String,
            stats: Option[Map[String, Long]] = None): DataFrame = {
    val p = new P(tokenize(query))
    val out = p.peek.map(_.toUpperCase) match {
      case Some("SELECT")    => select(triples, p, stats)
      case Some("ASK")       => askDf(triples, p, stats)
      case Some("CONSTRUCT") => constructDf(triples, p, stats)
      case Some("DESCRIBE")  => describeDf(triples, p, stats)
      case other => fail(s"expected SELECT, ASK, CONSTRUCT or DESCRIBE, got ${other.getOrElse("end of input")}")
    }
    p.expectEnd()
    out
  }

  // ---- tokenizer ----

  private val tokRe =
    ("""\?[A-Za-z_][A-Za-z0-9_]*""" +      // variable
      """|"(?:[^"\\]|\\.)*"|'(?:[^'\\]|\\.)*'""" + // quoted constant
      """|[{}();]""" +                      // braces, parens, update-op separator
      """|\.(?=\s|\}|$)""" +                // standalone pattern separator
      """|[^\s{}();]+""").r                 // bareword constant / keyword

  private[kg] def tokenize(s: String): List[String] = tokRe.findAllIn(s).toList

  private def fail(msg: String): Nothing =
    throw new IllegalArgumentException(s"SPARQL parse error: $msg")

  private final class P(var toks: List[String]) {
    def peek: Option[String] = toks.headOption
    def next(): String = toks match {
      case h :: t => toks = t; h
      case Nil    => fail("unexpected end of input")
    }
    def expect(kw: String): Unit = {
      val t = next()
      if (t.toUpperCase != kw.toUpperCase && t != kw) fail(s"expected '$kw', got '$t'")
    }
    def eatKw(kw: String): Boolean =
      peek.exists(_.equalsIgnoreCase(kw)) && { next(); true }
    def expectEnd(): Unit =
      if (toks.nonEmpty) fail(s"trailing input: ${toks.mkString(" ")}")
  }

  private def term(t: String): Term =
    if (t.startsWith("?")) V(t.drop(1))
    else if ((t.startsWith("\"") && t.endsWith("\"") && t.length >= 2) ||
             (t.startsWith("'") && t.endsWith("'") && t.length >= 2))
      C(t.substring(1, t.length - 1).replaceAll("""\\(.)""", "$1"))
    else C(t)

  private val kws = Set("OPTIONAL", "MINUS", "FILTER", "UNION", "LIMIT",
    "WHERE", "SELECT", "ASK", "CONSTRUCT", "DISTINCT", "EXISTS", "NOT",
    "VALUES", "GRAPH", "BIND", "{")

  /** GRAPH is a keyword only when shaped like a scope (`GRAPH term {`) —
    * elsewhere the bareword stays a plain constant term. */
  private def isGraphScope(p: P): Boolean =
    p.peek.exists(_.equalsIgnoreCase("GRAPH")) &&
      p.toks.drop(2).headOption.contains("{")

  // ---- property-path expressions (SPARQL 1.1 §9): `p+ p* ^p p₁|p₂ p₁/p₂`,
  // parenthesized; written WITHOUT internal spaces (quote a predicate that
  // legitimately contains |/^+*() instead) ----

  private[kg] sealed trait Path
  private final case class PPred(pred: String) extends Path
  private final case class PInv(inner: Path) extends Path
  private final case class PSeqE(parts: Seq[Path]) extends Path
  private final case class PAltE(parts: Seq[Path]) extends Path
  private final case class PClosure(inner: Path, star: Boolean) extends Path

  private val pathChars = Set('|', '/', '^', '+', '*', '(', ')')

  /** char-level path parser (the gathered expression text). */
  private[kg] def parsePath(text: String): Path = {
    var i = 0
    def peekC: Option[Char] = if (i < text.length) Some(text.charAt(i)) else None
    def alt(): Path = {
      val parts = Seq.newBuilder[Path]; parts += seq()
      while (peekC.contains('|')) { i += 1; parts += seq() }
      val ps = parts.result(); if (ps.size == 1) ps.head else PAltE(ps)
    }
    def seq(): Path = {
      val parts = Seq.newBuilder[Path]; parts += post()
      while (peekC.contains('/')) { i += 1; parts += post() }
      val ps = parts.result(); if (ps.size == 1) ps.head else PSeqE(ps)
    }
    def post(): Path = {
      var a = atom()
      var going = true
      while (going) peekC match {
        case Some('+') => i += 1; a = PClosure(a, star = false)
        case Some('*') => i += 1; a = PClosure(a, star = true)
        case _ => going = false
      }
      a
    }
    def atom(): Path = peekC match {
      case Some('^') => i += 1; PInv(atom())
      case Some('(') =>
        i += 1; val inner = alt()
        if (!peekC.contains(')')) fail(s"unbalanced ( in path '$text'")
        i += 1; inner
      case Some(c) if !pathChars(c) =>
        val start = i
        while (peekC.exists(ch => !pathChars(ch))) i += 1
        PPred(text.substring(start, i))
      case other => fail(s"bad path syntax at '${other.getOrElse("end")}' in '$text'")
    }
    val r = alt()
    if (i != text.length) fail(s"trailing '${text.substring(i)}' in path '$text'")
    r
  }

  /** The symmetric-closure shape `(p|^p)+` (either alternation order): its
    * edge set is symmetric BY CONSTRUCTION, so the closure is "same
    * connected component" and takes [[Pattern.symClosurePairs]] — component
    * labels (linear shuffles) + ONE output-sized expansion — instead of
    * iterative doubling, which pushes ~c³ intermediate rows per round on a
    * c-node dense component. Result-equal to pathPlus on any symmetric
    * input (asserted in PatternSpec); same oracle (`nemo_kg_sparql_path` vs
    * the CC-based programmatic twin). The labels are union-find on the
    * driver while the family's estimated size is within Spark's broadcast
    * threshold (`spark.sql.autoBroadcastJoinThreshold`) — a fixed number of
    * jobs whatever the diameter — and the distributed CC loop above it, or
    * when the threshold is `-1`. */
  private def symClosureShape(p: Path): Boolean = p match {
    case PAltE(Seq(PPred(a), PInv(PPred(b)))) => a == b
    case PAltE(Seq(PInv(PPred(a)), PPred(b))) => a == b
    case _ => false
  }

  private def evalPath(t: DataFrame, p: Path): DataFrame = p match {
    case PPred(pr)      => Pattern.predAlt(t, Seq(pr))
    case PInv(PPred(pr)) => Pattern.predInv(t, pr)
    case PInv(inner)    => evalPath(t, inner)
      .select(col("dst").as("src"), col("src").as("dst"))
    case PSeqE(ps)      => ps.map(evalPath(t, _)).reduceLeft(Pattern.pathSeq)
    case PAltE(ps)      => ps.map(evalPath(t, _)).reduceLeft(_.unionByName(_)).distinct()
    case PClosure(i, false) if symClosureShape(i) =>
      Pattern.symClosurePairs(evalPath(t, i))
    case PClosure(i, false) => Pattern.pathPlus(evalPath(t, i))
    case PClosure(i, true) =>
      val nodes = t.select(col("subj").as("n"))
        .unionByName(t.select(col("obj").as("n"))).distinct()
      Pattern.pathStar(evalPath(t, i), nodes)
  }

  private type Part = Either[Tp, (Term, Path, Term)]

  /** pattern parts inside an already-opened `{ … }`, stopping at `}` or a
    * block keyword; the predicate position may be a path expression when
    * `allowPaths` (the required pattern — groups and UNION branches stay
    * plain, matching the Pattern API they compile to). */
  private def parts(p: P, allowPaths: Boolean): Seq[Part] = {
    val out = Seq.newBuilder[Part]
    var going = true
    while (going) p.peek match {
      case None | Some("}") => going = false
      case Some(t) if kws.contains(t.toUpperCase) &&
          (!t.equalsIgnoreCase("GRAPH") || isGraphScope(p)) => going = false
      case _ =>
        val s = term(p.next())
        val predTok = p.next()
        val isPathTok = predTok == "(" ||
          (!predTok.startsWith("\"") && !predTok.startsWith("'") &&
            !predTok.startsWith("?") && predTok.exists(pathChars))
        if (isPathTok) {
          if (!allowPaths)
            fail("property paths are supported in the required pattern only")
          val text = new StringBuilder
          if (predTok == "(") {
            text.append("(")
            var depth = 1
            while (depth > 0) {
              if (p.peek.isEmpty || p.peek.contains("}"))
                fail(s"unbalanced ( in path '${text.toString}'")
              val t2 = p.next()
              if (t2 == "(") depth += 1
              if (t2 == ")") depth -= 1
              text.append(t2)
            }
            // glued postfix tokens after the closing paren: + or *
            while (p.peek.exists(t2 => t2 == "+" || t2 == "*")) text.append(p.next())
          } else text.append(predTok)
          out += Right((s, parsePath(text.toString), term(p.next())))
        } else {
          out += Left(Tp(s, term(predTok), term(p.next())))
        }
        p.eatKw(".")
    }
    val r = out.result()
    if (r.isEmpty) fail("empty graph pattern")
    r
  }

  private def triples(p: P): Seq[Tp] =
    parts(p, allowPaths = false).map {
      case Left(tp) => tp
      case Right(_) => fail("property paths are supported in the required pattern only")
    }

  private def bracedTriples(p: P): Seq[Tp] = {
    p.expect("{"); val r = triples(p); p.expect("}"); r
  }

  // ---- value FILTERs (FILTER ( ?v op operand ) / FILTER REGEX(?v, "re")):
  // comparison over bound solution values. A numeric literal on either side
  // switches the comparison to double (non-numeric bindings cast to NULL and
  // drop — the SQL analogue of SPARQL's type-error-drops-row rule); string
  // comparisons are lexicographic; REGEX is Java-regex `rlike` (partial
  // match, like SPARQL's regex()). Filters evaluate against the GROUP's
  // composed solutions (required + OPTIONALs), SPARQL's filter-at-group-end
  // rule, so an unbound OPTIONAL variable compares NULL and drops. ----
  private sealed trait VOperand
  private final case class OVar(v: String) extends VOperand
  private final case class OLit(value: String) extends VOperand
  private final case class VFilter(op: String, a: VOperand, b: VOperand)
  private val vops = Set("=", "!=", "<", "<=", ">", ">=")

  /** Boolean FILTER expression (§17 connective subset): comparisons / REGEX
    * combined with `&&` and `||` (space-separated; `&&` binds tighter),
    * parenthesized for grouping. Compiles to a native Column predicate tree
    * — Catalyst pushes/splits it like any hand-written filter. */
  private sealed trait FExpr
  private final case class FCmp(f: VFilter) extends FExpr
  private final case class FAnd(parts: Seq[FExpr]) extends FExpr
  private final case class FOr(parts: Seq[FExpr]) extends FExpr

  private def fexpr(p: P): FExpr = {
    val parts = Seq.newBuilder[FExpr]
    parts += fconj(p)
    while (p.peek.contains("||")) { p.next(); parts += fconj(p) }
    val ps = parts.result(); if (ps.size == 1) ps.head else FOr(ps)
  }
  private def fconj(p: P): FExpr = {
    val parts = Seq.newBuilder[FExpr]
    parts += fatom(p)
    while (p.peek.contains("&&")) { p.next(); parts += fatom(p) }
    val ps = parts.result(); if (ps.size == 1) ps.head else FAnd(ps)
  }
  private def fatom(p: P): FExpr = p.peek match {
    case Some("(") => p.next(); val e = fexpr(p); p.expect(")"); e
    case Some(t) if t.equalsIgnoreCase("REGEX") => p.next(); FCmp(vregexArgs(p))
    case _ =>
      val a = voperand(p.next())
      val op = p.next()
      if (!vops(op)) fail(s"unknown FILTER operator '$op' (= != < <= > >=)")
      FCmp(VFilter(op, a, voperand(p.next())))
  }

  private def fvars(e: FExpr): Seq[String] = e match {
    case FCmp(f)  => Seq(f.a, f.b).collect { case OVar(v) => v }
    case FAnd(ps) => ps.flatMap(fvars)
    case FOr(ps)  => ps.flatMap(fvars)
  }

  private def fcol(e: FExpr, bound: Set[String]): org.apache.spark.sql.Column =
    e match {
      case FCmp(f)  => vcol(f, bound)
      case FAnd(ps) => ps.map(fcol(_, bound)).reduceLeft(_ && _)
      case FOr(ps)  => ps.map(fcol(_, bound)).reduceLeft(_ || _)
    }

  /** A parsed subquery: its token slice (re-run through [[select]] against
    * the store at evaluation time — parse-only contexts like update scripts
    * never need a frame), its projected variable names (for the enclosing
    * group's visible-variable set), and which of those are aggregate
    * ALIASES (guarded against colliding with outer bindings — the silent
    * alternative is a string-vs-bigint coercion join). */
  private final case class Sub(toks: List[String], projected: Seq[String],
                               aliases: Seq[String])

  private final case class Body(union: Seq[Seq[Tp]], parts: Seq[Part],
                                optionals: Seq[Seq[Tp]], minus: Seq[Seq[Tp]],
                                exists: Seq[Seq[Tp]], notExists: Seq[Seq[Tp]],
                                valueFilters: Seq[FExpr] = Nil,
                                values: Seq[(String, Seq[String])] = Nil,
                                graph: Option[Term] = None,
                                subs: Seq[Sub] = Nil,
                                binds: Seq[(String, Seq[VOperand])] = Nil) {
    def vars: Seq[String] = {
      val required: Seq[Term] =
        if (union.nonEmpty) union.flatten.flatMap(tp => Seq(tp.s, tp.p, tp.o))
        else parts.flatMap {
          case Left(tp) => Seq(tp.s, tp.p, tp.o)
          case Right((s, _, o)) => Seq(s, o)
        } ++ optionals.flatten.flatMap(tp => Seq(tp.s, tp.p, tp.o))
      (required.collect { case V(n) => n } ++
        graph.collect { case V(g) => g } ++
        subs.flatMap(_.projected) ++
        binds.map(_._1)).distinct // MINUS/EXISTS never project
    }
  }

  private def body(p: P): Body = {
    p.expect("{")
    if (p.peek.contains("{")) { // union form: { g1 } UNION { g2 } …
      val branches = Seq.newBuilder[Seq[Tp]]
      branches += bracedTriples(p)
      while (p.eatKw("UNION")) branches += bracedTriples(p)
      p.expect("}")
      val bs = branches.result()
      if (bs.size < 2) fail("braced group without UNION — drop the inner braces")
      Body(bs, Nil, Nil, Nil, Nil, Nil)
    } else {
      // GRAPH scope (SPARQL 1.1 §13.3): the required pattern matches only
      // triples asserted by one graph binding — the store's doc provenance.
      // Plain triples only inside the block; trailing OPTIONAL/FILTER/…
      // compose OUTSIDE the graph scope as usual. Keyword only when shaped
      // like a scope (GRAPH term {) — a bareword 'graph' SUBJECT in a plain
      // pattern still parses as a constant term.
      val graphTerm =
        if (isGraphScope(p)) {
          p.next()
          Some(term(p.next()))
        } else None
      val prt =
        graphTerm match {
          case Some(_) =>
            p.expect("{")
            val inner = parts(p, allowPaths = false)
            p.expect("}")
            p.eatKw(".")
            inner
          case None => parts(p, allowPaths = true)
        }
      val (opts, mins, exs, nexs) =
        (Seq.newBuilder[Seq[Tp]], Seq.newBuilder[Seq[Tp]],
         Seq.newBuilder[Seq[Tp]], Seq.newBuilder[Seq[Tp]])
      val vfs = Seq.newBuilder[FExpr]
      val vls = Seq.newBuilder[(String, Seq[String])]
      val sbs = Seq.newBuilder[Sub]
      val bds = Seq.newBuilder[(String, Seq[VOperand])]
      var going = true
      while (going) p.peek.map(_.toUpperCase) match {
        case Some("OPTIONAL") => p.next(); opts += bracedTriples(p)
        case Some("{") =>
          // subquery (§12): slice the braced token run, extract its
          // projection for the group's variable set, defer evaluation
          p.next()
          if (!p.peek.exists(_.equalsIgnoreCase("SELECT")))
            fail("braced block inside a group must be a SELECT subquery (a leading { … } UNION { … } is the union form)")
          val toks = List.newBuilder[String]
          var depth = 1
          while (depth > 0) {
            if (p.peek.isEmpty) fail("unbalanced { in subquery")
            val t2 = p.next()
            if (t2 == "{") depth += 1
            if (t2 == "}") depth -= 1
            if (depth > 0) toks += t2
          }
          val slice = toks.result()
          val sp = new P(slice)
          sp.expect("SELECT")
          sp.eatKw("DISTINCT")
          val (sitems, sstar) = selectItems(sp)
          if (sstar || sitems.isEmpty)
            fail("subquery must project explicit ?vars or aggregates (no *)")
          sbs += Sub(slice,
            sitems.map { case PlainVar(v) => v; case a: Agg => a.alias },
            sitems.collect { case a: Agg => a.alias })
          p.eatKw(".")
        case Some("BIND") =>
          // BIND (§10.1): a fresh string binding from bound operands; the
          // CONCAT form covers the IRI-minting/compound-key use
          p.next(); p.expect("(")
          val ops =
            if (p.peek.exists(_.equalsIgnoreCase("CONCAT"))) {
              p.next(); p.expect("(")
              val bb = Seq.newBuilder[VOperand]
              bb += voperand(p.next())
              while (p.peek.contains(",")) { p.next(); bb += voperand(p.next()) }
              p.expect(")")
              bb.result()
            } else Seq(voperand(p.next()))
          p.expect("AS")
          val v = varTok(p)
          p.expect(")")
          bds += (v -> ops)
        case Some("VALUES") =>
          // single-variable inline data: VALUES ?v { c1 c2 … } — the
          // parameterized-query form an HTTP caller uses for entity lists.
          // The variable must be bound by the pattern (checked at compile),
          // so it is exactly an IN-list restriction.
          p.next()
          val v = p.next() match {
            case t if t.startsWith("?") => t.drop(1)
            case other => fail(s"VALUES needs a ?var, got '$other'")
          }
          p.expect("{")
          val consts = Seq.newBuilder[String]
          var more = true
          while (more) p.peek match {
            case None => fail("unbalanced { in VALUES")
            case Some("}") => p.next(); more = false
            case Some(_) => term(p.next()) match {
              case C(c) => consts += c
              case V(x) => fail(s"VALUES entries must be constants, got ?$x")
            }
          }
          vls += (v -> consts.result())
        case Some("MINUS")    => p.next(); mins += bracedTriples(p)
        case Some("FILTER") =>
          p.next()
          p.peek.map(_.toUpperCase) match {
            case Some("NOT")    => p.next(); p.expect("EXISTS"); nexs += bracedTriples(p)
            case Some("EXISTS") => p.next(); exs += bracedTriples(p)
            case Some("REGEX")  => p.next(); vfs += FCmp(vregexArgs(p))
            case Some("(") =>
              p.next()
              val e = fexpr(p)
              p.expect(")")
              vfs += e
            case other => fail(s"FILTER needs EXISTS, NOT EXISTS, REGEX or ( comparison ), got '${other.getOrElse("end of input")}'")
          }
        case _ => going = false
      }
      p.expect("}")
      Body(Nil, prt, opts.result(), mins.result(), exs.result(), nexs.result(),
        vfs.result(), vls.result(), graphTerm, sbs.result(), bds.result())
    }
  }

  private def voperand(tok: String): VOperand = term(tok) match {
    case V(n) => OVar(n)
    case C(v) => OLit(v)
  }

  /** `( ?v , "re" )` after the REGEX keyword; the pattern must be a
    * constant (a variable regex has no sane plan). */
  private def vregexArgs(p: P): VFilter = {
    p.expect("(")
    val a = voperand(p.next())
    p.expect(",")
    val b = voperand(p.next()) match {
      case l: OLit => l
      case OVar(v) => fail(s"REGEX pattern must be a constant, got ?$v")
    }
    p.expect(")")
    VFilter("~", a, b)
  }

  private def isNum(s: String): Boolean =
    try { s.toDouble; true } catch { case _: NumberFormatException => false }

  private def vcol(f: VFilter, bound: Set[String]): org.apache.spark.sql.Column = {
    def side(o: VOperand): org.apache.spark.sql.Column = o match {
      case OVar(v) =>
        if (!bound(v)) fail(s"FILTER variable ?$v is not bound by the pattern")
        col(v)
      case OLit(v) => lit(v)
    }
    f.op match {
      case "~" => side(f.a).rlike(f.b.asInstanceOf[OLit].value)
      case op =>
        val numeric = Seq(f.a, f.b).exists {
          case OLit(v) => isNum(v)
          case _       => false
        }
        val (l, r) =
          // try_cast: a non-numeric binding becomes NULL and the row drops
          // (SPARQL's type-error rule) instead of failing the job under ANSI
          if (numeric) (side(f.a).try_cast("double"), side(f.b).try_cast("double"))
          else (side(f.a), side(f.b))
        op match {
          case "="  => l === r
          case "!=" => l =!= r
          case "<"  => l < r
          case "<=" => l <= r
          case ">"  => l > r
          case ">=" => l >= r
        }
    }
  }

  private def run(triples: DataFrame, b: Body, distinctRows: Boolean,
                  stats: Option[Map[String, Long]]): DataFrame =
    if (b.union.nonEmpty)
      Pattern.matchUnion(triples, b.union, distinctRows, stats = stats)
    else {
      val prefix = b.graph match {
        case Some(g) =>
          Pattern.matchBgpGraph(triples,
            b.parts.collect { case Left(tp) => tp }, g,
            distinctRows = false, stats = stats)
        case None =>
          val evaluated = b.parts.map {
            case Left(tp) => Left(tp)
            case Right((s, path, o)) => Right((s, evalPath(triples, path), o))
          }
          Pattern.matchMixed(triples, evaluated, distinctRows = false, stats = stats)
      }
      val composed = Pattern.matchPatternFrom(triples, prefix, b.optionals,
        b.minus, b.exists, b.notExists, distinctRows = false)
      // subqueries (§12) evaluate bottom-up against the SAME store and join
      // the group on their shared projected variables — an inner equi-join,
      // so an aggregate subquery restricts AND annotates the outer solutions.
      // Two loud guards on the shared set: (a) a shared variable bound ONLY
      // by an OPTIONAL would hit SQL's NULL-never-joins where SPARQL's
      // unbound-is-compatible rule keeps the row — reject instead of
      // silently dropping; (b) a subquery aggregate alias colliding with an
      // outer binding would join bigint-vs-string through a silent coercion
      // — demand a rename.
      val requiredBound: Set[String] = (b.parts.flatMap {
        case Left(tp) => Seq(tp.s, tp.p, tp.o)
        case Right((s, _, o)) => Seq(s, o)
      }.collect { case V(n) => n } ++ b.graph.collect { case V(g) => g }).toSet
      val withSubs = b.subs.foldLeft(composed) { case (d, sub) =>
        val sp = new P(sub.toks)
        val sq = select(triples, sp, stats)
        sp.expectEnd()
        val shared = d.columns.toSeq.intersect(sq.columns.toSeq)
        if (shared.isEmpty)
          fail(s"subquery projecting ${sub.projected.map("?" + _).mkString(", ")} shares no variable with the group")
        val clash = shared.intersect(sub.aliases)
        if (clash.nonEmpty)
          fail(s"subquery aggregate alias ${clash.map("?" + _).mkString(", ")} collides with a variable the group already binds — rename the alias")
        val optOnly = shared.filterNot(v =>
          requiredBound(v) || b.subs.takeWhile(_ ne sub).exists(_.projected.contains(v)))
        if (optOnly.nonEmpty)
          fail(s"subquery shares OPTIONAL-bound ${optOnly.map("?" + _).mkString(", ")} with the group — an unbound-compatible join is not supported; share required variables only")
        d.join(sq, shared)
      }
      // BINDs extend solutions left-to-right: later binds and all group
      // filters see earlier targets
      val withBinds = b.binds.foldLeft(withSubs) { case (d, (v, ops)) =>
        if (d.columns.contains(v)) fail(s"BIND target ?$v is already bound")
        def side(o: VOperand) = o match {
          case OVar(x) =>
            if (!d.columns.contains(x)) fail(s"BIND variable ?$x is not bound")
            col(x)
          case OLit(x) => lit(x)
        }
        d.withColumn(v,
          if (ops.size == 1) side(ops.head).cast("string")
          else concat(ops.map(side): _*))
      }
      val bound = withBinds.columns.toSet
      val withValues = b.values.foldLeft(withBinds) { case (d, (v, vs)) =>
        if (!bound(v)) fail(s"VALUES variable ?$v is not bound by the pattern")
        if (vs.isEmpty) d.filter(lit(false)) // zero-row VALUES: no solutions
        else d.filter(col(v).isin(vs: _*))
      }
      val filtered =
        b.valueFilters.foldLeft(withValues)((d, f) => d.filter(fcol(f, bound)))
      if (distinctRows && filtered.columns.nonEmpty) filtered.distinct()
      else filtered
    }

  // ---- the three query forms ----

  private sealed trait Item
  private final case class PlainVar(v: String) extends Item
  private final case class Agg(func: String, dist: Boolean,
                               arg: Option[String], alias: String,
                               sep: Option[String] = None) extends Item

  private val aggFns =
    Set("COUNT", "MIN", "MAX", "SUM", "AVG", "GROUP_CONCAT", "SAMPLE")

  private def selectItems(p: P): (Seq[Item], Boolean) = {
    val items = Seq.newBuilder[Item]
    var star = false
    var going = true
    while (going) p.peek match {
      case Some("*") => p.next(); star = true
      case Some(v) if v.startsWith("?") => p.next(); items += PlainVar(v.drop(1))
      case Some("(") =>
        p.next()
        val fn = p.next().toUpperCase
        if (!aggFns.contains(fn)) fail(s"unknown aggregate '$fn' (COUNT, MIN, MAX, SUM, AVG, GROUP_CONCAT, SAMPLE)")
        p.expect("(")
        val dist = p.eatKw("DISTINCT")
        val arg = p.next() match {
          case "*" => if (fn != "COUNT") fail(s"$fn(*) is not defined") else None
          case v if v.startsWith("?") => Some(v.drop(1))
          case other => fail(s"aggregate argument must be ?var or *, got '$other'")
        }
        // GROUP_CONCAT ( ?v [, "sep"] ) — the separator must be a constant
        val sep =
          if (fn == "GROUP_CONCAT" && p.peek.contains(",")) {
            p.next()
            term(p.next()) match {
              case C(c) => Some(c)
              case V(x) => fail(s"GROUP_CONCAT separator must be a constant, got ?$x")
            }
          } else None
        p.expect(")")
        p.expect("AS")
        val alias = p.next() match {
          case v if v.startsWith("?") => v.drop(1)
          case other => fail(s"AS needs a ?alias, got '$other'")
        }
        p.expect(")")
        items += Agg(fn, dist, arg, alias, sep)
      case _ => going = false
    }
    (items.result(), star)
  }

  private def select(t: DataFrame, p: P,
                     stats: Option[Map[String, Long]]): DataFrame = {
    p.expect("SELECT")
    val dist = p.eatKw("DISTINCT")
    val (items, star) = selectItems(p)
    p.expect("WHERE")
    val b = body(p)
    val aggs = items.collect { case a: Agg => a }
    val plains = items.collect { case v: PlainVar => v.v }
    if (star && items.nonEmpty) fail("* cannot mix with other SELECT items")
    if (!star && items.isEmpty) fail("SELECT needs ?vars, aggregates or *")
    val unknownP = (plains ++ aggs.flatMap(_.arg)).filterNot(b.vars.contains)
    if (unknownP.nonEmpty) fail(s"projected ${unknownP.mkString(", ")} not bound by the pattern")

    // Metadata-only COUNT: `SELECT (COUNT(*) AS ?n) WHERE { ?s <p> ?o }`
    // with stats present is answered from the per-predicate counts — the
    // store's lineage manifest — without touching the table (the classic
    // triple-store statistics shortcut). Sound because the engine's
    // documented non-DISTINCT semantics IS row multiset count, which is
    // exactly what the manifest records per predicate family. Guarded to
    // the only shape where that identity holds: one pattern, constant
    // pred, two distinct plain variables, no groups/gates/GROUP BY.
    val metaCount: Option[DataFrame] =
      if (stats.isDefined && !star && plains.isEmpty && p.peek.isEmpty &&
          aggs.sizeIs == 1 && aggs.head.func == "COUNT" &&
          aggs.head.arg.isEmpty && !aggs.head.dist &&
          b.union.isEmpty && b.optionals.isEmpty && b.minus.isEmpty &&
          b.exists.isEmpty && b.notExists.isEmpty && b.valueFilters.isEmpty &&
          b.values.isEmpty && b.graph.isEmpty && b.subs.isEmpty &&
          b.binds.isEmpty)
        b.parts match {
          case Seq(Left(Tp(V(sv), C(pv), V(ov)))) if sv != ov =>
            Some(t.sparkSession.range(1).select(
              lit(stats.get.getOrElse(pv, 0L)).as(aggs.head.alias)))
          case _ => None
        }
      else None
    if (metaCount.isDefined) return metaCount.get

    val sol = run(t, b, distinctRows = false, stats) // multiset — aggregates count dups
    var out =
      if (aggs.isEmpty) sol.select((if (star) b.vars else plains).map(col): _*)
      else {
        // SPARQL §11: plain projected vars must be (exactly the) GROUP BY keys
        val groupVars =
          if (p.eatKw("GROUP")) { p.expect("BY")
            val g = Seq.newBuilder[String]
            while (p.peek.exists(_.startsWith("?"))) g += p.next().drop(1)
            g.result()
          } else Nil
        val offKey = plains.filterNot(groupVars.contains)
        if (offKey.nonEmpty)
          fail(s"projected ${offKey.mkString(", ")} must appear in GROUP BY")
        val unknownG = groupVars.filterNot(b.vars.contains)
        if (unknownG.nonEmpty) fail(s"GROUP BY ${unknownG.mkString(", ")} not bound by the pattern")
        def aggExpr(a: Agg) = (a.func, a.arg, a.dist) match {
          case ("COUNT", None, _)        => count(lit(1)).as(a.alias)
          case ("COUNT", Some(v), true)  => countDistinct(col(v)).as(a.alias)
          case ("COUNT", Some(v), false) => count(col(v)).as(a.alias)
          case ("MIN", Some(v), _)       => min(col(v)).as(a.alias)
          case ("MAX", Some(v), _)       => max(col(v)).as(a.alias)
          // numeric aggregates over STRING bindings: try_cast-double per
          // value; non-numeric values cast NULL and are skipped (SQL
          // NULL-ignoring aggregation — a documented divergence from
          // SPARQL's whole-group type error, matched by the DuckDB oracle's
          // TRY_CAST). DISTINCT composes: sum/avg over the distinct values.
          case ("SUM", Some(v), d) =>
            val c = col(v).try_cast("double")
            (if (d) sum_distinct(c) else sum(c)).as(a.alias)
          case ("AVG", Some(v), false) =>
            avg(col(v).try_cast("double")).as(a.alias)
          case ("AVG", _, true) => fail("AVG DISTINCT is not supported")
          // §11.4 GROUP_CONCAT: the spec leaves element order undefined —
          // this engine SORTS the group for a deterministic answer (the only
          // kind a distributed run can promise); DISTINCT composes before
          // the sort. SAMPLE's "pick any one" is MIN, same determinism rule.
          // Documented divergence: the default separator is ',' where
          // §18.5.1.7 specifies a single space — pinned by the oracle, so
          // callers wanting the spec default pass SEPARATOR=" " explicitly.
          case ("GROUP_CONCAT", Some(v), d) =>
            val xs = collect_list(col(v))
            array_join(sort_array(if (d) array_distinct(xs) else xs),
              a.sep.getOrElse(",")).as(a.alias)
          case ("SAMPLE", Some(v), _) => min(col(v)).as(a.alias)
          case _ => fail(s"${a.func} needs a ?var argument")
        }
        var agged =
          if (groupVars.isEmpty) sol.agg(aggExpr(aggs.head), aggs.tail.map(aggExpr): _*)
          else sol.groupBy(groupVars.map(col): _*)
            .agg(aggExpr(aggs.head), aggs.tail.map(aggExpr): _*)
        // HAVING (§11.2): filter the aggregated solutions BEFORE the item
        // projection — operands resolve against GROUP BY keys (projected or
        // NOT: a key may gate without being selected) and aggregate aliases
        // (numeric compare via the same try_cast rule as value FILTERs)
        while (p.eatKw("HAVING")) {
          val f = havingFilter(p)
          fvars(f).foreach { v =>
            if (!agged.columns.contains(v))
              fail(s"HAVING variable ?$v is neither a GROUP BY key nor an aggregate alias")
          }
          agged = agged.filter(fcol(f, agged.columns.toSet))
        }
        // restore the SELECT clause's own item order
        agged.select(items.map { case PlainVar(v) => col(v); case a: Agg => col(a.alias) }: _*)
      }
    if (p.peek.exists(_.equalsIgnoreCase("HAVING")))
      fail("HAVING needs an aggregating SELECT")
    if (dist) out = out.distinct()
    if (p.eatKw("ORDER")) {
      p.expect("BY")
      val sorts = Seq.newBuilder[org.apache.spark.sql.Column]
      var going = true
      while (going) p.peek.map(_.toUpperCase) match {
        // sort on the RAW token, not the uppercased match key — `ORDER BY
        // ?myVar` must reference myVar (the uppercased name only worked by
        // luck of spark.sql.caseSensitive=false)
        case Some(v) if v.startsWith("?") => sorts += col(p.next().drop(1)).asc
        case Some("ASC")  => p.next(); p.expect("("); sorts += col(varTok(p)).asc;  p.expect(")")
        case Some("DESC") => p.next(); p.expect("("); sorts += col(varTok(p)).desc; p.expect(")")
        case _ => going = false
      }
      val ss = sorts.result()
      if (ss.isEmpty) fail("ORDER BY needs ?vars")
      out = out.orderBy(ss: _*)
    }
    // LIMIT/OFFSET in either order; SPARQL slices OFFSET-then-LIMIT
    var (limit, offset) = (Option.empty[Int], Option.empty[Int])
    var slicing = true
    while (slicing)
      if (p.eatKw("LIMIT")) limit = Some(p.next().toInt)
      else if (p.eatKw("OFFSET")) offset = Some(p.next().toInt)
      else slicing = false
    offset.foreach(n => out = out.offset(n))
    limit.foreach(n => out = out.limit(n))
    out
  }

  private def varTok(p: P): String = p.next() match {
    case v if v.startsWith("?") => v.drop(1)
    case other => fail(s"expected ?var, got '$other'")
  }

  /** `( fx )` after the HAVING keyword — same connective expression
    * grammar as value FILTERs. */
  private def havingFilter(p: P): FExpr = {
    p.expect("(")
    val e = fexpr(p)
    p.expect(")")
    e
  }

  private def askDf(t: DataFrame, p: P,
                    stats: Option[Map[String, Long]]): DataFrame = {
    p.expect("ASK")
    p.eatKw("WHERE")
    val b = body(p)
    val matched = !run(t, b, distinctRows = false, stats).limit(1).isEmpty
    t.sparkSession.range(1)
      .select(lit(if (matched) 1L else 0L).as("matched"))
  }

  /** SPARQL DESCRIBE (SPARQL 1.1 §16.4 — resource description is
    * implementation-defined; this one is the common convention): every
    * triple whose subject OR object is a described node. Nodes come from
    * constant terms and/or the WHERE pattern's bindings of the named
    * variables. Output is (subj, pred, obj), a graph — set semantics, like
    * CONSTRUCT.
    *
    * Spark-first: the described-node set is a small frame (constants +
    * projected bindings); membership is TWO equi semi-joins (one on subj,
    * one on obj — never an OR-condition nested-loop join) against the
    * pred-partitioned store, unioned, distinct. AQE broadcasts the node
    * side when it is selective, which a DESCRIBE's node set always is. */
  private def describeDf(t: DataFrame, p: P,
                         stats: Option[Map[String, Long]]): DataFrame = {
    p.expect("DESCRIBE")
    val items = Seq.newBuilder[Term]
    while (p.peek.exists(tok => !tok.equalsIgnoreCase("WHERE"))) items += term(p.next())
    val terms = items.result()
    if (terms.isEmpty) fail("DESCRIBE needs at least one term")
    val varNames = terms.collect { case V(n) => n }
    val consts = terms.collect { case C(c) => c }
    val spark = t.sparkSession
    import spark.implicits._
    val constNodes =
      if (consts.isEmpty) None else Some(consts.toDF("node"))
    val varNodes =
      if (varNames.isEmpty) {
        if (p.peek.exists(_.equalsIgnoreCase("WHERE")))
          fail("DESCRIBE with only constants takes no WHERE clause")
        None
      } else {
        if (!p.eatKw("WHERE")) fail("DESCRIBE ?var needs a WHERE pattern to bind it")
        val b = body(p)
        val sol = run(t, b, distinctRows = false, stats)
        val missing = varNames.filterNot(sol.columns.contains)
        if (missing.nonEmpty)
          fail(s"DESCRIBE ${missing.map("?" + _).mkString(", ")} not bound by the pattern")
        Some(varNames.map(v => sol.select(col(v).as("node")))
          .reduceLeft(_.unionByName(_)))
      }
    val nodes = (constNodes.toSeq ++ varNodes.toSeq)
      .reduceLeft(_.unionByName(_)).na.drop().distinct()
    val base = t.select("subj", "pred", "obj")
    val bySubj = base
      .join(nodes.withColumnRenamed("node", "subj"), Seq("subj"), "left_semi")
    val byObj = base
      .join(nodes.withColumnRenamed("node", "obj"), Seq("obj"), "left_semi")
    bySubj.select("subj", "pred", "obj")
      .unionByName(byObj.select("subj", "pred", "obj"))
      .distinct()
  }

  private def constructDf(t: DataFrame, p: P,
                          stats: Option[Map[String, Long]]): DataFrame = {
    p.expect("CONSTRUCT")
    val tmpl = bracedTriples(p)
    p.expect("WHERE")
    val b = body(p)
    if (b.union.nonEmpty) fail("CONSTRUCT over a UNION body is not supported — run per branch and union the graphs")
    // template instantiation over the composed solution set (incl. the
    // negation gates), mirroring Pattern.construct over plain BGPs
    val sol = run(t, b, distinctRows = false, stats)
    val bound = sol.columns.toSet
    def tc(x: Term) = x match {
      case V(n) =>
        if (!bound(n)) fail(s"template variable ?$n is not bound by the pattern")
        col(n)
      case C(v) => lit(v)
    }
    tmpl.map(tp => sol.select(tc(tp.s).as("subj"), tc(tp.p).as("pred"), tc(tp.o).as("obj")))
      .reduceLeft(_.unionByName(_)).distinct()
  }

  // ---- SPARQL 1.1 Update (§3.1), against a savePartitioned triple STORE ----
  //
  //   update :=  op ( ';' op )*
  //   op     :=  INSERT DATA { ground-triples }
  //           |  DELETE DATA { ground-triples }
  //           |  DELETE WHERE { triples }                 -- template = pattern
  //           |  DELETE { triples } [ INSERT { triples } ] WHERE { group }
  //           |  INSERT { triples } WHERE { group }
  //
  // DATA blocks are ground (no variables; quote constants containing ';').
  // A modify-form WHERE is a full group (OPTIONAL / MINUS / FILTER / VALUES /
  // property paths), evaluated against the store state BEFORE its own op but
  // AFTER earlier ops in the sequence — SPARQL's sequential semantics, which
  // is why each op is its own store commit. Template rows with an unbound
  // (OPTIONAL) variable are dropped, the spec's instantiation rule.

  private sealed trait UOp
  private final case class UData(insert: Boolean,
                                 rows: Seq[(String, String, String)]) extends UOp
  private final case class UModify(del: Seq[Tp], ins: Seq[Tp],
                                   where: Body) extends UOp

  /** Parse-only probe (op count): validates an update script without
    * touching any store — the HTTP surface's dry-run hook and the fuzz
    * spec's totality hook. */
  def parseUpdateCount(text: String): Int = parseUpdateOps(text).size

  private def parseUpdateOps(text: String): Seq[UOp] = {
    val p = new P(tokenize(text))
    val ops = Seq.newBuilder[UOp]
    var more = true
    while (more) {
      p.peek.map(_.toUpperCase) match {
        case Some("INSERT") =>
          p.next()
          if (p.eatKw("DATA")) ops += UData(insert = true, groundTriples(p))
          else {
            val t = bracedTriples(p)
            p.expect("WHERE")
            ops += UModify(Nil, t, body(p))
          }
        case Some("DELETE") =>
          p.next()
          if (p.eatKw("DATA")) ops += UData(insert = false, groundTriples(p))
          else if (p.eatKw("WHERE")) {
            // DELETE WHERE: the pattern doubles as the deletion template, so
            // it must be a plain BGP (every solution names concrete triples)
            val b = body(p)
            // plain = the pattern IS the deletion template, so nothing may
            // scope or extend it: a GRAPH-scoped match with a bare-triple
            // template would delete matched triples across ALL provenances
            // (the store keeps one row per triple — per-graph deletes are
            // not expressible), and subqueries/BINDs bind variables the
            // template cannot name
            val plain = b.union.isEmpty && b.optionals.isEmpty &&
              b.minus.isEmpty && b.exists.isEmpty && b.notExists.isEmpty &&
              b.valueFilters.isEmpty && b.values.isEmpty &&
              b.graph.isEmpty && b.subs.isEmpty && b.binds.isEmpty &&
              b.parts.forall(_.isLeft)
            if (!plain) fail("DELETE WHERE takes a plain triple pattern — use DELETE { … } WHERE { … } for a full group")
            ops += UModify(b.parts.collect { case Left(tp) => tp }, Nil, b)
          } else {
            val dt = bracedTriples(p)
            val it =
              if (p.peek.exists(_.equalsIgnoreCase("INSERT"))) { p.next(); bracedTriples(p) }
              else Nil
            p.expect("WHERE")
            ops += UModify(dt, it, body(p))
          }
        case other =>
          fail(s"expected INSERT or DELETE, got ${other.getOrElse("end of input")}")
      }
      if (p.peek.contains(";")) p.next() else { p.expectEnd(); more = false }
    }
    ops.result()
  }

  private def groundTriples(p: P): Seq[(String, String, String)] =
    bracedTriples(p).map {
      case Tp(C(s), C(pd), C(o)) => (s, pd, o)
      case tp => fail(s"DATA block must be ground (no variables), got $tp")
    }

  /** Instantiate a delete/insert template over a solution frame. Rows with
    * an unbound (NULL) template variable are dropped — SPARQL 1.1 Update's
    * instantiation rule for solutions from OPTIONAL. */
  private def instantiate(sol: DataFrame, template: Seq[Tp],
                          what: String): DataFrame = {
    val bound = sol.columns.toSet
    def tc(x: Term) = x match {
      case V(n) =>
        if (!bound(n)) fail(s"$what template variable ?$n is not bound by WHERE")
        col(n).cast("string")
      case C(v) => lit(v)
    }
    template.map { tp =>
      sol.select(tc(tp.s).as("subj"), tc(tp.p).as("pred"), tc(tp.o).as("obj"))
        .na.drop(Seq("subj", "pred", "obj"))
    }.reduceLeft(_.unionByName(_)).distinct()
  }

  private def noTriples(spark: SparkSession): DataFrame = Update.noTriples(spark)

  /** Parse + apply a SPARQL update script to the triple store at
    * `storePath` (one [[Update.applyDelta]] commit per op; see [[Update]]
    * for the partition-scoped rewrite and lineage merge).
    *
    * `updateId` makes the script resumable exactly-once: each committed op
    * stamps (update_id, update_op) into the store manifest atomically with
    * its lineage, so a replay of the same id skips ops the manifest already
    * recorded and a crash between ops resumes at the first uncommitted one.
    * Idempotence of the ops themselves (set-semantics insert/delete) covers
    * the crash WINDOW for DATA ops and for modify-forms whose WHERE is
    * insensitive to the op's own delta. Restriction (documented, not
    * enforced): a modify op whose WHERE matches rows the op itself writes
    * or deletes (e.g. `DELETE { ?a p ?b } INSERT { ?b p ?a } WHERE
    * { ?a p ?b }`) re-evaluates WHERE against the partially-committed state
    * on such a replay and may re-apply a DIFFERENT delta; making that safe
    * needs the instantiated delta snapshotted before the store write (the
    * Iceberg-snapshot upgrade point). */
  def update(spark: SparkSession, storePath: String, text: String,
             updateId: Option[String] = None,
             stats: Option[Map[String, Long]] = None): Seq[Update.Report] = {
    val ops = parseUpdateOps(text)
    val done: Int = updateId.flatMap { id =>
      val f = TableFormat.readManifest(storePath).fields
      if (f.get("update_id").contains(id)) f.get("update_op").map(_.toInt)
      else None
    }.getOrElse(-1)
    ops.zipWithIndex.map { case (op, i) =>
      if (i <= done) Update.Report(0, 0, 0, 0L, 0L, skipped = true)
      else {
        val stamp = updateId
          .map(id => Map("update_id" -> id, "update_op" -> i.toString))
          .getOrElse(Map.empty[String, String])
        val (del, ins) = op match {
          case UData(isIns, rows) =>
            import spark.implicits._
            val df = rows.toDF("subj", "pred", "obj")
            if (isIns) (noTriples(spark), df) else (df, noTriples(spark))
          case UModify(delT, insT, where) =>
            val sol = run(TableFormat.load(spark, storePath), where,
              distinctRows = false, stats)
            val d = if (delT.isEmpty) noTriples(spark)
                    else instantiate(sol, delT, "DELETE")
            val n = if (insT.isEmpty) noTriples(spark)
                    else instantiate(sol, insT, "INSERT")
            (d, n)
        }
        Update.applyDelta(spark, storePath, del, ins, stamp)
      }
    }
  }
}
