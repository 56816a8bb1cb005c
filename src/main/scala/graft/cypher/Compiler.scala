package graft.cypher



import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, MapType, StringType,
  StructField, StructType}

import Ast._
import graft.engine.{CompileGate, GraphState, Traversals}

/** Compiles the Cypher AST to DataFrame plans over a GraphState.
  *
  * MATCH patterns become join DAGs (SURVEY.md §4.2.1): every relationship
  * hop is an equi-join between the running "binding frame" (one column set
  * per bound variable) and the edges DataFrame; Catalyst then plans the
  * physical joins (broadcast small frontiers via AQE). Variable-length
  * relationships expand through bounded iterative joins (Traversals);
  * shortestPath uses BFS with predecessor reconstruction.
  *
  * The reference interprets Cypher directly against full scans
  * (cypher_parser.rs:644-806, e.g. MatchNode = get_all_vertices + filter);
  * here the same semantics are declarative, so filters push into the
  * vertex/edge scans.
  */
object Compiler {
  sealed trait VarKind
  case object NodeVar extends VarKind
  case object RelVar extends VarKind
  case object ValueVar extends VarKind
  case object PathVar extends VarKind

  /** Bindings: variable name -> kind. Frame columns: nodes contribute
    * `{v}__id/__label/__props`; rels `{v}__id/__src/__dst/__type/__props`;
    * values `{v}__val`; paths `{v}__path`. */
  final case class Frame(df: DataFrame, vars: Map[String, VarKind]) {
    def has(v: String): Boolean = vars.contains(v)
  }
}

final class Compiler(g: GraphState)(implicit spark: SparkSession) {
  import Compiler._

  private var fresh = 0
  private def freshVar(): String = { fresh += 1; s"__anon$fresh" }

  /** Comprehension-lambda substitutions: while compiling `[x IN xs | e]`
    * the loop var maps to the lambda's element Column (innermost wins
    * for nested comprehensions). Push/pop is synchronous — the
    * functions.transform DSL invokes its Scala lambda eagerly at
    * expression-build time. */
  private var substStack: List[(String, Column)] = Nil

  private val aggFns = Set("count", "sum", "avg", "min", "max", "collect",
    "stdev", "stdevp", "percentilecont")

  /** The one-row unit frame a statement starts from: a LocalRelation,
    * so a CREATE without MATCH evaluates on the driver with no job. */
  def emptyFrame: Frame = Frame(
    spark.createDataFrame(java.util.List.of(Row(1)),
      StructType(Seq(StructField("__dummy", IntegerType, nullable = false)))),
    Map.empty)

  // ---------- node/edge pattern frames ----------

  private def labelMatches(labelCol: Column, l: String): Column =
    array_contains(split(labelCol, ":"), l)

  /** Pattern-prop predicates compile AFTER the pattern element joins the
    * frame, in the combined frame's context — so `{k: someVar}` maps may
    * reference any bound variable (per-row MERGE / correlated MATCH).
    * Literal predicates lose nothing: Catalyst pushes them back down
    * through the join to the vertex/edge scan. */
  private def propFilters(frame: Frame, v: String,
      props: Map[String, Expr]): Column =
    props.map { case (k, e) =>
      element_at(col(s"${v}__props"), k) ===
        compileExpr(e, frame).cast(StringType)
    }.reduceOption(_ && _).getOrElse(lit(true))

  private def nodeDf(np: NodePat, v: String): DataFrame = {
    var df = g.vertices
    np.labels.foreach(l => df = df.filter(labelMatches(col("label"), l)))
    df.select(col("id").as(s"${v}__id"), col("label").as(s"${v}__label"),
      col("properties").as(s"${v}__props"))
  }

  /** Edge relation oriented near→far (near = chain's previous node). */
  private def relDf(rp: RelPat, r: String): DataFrame = {
    val e =
      if (rp.types.nonEmpty) g.edges.filter(col("edge_type").isin(rp.types: _*))
      else g.edges
    val fwd = e.select(col("id").as(s"${r}__id"),
      col("src").as(s"${r}__near"), col("dst").as(s"${r}__far"),
      col("src").as(s"${r}__src"), col("dst").as(s"${r}__dst"),
      col("edge_type").as(s"${r}__type"),
      col("properties").as(s"${r}__props"))
    val bwd = e.select(col("id").as(s"${r}__id"),
      col("dst").as(s"${r}__near"), col("src").as(s"${r}__far"),
      col("src").as(s"${r}__src"), col("dst").as(s"${r}__dst"),
      col("edge_type").as(s"${r}__type"),
      col("properties").as(s"${r}__props"))
    rp.direction match {
      case 1  => fwd
      case -1 => bwd
      case 0  => fwd.unionByName(bwd)
    }
  }

  // ---------- pattern compilation ----------

  private def compilePattern(start: Frame, pat: PathPat): Frame = {
    if (pat.shortest) return compileShortestPath(start, pat)
    val headVar = pat.head.variable.getOrElse(freshVar())
    var frame: Frame =
      if (start.has(headVar)) {
        // already bound: apply the head's extra filters in place
        var df = start.df
        pat.head.labels.foreach(l =>
          df = df.filter(labelMatches(col(s"${headVar}__label"), l)))
        val bound = Frame(df, start.vars)
        Frame(df.filter(propFilters(bound, headVar, pat.head.props)),
          start.vars)
      } else {
        val nd = nodeDf(pat.head, headVar)
        // The initial unit frame ({__dummy} × nodes) would plan a
        // BroadcastNestedLoopJoin wrapper around EVERY query's first
        // pattern — harmless at scale (1-row broadcast) but it splits
        // whole-stage codegen; start from the node table directly.
        val base =
          if (start.vars.isEmpty &&
              start.df.columns.sameElements(Array("__dummy"))) nd
          else start.df.crossJoin(nd)
        val joined = Frame(base, start.vars + (headVar -> NodeVar))
        Frame(joined.df.filter(
          propFilters(joined, headVar, pat.head.props)), joined.vars)
      }
    var prevVar = headVar
    var nodeSeq = List(headVar) // chain node vars, for named-path binding
    var relSeq = List.empty[String]
    var hasVarLength = false
    pat.tail.foreach { case (rp, np) =>
      // unnamed nodes get a fresh binding name and the chain continues
      // from THEM (not the previous named node)
      val nVar = np.variable.getOrElse(freshVar())
      frame = rp.varLength match {
        case Some((min, max)) =>
          hasVarLength = true
          expandVarLength(frame, prevVar, rp, np, min, max, nVar)
        case None =>
          val rVar = rp.variable.getOrElse(freshVar())
          relSeq :+= rVar
          val rel = relDf(rp, rVar)
          var df = frame.df.join(rel,
            col(s"${prevVar}__id") === col(s"${rVar}__near"))
          var vars = frame.vars + (rVar -> RelVar)
          if (frame.has(nVar)) {
            // cyclic pattern within a chain: (a)-->(b)-->(a)
            df = df.filter(col(s"${nVar}__id") === col(s"${rVar}__far"))
          } else {
            val nd = nodeDf(np, nVar)
            df = df.join(nd, col(s"${rVar}__far") === col(s"${nVar}__id"))
            vars += (nVar -> NodeVar)
          }
          val combined = Frame(df, vars)
          Frame(df.filter(propFilters(combined, rVar, rp.props))
            .filter(propFilters(combined, nVar, np.props)), vars)
      }
      nodeSeq :+= nVar
      prevVar = nVar
    }
    // `p = (a)-[r]->(b)…` named path over a FIXED-length chain: bind the
    // path var to the node-id / edge-id arrays (same contract as
    // shortestPath's binding, so nodes(p)/relationships(p)/length(p)
    // work uniformly)
    pat.pathVar.foreach { p =>
      if (hasVarLength)
        throw new ParseException(
          "named path over a variable-length pattern is not supported — " +
            "use shortestPath()/allShortestPaths() or a fixed-length chain")
      frame = Frame(
        frame.df
          .withColumn(s"${p}__path",
            array(nodeSeq.map(v => col(s"${v}__id")): _*))
          .withColumn(s"${p}__epath",
            if (relSeq.isEmpty) array().cast("array<string>")
            else array(relSeq.map(r => col(s"${r}__id")): _*)),
        frame.vars + (p -> PathVar))
    }
    frame
  }

  /** Bounded var-length expansion: (from_id, to_id) pairs via iterative
    * joins, then joined into the frame. The path itself is not bound
    * (pattern `[*1..3]` with an unnamed rel — QE:115-118 usage). */
  private def expandVarLength(frame: Frame, prevVar: String, rp: RelPat,
      np: NodePat, min: Int, max: Int, nVar: String): Frame = {
    val srcs = frame.df.select(col(s"${prevVar}__id").as("id")).distinct()
    val reach = Traversals.paths(g, srcs, min, max,
        t = rp.types,
        undirected = rp.direction == 0,
        reversed = rp.direction == -1)
      .select(col("path")(0).as("__from"), col("endId").as("__to"))
      .distinct()
    var df = frame.df.join(reach, col(s"${prevVar}__id") === col("__from"))
    var vars = frame.vars
    if (frame.has(nVar)) {
      df = df.filter(col(s"${nVar}__id") === col("__to"))
    } else {
      val nd = nodeDf(np, nVar)
      df = df.join(nd, col("__to") === col(s"${nVar}__id"))
      vars += (nVar -> NodeVar)
      df = df.filter(propFilters(Frame(df, vars), nVar, np.props))
    }
    Frame(df.drop("__from", "__to"), vars)
  }

  /** shortestPath((a ...)-[*..k]-(b ...)): ALL endpoint pairs advance
    * through one batched multi-source BFS (Traversals.shortestPathsPairs)
    * — a MATCH producing thousands of pairs costs the same bounded hop
    * count as one pair, with no per-pair driver loop. Binds the path
    * variable to ARRAY<STRING> of vertex ids. */
  private def compileShortestPath(start: Frame, pat: PathPat): Frame = {
    require(pat.tail.length == 1, "shortestPath needs exactly one rel")
    val (rp, np) = pat.tail.head
    val aVar = pat.head.variable.getOrElse(freshVar())
    val bVar = np.variable.getOrElse(freshVar())
    val pVar = pat.pathVar.getOrElse(freshVar())
    val maxDepth = rp.varLength.map(_._2).getOrElse(15)
    val withA = compilePattern(start, PathPat(None, false, pat.head, Nil))
    // the unbound-endpoint fast path evaluates b's property map against
    // b's node frame ALONE — sound only when those expressions reference
    // nothing but b itself. A correlated map like {region: a.region}
    // must keep the pair-product path, where the combined frame resolves
    // the outer variable (conservative check: unknown expression forms
    // count as correlated).
    def selfContained(e: Expr): Boolean = e match {
      case EProp(v, _)    => v == bVar
      case EVar(v)        => v == bVar
      case ELit(_)        => true
      case EBin(_, l, r)  => selfContained(l) && selfContained(r)
      case ENot(x)        => selfContained(x)
      case EIndex(b, i)   => selfContained(b) && selfContained(i)
      case ESlice(b, f, t) =>
        (Seq(b) ++ f ++ t).forall(selfContained)
      case ECase(subj, whens, els) =>
        (subj.toSeq ++ whens.flatMap(w => Seq(w._1, w._2)) ++ els.toSeq)
          .forall(selfContained)
      case EFunc(_, args, _) => args.forall(selfContained)
      case _ => false
    }
    if (!withA.has(bVar) && np.props.values.forall(selfContained)) {
      // Far endpoint unbound: the endpoint sets are independent, so
      // NEVER materialize the a×b product — it plans as an unbroadcast
      // CartesianProductExec with |a-parts|×|b-parts| partitions
      // (measured 1764 tasks at sf1 for one customer × all parts).
      // Sources drive one tree expansion; targets join the reached set
      // once; the b node-frame re-attaches via the FOUND pairs only.
      var bdf = nodeDf(np, bVar)
      // consumed by targets + re-attach
      bdf = CompileGate.checkpoint(bdf.filter(propFilters(
        Frame(bdf, withA.vars + (bVar -> NodeVar)), bVar, np.props)),
        eager = false)
      val pathsDf = Traversals.shortestPathsFromTo(g,
          withA.df.select(col(s"${aVar}__id")),
          bdf.select(col(s"${bVar}__id")), maxDepth,
          edgeTypes = rp.types, undirected = rp.direction == 0,
          all = pat.allPaths)
        .select(col("__a"), col("__b"), col("path").as(s"${pVar}__path"),
          col("epath").as(s"${pVar}__epath"))
      val df = withA.df
        .join(pathsDf, col(s"${aVar}__id") === col("__a"))
        .join(bdf, col("__b") === col(s"${bVar}__id"))
        .drop("__a", "__b")
      return Frame(df, withA.vars + (bVar -> NodeVar) + (pVar -> PathVar))
    }
    // b bound upstream, or its property map references outer variables:
    // the pair set is correlated, run the explicit-pair engine on it
    val frame = compilePattern(withA, PathPat(None, false, np, Nil))
    val pairs = frame.df
      .select(col(s"${aVar}__id"), col(s"${bVar}__id"))
    // no .distinct() here: shortestPathsPairs dropDuplicates the pair
    // set itself — a second dedup exchange would sit on the critical path
    val pathsDf = Traversals.shortestPathsPairs(g, pairs, maxDepth,
        edgeTypes = rp.types, undirected = rp.direction == 0,
        all = pat.allPaths)
      .select(col("__a"), col("__b"), col("path").as(s"${pVar}__path"),
        col("epath").as(s"${pVar}__epath"))
    Frame(
      frame.df.join(pathsDf,
        col(s"${aVar}__id") === col("__a") &&
          col(s"${bVar}__id") === col("__b"))
        .drop("__a", "__b"),
      frame.vars + (pVar -> PathVar))
  }

  // ---------- expressions ----------

  private def litToCol(l: Lit): Column = l match {
    case LStr(s)   => lit(s)
    case LInt(v)   => lit(v)
    case LFloat(v) => lit(v)
    case LBool(v)  => lit(v)
    case LList(vs) => array(vs.map(litToCol): _*)
    case LMap(m)   => map(m.toSeq.flatMap { case (k, v) =>
      Seq(lit(k), litToCol(v).cast(StringType)) }: _*)
  }

  private def isNumericLit(e: Expr): Boolean = e match {
    case ELit(LInt(_)) | ELit(LFloat(_)) => true
    case EBin(_, l, r) => isNumericLit(l) || isNumericLit(r)
    case _ => false
  }

  def compileExpr(e: Expr, frame: Frame): Column = e match {
    case EProp(v, key) => frame.vars.get(v) match {
      case Some(NodeVar) => element_at(col(s"${v}__props"), key)
      case Some(RelVar)  => element_at(col(s"${v}__props"), key)
      case Some(ValueVar) =>
        // map-valued UNWIND var or WITH alias
        val c = col(s"${v}__val")
        element_at(c, key)
      case _ => throw new ParseException(s"unbound variable $v")
    }
    case EVar(name) if substStack.exists(_._1 == name) =>
      substStack.find(_._1 == name).get._2
    case EVar(name) => frame.vars.get(name) match {
      case Some(NodeVar) => struct(col(s"${name}__id").as("id"),
        col(s"${name}__label").as("label"),
        col(s"${name}__props").as("properties"))
      case Some(RelVar) => struct(col(s"${name}__id").as("id"),
        col(s"${name}__src").as("src"), col(s"${name}__dst").as("dst"),
        col(s"${name}__type").as("edge_type"),
        col(s"${name}__props").as("properties"))
      case Some(ValueVar) => col(s"${name}__val")
      case Some(PathVar)  => col(s"${name}__path")
      case None => throw new ParseException(s"unbound variable $name")
    }
    case ELit(l) => litToCol(l)
    case ENot(x) => !compileExpr(x, frame)
    case EBin(op, l, r) =>
      val (lc0, rc0) = (compileExpr(l, frame), compileExpr(r, frame))
      // numeric comparison against string-typed property values
      val numeric = isNumericLit(l) || isNumericLit(r)
      def lc = if (numeric && l.isInstanceOf[EProp]) lc0.try_cast("double")
        else lc0
      def rc = if (numeric && r.isInstanceOf[EProp]) rc0.try_cast("double")
        else rc0
      op match {
        case "AND" => lc0 && rc0
        case "OR"  => lc0 || rc0
        case "="   => lc === rc
        case "<>"  => lc =!= rc
        case "<"   => lc < rc
        case "<="  => lc <= rc
        case ">"   => lc > rc
        case ">="  => lc >= rc
        // Cypher =~ is a FULL match (unlike SQL rlike's substring match)
        case "=~"  => lc0.rlike_dyn(concat(lit("^(?:"), rc0, lit(")$")))
        case "CONTAINS"    => lc0.contains(rc0)
        case "STARTS_WITH" => lc0.startsWith(rc0)
        case "ENDS_WITH"   => lc0.endsWith(rc0)
        case "IN"          => array_contains(rc0, lc0)
        case "IS_NULL"     => lc0.isNull
        case "IS_NOT_NULL" => lc0.isNotNull
        // a string LITERAL on either side makes + a concat (Cypher's
        // "a" + "b"); otherwise numeric add — properties are
        // stringified, so the numeric reading has to win for p.a + p.b
        // (a coalesce-over-both would let Spark coerce the concat branch
        // to double and silently null out real string concat)
        case "+" if l.isInstanceOf[ELit] &&
            l.asInstanceOf[ELit].l.isInstanceOf[LStr] ||
            r.isInstanceOf[ELit] &&
            r.asInstanceOf[ELit].l.isInstanceOf[LStr] =>
          concat(lc0.cast(StringType), rc0.cast(StringType))
        case "+" => lc0.try_cast("double") + rc0.try_cast("double")
        case "-" => lc0.try_cast("double") - rc0.try_cast("double")
        case "*" => lc0.try_cast("double") * rc0.try_cast("double")
        case "/" => lc0.try_cast("double") / rc0.try_cast("double")
        case "%" => lc0.try_cast("double") % rc0.try_cast("double")
        case "^" => pow(lc0.try_cast("double"), rc0.try_cast("double"))
        case other => throw new ParseException(s"unsupported operator $other")
      }
    case ECase(subject, whens, default) =>
      // simple form compiles each WHEN value as subject = value — through
      // EBin so numeric-literal-vs-string-property casting applies
      val branches = whens.map { case (c, r) =>
        val cond = subject match {
          case Some(subj) => compileExpr(EBin("=", subj, c), frame)
          case None       => compileExpr(c, frame)
        }
        cond -> compileExpr(r, frame)
      }
      val folded = branches.tail.foldLeft(
        when(branches.head._1, branches.head._2)) {
        case (acc, (c, r)) => acc.when(c, r)
      }
      default.fold(folded)(d => folded.otherwise(compileExpr(d, frame)))
    case _: ESub =>
      throw new ParseException(
        "EXISTS{}/COUNT{} subqueries are only supported in WHERE and in " +
          "RETURN/WITH projections (they rewrite to joins)")
    case EIndex(EVar(v), idx)
        if frame.vars.get(v).exists(k => k == NodeVar || k == RelVar) &&
          !substStack.exists(_._1 == v) =>
      // dynamic property access n[expr] on a node/rel — subscript the
      // PROPERTY map (n['k'] ≡ n.k with a computed key), missing → null
      try_element_at(col(s"${v}__props"),
        compileExpr(idx, frame).cast(StringType))
    case EIndex(base, ELit(LStr(key))) if key != null =>
      // map subscript m['key'] — try_element_at: missing key → null
      // (Cypher), not the ANSI element_at error
      try_element_at(compileExpr(base, frame), lit(key))
    case EIndex(base, idx) =>
      val c = compileExpr(base, frame)
      val i = compileExpr(idx, frame).try_cast("int")
      // slice() understands negative (from-the-end) starts, and an
      // out-of-bounds start yields an empty array — get() then returns
      // null instead of the ANSI element_at error, matching Cypher.
      get(slice(c, when(i >= 0, i + 1).otherwise(i), lit(1)), lit(0))
    case ESlice(base, from, to) =>
      val c = compileExpr(base, frame)
      val f = from.map(compileExpr(_, frame).try_cast("int"))
        .getOrElse(lit(0))
      val t = to.map(compileExpr(_, frame).try_cast("int"))
        .getOrElse(size(c))
      val fN = when(f < 0, greatest(size(c) + f, lit(0))).otherwise(f)
      val tN = when(t < 0, greatest(size(c) + t, lit(0))).otherwise(t)
      slice(c, fN + 1, greatest(tN - fN, lit(0)))
    case EMapProj(v, items, star) =>
      if (!frame.vars.get(v).exists(k => k == NodeVar || k == RelVar))
        throw new ParseException(
          s"map projection needs a node or relationship variable: $v")
      // values stringified to match the string-valued property maps
      val explicit = items.flatMap { case (k, ve) =>
        Seq(lit(k), compileExpr(ve, frame).cast(StringType)) }
      val explicitMap =
        if (explicit.isEmpty) map().cast(MapType(StringType, StringType))
        else map(explicit: _*)
      if (!star) explicitMap
      else {
        val keys = items.map(_._1)
        val base = col(s"${v}__props")
        // drop explicitly-projected keys from the .* remainder so the
        // merge never hits duplicate-key semantics (explicit wins)
        val rest = if (keys.isEmpty) base
          else map_filter(base, (k, _) => !k.isin(keys.map(lit(_)): _*))
        if (items.isEmpty) rest else map_concat(rest, explicitMap)
      }
    case EFunc(name, args, distinct) => name match {
      case "count" if args.headOption.contains(EVar("*")) => count(lit(1))
      case "count" =>
        val c = compileExpr(args.head, frame)
        if (distinct) count_distinct(c) else count(c)
      case "sum"     => sum(compileExpr(args.head, frame).try_cast("double"))
      case "avg"     => avg(compileExpr(args.head, frame).try_cast("double"))
      case "stdev"   =>
        stddev_samp(compileExpr(args.head, frame).try_cast("double"))
      case "stdevp"  =>
        stddev_pop(compileExpr(args.head, frame).try_cast("double"))
      case "percentilecont" =>
        val p = args(1) match {
          case ELit(LFloat(v)) => v
          case ELit(LInt(v))   => v.toDouble
          case _ => throw new ParseException(
            "percentileCont() needs a literal percentile")
        }
        // exact interpolated percentile (Neo4j percentileCont contract);
        // swap for approx_percentile's t-digest at corpus scale
        call_function("percentile",
          compileExpr(args.head, frame).try_cast("double"), lit(p))
      case "min"     => min(compileExpr(args.head, frame))
      case "max"     => max(compileExpr(args.head, frame))
      case "collect" =>
        val c = compileExpr(args.head, frame)
        if (distinct) collect_set(c) else collect_list(c)
      case "labels"  => args.head match {
        case EVar(v) => split(col(s"${v}__label"), ":")
        case _       => throw new ParseException("labels() needs a variable")
      }
      case "type" => args.head match {
        case EVar(v) => col(s"${v}__type")
        case _       => throw new ParseException("type() needs a rel variable")
      }
      case "id" => args.head match {
        case EVar(v) => col(s"${v}__id")
        case _       => throw new ParseException("id() needs a variable")
      }
      case "exists" => args.head match {
        case EProp(v, key) => map_contains_key(col(s"${v}__props"), key)
        case _ => throw new ParseException("exists() needs a property")
      }
      case "tolower" | "lower" => lower(compileExpr(args.head, frame))
      case "toupper" | "upper" => upper(compileExpr(args.head, frame))
      case "trim"      => trim(compileExpr(args.head, frame))
      case "size" | "length" =>
        val c = compileExpr(args.head, frame)
        args.head match {
          case _: EProp => length(c)
          case EVar(v) if frame.vars.get(v).contains(PathVar) =>
            size(c) - 1 // path length = edge count
          case _ => size(c)
        }
      case "isempty" =>
        val c = compileExpr(args.head, frame)
        args.head match {
          case _: EProp => length(c) === 0 // string property
          case _        => size(c) === 0   // list
        }
      case "substring" =>
        val s0 = compileExpr(args.head, frame)
        val from = compileExpr(args(1), frame).try_cast("int")
        if (args.length > 2)
          s0.substr(from + 1, compileExpr(args(2), frame).try_cast("int"))
        else s0.substr(from + 1, lit(Int.MaxValue))
      case "replace" => regexp_replace(compileExpr(args.head, frame),
        compileExpr(args(1), frame), compileExpr(args(2), frame))
      case "split" => split(compileExpr(args.head, frame),
        args(1) match {
          case ELit(LStr(s)) => java.util.regex.Pattern.quote(s)
          case _ => throw new ParseException("split() needs a literal sep")
        })
      case "toint" | "tointeger" =>
        compileExpr(args.head, frame).try_cast("long")
      case "tofloat"   => compileExpr(args.head, frame).try_cast("double")
      case "tostring"  => compileExpr(args.head, frame).cast(StringType)
      case "timestamp" => unix_millis(current_timestamp())
      case "date"      => current_date().cast(StringType)
      case "coalesce"  => coalesce(args.map(compileExpr(_, frame)): _*)
      case "head"      => element_at(compileExpr(args.head, frame), 1)
      case "last"      => element_at(compileExpr(args.head, frame), -1)
      case "nodes" => compileExpr(args.head, frame)
      case "relationships" => args.head match {
        case EVar(v) if frame.vars.get(v).contains(PathVar) =>
          col(s"${v}__epath")
        case other => compileExpr(other, frame)
      }
      case "keys" => args.head match {
        case EVar(v) => map_keys(col(s"${v}__props"))
        case EProp(v, k) => map_keys(element_at(col(s"${v}__props"), k))
        case _ => throw new ParseException("keys() needs a variable")
      }
      case "properties" => args.head match {
        case EVar(v) => col(s"${v}__props")
        case _ => throw new ParseException("properties() needs a variable")
      }
      case "abs"   => abs(compileExpr(args.head, frame).try_cast("double"))
      case "round" if args.length > 1 =>
        val scale = args(1) match {
          case ELit(LInt(n)) => n.toInt
          case _ => throw new ParseException("round() scale must be literal")
        }
        round(compileExpr(args.head, frame).try_cast("double"), scale)
      case "round" => round(compileExpr(args.head, frame).try_cast("double"))
      case "floor" => floor(compileExpr(args.head, frame).try_cast("double"))
        .cast("double")
      case "ceil" | "ceiling" =>
        ceil(compileExpr(args.head, frame).try_cast("double")).cast("double")
      case "sqrt"  => sqrt(compileExpr(args.head, frame).try_cast("double"))
      case "toboolean" => compileExpr(args.head, frame).try_cast("boolean")
      case "exp"   => exp(compileExpr(args.head, frame).try_cast("double"))
      case "log"   => log(compileExpr(args.head, frame).try_cast("double"))
      case "log10" =>
        log10(compileExpr(args.head, frame).try_cast("double"))
      case "sin"   => sin(compileExpr(args.head, frame).try_cast("double"))
      case "cos"   => cos(compileExpr(args.head, frame).try_cast("double"))
      case "tan"   => tan(compileExpr(args.head, frame).try_cast("double"))
      case "atan2" => atan2(compileExpr(args.head, frame)
        .try_cast("double"), compileExpr(args(1), frame).try_cast("double"))
      case "pi"    => lit(math.Pi)
      case "e" if args.isEmpty => lit(math.E)
      case "sign"  =>
        signum(compileExpr(args.head, frame).try_cast("double")).cast("long")
      case "reverse" => // string or list — same builtin
        reverse(compileExpr(args.head, frame))
      case "ltrim" => ltrim(compileExpr(args.head, frame))
      case "rtrim" => rtrim(compileExpr(args.head, frame))
      case "left" => substring(compileExpr(args.head, frame), 1,
        args(1) match {
          case ELit(LInt(n)) => n.toInt
          case _ => throw new ParseException("left() needs a literal length")
        })
      case "right" =>
        val n = args(1) match {
          case ELit(LInt(v)) => v.toInt
          case _ => throw new ParseException("right() needs a literal length")
        }
        val c = compileExpr(args.head, frame)
        substring(c, -n, n)
      case "range" =>
        val from = compileExpr(args.head, frame).try_cast("long")
        val to = compileExpr(args(1), frame).try_cast("long")
        if (args.length > 2)
          sequence(from, to, compileExpr(args(2), frame).try_cast("long"))
        else sequence(from, to)
      case "startnode" => args.head match {
        case EVar(v) if frame.vars.get(v).contains(RelVar) =>
          col(s"${v}__src")
        case _ => throw new ParseException("startNode() needs a rel variable")
      }
      case "endnode" => args.head match {
        case EVar(v) if frame.vars.get(v).contains(RelVar) =>
          col(s"${v}__dst")
        case _ => throw new ParseException("endNode() needs a rel variable")
      }
      case "rand"  => rand()
      case other => throw new ParseException(s"unsupported function $other()")
    }
    case EReduce(acc, init, v, src, proj) =>
      // fold via the SQL aggregate HOF; acc and element both enter the
      // lambda through the substitution stack (same mechanism as list
      // comprehensions). Interpreted eval — fine for per-row lists,
      // keep off corpus-scale hot paths.
      val srcCol = compileExpr(src, frame)
      val initCol = compileExpr(init, frame)
      aggregate(srcCol, initCol, (a, x) => {
        substStack = (acc -> a) :: (v -> x) :: substStack
        try compileExpr(proj, frame)
        finally substStack = substStack.drop(2)
      })
    case EListComp(v, src, proj, pred) =>
      // Inside the lambda the iteration var shadows: any scalar
      // expression of the ELEMENT compiles with x substituted for
      // EVar(v). Property/type access on path elements needs a lookup
      // join — handled by the compileReturn rewrite, not expressible in
      // a lambda; give that error, not "unbound variable".
      proj match {
        case EProp(`v`, _) | EFunc("type" | "labels", Seq(EVar(`v`)), _) =>
          throw new ParseException("property/type access on comprehension " +
            "elements is only supported over nodes(p)/relationships(p) " +
            "in RETURN items")
        case _ =>
      }
      def lam(body: Expr)(x: Column): Column = {
        substStack ::= (v -> x)
        try compileExpr(body, frame)
        finally substStack = substStack.tail
      }
      val srcCol0 = compileExpr(src, frame)
      val srcCol = pred.fold(srcCol0)(p => filter(srcCol0, lam(p)(_)))
      if (proj == EVar(v)) srcCol // filter-only comprehension
      else transform(srcCol, lam(proj)(_))
    case EQuant(kind, v, src, pred) =>
      // any/all/none/single — the SQL exists/forall/filter HOFs with the
      // iteration var bound through the substitution stack. Interpreted
      // eval over per-row lists; keep off corpus-scale hot paths.
      val srcCol = compileExpr(src, frame)
      def lam(x: Column): Column = {
        substStack ::= (v -> x)
        try compileExpr(pred, frame)
        finally substStack = substStack.tail
      }
      kind match {
        case "any"    => exists(srcCol, lam)
        case "all"    => forall(srcCol, lam)
        case "none"   => !exists(srcCol, lam)
        case "single" => size(filter(srcCol, lam(_))) === 1
      }
    case other => throw new ParseException(s"unsupported expression $other")
  }

  private implicit class ColOps(c: Column) {
    /** rlike with a (usually literal) pattern column. */
    def rlike_dyn(pattern: Column): Column =
      regexp_like(c, pattern)
  }

  // ---------- clause pipeline ----------

  /** The read `q` as one frame. A statement over a small graph
    * ([[CompileGate]]) returns a frame bound to graft's interpreted twin
    * of the caller's session, as a `foreachBatch` frame is bound to its
    * stream's session: it plans and runs interpreted whoever collects it.
    * Its `sparkSession` is the twin, so a temp view made through the
    * frame lives in the twin. */
  def compileRead(q: CypherQuery): DataFrame =
    CompileGate.statement(spark, g)(CompileGate.interpreted(readFrame(q)))

  private def readFrame(q: CypherQuery): DataFrame = {
    var frame = emptyFrame
    var ret: Option[ReturnClause] = None
    q.clauses.foreach {
      case m: MatchClause  => frame = compileMatch(frame, m)
      case u: UnwindClause => frame = compileUnwind(frame, u)
      case w: WithClause   => frame = compileWith(frame, w)
      case c: CallClause   => frame = compileCall(frame, c)
      case p: ProcedureClause => frame = compileProcedure(frame, p)
      case r: ReturnClause => ret = Some(r)
      case c => throw new ParseException(
        s"mutation clause in read query: $c")
    }
    compileReturn(frame,
      ret.getOrElse(throw new ParseException("missing RETURN")))
  }

  /** Built-in catalog procedures (`CALL db.labels()` /
    * `db.relationshipTypes()` / `db.propertyKeys()`): the procedure's
    * one-column result binds as a value variable (default name = the
    * Neo4j yield column), cross-producting with the current frame —
    * the uncorrelated-CALL semantics, with a catalog-sized (bounded)
    * broadcast side. Labels split the ':'-joined multi-label column,
    * so SET-added labels appear. */
  def compileProcedure(frame: Frame, p: ProcedureClause): Frame =
    p.name.toLowerCase match {
      case "db.labels" =>
        // unlabeled nodes store "" — not a label, filter it (Neo4j
        // returns no row for them)
        bindCatalog(frame, p, "label", g.vertices
          .select(explode(split(col("label"), ":")).as("v"))
          .filter(length(col("v")) > 0).distinct())
      case "db.relationshiptypes" =>
        bindCatalog(frame, p, "relationshipType",
          g.edges.select(col("edge_type").as("v")).distinct())
      case "db.propertykeys" =>
        bindCatalog(frame, p, "propertyKey", g.vertices
          .select(explode(map_keys(col("properties"))).as("v"))
          .unionByName(g.edges
            .select(explode(map_keys(col("properties"))).as("v")))
          .distinct())
      case "graft.sssp.weighted" =>
        // CALL graft.sssp.weighted(startId, weightProp) YIELD id, cost
        // — single-source weighted shortest DISTANCES over the whole
        // graph (directed; weight = the edge property cast to double,
        // missing/non-numeric → 1.0 so an unweighted edge costs one
        // hop). The openCypher surface for GraphXBridge.weightedSssp's
        // Bellman-Ford relaxation — Neo4j exposes the same operation as a
        // GDS procedure, which is why this is a CALL, not a pattern.
        val argv = p.args.map {
          case ELit(LStr(s)) => s
          case other => throw new ParseException(
            s"graft.sssp.weighted expects string literal args, got $other")
        }
        if (argv.length != 2) throw new ParseException(
          "graft.sssp.weighted(startId, weightProp) takes 2 arguments")
        val data = graft.engine.GraphXBridge
          .weightedShortestFrom(g, argv(0), argv(1))(spark)
        bindYields(frame, p, Seq("id", "cost"), data)
      case other =>
        throw new ParseException(s"unknown procedure: $other")
    }

  /** Legacy single-column catalog binding: `YIELD x` NAMES the one
    * result column x (rename semantics, kept for db.*). */
  private def bindCatalog(frame: Frame, p: ProcedureClause,
      defaultCol: String, data: DataFrame): Frame = {
    if (p.yields.length > 1) throw new ParseException(
      s"${p.name} yields exactly one column")
    val bind = p.yields.headOption
      .map { case (c, alias) => alias.getOrElse(c) }
      .getOrElse(defaultCol)
    if (frame.vars.contains(bind))
      throw new ParseException(
        s"variable `$bind` already declared — YIELD it under another name")
    Frame(
      frame.df.crossJoin(
        broadcast(data.select(col("v").as(s"${bind}__val")))),
      frame.vars + (bind -> ValueVar))
  }

  /** Standard multi-column YIELD for graph procedures: each yielded
    * column (optionally aliased) binds as a value variable; no YIELD
    * binds every column under its own name. The result frame
    * cross-products with the incoming frame (uncorrelated-CALL
    * semantics — the usual shape is CALL as the first clause, where
    * the incoming frame is the 1-row unit). */
  private def bindYields(frame: Frame, p: ProcedureClause,
      cols: Seq[String], data: DataFrame): Frame = {
    val picks =
      if (p.yields.isEmpty) cols.map(c => (c, c))
      else p.yields.map { case (c, alias) =>
        if (!cols.contains(c)) throw new ParseException(
          s"${p.name} has no column `$c` (yields: ${cols.mkString(", ")})")
        (c, alias.getOrElse(c))
      }
    picks.groupBy(_._2).collect { case (b, vs) if vs.size > 1 => b }
      .headOption.foreach(b => throw new ParseException(
        s"duplicate YIELD binding `$b`"))
    var vars = frame.vars
    picks.foreach { case (_, bind) =>
      if (vars.contains(bind)) throw new ParseException(
        s"variable `$bind` already declared — YIELD it under another name")
      vars += (bind -> ValueVar)
    }
    val projected = data.select(picks.map { case (c, bind) =>
      col(c).as(s"${bind}__val") }: _*)
    Frame(frame.df.crossJoin(projected), vars)
  }

  /** `CALL { … }` subquery: the sub-clauses extend the OUTER frame
    * (a correlated pattern joins on its shared variables; a disjoint
    * pattern cross-products, openCypher's uncorrelated semantics), and
    * the subquery's RETURN items become bound value columns while every
    * outer column is kept. A leading bare-variable WITH is the standard
    * import annotation (accepted, no-op — outer variables are already
    * in scope). Aggregating subqueries are rejected: per-row grouping
    * is what COUNT {} / a WITH aggregation express. */
  def compileCall(outer: Frame, c: CallClause): Frame = {
    // Aggregating subqueries run per OUTER ROW (openCypher CALL
    // semantics): detect them up front so the outer frame can be
    // row-tagged before the inner pattern joins onto it.
    val retAgg = c.sub.clauses
      .collectFirst { case r: ReturnClause => r.items }
      .exists(_.exists(i => containsAgg(i.expr)))
    val outer0 =
      if (!retAgg) outer
      else Frame(CompileGate.checkpoint( // pin row tags across the join-back
          outer.df.withColumn("__call_row", monotonically_increasing_id()),
          eager = true),
        outer.vars)
    var frame = outer0
    var items = Seq.empty[ReturnItem]
    var first = true
    c.sub.clauses.foreach { cl =>
      cl match {
        case w: WithClause if first && w.where.isEmpty &&
            w.orderBy.isEmpty && !w.distinct && w.skip.isEmpty &&
            w.limit.isEmpty &&
            w.items.forall(i =>
              i.alias.isEmpty && i.expr.isInstanceOf[EVar]) =>
          w.items.foreach {
            case ReturnItem(EVar(v), _) if !frame.vars.contains(v) =>
              throw new ParseException(s"CALL imports unbound variable $v")
            case _ => ()
          }
        case m: MatchClause  => frame = compileMatch(frame, m)
        case u: UnwindClause => frame = compileUnwind(frame, u)
        case r: ReturnClause =>
          if (r.distinct || r.orderBy.nonEmpty || r.skip.isDefined ||
              r.limit.isDefined)
            throw new ParseException(
              "CALL subquery RETURN supports plain projections only")
          items = r.items
        case other => throw new ParseException(
          s"unsupported clause in CALL subquery: $other")
      }
      first = false
    }
    if (items.isEmpty)
      throw new ParseException("CALL subquery needs a RETURN")
    if (retAgg) {
      // Decorrelated per-row aggregation: group the joined sub-frame by
      // the row tag, LEFT-join the aggregates back to every outer row
      // (a non-OPTIONAL inner MATCH drops no-match rows from the
      // grouped side; they resurface with Cypher's empty-aggregate
      // values: count/sum 0, collect [], min/max/avg null). This is
      // the same aggregate+equi-join shape as EXISTS{}/COUNT{}
      // decorrelation — never a per-row probe.
      if (items.exists(i => !containsAgg(i.expr)))
        throw new ParseException("an aggregating CALL subquery must " +
          "RETURN aggregates only (grouping keys live in the outer " +
          "query)")
      // bare aggregate calls only: a composite like count(*)+1 would
      // pass containsAgg but evade the empty-aggregate defaults below
      // (NULL instead of 1 for no-match rows)
      items.foreach { i =>
        i.expr match {
          case EFunc(n, _, _) if aggFns.contains(n) => ()
          case other => throw new ParseException("an aggregating CALL " +
            s"subquery item must be a bare aggregate call, got $other " +
            "(compose in the outer RETURN instead)")
        }
      }
      val named = items.map { i =>
        (i.alias.getOrElse(defaultName(i.expr)), i.expr)
      }
      named.foreach { case (n, _) =>
        if (outer.vars.contains(n))
          throw new ParseException(
            s"CALL subquery RETURN alias $n is already declared in the " +
              "outer query")
      }
      val aggCols = named.map { case (n, e) =>
        compileExpr(e, frame).as(s"${n}__val")
      }
      val grouped = frame.df.groupBy(col("__call_row"))
        .agg(aggCols.head, aggCols.tail: _*)
      var df = outer0.df.join(grouped, Seq("__call_row"), "left")
      named.foreach { case (n, e) =>
        val cname = s"${n}__val"
        val dt = grouped.schema(cname).dataType
        val default = e match {
          case EFunc("count" | "sum", _, _) => Some(lit(0).cast(dt))
          case EFunc("collect", _, _) =>
            Some(array().cast(dt))
          case _ => None // min/max/avg stay null over no matches
        }
        default.foreach(d =>
          df = df.withColumn(cname, coalesce(col(cname), d)))
      }
      return Frame(df.drop("__call_row"),
        outer.vars ++ named.map { case (n, _) => n -> (ValueVar: VarKind) })
    }
    var df = frame.df
    var vars = frame.vars
    items.foreach { i =>
      i.expr match {
        // bare variable with no alias: already bound under that name
        case EVar(v) if i.alias.isEmpty && frame.vars.contains(v) => ()
        case e =>
          val alias = i.alias.getOrElse(defaultName(e))
          df = df.withColumn(s"${alias}__val", compileExpr(e, frame))
          vars = vars + (alias -> (ValueVar: VarKind))
      }
    }
    Frame(df, vars)
  }

  /** Rewrites EXISTS{…}/COUNT{…} subqueries inside `e` to relational
    * form: each subquery's pattern is compiled on a fresh frame, grouped
    * into per-correlation-key counts, LEFT-joined to the outer frame on
    * the shared node/rel variable ids, and the ESub node is replaced by
    * the bound count column (COUNT) or `count > 0` (EXISTS). This is the
    * standard decorrelation — a distributed aggregate + equi-join, never
    * a per-row probe. Returns the extended frame, the rewritten
    * expression, and the bound helper columns (for the caller to drop
    * after filtering). */
  def bindSubqueries(frame0: Frame, e: Expr)
      : (Frame, Expr, Seq[String]) = {
    var frame = frame0
    var boundCols: List[String] = Nil
    def walk(x: Expr): Expr = x match {
      case s: ESub =>
        val bound = freshVar() + "_sub"
        var sub = emptyFrame
        s.patterns.foreach(p => sub = compilePattern(sub, p))
        s.where.foreach(w =>
          sub = Frame(sub.df.filter(compileExpr(w, sub)), sub.vars))
        val shared = frame0.vars.keySet.intersect(sub.vars.keySet).toSeq
          .filter { v =>
            val k = frame0.vars(v)
            (k == NodeVar || k == RelVar) && sub.vars(v) == k
          }.sorted
        if (shared.isEmpty)
          throw new ParseException(
            "EXISTS{}/COUNT{} subquery shares no bound node/rel variable " +
              "with the outer scope")
        val joinCols = shared.map(v => s"${v}__id")
        val counts = sub.df.groupBy(joinCols.map(col): _*)
          .agg(count(lit(1)).as(s"${bound}__val"))
        frame = Frame(
          frame.df.join(counts, joinCols, "left")
            .withColumn(s"${bound}__val",
              coalesce(col(s"${bound}__val"), lit(0L))),
          frame.vars + (bound -> ValueVar))
        boundCols ::= s"${bound}__val"
        if (s.isCount) EVar(bound)
        else EBin(">", EVar(bound), ELit(LInt(0)))
      case pc: EPatComp =>
        // Pattern comprehension: same decorrelation as ESub, but the
        // aggregate is the SORTED list of per-match projections (Cypher
        // doesn't define an order; a deterministic engine must pick one)
        // and rows with no matches get [] not null.
        val bound = freshVar() + "_pc"
        var sub = emptyFrame
        sub = compilePattern(sub, pc.pat)
        pc.where.foreach(w =>
          sub = Frame(sub.df.filter(compileExpr(w, sub)), sub.vars))
        val shared = frame0.vars.keySet.intersect(sub.vars.keySet).toSeq
          .filter { v =>
            val k = frame0.vars(v)
            (k == NodeVar || k == RelVar) && sub.vars(v) == k
          }.sorted
        if (shared.isEmpty)
          throw new ParseException(
            "pattern comprehension shares no bound node/rel variable " +
              "with the outer scope")
        val joinCols = shared.map(v => s"${v}__id")
        val lists = sub.df
          .groupBy(joinCols.map(col): _*)
          .agg(array_sort(collect_list(compileExpr(pc.proj, sub)))
            .as(s"${bound}__val"))
        val dt = lists.schema(s"${bound}__val").dataType
        frame = Frame(
          frame.df.join(lists, joinCols, "left")
            .withColumn(s"${bound}__val",
              coalesce(col(s"${bound}__val"), array().cast(dt))),
          frame.vars + (bound -> ValueVar))
        boundCols ::= s"${bound}__val"
        EVar(bound)
      case EBin(op, l, r) => EBin(op, walk(l), walk(r))
      case ENot(y)        => ENot(walk(y))
      case EFunc(n, args, d) => EFunc(n, args.map(walk), d)
      case ECase(subj, whens, dflt) => ECase(subj.map(walk),
        whens.map { case (c, r) => (walk(c), walk(r)) }, dflt.map(walk))
      case EMapProj(v, items, star) => EMapProj(v,
        items.map { case (k, ve) => (k, walk(ve)) }, star)
      case EIndex(b, i)     => EIndex(walk(b), walk(i))
      case ESlice(b, f, t)  => ESlice(walk(b), f.map(walk), t.map(walk))
      case other => other
    }
    val e2 = walk(e)
    (frame, e2, boundCols)
  }

  def compileMatch(start: Frame, m: MatchClause): Frame = {
    if (!m.optional) {
      var frame = start
      m.patterns.foreach(p => frame = compilePattern(frame, p))
      m.where.foreach { w =>
        val (f2, w2, helper) = bindSubqueries(frame, w)
        frame = Frame(f2.df.filter(compileExpr(w2, f2)).drop(helper: _*),
          frame.vars)
      }
      frame
    } else {
      // OPTIONAL MATCH: compile the pattern against a fresh frame, then
      // left-join on the shared variables (D27 null-preserving semantics).
      var opt = emptyFrame
      m.patterns.foreach(p => opt = compilePattern(opt, p))
      m.where.foreach(w => opt =
        Frame(opt.df.filter(compileExpr(w, opt)), opt.vars))
      val shared = start.vars.keySet.intersect(opt.vars.keySet).toSeq
      if (shared.isEmpty)
        throw new ParseException("OPTIONAL MATCH shares no variables")
      val joinCols = shared.map(v => s"${v}__id")
      val optDf = opt.df.drop("__dummy")
        .drop(shared.flatMap(v => Seq(s"${v}__label", s"${v}__props")): _*)
      Frame(start.df.join(optDf, joinCols, "left"),
        start.vars ++ (opt.vars -- shared))
    }
  }

  def compileUnwind(frame: Frame, u: UnwindClause): Frame = {
    val listCol = u.list match {
      case ELit(LList(vs)) if vs.forall(_.isInstanceOf[LMap]) =>
        array(vs.map(litToCol): _*) // array of MAP<STRING,STRING>
      case e => compileExpr(e, frame)
    }
    Frame(frame.df.withColumn(s"${u.variable}__val", explode(listCol)),
      frame.vars + (u.variable -> ValueVar))
  }

  def compileWith(frameIn: Frame, w: WithClause): Frame = {
    // `WITH *` / `WITH *, expr AS x`: the star expands to every bound
    // variable, carried under its own name (openCypher semantics)
    val wItems = w.items.flatMap {
      case ReturnItem(EVar("*"), None) =>
        frameIn.vars.keys.toSeq.sorted.map(v => ReturnItem(EVar(v), None))
      case other => Seq(other)
    }
    // EXISTS{}/COUNT{} and pattern comprehensions in WITH items:
    // decorrelate into bound columns first (same as RETURN items)
    var frame0 = frameIn
    val wItems1 = wItems.map { i =>
      val (f2, e2, _) = bindSubqueries(frame0, i.expr)
      frame0 = f2
      ReturnItem(e2, i.alias)
    }
    val frame = frame0
    val hasAgg = wItems1.exists(i => containsAgg(i.expr))
    val named = wItems1.map { i =>
      val name = i.alias.getOrElse(i.expr match {
        case EVar(n)     => n
        case EProp(_, k) => k
        case _ => throw new ParseException("WITH item needs AS alias")
      })
      (name, i.expr)
    }
    var df = frame.df
    var vars = Map.empty[String, VarKind]
    if (hasAgg) {
      val keys = named.filter(n => !containsAgg(n._2))
      val aggs = named.filter(n => containsAgg(n._2))
      df = df.groupBy(keys.map { case (n, e) =>
          carryCol(e, frame, n) }: _*)
        .agg(aggs.head._2 |> (e => compileExpr(e, frame).as(
            s"${aggs.head._1}__val")),
          aggs.tail.map { case (n, e) =>
            compileExpr(e, frame).as(s"${n}__val") }: _*)
      vars = keys.map { case (n, e) => n -> carriedKind(e, frame) }.toMap ++
        aggs.map { case (n, _) => n -> (ValueVar: VarKind) }.toMap
      // re-expand carried node/rel columns
      df = keys.foldLeft(df) { case (d, (n, e)) => expandCarried(d, e, frame, n) }
    } else {
      val cols = named.flatMap { case (n, e) => carriedCols(e, frame, n) }
      df = df.select(cols: _*)
      vars = named.map { case (n, e) => n -> carriedKind(e, frame) }.toMap
    }
    // WITH DISTINCT: row identity BEFORE pagination/WHERE. Node/rel
    // equality is id equality, so dedup keys exclude map-typed columns
    // (Spark set-ops reject maps; the props ride along with their id —
    // same rows survive).
    if (w.distinct) {
      val keyCols = df.columns.filter(c =>
        !df.schema(c).dataType
          .isInstanceOf[org.apache.spark.sql.types.MapType])
      df = if (keyCols.isEmpty) df.distinct()
        else df.dropDuplicates(keyCols.toSeq)
    }
    val f2 = Frame(df, vars)
    // mid-pipeline ORDER BY + SKIP/LIMIT: the point is top-k/paging
    // BEFORE later clauses (downstream joins do not preserve order —
    // standard Cypher semantics). Exprs compile in the post-projection
    // frame, so they reference the WITH aliases. Per openCypher the
    // grammar order WITH … ORDER BY … SKIP … LIMIT … WHERE is also the
    // EVALUATION order: WHERE filters the post-pagination row set.
    val paged =
      if (w.orderBy.isEmpty && w.skip.isEmpty && w.limit.isEmpty) f2
      else {
        var d = f2.df
        if (w.orderBy.nonEmpty) {
          val sortCols = w.orderBy.flatMap { case (e, asc) =>
            val c = compileExpr(e, f2)
            e match {
              case _: EProp => // stringified props order numerically first
                val num = c.try_cast("double")
                Seq(if (asc) num.asc_nulls_last else num.desc_nulls_last,
                  if (asc) c.asc else c.desc)
              case _ => Seq(if (asc) c.asc else c.desc)
            }
          }
          d = d.orderBy(sortCols: _*)
        }
        w.skip.foreach(n => d = d.offset(n.toInt))
        w.limit.foreach(n => d = d.limit(n.toInt))
        Frame(d, f2.vars)
      }
    w.where.fold(paged) { wx =>
      val (f2, w2, helper) = bindSubqueries(paged, wx)
      Frame(f2.df.filter(compileExpr(w2, f2)).drop(helper: _*), vars)
    }
  }

  private implicit class Pipe[A](a: A) {
    def |>[B](f: A => B): B = f(a)
  }

  private def carryCol(e: Expr, frame: Frame, as: String): Column = e match {
    case EVar(n) if frame.vars.get(n).contains(NodeVar) =>
      struct(col(s"${n}__id"), col(s"${n}__label"), col(s"${n}__props"))
        .as(s"${as}__struct")
    case EVar(n) if frame.vars.get(n).contains(RelVar) =>
      struct(col(s"${n}__id"), col(s"${n}__src"), col(s"${n}__dst"),
        col(s"${n}__type"), col(s"${n}__props")).as(s"${as}__struct")
    case EVar(n) if frame.vars.get(n).contains(PathVar) =>
      struct(col(s"${n}__path"), col(s"${n}__epath")).as(s"${as}__struct")
    case _ => compileExpr(e, frame).as(s"${as}__val")
  }

  private def carriedKind(e: Expr, frame: Frame): VarKind = e match {
    case EVar(n) => frame.vars.getOrElse(n, ValueVar)
    case _       => ValueVar
  }

  private def expandCarried(df: DataFrame, e: Expr, frame: Frame,
      as: String): DataFrame = e match {
    case EVar(n) if frame.vars.get(n).contains(NodeVar) =>
      df.withColumn(s"${as}__id", col(s"${as}__struct.${n}__id"))
        .withColumn(s"${as}__label", col(s"${as}__struct.${n}__label"))
        .withColumn(s"${as}__props", col(s"${as}__struct.${n}__props"))
        .drop(s"${as}__struct")
    case EVar(n) if frame.vars.get(n).contains(RelVar) =>
      Seq("id", "src", "dst", "type", "props").foldLeft(df) { (d, f) =>
        d.withColumn(s"${as}__$f", col(s"${as}__struct.${n}__$f"))
      }.drop(s"${as}__struct")
    case EVar(n) if frame.vars.get(n).contains(PathVar) =>
      df.withColumn(s"${as}__path", col(s"${as}__struct.${n}__path"))
        .withColumn(s"${as}__epath", col(s"${as}__struct.${n}__epath"))
        .drop(s"${as}__struct")
    case _ => df
  }

  private def carriedCols(e: Expr, frame: Frame, as: String): Seq[Column] =
    e match {
      case EVar(n) => frame.vars.get(n) match {
        case Some(NodeVar) => Seq(col(s"${n}__id").as(s"${as}__id"),
          col(s"${n}__label").as(s"${as}__label"),
          col(s"${n}__props").as(s"${as}__props"))
        case Some(RelVar) => Seq(col(s"${n}__id").as(s"${as}__id"),
          col(s"${n}__src").as(s"${as}__src"),
          col(s"${n}__dst").as(s"${as}__dst"),
          col(s"${n}__type").as(s"${as}__type"),
          col(s"${n}__props").as(s"${as}__props"))
        case Some(ValueVar) => Seq(col(s"${n}__val").as(s"${as}__val"))
        case Some(PathVar)  => Seq(col(s"${n}__path").as(s"${as}__path"),
          col(s"${n}__epath").as(s"${as}__epath"))
        case None => throw new ParseException(s"unbound $n in WITH")
      }
      case _ => Seq(compileExpr(e, frame).as(s"${as}__val"))
    }

  private def containsAgg(e: Expr): Boolean = e match {
    case EFunc(n, args, _) =>
      aggFns.contains(n) || args.exists(containsAgg)
    case EBin(_, l, r)   => containsAgg(l) || containsAgg(r)
    case ENot(x)         => containsAgg(x)
    case EIndex(b, i)    => containsAgg(b) || containsAgg(i)
    case ESlice(b, f, t) => containsAgg(b) ||
      f.exists(containsAgg) || t.exists(containsAgg)
    case _               => false
  }

  def compileReturn(frame0: Frame, r: ReturnClause): DataFrame = {
    var frame = frame0
    val rItems = r.items.flatMap {
      case ReturnItem(EVar("*"), None) =>
        frame0.vars.keys.toSeq.sorted.map(v => ReturnItem(EVar(v), Some(v)))
      case other => Seq(other)
    }
    val items0 = rItems.map { i =>
      val name = i.alias.getOrElse(defaultName(i.expr))
      // EXISTS{}/COUNT{} in a projection: decorrelate into a bound
      // per-row count column first (per-row semantics — it only becomes
      // a grouping key if a real aggregate appears alongside, matching
      // Cypher)
      val (f2, e2, _) = bindSubqueries(frame, i.expr)
      frame = f2
      (name, e2)
    }
    // Non-identity list comprehensions over path elements —
    // `[n IN nodes(p) | n.name]`, `[r IN relationships(p) | type(r)]`
    // (QE:109-113) — rewrite to a distributed explode → vertex/edge join
    // → ordered re-collect, bound as a fresh value var; the projection
    // itself then compiles as a plain column.
    def elementValue(src: Expr, v: String, proj: Expr)
        : Option[DataFrame] = {
      // The explode→join rewrite is only sound when the source elements
      // are KNOWN to be vertex/edge ids — i.e. nodes(p)/relationships(p).
      // An arbitrary collected list would silently join its elements
      // against the vertex table and produce garbage; those fall through
      // to compileExpr's clear unsupported-expression error instead.
      val overEdgesOpt = src match {
        case EFunc("relationships", _, _) => Some(true)
        case EFunc("nodes", _, _)         => Some(false)
        case _                            => None
      }
      overEdgesOpt.flatMap { overEdges =>
        val table = if (overEdges) g.edges else g.vertices
        proj match {
          case EProp(pv, key) if pv == v => Some(table.select(
            col("id").as("__elem"),
            element_at(col("properties"), key).as("__pval")))
          case EFunc("type", Seq(EVar(pv)), _) if pv == v && overEdges =>
            Some(table.select(col("id").as("__elem"),
              col("edge_type").as("__pval")))
          case _ => None
        }
      }
    }
    val items = items0.map {
      case (name, EListComp(v, src, proj, None))
          if elementValue(src, v, proj).isDefined =>
        fresh += 1
        val bound = s"__lc$fresh"
        val rowId = s"${bound}_row"
        val srcCol = compileExpr(src, frame)
        // localCheckpoint pins the row tag (monotonically_increasing_id
        // is otherwise re-evaluated per plan branch)
        val tagged = CompileGate.checkpoint(frame.df
          .withColumn(rowId, monotonically_increasing_id()), eager = true)
        val lookup = tagged
          .select(col(rowId), posexplode(srcCol).as(Seq("__pos", "__elem")))
          .join(elementValue(src, v, proj).get, Seq("__elem"), "left")
          .groupBy(col(rowId))
          .agg(transform(
            array_sort(collect_list(struct(col("__pos"), col("__pval")))),
            s => s.getField("__pval")).as(s"${bound}__val"))
        // A zero-length source (empty path) emits no posexplode row, so
        // the join back yields NULL — Cypher semantics want [] there.
        frame = Frame(tagged.join(lookup, Seq(rowId), "left")
          .withColumn(s"${bound}__val", coalesce(col(s"${bound}__val"),
            array().cast("array<string>")))
          .drop(rowId),
          frame.vars + (bound -> ValueVar))
        (name, EVar(bound))
      case other => other
    }
    val hasAgg = items.exists(i => containsAgg(i._2))
    var df =
      if (hasAgg) {
        val keys = items.filter(i => !containsAgg(i._2))
        val aggs = items.filter(i => containsAgg(i._2))
        if (keys.isEmpty)
          frame.df.agg(compileExpr(aggs.head._2, frame).as(aggs.head._1),
            aggs.tail.map { case (n, e) =>
              compileExpr(e, frame).as(n) }: _*)
        else
          frame.df
            .groupBy(keys.map { case (n, e) =>
              compileExpr(e, frame).as(n) }: _*)
            .agg(compileExpr(aggs.head._2, frame).as(aggs.head._1),
              aggs.tail.map { case (n, e) =>
                compileExpr(e, frame).as(n) }: _*)
      } else {
        frame.df.select(items.map { case (n, e) =>
          compileExpr(e, frame).as(n) }: _*)
      }
    if (r.distinct) df = df.distinct()
    if (r.orderBy.nonEmpty) {
      val outCols = df.columns.toSet
      val sortCols = r.orderBy.flatMap { case (e, asc) =>
        val c = e match {
          case EVar(n) if outCols.contains(n) => col(n)
          case EProp(v, k) if outCols.contains(s"$v.$k") => col(s"`$v.$k`")
          case _ =>
            // expression over the ORIGINAL frame isn't visible post-
            // projection; re-alias when it matches an output item
            items.find(_._2 == e).map(i => col(i._1))
              .getOrElse(compileExpr(e, frame))
        }
        // property values are stored as strings; Cypher orders numbers
        // numerically (and before strings). Composite key: numeric cast
        // first (non-numerics → null → sorted after numbers), raw string
        // as tiebreak — "9" < "10" < "100", "abc" after all numbers.
        val isProp = e match {
          case _: EProp => true
          case EVar(n)  => // alias of a property projection?
            items.exists(i => i._1 == n && i._2.isInstanceOf[EProp])
          case _ => false
        }
        if (isProp) {
          val num = c.try_cast("double") // ANSI-safe: non-numeric → null
          Seq(if (asc) num.asc_nulls_last else num.desc_nulls_last,
            if (asc) c.asc else c.desc)
        } else Seq(if (asc) c.asc else c.desc)
      }
      df = df.orderBy(sortCols: _*)
    }
    r.skip.foreach(n => df = df.offset(n.toInt))
    r.limit.foreach(n => df = df.limit(n.toInt))
    df
  }

  private def defaultName(e: Expr): String = e match {
    case EVar(n)             => n
    case EProp(v, k)         => s"$v.$k"
    case EFunc(n, Seq(), _)  => s"$n()"
    case EFunc(n, args, _)   => s"$n(${args.map(defaultName).mkString(",")})"
    case ELit(LStr(s))       => s
    case ELit(LInt(v))       => v.toString
    case ELit(LFloat(v))     => v.toString
    case ELit(LBool(v))      => v.toString
    case EBin(op, l, r)      => s"${defaultName(l)}$op${defaultName(r)}"
    case EMapProj(v, _, _)   => v
    case _                   => "expr"
  }
}
