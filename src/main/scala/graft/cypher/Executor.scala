package graft.cypher

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StringType

import Ast._
import graft.engine.{CompileGate, GraphState}

/** Result of a Cypher statement: an optional result set plus the (possibly
  * mutated) graph snapshot — mutations are pure GraphState → GraphState
  * (SURVEY.md §7.5.2). */
final case class CypherResult(df: Option[DataFrame], state: GraphState)

/** Top-level Cypher entry point: parse → compile → execute.
  *
  * Read-only queries compile to a single DataFrame plan. Mutating queries
  * (CREATE / SET / REMOVE / DELETE) fold over the clause list threading a
  * GraphState, mirroring the reference's execute_cypher dispatch
  * (cypher_parser.rs:644-806) with set-oriented semantics instead of
  * row-at-a-time storage calls. Each write clause evaluates its delta
  * when it runs (GraphState.pin), so a write that fails at runtime
  * throws here and leaves the caller's snapshot as it was.
  */
object Cypher {

  /** Runs `query` over `g`. A statement over a small graph (at most
    * [[CompileGate.CypherMaxRows]] known rows) runs interpreted on
    * graft's twin of `spark`: its result frame is bound to the twin, as
    * a `foreachBatch` frame is bound to its stream's session, so it
    * plans and runs interpreted whoever collects it, and a temp view
    * made through it lives in the twin. A write's new snapshot stays
    * bound to `spark`. */
  def execute(g: GraphState, query: String,
      params: Map[String, Any] = Map.empty)
      (implicit spark: SparkSession): CypherResult = {
    // Cypher SET overwrites existing property keys: map_concat must take
    // the last value rather than throw on duplicates.
    spark.conf.set("spark.sql.mapKeyDedupPolicy", "LAST_WIN")
    CompileGate.statement(spark, g)(statement(g, query, params))
  }

  private def statement(g: GraphState, query: String,
      params: Map[String, Any])(implicit spark: SparkSession)
      : CypherResult = {
    // EXPLAIN <read-query> (Neo4j-style): return the Spark physical plan
    // as rows instead of executing. Mutations are excluded — their plan
    // is a sequence of snapshot rewrites, not one DataFrame.
    val trimmed = query.trim
    if (trimmed.length >= 8 &&
        trimmed.substring(0, 8).equalsIgnoreCase("EXPLAIN ")) {
      val innerQ = trimmed.substring(8)
      // a mutation must not run as a side effect of being explained
      if (Parser.parseMulti(innerQ, params)._1.exists(_.isMutation))
        throw new ParseException(
          "EXPLAIN supports read-only queries (mutations execute as a " +
            "sequence of snapshot rewrites, not one plan)")
      val df = execute(g, innerQ, params).df.get // read-only: lazy, no jobs
      import spark.implicits._
      return CypherResult(Some(df.queryExecution.executedPlan
        .toString.linesIterator.toSeq.toDF("plan")), g)
    }
    val (parts, unionAll) = Parser.parseMulti(query, params)
    if (parts.size > 1) {
      // UNION chain: read-only parts, matching output columns; UNION
      // dedupes (one distinct over the combined result), UNION ALL
      // concatenates — both a single unionByName plan, no per-part jobs.
      if (parts.exists(_.isMutation))
        throw new ParseException("UNION parts must be read-only queries")
      val dfs = parts.map(p => new Compiler(g).compileRead(p))
      val cols = dfs.head.columns.toSeq
      dfs.tail.foreach { d =>
        if (d.columns.toSeq != cols)
          throw new ParseException(
            s"UNION parts return different columns: $cols vs " +
              d.columns.toSeq)
      }
      val u = dfs.reduce(_ unionByName _)
      return CypherResult(Some(if (unionAll) u else u.distinct()), g)
    }
    val ast = parts.head
    val compiler = new Compiler(g)
    if (!ast.isMutation)
      CypherResult(Some(compiler.compileRead(ast)), g)
    else
      executeMutation(g, ast)
  }

  /** Convenience: read-only execution returning the DataFrame. */
  def query(g: GraphState, q: String,
      params: Map[String, Any] = Map.empty)
      (implicit spark: SparkSession): DataFrame =
    execute(g, q, params).df.getOrElse(
      throw new ParseException("statement returned no rows"))

  private def executeMutation(g0: GraphState, ast: CypherQuery)
      (implicit spark: SparkSession): CypherResult = {
    var state = g0
    var compiler = new Compiler(state)
    var frame = compiler.emptyFrame
    var result: Option[DataFrame] = None
    // Statement-scoped counter for unnamed CREATE pattern nodes: the
    // binding column names (__c1__id, …) are deterministic across JVMs,
    // unlike the identityHashCode names they replace.
    val unnamedSeq = new java.util.concurrent.atomic.AtomicInteger(0)
    def nextUnnamed(): String = s"__c${unnamedSeq.incrementAndGet()}"

    def recompile(): Unit = { compiler = new Compiler(state) }

    ast.clauses.foreach {
      case m: MatchClause =>
        frame = compiler.compileMatch(frame, m)
      case u: UnwindClause =>
        frame = compiler.compileUnwind(frame, u)
      case c: CreateClause =>
        val (st2, fr2) = applyCreate(state, compiler, frame, c, nextUnnamed)
        state = st2
        frame = fr2
        recompile()
      case m: MergeClause =>
        // Per-ROW match-or-create (Cypher MERGE semantics): each binding
        // row independently either binds the matching pattern or creates
        // it. Rows are tagged, matched via the pattern (whose props may
        // reference frame variables), and the anti-joined remainder goes
        // through the CREATE machinery. localCheckpoint pins the row tags
        // across actions. Two refinements for set-oriented correctness:
        //  - duplicate unmatched keys create ONE pattern instance (Neo4j
        //    MERGE sees, and binds, what an earlier row just created);
        //  - both halves project to the SAME carried+named-variable
        //    columns before the union (the matched frame carries extra
        //    internal rel columns the created frame lacks).
        // LAZY (r14 session 3): monotonically_increasing_id is
        // deterministic for a fixed partition layout (partitionIndex
        // << 33 + row offset), and the checkpoint freezes the layout,
        // so even a concurrent double-compute of a partition (both
        // sides of the stats join below race to materialize it) yields
        // identical tags; the stats job is the first action and
        // materializes every partition. Dropping the eager job saves
        // one scheduled job per MERGE clause. uuid() frames (applyCreate)
        // are pinned once at write time (GraphState.pin): truly random
        // per evaluation, so a lazy frame there would diverge.
        val tagged = Compiler.Frame(CompileGate.checkpoint(
          frame.df.withColumn("__merge_row", monotonically_increasing_id()),
          eager = false), frame.vars)
        val matched0 = compiler.compileMatch(tagged,
          MatchClause(optional = false, Seq(m.pattern), None))
        // the matched side feeds the anti-join and both output
        // projections — checkpoint it ONCE instead of re-running the
        // pattern join per consumer. LAZY (r14): it is a deterministic
        // function of the pinned `tagged`, and the stats job right
        // below is its first action, so an eager checkpoint job buys
        // nothing; consumers are set-oriented, so within-partition row
        // order is free
        val matched = Compiler.Frame(
          CompileGate.checkpoint(matched0.df, eager = false), matched0.vars)
        val mrows = matched.df.select(col("__merge_row")).distinct()
        // ONE driver probe for the whole clause (r14): total rows +
        // rows with a match in a single left-outer pass — replaces the
        // former unmatched.isEmpty / matched.isEmpty / per-ON-half
        // isEmpty probes (each a scheduled job; on few-row MERGEs the
        // probe jobs, not data, were the latency) and materializes the
        // lazy matched checkpoint as a side effect.
        val mStats = CompileGate.interpreted(tagged.df.join(
            mrows.withColumn("__hit", lit(1)), Seq("__merge_row"),
            "left_outer") // __merge_row unique in tagged: 1:≤1
          .agg(count(lit(1)).as("n"), count(col("__hit")).as("m")))
          .head()
        val nTagged = mStats.getLong(0)
        val nWithMatch = mStats.getLong(1)
        val unmatched = tagged.df.join(mrows, Seq("__merge_row"),
          "left_anti")
        val patNodes = m.pattern.head +: m.pattern.tail.map(_._2)
        val patVars: Map[String, Compiler.VarKind] =
          (patNodes.flatMap(_.variable)
             .map(_ -> (Compiler.NodeVar: Compiler.VarKind)) ++
           m.pattern.tail.flatMap(_._1.variable)
             .map(_ -> (Compiler.RelVar: Compiler.VarKind))).toMap
        val outVars = tagged.vars ++ patVars
        val outCols = "__merge_row" +: outVars.toSeq.sortBy(_._1)
          .flatMap { case (v, k) => varColumns(v, k) }
        // ON MATCH SET / ON CREATE SET run against exactly the half of
        // the rows that matched / were created (Cypher semantics) and,
        // like every write, pin their delta when they run; the frame's
        // carried props predate the SET, matching plain SET's
        // read-your-own-writes contract (re-query the state to observe).
        // emptiness of every half is already known from the one stats
        // job — no per-half isEmpty probes
        def applyOn(items: Seq[SetItem], half: DataFrame,
            nonEmpty: Boolean): Unit =
          if (items.nonEmpty && nonEmpty) {
            state = applySet(state, compiler,
              Compiler.Frame(half, outVars), SetClause(items))
            recompile()
          }
        // ON MATCH / ON CREATE target DISJOINT entities (an instance is
        // either pre-existing-and-matched or created by this clause), so
        // when both lists are plain SetProp items with per-list-distinct
        // (variable, key) — no within-list overwrite ordering to keep —
        // the two sequential state rewrites fold into ONE per-kind
        // rewrite: every downstream plan carries one groupBy+join
        // update layer instead of two (r14: cy19's final read paid both)
        def applyOnBoth(mHalf: DataFrame, cHalf: DataFrame): Unit =
          if (m.onMatch.nonEmpty && m.onCreate.nonEmpty &&
              fusibleSetProps(m.onMatch) && fusibleSetProps(m.onCreate)) {
            state = fusedSetProps(state, compiler, Seq(
              (Compiler.Frame(mHalf, outVars), m.onMatch),
              (Compiler.Frame(cHalf, outVars), m.onCreate)))
            recompile()
          } else {
            applyOn(m.onMatch, mHalf, nonEmpty = true)
            applyOn(m.onCreate, cHalf, nonEmpty = true)
          }
        if (nWithMatch == nTagged) { // unmatched empty
          val matchedOut =
            matched.df.select(outCols.map(col): _*).drop("__merge_row")
          applyOn(m.onMatch, matchedOut, nWithMatch > 0)
          frame = Compiler.Frame(matchedOut, outVars)
        } else {
          // One creation per distinct pattern KEY (the compiled property
          // values, null-safe): duplicate keys within a statement bind
          // the same created instance instead of multiplying it.
          val unFrame = Compiler.Frame(unmatched, tagged.vars)
          val keyExprs = (patNodes.flatMap(_.props.toSeq) ++
            m.pattern.tail.flatMap(_._1.props.toSeq)).map { case (_, e) =>
            coalesce(compiler.compileExpr(e, unFrame).cast(StringType),
              lit("\u0000"))
          }
          val keyed = unmatched.withColumn("__merge_key",
            if (keyExprs.isEmpty) lit("")
            else concat_ws("\u0001", keyExprs: _*))
          val reps = keyed.dropDuplicates("__merge_key")
          val (st2, fr2) = applyCreate(state, compiler,
            Compiler.Frame(reps, tagged.vars),
            CreateClause(Seq(m.pattern)), nextUnnamed)
          state = st2
          recompile()
          // re-bind EVERY unmatched row (incl. key duplicates) to the
          // instance created for its key
          val newCols = patVars.view
            .filterKeys(v => !tagged.vars.contains(v)).toSeq
            .flatMap { case (v, k) => varColumns(v, k) }
          val bindings =
            fr2.df.select(("__merge_key" +: newCols).map(col): _*)
          val createdOut = keyed.join(bindings, Seq("__merge_key"))
            .drop("__merge_key").select(outCols.map(col): _*)
          // this branch means unmatched was non-empty, so createdOut
          // (every unmatched row re-bound to its key's instance) is too
          if (nWithMatch > 0)
            applyOnBoth(matched.df.select(outCols.map(col): _*)
              .drop("__merge_row"), createdOut.drop("__merge_row"))
          else
            applyOn(m.onCreate, createdOut.drop("__merge_row"),
              nonEmpty = true)
          val merged =
            if (nWithMatch == 0) createdOut
            else matched.df.select(outCols.map(col): _*)
              .unionByName(createdOut)
          frame = Compiler.Frame(merged.drop("__merge_row"), outVars)
        }
      case s: SetClause =>
        state = applySet(state, compiler, frame, s)
        recompile()
      case f: ForeachClause =>
        // FOREACH (x IN list | updates): x binds once per element and is
        // visible only inside — the outer frame is unchanged. Elements
        // of nodes(p)/relationships(p) join back to the state so they
        // bind as FULL node/rel variables (SET/REMOVE/DELETE and
        // property reads on x just work); any other list binds x as a
        // value variable. Set-oriented throughout: one explode + one
        // equi-join, each update clause one distributed action.
        def runForeach(outer: Compiler.Frame, f0: ForeachClause): Unit = {
          val v = f0.variable
          val listCol = compiler.compileExpr(f0.list, outer)
          val exploded = outer.df.withColumn(s"${v}__elem", explode(listCol))
          val (subDf, kind) = f0.list match {
            case EFunc("nodes", _, _) =>
              val verts = state.vertices.select(
                col("id").as(s"${v}__id"), col("label").as(s"${v}__label"),
                col("properties").as(s"${v}__props"))
              (exploded.withColumnRenamed(s"${v}__elem", s"${v}__id")
                 .join(verts, Seq(s"${v}__id")),
                Compiler.NodeVar: Compiler.VarKind)
            case EFunc("relationships", _, _) =>
              val eds = state.edges.select(
                col("id").as(s"${v}__id"), col("src").as(s"${v}__src"),
                col("dst").as(s"${v}__dst"),
                col("edge_type").as(s"${v}__type"),
                col("properties").as(s"${v}__props"))
              (exploded.withColumnRenamed(s"${v}__elem", s"${v}__id")
                 .join(eds, Seq(s"${v}__id")),
                Compiler.RelVar: Compiler.VarKind)
            case _ =>
              (exploded.withColumnRenamed(s"${v}__elem", s"${v}__val"),
                Compiler.ValueVar: Compiler.VarKind)
          }
          var sub = Compiler.Frame(subDf, outer.vars + (v -> kind))
          f0.updates.foreach {
            case s: SetClause =>
              state = applySet(state, compiler, sub, s); recompile()
            case r: RemoveClause =>
              state = applyRemove(state, sub, r); recompile()
            case d: DeleteClause =>
              state = applyDelete(state, sub, d); recompile()
            case c: CreateClause =>
              val (st2, fr2) = applyCreate(state, compiler, sub, c,
                nextUnnamed)
              state = st2; sub = fr2; recompile()
            case f2: ForeachClause => runForeach(sub, f2)
            case other => throw new ParseException(
              s"unsupported clause in FOREACH: $other")
          }
        }
        runForeach(frame, f)
      case r: RemoveClause =>
        state = applyRemove(state, frame, r)
        recompile()
      case d: DeleteClause =>
        state = applyDelete(state, frame, d)
        recompile()
      case r: ReturnClause =>
        result =
          Some(CompileGate.interpreted(compiler.compileReturn(frame, r)))
      case w: WithClause =>
        frame = compiler.compileWith(frame, w)
      case c: CallClause =>
        frame = compiler.compileCall(frame, c)
      case p: ProcedureClause =>
        frame = compiler.compileProcedure(frame, p)
    }
    CypherResult(result, state)
  }

  /** Every item a plain `SetProp` and the (variable, key) pairs
    * distinct — no within-list overwrite ordering to preserve, so the
    * list is safe to fold into one batched state rewrite. */
  private def fusibleSetProps(items: Seq[SetItem]): Boolean = {
    val kv = items.collect { case SetProp(v, k, _) => (v, k) }
    kv.length == items.length && kv.distinct.length == kv.length
  }

  /** One state rewrite for several (frame, SetProp items) groups whose
    * entity-id sets are mutually disjoint (MERGE's matched vs created
    * halves): unions the per-item (id, key, value) updates and applies
    * setVertexPropertiesRows / setEdgePropertiesRows once per kind. */
  private def fusedSetProps(state: GraphState, compiler: Compiler,
      groups: Seq[(Compiler.Frame, Seq[SetItem])]): GraphState = {
    val upds = groups.flatMap { case (frame, items) =>
      items.collect { case SetProp(v, k, valueExpr) =>
        val value = compiler.compileExpr(valueExpr, frame).cast(StringType)
        val isEdge = frame.vars.get(v).contains(Compiler.RelVar)
        (isEdge,
          frame.df.select(col(s"${v}__id").as("id"), lit(k).as("key"),
            value.as("value")))
      }
    }
    val (edgeUpds, vertUpds) = upds.partition(_._1)
    var st = state
    if (vertUpds.nonEmpty)
      st = st.setVertexPropertiesRows(
        vertUpds.map(_._2).reduce(_ unionByName _))
    if (edgeUpds.nonEmpty)
      st = st.setEdgePropertiesRows(
        edgeUpds.map(_._2).reduce(_ unionByName _))
    st
  }

  // ---------- CREATE ----------

  /** Frame column names for a bound variable of the given kind. */
  private def varColumns(v: String, k: Compiler.VarKind): Seq[String] =
    k match {
      case Compiler.NodeVar =>
        Seq(s"${v}__id", s"${v}__label", s"${v}__props")
      case Compiler.RelVar =>
        Seq(s"${v}__id", s"${v}__src", s"${v}__dst", s"${v}__type",
          s"${v}__props")
      case Compiler.ValueVar => Seq(s"${v}__val")
      case Compiler.PathVar  => Seq(s"${v}__path", s"${v}__epath")
    }

  private def applyCreate(state: GraphState, compiler: Compiler,
      frame0: Compiler.Frame, c: CreateClause, nextUnnamed: () => String)
      : (GraphState, Compiler.Frame) = {
    var st = state
    var frame = frame0
    c.patterns.foreach { pat =>
      // 1. bind/create every node in the chain. Unnamed nodes get a
      // deterministic statement-scoped binding name so the edge leg
      // below can reference their generated ids.
      val nodes = pat.head +: pat.tail.map(_._2)
      val nodeNames = nodes.map(np => np.variable.getOrElse(nextUnnamed()))
      nodes.zip(nodeNames).foreach { case (np, vName) =>
        if (np.variable.isEmpty || !frame.has(vName)) {
          val propCols: Seq[Column] = np.props.toSeq.flatMap { case (k, e) =>
            Seq(lit(k), compiler.compileExpr(e, frame).cast(StringType))
          }
          // the pin fixes the generated uuid(): the vertex write, the
          // edge write and later clauses all read the same ids
          val df2 = GraphState.pin("create", frame.df
            .withColumn(s"${vName}__id", expr("uuid()"))
            .withColumn(s"${vName}__label", lit(np.labels.mkString(":")))
            .withColumn(s"${vName}__props",
              if (propCols.isEmpty)
                map().cast("map<string,string>")
              else map(propCols: _*))).frame
          frame = Compiler.Frame(df2,
            frame.vars + (vName -> Compiler.NodeVar))
          val newVerts = df2.select(
            col(s"${vName}__id").as("id"),
            col(s"${vName}__label").as("label"),
            col(s"${vName}__props").as("properties"))
          st = st.upsertVertices(newVerts)
        }
      }
      // 2. create the chain's relationships; NAMED relationships bind
      // into the frame (MERGE's union and later clauses reference them)
      var prev = nodeNames.head
      pat.tail.zip(nodeNames.tail).foreach { case ((rp, _), nv) =>
        val (srcV, dstV) = if (rp.direction == -1) (nv, prev) else (prev, nv)
        val t = rp.types.headOption.getOrElse("RELATED")
        val propCols: Seq[Column] = rp.props.toSeq.flatMap { case (k, e) =>
          Seq(lit(k), compiler.compileExpr(e, frame).cast(StringType))
        }
        val propsCol =
          if (propCols.isEmpty) map().cast("map<string,string>")
          else map(propCols: _*)
        rp.variable match {
          case Some(rv) =>
            val df2 = GraphState.pin("create", frame.df
              .withColumn(s"${rv}__id", expr("uuid()"))
              .withColumn(s"${rv}__src", col(s"${srcV}__id"))
              .withColumn(s"${rv}__dst", col(s"${dstV}__id"))
              .withColumn(s"${rv}__type", lit(t))
              .withColumn(s"${rv}__props", propsCol)).frame
            frame = Compiler.Frame(df2,
              frame.vars + (rv -> Compiler.RelVar))
            st = st.upsertEdges(df2.select(
              col(s"${rv}__id").as("id"),
              col(s"${rv}__src").as("src"),
              col(s"${rv}__dst").as("dst"),
              col(s"${rv}__type").as("edge_type"),
              lit("").as("label"),
              col(s"${rv}__props").as("properties")))
          case None => // upsertEdges pins the uuid() ids
            st = st.upsertEdges(frame.df.select(
              expr("uuid()").as("id"),
              col(s"${srcV}__id").as("src"),
              col(s"${dstV}__id").as("dst"),
              lit(t).as("edge_type"),
              lit("").as("label"),
              propsCol.as("properties")))
        }
        prev = nv
      }
    }
    (st, frame)
  }

  // ---------- SET / REMOVE / DELETE ----------

  private def applySet(state: GraphState, compiler: Compiler,
      frame: Compiler.Frame, s: SetClause): GraphState = {
    var st = state
    s.items.foreach {
      case SetProp(v, k, valueExpr) =>
        val value = compiler.compileExpr(valueExpr, frame).cast(StringType)
        val updates = frame.df.select(
          col(s"${v}__id").as("id"), lit(k).as("key"), value.as("value"))
        st = frame.vars.get(v) match {
          case Some(Compiler.RelVar) => st.setEdgePropertiesRows(updates)
          case _                     => st.setVertexPropertiesRows(updates)
        }
      case SetLabel(v, label) =>
        st = st.addVertexLabel(frame.df.select(col(s"${v}__id")), label)
      case SetAll(v, valueExpr, additive) =>
        import org.apache.spark.sql.types.{MapType, StringType => StrT}
        val mapCol = compiler.compileExpr(valueExpr, frame)
          .cast(MapType(StrT, StrT))
        val isEdge = frame.vars.get(v).contains(Compiler.RelVar)
        if (additive) {
          // merge: explode to (id, key, value) rows — same upsert path
          // as SET v.k (empty maps contribute nothing, as in Cypher)
          val updates = frame.df
            .select(col(s"${v}__id").as("id"), explode(mapCol))
          st = if (isEdge) st.setEdgePropertiesRows(updates)
            else st.setVertexPropertiesRows(updates)
        } else {
          val repl = frame.df
            .select(col(s"${v}__id").as("id"), mapCol.as("__new"))
          st = if (isEdge) st.replaceEdgeProperties(repl)
            else st.replaceVertexProperties(repl)
        }
    }
    st
  }

  private def applyRemove(state: GraphState, frame: Compiler.Frame,
      r: RemoveClause): GraphState = {
    var st = state
    r.items.foreach {
      case RemoveProp(v, k) =>
        st = st.removeVertexProperty(frame.df.select(col(s"${v}__id")), k)
      case RemoveLabel(v, l) =>
        st = st.removeVertexLabel(frame.df.select(col(s"${v}__id")), l)
    }
    st
  }

  private def applyDelete(state: GraphState, frame: Compiler.Frame,
      d: DeleteClause): GraphState = {
    var st = state
    d.variables.foreach { v =>
      frame.vars.get(v) match {
        case Some(Compiler.RelVar) =>
          st = st.deleteEdges(frame.df.select(
            col(s"${v}__src").as("src"), col(s"${v}__type").as("edge_type"),
            col(s"${v}__dst").as("dst")))
        case Some(Compiler.NodeVar) =>
          val ids = frame.df.select(col(s"${v}__id"))
          st =
            if (d.detach) st.detachDeleteVertices(ids)
            else st.deleteVertices(ids).getOrElse(
              throw new ParseException(s"cannot DELETE $v: vertex still " +
                "has relationships (use DETACH DELETE)"))
        case other =>
          throw new ParseException(s"cannot DELETE $v ($other)")
      }
    }
    st
  }
}
