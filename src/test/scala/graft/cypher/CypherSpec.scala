package graft.cypher

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.{col, map_entries, sort_array}

import graft.SparkSpec
import graft.SparkSpec.withKernelBound
import graft.engine.GraphState
import graft.model.GraphSchemas

/** Golden tests for the declared Cypher surface, following the reference's
  * capability corpus lib/src/storage_engine/queries_examples.txt (QE) —
  * the de-facto spec (SURVEY.md §0.3). The fixture graph is built by
  * executing the QE CREATE statements through the executor itself.
  */
class CypherSpec extends SparkSpec {
  private implicit lazy val s: SparkSession = spark

  private def emptyGraph: GraphState = GraphState(
    spark.createDataFrame(spark.sparkContext
      .emptyRDD[Row], GraphSchemas.vertexSchema),
    spark.createDataFrame(spark.sparkContext
      .emptyRDD[Row], GraphSchemas.edgeSchema))

  private def runScript(g0: GraphState, script: String): GraphState =
    script.split(";").map(_.trim).filter(_.nonEmpty)
      .foldLeft(g0)((g, stmt) => Cypher.execute(g, stmt).state)

  /** QE "Basic" fixture: 4 people, KNOWS/WORKS_WITH edges. */
  private lazy val people: GraphState = {
    val g = runScript(emptyGraph,
      """CREATE (:Person {id: "alice", name: "Alice", age: 30, active: true, score: 95.5});
        |CREATE (:Person {id: "bob", name: "Bob", age: 35, active: true, score: 87.2});
        |CREATE (:Person {id: "charlie", name: "Charlie", age: 28, active: false});
        |CREATE (:Person {id: "diana", name: "Diana", age: 32});
        |MATCH (a:Person {id: "alice"}), (b:Person {id: "bob"})
        |CREATE (a)-[:KNOWS {since: 2018, strength: 0.9}]->(b);
        |MATCH (a:Person {id: "alice"}), (c:Person {id: "charlie"})
        |CREATE (a)-[:KNOWS {since: 2020, strength: 0.6}]->(c);
        |MATCH (b:Person {id: "bob"}), (d:Person {id: "diana"})
        |CREATE (b)-[:WORKS_WITH {project: "GraphDB"}]->(d);
        |MATCH (b:Person {id: "bob"}), (a:Person {id: "alice"})
        |CREATE (b)-[:KNOWS {since: 2018}]->(a)""".stripMargin)
    GraphState(g.vertices.localCheckpoint(), g.edges.localCheckpoint())
  }

  private def q(cy: String): DataFrame = Cypher.query(people, cy)

  test("QE4: MATCH (n) RETURN n — all four people") {
    assert(q("MATCH (n) RETURN n").count() == 4)
  }

  test("QE5: MATCH ()-[r]->() RETURN r — all edges") {
    assert(q("MATCH ()-[r]->() RETURN r").count() == 4)
  }

  test("QE3: lookup by property (D3)") {
    val rows = q("""MATCH (p:Person {id: "alice"}) RETURN p.name""").collect()
    assert(rows.map(_.getString(0)).toSeq == Seq("Alice"))
  }

  test("QE6: friends of Alice with projection (D11)") {
    val rows = q(
      """MATCH (alice:Person {id: "alice"})-[:KNOWS]->(friend)
        |RETURN friend.name AS friend_name, friend.age, friend.active"""
        .stripMargin).collect()
    assert(rows.map(_.getString(0)).toSet == Set("Bob", "Charlie"))
  }

  test("QE7: relationship properties + ORDER BY DESC (D12)") {
    val rows = q(
      """MATCH (alice:Person {id: "alice"})-[r:KNOWS]->(friend)
        |RETURN friend.name, r.since, r.strength
        |ORDER BY r.strength DESC""".stripMargin).collect()
    assert(rows.map(_.getString(0)).toSeq == Seq("Bob", "Charlie"))
  }

  test("QE8: bidirectional pattern (D13)") {
    val rows = q(
      """MATCH (a:Person {id: "alice"})-[:KNOWS]->(b:Person {id: "bob"}),
        |      (b)-[:KNOWS]->(a)
        |RETURN a.name, b.name""".stripMargin).collect()
    assert(rows.length == 1)
    assert(rows.head.getString(0) == "Alice" && rows.head.getString(1) == "Bob")
  }

  test("QE9/QE10: WHERE comparisons and compound predicates (D14/D15)") {
    val older = q(
      "MATCH (p:Person) WHERE p.age > 30 RETURN p.id, p.name, p.age")
      .collect().map(_.getString(1)).toSet
    assert(older == Set("Bob", "Diana"))
    val activeOlder = q(
      """MATCH (p:Person) WHERE p.age >= 30 AND p.active = true
        |RETURN p.name, p.age""".stripMargin)
      .collect().map(_.getString(0)).toSet
    assert(activeOlder == Set("Alice", "Bob"))
  }

  test("QE11: toLower + CONTAINS (D16)") {
    val rows = q(
      """MATCH (p:Person) WHERE toLower(p.name) CONTAINS "ali"
        |RETURN p.name""".stripMargin).collect()
    assert(rows.map(_.getString(0)).toSeq == Seq("Alice"))
  }

  test("QE14: degree aggregation (D19)") {
    val rows = q(
      """MATCH (p:Person)-[r]->()
        |RETURN p.name AS person, count(r) AS outgoing_count
        |ORDER BY outgoing_count DESC, person""".stripMargin).collect()
    assert(rows.map(r => (r.getString(0), r.getLong(1))).toSeq
      == Seq(("Alice", 2), ("Bob", 2)))
  }

  test("QE15: avg with WHERE (D20)") {
    val rows = q(
      """MATCH (p:Person) WHERE p.active = true
        |RETURN avg(p.age) AS avg_active_age""".stripMargin).collect()
    assert(rows.head.getDouble(0) == 32.5)
  }

  test("QE22: OPTIONAL MATCH returns nulls (D27)") {
    val rows = q(
      """MATCH (p:Person {id: "diana"})
        |OPTIONAL MATCH (p)-[r:KNOWS]->(friend)
        |RETURN p.name, friend.name AS knows_someone""".stripMargin)
      .collect()
    assert(rows.length == 1)
    assert(rows.head.getString(0) == "Diana" && rows.head.isNullAt(1))
  }

  test("QE23: multi-type edge match (D28)") {
    val rows = q(
      """MATCH (a:Person {id: "alice"})-[r:KNOWS|WORKS_WITH]->(b)
        |RETURN a.name, type(r), b.name""".stripMargin).collect()
    assert(rows.map(_.getString(2)).toSet == Set("Bob", "Charlie"))
  }

  test("QE24: collect() lists (D29)") {
    val row = q(
      """MATCH (p:Person)
        |RETURN collect(p.name) AS all_names""".stripMargin).collect().head
    assert(row.getSeq[String](0).toSet
      == Set("Alice", "Bob", "Charlie", "Diana"))
  }

  test("QE26: regex =~ case-insensitive (D31)") {
    val rows = q(
      """MATCH (p:Person) WHERE p.name =~ "(?i)alice" RETURN p.name""")
      .collect()
    assert(rows.map(_.getString(0)).toSeq == Seq("Alice"))
  }

  test("QE27: exists() (D32)") {
    val row = q(
      """MATCH (p:Person {id: "alice"})
        |RETURN exists(p.last_seen) AS has_last_seen""".stripMargin)
      .collect().head
    assert(!row.getBoolean(0))
  }

  test("QE: labels(n) and count(n) (D5/D6)") {
    val total = q("MATCH (n) RETURN count(n) AS total_vertices")
      .collect().head.getLong(0)
    assert(total == 4)
    val labels = q("""MATCH (p:Person {id: "alice"}) RETURN labels(p)""")
      .collect().head.getSeq[String](0)
    assert(labels == Seq("Person"))
  }

  test("QE13: variable-length paths [*1..3] with LIMIT (D18)") {
    val rows = q(
      """MATCH (a:Person {id: "alice"})-[*1..3]-(x)
        |RETURN DISTINCT x.name LIMIT 20""".stripMargin).collect()
    // undirected within 3 hops: everyone reachable
    assert(rows.map(_.getString(0)).toSet
      == Set("Alice", "Bob", "Charlie", "Diana"))
  }

  test("QE12: shortestPath with node list comprehension (D17)") {
    val rows = q(
      """MATCH (alice:Person {id: "alice"}), (diana:Person {id: "diana"})
        |MATCH path = shortestPath((alice)-[*..5]-(diana))
        |RETURN [n IN nodes(path) | n] AS path_nodes""".stripMargin)
      .collect()
    assert(rows.length == 1)
    // alice -> bob -> diana (via KNOWS + WORKS_WITH, undirected)
    assert(rows.head.getSeq[String](0).length == 3)
  }

  test("QE12 full form: property + relationship-type comprehensions") {
    val rows = q(
      """MATCH (alice:Person {id: "alice"}), (diana:Person {id: "diana"})
        |MATCH path = shortestPath((alice)-[*..5]-(diana))
        |RETURN [n IN nodes(path) | n.name] AS path_nodes,
        |       [r IN relationships(path) | type(r)] AS edge_types"""
        .stripMargin).collect()
    assert(rows.length == 1)
    assert(rows.head.getSeq[String](0) == Seq("Alice", "Bob", "Diana"))
    assert(rows.head.getSeq[String](1) == Seq("KNOWS", "WORKS_WITH"))
  }

  test("deep-bound shortestPath with unbound endpoint: eager engine") {
    // the unbound-endpoint path runs the from-to engine, never a
    // source×target product: the driver kernel at the default bound,
    // the distributed frontier loop at bound 0 — same rows
    def run() = q(
      """MATCH (a:Person {id: "alice"})
        |MATCH p = shortestPath((a)-[*..12]-(b:Person {id: "diana"}))
        |RETURN size(nodes(p)) AS n""".stripMargin).collect().toSeq
    val rows = run()
    assert(rows.length == 1 && rows.head.getInt(0) == 3)
    assert(withKernelBound("0")(run()) == rows)
  }

  test("shortestPath far endpoint with a CORRELATED property map") {
    // {active: a.active} references the OUTER variable: the compiler
    // must route this through the pair-product path — the unbound-
    // endpoint tree fast path evaluates b's props against b's frame
    // alone and cannot resolve a.active (formerly AnalysisException)
    val rows = q(
      """MATCH (a:Person {id: "alice"})
        |MATCH p = shortestPath((a)-[*..3]-(b:Person {active: a.active}))
        |RETURN b.name AS name""".stripMargin)
      .collect().map(_.getString(0)).toSet
    // active=true matches alice (self, zero-length path) and bob;
    // charlie is active=false, diana has no active property
    assert(rows == Set("Alice", "Bob"))
  }

  test("allShortestPaths binds every minimal route through Cypher") {
    // alice-KNOWS->bob-WORKS_WITH->diana is the unique 2-hop route in
    // the fixture, so build a second route first: alice->charlie->diana
    val g2 = runScript(people,
      """MATCH (c:Person {id: "charlie"}), (d:Person {id: "diana"})
        |CREATE (c)-[:KNOWS]->(d)""".stripMargin)
    val rows = Cypher.query(g2,
      """MATCH (a:Person {id: "alice"}), (d:Person {id: "diana"})
        |MATCH p = allShortestPaths((a)-[*..4]->(d))
        |RETURN [n IN nodes(p) | n.name] AS route""".stripMargin)
      .collect().map(_.getSeq[String](0)).toSet
    assert(rows == Set(Seq("Alice", "Bob", "Diana"),
      Seq("Alice", "Charlie", "Diana")))
  }

  test("list comprehensions apply scalar expressions to each element") {
    val rows = q(
      """UNWIND [1, 2, 3] AS ignored
        |WITH collect(ignored) AS xs
        |RETURN [x IN xs | x * 10] AS tens,
        |       [x IN xs | toString(x)] AS strs""".stripMargin).collect()
    assert(rows.head.getSeq[Double](0) == Seq(10.0, 20.0, 30.0))
    assert(rows.head.getSeq[String](1) == Seq("1", "2", "3"))
  }

  test("QE16/18: SET + REMOVE property cycle (D21/D23)") {
    val g2 = Cypher.execute(people,
      """MATCH (p:Person {id: "alice"}) SET p.age = 31""").state
    val aged = Cypher.query(g2,
      """MATCH (p:Person {id: "alice"}) RETURN p.age""")
      .collect().head.getString(0)
    assert(aged == "31")
    val g3 = Cypher.execute(g2,
      """MATCH (p:Person {id: "bob"}) REMOVE p.score""").state
    val hasScore = Cypher.query(g3,
      """MATCH (p:Person {id: "bob"}) RETURN exists(p.score) AS h""")
      .collect().head.getBoolean(0)
    assert(!hasScore)
  }

  test("QE17: SET label (D22)") {
    val g2 = Cypher.execute(people,
      """MATCH (p:Person {id: "alice"}) SET p:Employee""").state
    val labels = Cypher.query(g2,
      """MATCH (p:Person {id: "alice"}) RETURN labels(p)""")
      .collect().head.getSeq[String](0)
    assert(labels == Seq("Person", "Employee"))
  }

  test("QE19: edge property update (D24)") {
    val g2 = Cypher.execute(people,
      """MATCH (:Person {id: "alice"})-[r:KNOWS]->(:Person {id: "bob"})
        |SET r.strength = 0.95""".stripMargin).state
    val strength = Cypher.query(g2,
      """MATCH (:Person {id: "alice"})-[r:KNOWS]->(:Person {id: "bob"})
        |RETURN r.strength""".stripMargin).collect().head.getString(0)
    assert(strength == "0.95")
  }

  test("QE20/21: DELETE edge, DETACH DELETE vertex (D25/D26)") {
    val g2 = Cypher.execute(people,
      """MATCH (:Person {id: "alice"})-[r:KNOWS]->(:Person {id: "charlie"})
        |DELETE r""".stripMargin).state
    assert(Cypher.query(g2, "MATCH ()-[r]->() RETURN r").count() == 3)
    val g3 = Cypher.execute(g2,
      """MATCH (c:Person {id: "bob"}) DETACH DELETE c""").state
    assert(Cypher.query(g3, "MATCH (n) RETURN n").count() == 3)
    // every remaining edge touched bob → all cascade away
    assert(Cypher.query(g3, "MATCH ()-[r]->() RETURN r").count() == 0)
  }

  test("non-DETACH DELETE guard plans hash semi-joins, not nested-loop") {
    import org.apache.spark.sql.functions.col
    val probe = people.vertices.select(col("id")).limit(2)
    def plan() = people.incidentEdges(GraphState.pin("deleteVertices",
      probe, Seq("id"))).queryExecution.executedPlan.toString
    // checkpoint leg: two hash semi-joins
    val joined = GraphState.pinCap.withValue(0)(plan())
    assert(!joined.contains("BroadcastNestedLoopJoin"), joined)
    assert(joined.contains("LeftSemi"), joined)
    // local leg: one key-set filter, no join at all
    val filtered = plan()
    assert(!filtered.contains("Join"), filtered)
  }

  test("non-DETACH DELETE refuses vertices that still have relationships") {
    val err = intercept[ParseException] {
      Cypher.execute(people,
        """MATCH (p:Person {id: "alice"}) DELETE p""").state
    }
    assert(err.getMessage.contains("DETACH"))
    // a vertex with no incident edges deletes fine without DETACH
    val g = Cypher.execute(people,
      """CREATE (:Person {id: "loner", name: "Loner"})""").state
    val g2 = Cypher.execute(g,
      """MATCH (p:Person {id: "loner"}) DELETE p""").state
    assert(Cypher.query(g2, "MATCH (n:Person) RETURN n").count() == 4)
  }

  test("QE25: UNWIND batch create (D30)") {
    val g2 = Cypher.execute(people,
      """UNWIND [
        |  {id: "u100", name: "User100", age: 25},
        |  {id: "u101", name: "User101", age: 29},
        |  {id: "u102", name: "User102", age: 33}
        |] AS user
        |CREATE (:Person {id: user.id, name: user.name, age: user.age})"""
        .stripMargin).state
    assert(Cypher.query(g2, "MATCH (n:Person) RETURN n").count() == 7)
    val names = Cypher.query(g2,
      """MATCH (p:Person) WHERE p.age < 30 RETURN p.name ORDER BY p.name""")
      .collect().map(_.getString(0)).toSeq
    assert(names == Seq("Charlie", "User100", "User101"))
  }

  test("QE7-create: multi-label + & syntax (D4/D7)") {
    val g2 = runScript(emptyGraph,
      """CREATE (charlie:Person:Actor {name: 'Charlie Sheen'}),
        |  (oliver:Person&Director {name: 'Oliver Stone'})""".stripMargin)
    val actors = Cypher.query(g2, "MATCH (n:Person:Actor) RETURN n.name")
      .collect().map(_.getString(0))
    assert(actors.toSeq == Seq("Charlie Sheen"))
    val directors = Cypher.query(g2, "MATCH (n:Person:Director) RETURN n.name")
      .collect().map(_.getString(0))
    assert(directors.toSeq == Seq("Oliver Stone"))
  }

  test("ORDER BY on numeric string properties sorts numerically") {
    val g = runScript(emptyGraph,
      """CREATE (:N {name: "a", v: 9});
        |CREATE (:N {name: "b", v: 10});
        |CREATE (:N {name: "c", v: 100});
        |CREATE (:N {name: "d", v: 28})""".stripMargin)
    val asc = Cypher.query(g,
      "MATCH (n:N) RETURN n.name AS name, n.v AS v ORDER BY v")
      .collect().map(_.getString(1))
    assert(asc.toSeq == Seq("9", "10", "28", "100")) // not lexicographic
    val desc = Cypher.query(g,
      "MATCH (n:N) RETURN n.name, n.v ORDER BY n.v DESC")
      .collect().map(_.getString(1))
    assert(desc.toSeq == Seq("100", "28", "10", "9"))
  }

  test("WITH pipeline: aggregate then filter (HAVING shape)") {
    val rows = q(
      """MATCH (p:Person)-[r]->()
        |WITH p AS person, count(r) AS n WHERE n > 1
        |RETURN person.name AS name, n ORDER BY name""".stripMargin)
      .collect().map(r => (r.getString(0), r.getLong(1)))
    assert(rows.toSeq == Seq(("Alice", 2), ("Bob", 2)))
  }

  test("WITH ORDER BY + LIMIT does mid-pipeline top-k") {
    val rows = q(
      """MATCH (p:Person)-[r:KNOWS]->()
        |WITH p, count(r) AS n ORDER BY n DESC, p.id LIMIT 1
        |MATCH (p)-[:KNOWS]->(f)
        |RETURN p.name AS name, f.name AS friend ORDER BY friend"""
        .stripMargin)
      .collect().map(r => (r.getString(0), r.getString(1)))
    // Alice has the most KNOWS edges; top-1 kept, then re-expanded
    assert(rows.toSeq == Seq(("Alice", "Bob"), ("Alice", "Charlie")))
    // SKIP offsets past the top row
    val second = q(
      """MATCH (p:Person)
        |WITH p ORDER BY p.id SKIP 1 LIMIT 1
        |RETURN p.id AS id""".stripMargin).collect().map(_.getString(0))
    assert(second.toSeq == Seq("bob"))
  }

  test("WITH projection renames bindings for later clauses") {
    val rows = q(
      """MATCH (p:Person {id: "alice"})
        |WITH p AS me
        |MATCH (me)-[:KNOWS]->(f)
        |RETURN f.name ORDER BY f.name""".stripMargin)
      .collect().map(_.getString(0))
    assert(rows.toSeq == Seq("Bob", "Charlie"))
  }

  test("MERGE: binds existing pattern, creates when absent") {
    // existing: no new vertex
    val g1 = Cypher.execute(people,
      """MERGE (p:Person {id: "alice"}) SET p.merged = 'seen'""").state
    assert(Cypher.query(g1, "MATCH (n:Person) RETURN n").count() == 4)
    assert(Cypher.query(g1,
      """MATCH (p:Person {merged: 'seen'}) RETURN p.name""")
      .collect().map(_.getString(0)).toSeq == Seq("Alice"))
    // absent: created
    val g2 = Cypher.execute(g1,
      """MERGE (p:Person {id: "eve", name: "Eve"})""").state
    assert(Cypher.query(g2, "MATCH (n:Person) RETURN n").count() == 5)
    // idempotent on re-run
    val g3 = Cypher.execute(g2,
      """MERGE (p:Person {id: "eve", name: "Eve"})""").state
    assert(Cypher.query(g3, "MATCH (n:Person) RETURN n").count() == 5)
  }

  test("MERGE is per-row: mixed matched/unmatched UNWIND creates only the missing") {
    val g1 = Cypher.execute(people,
      """UNWIND ["alice", "newbie", "bob", "freshman"] AS pid
        |MERGE (p:Person {id: pid})
        |SET p.touched = 'yes'""".stripMargin).state
    // 4 existing + 2 created (alice/bob matched, newbie/freshman did not)
    assert(Cypher.query(g1, "MATCH (n:Person) RETURN n").count() == 6)
    // SET applied to matched AND created rows alike
    val touched = Cypher.query(g1,
      """MATCH (p:Person {touched: 'yes'}) RETURN p.id ORDER BY p.id""")
      .collect().map(_.getString(0))
    assert(touched.toSeq == Seq("alice", "bob", "freshman", "newbie"))
    // idempotent: re-running merges all four into existing vertices
    val g2 = Cypher.execute(g1,
      """UNWIND ["alice", "newbie", "bob", "freshman"] AS pid
        |MERGE (p:Person {id: pid})""".stripMargin).state
    assert(Cypher.query(g2, "MATCH (n:Person) RETURN n").count() == 6)
  }

  test("MERGE on a relationship pattern unions mixed matched+unmatched rows") {
    // alice-KNOWS->bob exists; alice-KNOWS->diana does not. The matched
    // half carries rel-binding columns the created half must align with.
    val g1 = Cypher.execute(people,
      """UNWIND ["bob", "diana"] AS tid
        |MATCH (a:Person {id: "alice"}), (t:Person {id: tid})
        |MERGE (a)-[r:KNOWS]->(t)
        |SET r.merged = "yes"""".stripMargin).state
    // existing alice->bob reused; alice->diana created (5 edges total)
    assert(Cypher.query(g1, "MATCH ()-[r]->() RETURN r").count() == 5)
    val touched = Cypher.query(g1,
      """MATCH (:Person {id: "alice"})-[r:KNOWS {merged: "yes"}]->(t)
        |RETURN t.id ORDER BY t.id""".stripMargin)
      .collect().map(_.getString(0))
    assert(touched.toSeq == Seq("bob", "diana"))
  }

  test("MERGE creates ONE node per distinct key, even with duplicate rows") {
    val g1 = Cypher.execute(people,
      """UNWIND ["x1", "x1", "x2"] AS i
        |MERGE (p:NewP {id: i})""".stripMargin).state
    // two distinct keys -> two creations, not three
    assert(Cypher.query(g1, "MATCH (n:NewP) RETURN n").count() == 2)
    // every row (incl. the duplicate) re-binds the created instance
    val bound = Cypher.execute(people,
      """UNWIND ["y1", "y1"] AS i
        |MERGE (p:NewP {id: i})
        |RETURN count(p) AS n""".stripMargin)
    assert(bound.df.get.collect().head.getLong(0) == 2)
    assert(Cypher.query(bound.state, "MATCH (n:NewP) RETURN n").count() == 1)
  }

  test("WITH … ORDER BY … LIMIT … WHERE filters AFTER pagination") {
    // openCypher: grammar order == evaluation order. Take the two
    // youngest, THEN keep those over 29 — only diana (32 is not in the
    // youngest two: charlie 28, alice 30 -> filter >29 keeps alice).
    val rows = q(
      """MATCH (p:Person)
        |WITH p ORDER BY p.age LIMIT 2 WHERE p.age > 29
        |RETURN p.name AS name""".stripMargin)
      .collect().map(_.getString(0))
    // youngest two are Charlie(28) and Alice(30); WHERE keeps Alice only
    assert(rows.toSeq == Seq("Alice"))
  }

  test("aggregating CALL subquery: per-row counts, empty-aggregate values") {
    val rows = q(
      """MATCH (p:Person)
        |CALL { WITH p MATCH (p)-[:KNOWS]->(f:Person)
        |       RETURN count(*) AS nf, collect(f.name) AS fnames,
        |              min(f.age) AS minage }
        |RETURN p.name AS name, nf, fnames, minage ORDER BY name"""
        .stripMargin)
      .collect()
      .map(r => (r.getString(0), r.getLong(1),
        r.getSeq[String](2).sorted, Option(r.get(3))))
    assert(rows(0) == (("Alice", 2L, Seq("Bob", "Charlie"), Some("28"))))
    // bob's only outgoing KNOWS is to alice (diana is WORKS_WITH)
    assert(rows(1) == (("Bob", 1L, Seq("Alice"), Some("30"))))
    // no outgoing KNOWS: count 0, collect [], min null
    assert(rows(2) == (("Charlie", 0L, Seq.empty, None)))
    assert(rows(3) == (("Diana", 0L, Seq.empty, None)))
  }

  test("aggregating CALL subquery rejects mixed agg + plain items") {
    val err = intercept[ParseException] {
      q("""MATCH (p:Person)
          |CALL { WITH p MATCH (p)-[:KNOWS]->(f)
          |       RETURN f.name AS fn, count(*) AS n }
          |RETURN p.name, fn, n""".stripMargin)
    }
    assert(err.getMessage.contains("aggregates only"))
  }

  test("WITH carries path vars usable by relationships() downstream") {
    val rows = q(
      """MATCH (alice:Person {id: "alice"}), (diana:Person {id: "diana"})
        |MATCH path = shortestPath((alice)-[*..5]-(diana))
        |WITH path AS p
        |RETURN [r IN relationships(p) | type(r)] AS edge_types"""
        .stripMargin).collect()
    assert(rows.head.getSeq[String](0) == Seq("KNOWS", "WORKS_WITH"))
  }

  test("zero-length path comprehension yields [] not NULL") {
    val rows = q(
      """MATCH (a:Person {id: "alice"})
        |MATCH p = shortestPath((a)-[*..3]-(a))
        |RETURN [r IN relationships(p) | type(r)] AS ts,
        |       [n IN nodes(p) | n.name] AS ns""".stripMargin).collect()
    assert(rows.length == 1)
    assert(rows.head.getSeq[String](0) == Seq.empty[String])
    assert(rows.head.getSeq[String](1) == Seq("Alice"))
  }

  test("property access comprehension over arbitrary lists errors clearly") {
    val err = intercept[ParseException] {
      q("""MATCH (p:Person)
          |WITH collect(p.id) AS xs
          |RETURN [x IN xs | x.name] AS names""".stripMargin).collect()
    }
    assert(err.getMessage.contains("nodes(p)/relationships(p)"))
  }

  test("searched CASE buckets ages; ELSE catches the rest") {
    val rows = q(
      """MATCH (p:Person)
        |RETURN p.name AS name,
        |  CASE WHEN p.age >= 35 THEN 'senior'
        |       WHEN p.age >= 30 THEN 'mid'
        |       ELSE 'junior' END AS band
        |ORDER BY name""".stripMargin).collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(rows == Map("Alice" -> "mid", "Bob" -> "senior",
      "Charlie" -> "junior", "Diana" -> "mid"))
  }

  test("simple CASE compares the subject against WHEN values") {
    val rows = q(
      """MATCH (p:Person)
        |RETURN p.name AS name,
        |  CASE p.active WHEN true THEN 'yes' ELSE 'no/unknown' END AS act
        |ORDER BY name""".stripMargin).collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(rows("Alice") == "yes" && rows("Bob") == "yes" &&
      rows("Charlie") == "no/unknown" && rows("Diana") == "no/unknown")
  }

  test("CASE without ELSE yields null for unmatched rows") {
    val rows = q(
      """MATCH (p:Person)
        |RETURN p.name AS name,
        |  CASE WHEN p.age > 33 THEN 'old' END AS tag
        |ORDER BY name""".stripMargin).collect()
      .map(r => r.getString(0) -> Option(r.getString(1))).toMap
    assert(rows("Bob").contains("old") && rows("Alice").isEmpty)
  }

  test("CASE inside an aggregation groups buckets (gate cy13 shape)") {
    val rows = q(
      """MATCH (p:Person)
        |RETURN CASE WHEN p.age >= 30 THEN '30+' ELSE 'under' END AS band,
        |  count(*) AS n ORDER BY band""".stripMargin).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(rows == Map("30+" -> 3L, "under" -> 1L))
  }

  test("EXISTS {} subquery filters on pattern existence") {
    val rows = q(
      """MATCH (p:Person)
        |WHERE EXISTS { (p)-[:KNOWS]->(:Person) }
        |RETURN p.name AS name ORDER BY name""".stripMargin).collect()
      .map(_.getString(0)).toSeq
    assert(rows == Seq("Alice", "Bob"))
  }

  test("NOT EXISTS {} is the complement; WHERE inside the subquery applies") {
    val rows = q(
      """MATCH (p:Person)
        |WHERE NOT EXISTS { (p)-[:KNOWS]->(:Person) }
        |RETURN p.name AS name ORDER BY name""".stripMargin).collect()
      .map(_.getString(0)).toSeq
    assert(rows == Seq("Charlie", "Diana"))
    val filtered = q(
      """MATCH (p:Person)
        |WHERE EXISTS { (p)-[k:KNOWS]->(f:Person) WHERE f.age < 30 }
        |RETURN p.name AS name""".stripMargin).collect()
      .map(_.getString(0)).toSeq
    assert(filtered == Seq("Alice")) // only Charlie (28) qualifies as f
  }

  test("COUNT {} subquery projects a per-row count (0 when no match)") {
    val rows = q(
      """MATCH (p:Person)
        |RETURN p.name AS name,
        |  COUNT { (p)-[:KNOWS]->(:Person) } AS n_knows
        |ORDER BY name""".stripMargin).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(rows == Map("Alice" -> 2L, "Bob" -> 1L, "Charlie" -> 0L,
      "Diana" -> 0L))
  }

  test("EXISTS {} on an unbound-only pattern is rejected clearly") {
    val err = intercept[ParseException] {
      q("""MATCH (p:Person)
          |WHERE EXISTS { (a:Nope)-[:X]->(b) }
          |RETURN p.name""".stripMargin).collect()
    }
    assert(err.getMessage.contains("shares no bound"))
  }

  test("math/string/list scalar functions compile and evaluate") {
    val row = q(
      """MATCH (p:Person {id: "alice"})
        |RETURN floor(p.score) AS fl, ceil(p.score) AS ce,
        |  sqrt(4.0) AS sq, sign(0 - p.age) AS sg,
        |  reverse(p.name) AS rev, ltrim('  x') AS lt, rtrim('x  ') AS rt,
        |  left(p.name, 2) AS l2, right(p.name, 3) AS r3,
        |  range(1, 5) AS rg, range(0, 10, 5) AS rgs""".stripMargin)
      .collect().head
    assert(row.getDouble(0) == 95.0 && row.getDouble(1) == 96.0)
    assert(row.getDouble(2) == 2.0 && row.getLong(3) == -1L)
    assert(row.getString(4) == "ecilA")
    assert(row.getString(5) == "x" && row.getString(6) == "x")
    assert(row.getString(7) == "Al" && row.getString(8) == "ice")
    assert(row.getSeq[Long](9) == Seq(1L, 2L, 3L, 4L, 5L))
    assert(row.getSeq[Long](10) == Seq(0L, 5L, 10L))
  }

  test("list subscripts: index (incl. negative/OOB-null) and slices") {
    val row = q(
      """MATCH (p:Person {id: "alice"})
        |WITH [10, 20, 30, 40] AS xs
        |RETURN xs[0] AS a, xs[3] AS b, xs[-1] AS last, xs[9] AS oob,
        |  xs[1..3] AS mid, xs[..2] AS head2, xs[2..] AS tail2,
        |  xs[1..-1] AS negTo""".stripMargin).collect().head
    assert(row.getLong(0) == 10L && row.getLong(1) == 40L)
    assert(row.getLong(2) == 40L)       // xs[-1] = last element
    assert(row.isNullAt(3))             // out of bounds → null
    assert(row.getSeq[Long](4) == Seq(20L, 30L))
    assert(row.getSeq[Long](5) == Seq(10L, 20L))
    assert(row.getSeq[Long](6) == Seq(30L, 40L))
    assert(row.getSeq[Long](7) == Seq(20L, 30L)) // to = -1 → size-1
  }

  test("CALL subquery: correlated expansion joins on the imported var") {
    val rows = q(
      """MATCH (a:Person {id: "alice"})
        |CALL { WITH a MATCH (a)-[:KNOWS]->(b) RETURN b.id AS friend }
        |RETURN a.id AS me, friend ORDER BY friend""".stripMargin).collect()
    assert(rows.map(r => (r.getString(0), r.getString(1))).toSeq ==
      Seq("alice" -> "bob", "alice" -> "charlie"))
  }

  test("CALL subquery: uncorrelated pattern cross-products with outer") {
    val rows = q(
      """MATCH (p:Person) WHERE p.id IN ['alice', 'bob']
        |CALL { MATCH (x:Person) WHERE x.age > 31 RETURN x.id AS older }
        |RETURN p.id AS id, older ORDER BY id, older""".stripMargin)
      .collect().map(r => (r.getString(0), r.getString(1))).toSeq
    // {alice,bob} × {bob(35), diana(32)}
    assert(rows == Seq("alice" -> "bob", "alice" -> "diana",
      "bob" -> "bob", "bob" -> "diana"))
  }

  test("CALL subquery: uncorrelated aggregate runs per row; unbound import rejected") {
    // an uncorrelated aggregating subquery evaluates per outer row:
    // every person sees the same count of all 4 vertices
    val counts = q(
      "MATCH (p:Person) CALL { MATCH (x) RETURN count(x) AS c } RETURN c")
      .collect().map(_.getLong(0)).toSeq
    assert(counts == Seq(4L, 4L, 4L, 4L))
    val e2 = intercept[ParseException](q(
      "MATCH (p:Person) CALL { WITH zz MATCH (zz)--(y) RETURN y } RETURN 1"))
    assert(e2.getMessage.contains("unbound"))
  }

  test("map subscript m['key'] reads map values; missing key is null") {
    val row = q(
      """MATCH (p:Person {id: "alice"})
        |RETURN properties(p)['name'] AS n, p {.age}['age'] AS a,
        |  properties(p)['nope'] AS missing""".stripMargin).collect().head
    assert(row.getString(0) == "Alice" && row.getString(1) == "30")
    assert(row.isNullAt(2))
  }

  test("subscript after collect() in an aggregating projection") {
    val rows = q(
      """MATCH (p:Person) WHERE exists(p.age)
        |RETURN collect(p.id)[0] AS first""".stripMargin).collect()
    assert(rows.length == 1 && rows.head.getString(0).nonEmpty)
  }

  test("WITH * carries every bound variable; RETURN * projects them") {
    val rows = q(
      """MATCH (a:Person {id: "alice"})-[r:KNOWS]->(b)
        |WITH *, r.since AS since
        |WHERE b.id = 'bob'
        |RETURN b.name AS bn, since""".stripMargin).collect()
    assert(rows.length == 1)
    assert(rows.head.getString(0) == "Bob" &&
      rows.head.getString(1) == "2018")
    val star = q("""MATCH (p:Person {id: "charlie"}) RETURN *""")
    assert(star.columns.toSeq == Seq("p") && star.count() == 1)
  }

  test("SET += merges into the property map; SET = replaces it") {
    val g0 = runScript(emptyGraph, """CREATE (:Thing {id: "t", keep: "1"})""")
    val g1 = Cypher.execute(g0,
      "MATCH (t:Thing {id: 't'}) SET t += {extra: 'x', keep: '2'}").state
    val m1 = g1.vertices.collect().head.getMap[String, String](2)
    assert(m1 == Map("id" -> "t", "keep" -> "2", "extra" -> "x"))
    val g2 = Cypher.execute(g1,
      "MATCH (t:Thing) WHERE t.extra = 'x' SET t = {only: 'y'}").state
    val m2 = g2.vertices.collect().head.getMap[String, String](2)
    assert(m2 == Map("only" -> "y"))
  }

  test("MERGE ON CREATE SET / ON MATCH SET apply to the correct halves") {
    val g0 = runScript(emptyGraph, """CREATE (:Item {id: "a"})""")
    val g1 = Cypher.execute(g0,
      """UNWIND ['a', 'b'] AS i
        |MERGE (n:Item {id: i})
        |ON MATCH SET n.seen = 'yes'
        |ON CREATE SET n.fresh = 'yes'""".stripMargin).state
    val props = g1.vertices.collect()
      .map(r => {
        val m = r.getMap[String, String](2)
        m("id") -> m
      }).toMap
    assert(props.keySet == Set("a", "b"))
    assert(props("a").get("seen").contains("yes") &&
      !props("a").contains("fresh"))
    assert(props("b").get("fresh").contains("yes") &&
      !props("b").contains("seen"))
  }

  test("parameters: scalar in WHERE, pattern prop, list IN, missing fails") {
    val byAge = Cypher.query(people,
      "MATCH (p:Person) WHERE p.age > $minAge RETURN p.name AS n ORDER BY n",
      Map("minAge" -> 30))
    assert(byAge.collect().map(_.getString(0)).toSeq == Seq("Bob", "Diana"))
    val byProp = Cypher.query(people,
      "MATCH (p:Person {id: $pid}) RETURN p.name AS n", Map("pid" -> "bob"))
    assert(byProp.collect().map(_.getString(0)).toSeq == Seq("Bob"))
    val byList = Cypher.query(people,
      """MATCH (p:Person) WHERE p.id IN $ids
        |RETURN p.name AS n ORDER BY n""".stripMargin,
      Map("ids" -> Seq("alice", "diana")))
    assert(byList.collect().map(_.getString(0)).toSeq ==
      Seq("Alice", "Diana"))
    val err = intercept[ParseException] {
      Cypher.query(people, "MATCH (p:Person {id: $nope}) RETURN p")
    }
    assert(err.getMessage.contains("missing parameter"))
  }

  test("map projection: .key, alias: expr, and bare-variable items") {
    val row = q(
      """MATCH (p:Person {id: "alice"})
        |WITH p, 42 AS answer
        |RETURN p {.name, .age, doubled: p.age + p.age, answer} AS m"""
        .stripMargin).collect().head
    val m = row.getMap[String, String](0)
    assert(m("name") == "Alice" && m("age") == "30")
    assert(m("doubled") == "60.0" && m("answer") == "42")
    assert(m.size == 4)
  }

  test("map projection .* merges remaining properties; explicit keys win") {
    val row = q(
      """MATCH (p:Person {id: "charlie"})
        |RETURN p {.*, name: toUpper(p.name)} AS m""".stripMargin)
      .collect().head
    val m = row.getMap[String, String](0)
    assert(m("name") == "CHARLIE") // explicit overrides the .* copy
    assert(m("id") == "charlie" && m("age") == "28" && m("active") == "false")
    assert(m.size == 4)
  }

  test("map projection on a relationship variable") {
    val rows = q(
      """MATCH (:Person {id: "alice"})-[r:KNOWS]->(b:Person)
        |RETURN b.id AS to, r {.since} AS m ORDER BY to""".stripMargin)
      .collect()
    assert(rows.map(r => r.getString(0) ->
      r.getMap[String, String](1)("since")).toSeq ==
      Seq("bob" -> "2018", "charlie" -> "2020"))
  }

  test("math surface: ^ operator (right-assoc), round(x, n), log/exp/pi") {
    val row = q(
      """MATCH (p:Person {id: "alice"})
        |RETURN 2 ^ 10 AS p2, 2 ^ 3 ^ 2 AS rassoc,
        |  round(p.score, 1) AS r1, round(3.14159, 2) AS r2,
        |  log(e()) AS ln, log10(1000) AS lg, exp(0) AS ex,
        |  round(pi(), 4) AS pie, toBoolean('true') AS tb""".stripMargin)
      .collect().head
    assert(row.getDouble(0) == 1024.0)
    assert(row.getDouble(1) == 512.0) // 2^(3^2), not (2^3)^2
    assert(row.getDouble(2) == 95.5 && row.getDouble(3) == 3.14)
    assert(row.getDouble(4) == 1.0 && row.getDouble(5) == 3.0)
    assert(row.getDouble(6) == 1.0 && row.getDouble(7) == 3.1416)
    assert(row.getBoolean(8))
  }

  test("startNode()/endNode() return the relationship endpoints' ids") {
    val rows = q(
      """MATCH (a:Person {id: "alice"})-[r:KNOWS]->(b)
        |RETURN startNode(r) AS s, endNode(r) AS e, id(a) AS ia,
        |  id(b) AS ib""".stripMargin).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getString(0) == r.getString(2))
      assert(r.getString(1) == r.getString(3))
    }
  }

  test("UNION dedupes across parts; UNION ALL keeps duplicates") {
    val union = q(
      """MATCH (p:Person) WHERE p.age >= 30 RETURN p.name AS name
        |UNION
        |MATCH (a:Person {id: "alice"})-[:KNOWS]->(f) RETURN f.name AS name"""
        .stripMargin).collect().map(_.getString(0)).sorted.toSeq
    // Bob appears in both parts but once in the result
    assert(union == Seq("Alice", "Bob", "Charlie", "Diana"))
    val unionAll = q(
      """MATCH (p:Person) WHERE p.age >= 30 RETURN p.name AS name
        |UNION ALL
        |MATCH (a:Person {id: "alice"})-[:KNOWS]->(f) RETURN f.name AS name"""
        .stripMargin).collect().map(_.getString(0)).sorted.toSeq
    assert(unionAll == Seq("Alice", "Bob", "Bob", "Charlie", "Diana"))
  }

  test("UNION rejects mixed ALL, mutations, and column mismatches") {
    assert(intercept[ParseException](q(
      """MATCH (p:Person) RETURN p.name AS n UNION
        |MATCH (p:Person) RETURN p.name AS n UNION ALL
        |MATCH (p:Person) RETURN p.name AS n""".stripMargin))
      .getMessage.contains("mix"))
    assert(intercept[ParseException](Cypher.execute(people,
      """CREATE (:Person {id: "x"}) UNION MATCH (p) RETURN p"""))
      .getMessage.contains("read-only"))
    assert(intercept[ParseException](q(
      """MATCH (p:Person) RETURN p.name AS a UNION
        |MATCH (p:Person) RETURN p.name AS b""".stripMargin))
      .getMessage.contains("different columns"))
  }

  test("WITH DISTINCT dedupes mid-pipeline (values and node identity)") {
    val vals = q(
      """MATCH (a:Person)-[:KNOWS]->(b:Person)
        |WITH DISTINCT a
        |RETURN count(a) AS n""".stripMargin).collect().head.getLong(0)
    assert(vals == 2L) // alice KNOWS twice, bob once → {alice, bob}
    val strs = q(
      """MATCH (p:Person)
        |WITH DISTINCT p.active AS act
        |RETURN count(act) AS n""".stripMargin).collect().head.getLong(0)
    assert(strs == 2L) // true / false (Diana's null not counted)
  }

  test("reduce() folds a collected list with acc + element substitution") {
    val total = q(
      """MATCH (p:Person)
        |WITH collect(p.age) AS ages
        |RETURN reduce(total = 0.0, a IN ages | total + a) AS s"""
        .stripMargin).collect().head.getDouble(0)
    assert(total == 125.0) // 30 + 35 + 28 + 32
    // string-literal + makes concat (predictable without type inference)
    val tagged = q(
      """MATCH (p:Person {id: "alice"})
        |RETURN p.name + '!' AS t""".stripMargin).collect().head.getString(0)
    assert(tagged == "Alice!")
  }

  test("quantified predicates: any/all/none/single(x IN xs WHERE …)") {
    // Alice knows Bob(2018)+Charlie(2020); Bob knows Alice(2018)
    val anyRows = q(
      """MATCH (p:Person)
        |WITH p, [(p)-[k:KNOWS]->(x) | k.since] AS years
        |WHERE any(y IN years WHERE y = '2020')
        |RETURN p.name AS name""".stripMargin)
      .collect().map(_.getString(0)).toSeq
    assert(anyRows == Seq("Alice"))
    val allRows = q(
      """MATCH (p:Person)
        |WITH p, [(p)-[k:KNOWS]->(x) | k.since] AS years
        |WHERE size(years) > 0 AND all(y IN years WHERE y = '2018')
        |RETURN p.name AS name""".stripMargin)
      .collect().map(_.getString(0)).toSeq
    assert(allRows == Seq("Bob"))
    val noneSingle = q(
      """MATCH (p:Person {id: "alice"})
        |RETURN none(x IN [1, 2] WHERE x > 5) AS n,
        |  single(x IN [1, 2, 3] WHERE x % 2 = 0) AS s1,
        |  single(x IN [1, 2, 4] WHERE x % 2 = 0) AS s2""".stripMargin)
      .collect().head
    assert(noneSingle.getBoolean(0) && noneSingle.getBoolean(1) &&
      !noneSingle.getBoolean(2))
  }

  test("list comprehension WHERE filter (with and without projection)") {
    val r = q(
      """MATCH (p:Person)
        |WITH collect(p.age) AS ages
        |RETURN [a IN ages WHERE toInteger(a) >= 32] AS olds,
        |  [a IN ages WHERE toInteger(a) >= 32 | toInteger(a) * 2]
        |    AS doubled""".stripMargin).collect().head
    assert(r.getSeq[String](0).sorted == Seq("32", "35"))
    // property arithmetic coerces numerically via double (design stance)
    assert(r.getSeq[Double](1).sorted == Seq(64.0, 70.0))
    intercept[ParseException] { q("RETURN [x IN [1,2]] AS xs") }
  }

  test("pattern comprehensions decorrelate to grouped collects") {
    val rows = q(
      """MATCH (p:Person)
        |RETURN p.name AS name,
        |  [(p)-[:KNOWS]->(f) | f.name] AS friends
        |ORDER BY name""".stripMargin)
      .collect().map(r => (r.getString(0), r.getSeq[String](1).toList))
    assert(rows.toSeq == Seq(
      ("Alice", List("Bob", "Charlie")),  // sorted by value
      ("Bob", List("Alice")),
      ("Charlie", Nil),                   // no matches → [] not null
      ("Diana", Nil)))
    // WHERE inside the pattern comprehension filters matches
    val since18 = q(
      """MATCH (p:Person {id: "alice"})
        |RETURN [(p)-[k:KNOWS]->(f) WHERE k.since = '2018' | f.name]
        |  AS friends""".stripMargin).collect().head.getSeq[String](0)
    assert(since18.toList == List("Bob"))
    // plain list literals are untouched by the pattern-comp lookahead
    assert(q("RETURN [1, 4] AS xs").collect().head
      .getSeq[Long](0).toList == List(1L, 4L))
  }

  test("FOREACH runs update clauses per list element") {
    // nodes(p): every node on Alice's KNOWS paths binds as a FULL node
    // variable inside the FOREACH
    val g = runScript(people,
      """MATCH p = (a:Person {id: "alice"})-[:KNOWS]->(b)
        |FOREACH (n IN nodes(p) | SET n.seen = 'yes')""".stripMargin)
    val seen = Cypher.query(g,
      """MATCH (q:Person) WHERE q.seen = 'yes'
        |RETURN q.name AS name ORDER BY name""".stripMargin)
      .collect().map(_.getString(0)).toSeq
    assert(seen == Seq("Alice", "Bob", "Charlie"))
    // scalar list: CREATE per element, element readable as a value
    val g2 = runScript(people,
      "FOREACH (x IN ['red', 'green'] | CREATE (:Tag {name: x}))")
    val tags = Cypher.query(g2,
      "MATCH (t:Tag) RETURN t.name AS name ORDER BY name")
      .collect().map(_.getString(0)).toSeq
    assert(tags == Seq("green", "red"))
    // relationships(p) bind as rel variables
    val g3 = runScript(people,
      """MATCH p = (a:Person {id: "alice"})-[:KNOWS]->(b)
        |FOREACH (r IN relationships(p) | SET r.walked = '1')""".stripMargin)
    assert(Cypher.query(g3,
      "MATCH ()-[r:KNOWS]->() WHERE r.walked = '1' RETURN r").count() == 2)
    // only update clauses are allowed inside
    intercept[ParseException] {
      runScript(people, "FOREACH (x IN [1] | RETURN x)")
    }
  }

  test("unnamed intermediate nodes chain; plain named paths bind") {
    // alice-KNOWS->bob-KNOWS->alice is the only 2-hop KNOWS chain: an
    // unnamed middle node must continue the chain from ITSELF (the old
    // code re-joined from the previous named node)
    val twoHop = q(
      """MATCH (a:Person {id: "alice"})-[:KNOWS]->()-[:KNOWS]->(b)
        |RETURN b.name AS name""".stripMargin)
      .collect().map(_.getString(0)).toSeq
    assert(twoHop == Seq("Alice"))
    // p = fixed-length chain binds nodes()/relationships()/length()
    val pl = q(
      """MATCH p = (a:Person {id: "alice"})-[:KNOWS]->(b)
        |RETURN b.name AS name, length(p) AS len,
        |  [x IN nodes(p) | x] AS ids ORDER BY name""".stripMargin)
      .collect().map(r =>
        (r.getString(0), r.getInt(1), r.getSeq[String](2).length)).toSeq
    assert(pl == Seq(("Bob", 1, 2), ("Charlie", 1, 2)))
    intercept[ParseException] {
      q("MATCH p = (a)-[:KNOWS*1..2]->(b) RETURN length(p)")
    }
  }

  test("pattern predicates in WHERE (EXISTS sugar)") {
    val knowsSomeone = q(
      """MATCH (p:Person) WHERE (p)-[:KNOWS]->()
        |RETURN p.name AS name ORDER BY name""".stripMargin)
      .collect().map(_.getString(0)).toSeq
    assert(knowsSomeone == Seq("Alice", "Bob"))
    val knowsNobody = q(
      """MATCH (p:Person) WHERE NOT (p)-[:KNOWS]->()
        |RETURN p.name AS name ORDER BY name""".stripMargin)
      .collect().map(_.getString(0)).toSeq
    assert(knowsNobody == Seq("Charlie", "Diana"))
    // arithmetic with parenthesized operands is NOT a pattern
    assert(q("RETURN (1 + 2) - 2 AS x").collect().head.getDouble(0) == 1.0)
  }

  test("stDev/stDevP/percentileCont aggregates and isEmpty()") {
    val r = q(
      """MATCH (p:Person)
        |RETURN stDev(p.age) AS sd, stDevP(p.age) AS sdp,
        |  percentileCont(p.age, 0.5) AS med""".stripMargin).collect().head
    // ages 30, 35, 28, 32: mean 31.25
    assert(math.abs(r.getDouble(0) - 2.98607881) < 1e-6)  // sample
    assert(math.abs(r.getDouble(1) - 2.58602011) < 1e-6)  // population
    assert(r.getDouble(2) == 31.0) // interpolated median
    val e = q(
      """MATCH (p:Person {id: "alice"})
        |RETURN isEmpty([]) AS a, isEmpty([1]) AS b,
        |  isEmpty(p.name) AS c""".stripMargin).collect().head
    assert(e.getBoolean(0) && !e.getBoolean(1) && !e.getBoolean(2))
  }

  test("keyword-shaped names keep their case (rel types, labels, props)") {
    // CONTAINS/IN/END are keywords; as relationship types / property
    // names they must keep the source spelling (the lexer canonicalizes
    // keywords for matching but preserves the raw word)
    val g = runScript(people,
      """MATCH (a:Person {id: "alice"}), (b:Person {id: "bob"})
        |CREATE (a)-[:CONTAINS {end: "x"}]->(b)""".stripMargin)
    assert(Cypher.query(g,
      "MATCH ()-[r:CONTAINS]->() RETURN r.end AS e")
      .collect().map(_.getString(0)).toSeq == Seq("x"))
    // lowercase keyword-shaped property name round-trips too
    val g2 = runScript(people,
      """MATCH (p:Person {id: "alice"}) SET p.order = '7'""")
    assert(Cypher.query(g2,
      """MATCH (p:Person {id: "alice"}) RETURN p.order AS o""")
      .collect().head.getString(0) == "7")
  }

  test("dynamic property access n[expr] reads the property map") {
    val r = q(
      """MATCH (p:Person {id: "alice"})
        |RETURN p['name'] AS a, p['na' + 'me'] AS b, p['nope'] AS c"""
        .stripMargin).collect().head
    assert(r.getString(0) == "Alice" && r.getString(1) == "Alice" &&
      r.isNullAt(2))
    val rel = q(
      """MATCH (:Person {id: "alice"})-[k:KNOWS]->(:Person {id: "bob"})
        |RETURN k['since'] AS s""".stripMargin).collect().head
    assert(rel.getString(0) == "2018")
  }

  test("EXPLAIN returns the physical plan without executing") {
    val plan = q("EXPLAIN MATCH (p:Person) RETURN p.name")
      .collect().map(_.getString(0)).mkString("\n")
    assert(plan.contains("Project") || plan.contains("Scan"), plan)
    // the unit-frame fix: no nested-loop wrapper on a first-pattern scan
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
    // a mutation refuses to be explained (it would have to execute)
    val before = people.vertices.count()
    assertThrows[ParseException] {
      Cypher.execute(people, "EXPLAIN CREATE (:Person {name: 'X'})")
    }
    assert(people.vertices.count() == before)
  }

  test("full CRUD cycle (QE test1 script, D8)") {
    var g = runScript(people,
      """CREATE (:Person {id: "test1", name: "Test User 1", age: 42})""")
    assert(Cypher.query(g,
      """MATCH (p:Person {id: "test1"}) RETURN p.name""")
      .collect().head.getString(0) == "Test User 1")
    g = runScript(g,
      """MATCH (p:Person {id: "test1"}) SET p.age = 43;
        |MATCH (a:Person {id: "test1"}), (b:Person {id: "alice"})
        |CREATE (a)-[:TEST_EDGE {weight: 1.0}]->(b)""".stripMargin)
    val row = Cypher.query(g,
      """MATCH (a:Person {id: "test1"})-[r:TEST_EDGE]->(b)
        |RETURN a.name, type(r), b.name, r.weight""".stripMargin)
      .collect().head
    assert(row.getString(1) == "TEST_EDGE" && row.getString(2) == "Alice")
    g = runScript(g,
      """MATCH (a:Person {id: "test1"})-[r:TEST_EDGE]->() DELETE r;
        |MATCH (p:Person {id: "test1"}) DETACH DELETE p""".stripMargin)
    assert(Cypher.query(g,
      """MATCH (p:Person {id: "test1"}) RETURN p""").count() == 0)
  }

  test("catalog procedures: labels, relationship types, property keys") {
    val labels = q("CALL db.labels() RETURN label ORDER BY label")
      .collect().map(_.getString(0)).toSeq
    assert(labels == Seq("Person")) // default yield column name
    val types = q(
      """CALL db.relationshipTypes() YIELD t
        |RETURN t ORDER BY t""".stripMargin)
      .collect().map(_.getString(0)).toSeq
    assert(types == Seq("KNOWS", "WORKS_WITH"))
    val keys = q(
      """CALL db.propertyKeys() YIELD k RETURN k ORDER BY k""")
      .collect().map(_.getString(0)).toSet
    assert(Set("id", "name", "age", "since", "project").subsetOf(keys))
    // SET-added labels appear in the catalog
    val g2 = runScript(people,
      """MATCH (p:Person {id: "alice"}) SET p:Admin""")
    val labels2 = Cypher.query(g2,
      "CALL db.labels() RETURN label ORDER BY label")
      .collect().map(_.getString(0)).toSeq
    assert(labels2 == Seq("Admin", "Person"))
    // unknown procedures fail clearly
    intercept[Exception] { q("CALL db.nonsense() RETURN x") }
    // YIELD into an already-bound name is a clean error, not an
    // ambiguous-column crash
    intercept[Exception] {
      q("UNWIND [1] AS x CALL db.labels() YIELD x RETURN x")
    }
    // procedures compose with mutation statements (per-label CREATE)
    val g3 = Cypher.execute(people,
      """CALL db.labels() YIELD l CREATE (:Catalog {name: l})""").state
    assert(Cypher.query(g3,
      "MATCH (c:Catalog) RETURN c.name AS n ORDER BY n")
      .collect().map(_.getString(0)).toSeq == Seq("Person"))
    // unlabeled nodes contribute no catalog row
    val g4 = runScript(people, "CREATE (anon {id: \"x\"})")
    assert(Cypher.query(g4,
      "CALL db.labels() RETURN label ORDER BY label")
      .collect().map(_.getString(0)).toSeq == Seq("Person"))
  }

  // ---------- writes pin their delta (GraphState.pin) ----------

  /** Occurrences, in `df`'s optimized plan, of the RDD-backed leaves of
    * `base` (the fixture is local-checkpointed: its leaves are RDDs). */
  private def baseLeaves(df: DataFrame, base: DataFrame): Int = {
    import org.apache.spark.sql.execution.LogicalRDD
    def rdds(d: DataFrame) = d.queryExecution.optimizedPlan.collect {
      case l: LogicalRDD => l.rdd.id }
    val ids = rdds(base).toSet
    rdds(df).count(ids)
  }

  private val tagCount =
    """MATCH (c:Person) WHERE id(c) = 'alice' OPTIONAL MATCH
      |(c)-[:TAGGED]->(b:Tag) RETURN id(c) AS id, count(b.bk) AS n_tags"""
      .stripMargin

  private lazy val alice = people.vertices
    .filter("properties['id'] = 'alice'").select("id").head.getString(0)

  /** Reads alice's tags. */
  private lazy val tagRead = tagCount.replace("'alice'", s"'$alice'")

  /** CREATE vertex, CREATE edge, SET, MERGE … ON MATCH SET and DETACH
    * DELETE: one write of every layer kind. */
  private lazy val writeScript = Seq(
    """CREATE (:Tag {bk: "b1", w: "3"})""",
    s"""MATCH (c:Person), (b:Tag) WHERE id(c) = '$alice' AND
       |b.bk = "b1" CREATE (c)-[:TAGGED]->(b)""".stripMargin,
    """MATCH (c:Person {id: "bob"}) SET c.segment = "gold"""",
    """MERGE (b:Tag {bk: "b1"}) ON CREATE SET b.w = "new"
      |ON MATCH SET b.w = "seen"""".stripMargin,
    """MATCH (b:Tag {bk: "b1"}) DETACH DELETE b""")

  test("after CREATE, SET, MERGE and DETACH DELETE the snapshot reads " +
      "its base once") {
    val session = graft.api.GraftSession(spark, people)
    val read = tagRead
    writeScript.foreach { cy =>
      session.execute(cy)
      if (cy.startsWith("MATCH (c:Person), (b:Tag)"))
        assert(session.execute(read).collect().map(_.getLong(1))
          .toSeq == Seq(1L))
    }
    val g = session.graph
    assert(baseLeaves(g.vertices, people.vertices) == 1,
      g.vertices.queryExecution.optimizedPlan)
    assert(baseLeaves(g.edges, people.edges) == 1,
      g.edges.queryExecution.optimizedPlan)
    // the same read over a fresh session on the equivalent graph: the
    // fixture with bob's segment set, the tag and its edge gone
    val verts = people.vertices.collect().map { r =>
      val props = r.getMap[String, String](2).toMap
      Row(r.get(0), r.get(1),
        if (props.get("id").contains("bob")) props + ("segment" -> "gold")
        else props)
    }
    val fresh = graft.api.GraftSession(spark, GraphState(
      df(GraphSchemas.vertexSchema, verts.toSeq: _*),
      df(GraphSchemas.edgeSchema, people.edges.collect().toSeq: _*)))
    def rows(d: DataFrame) = d.collect().map(_.toSeq.mkString("|")).sorted
      .toSeq
    assert(rows(session.execute(read)) == rows(fresh.execute(read)))
    assert(rows(session.execute(read)) == Seq(s"$alice|0"))
    def graph(st: GraphState) = (
      rows(st.vertices.select(col("id"), col("label"),
        sort_array(map_entries(col("properties"))))),
      rows(st.edges.select("id", "src", "dst", "edge_type", "label")))
    assert(graph(g) == graph(fresh.graph))
  }

  test("a write layer plans no join: a local pin is a filter or a lookup") {
    import org.apache.spark.sql.catalyst.plans.logical.Join
    import org.apache.spark.sql.catalyst.optimizer.BuildRight
    import org.apache.spark.sql.execution.{LocalTableScanExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec,
      AdaptiveSparkPlanHelper}
    import org.apache.spark.sql.execution.exchange.BroadcastExchangeExec
    import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
    object plans extends AdaptiveSparkPlanHelper
    def written() = {
      val session = graft.api.GraftSession(spark, people)
      writeScript.foreach(session.execute(_))
      session
    }
    def joins(d: DataFrame) =
      d.queryExecution.optimizedPlan.collect { case j: Join => j }.size
    val session = written()
    val g = session.graph
    assert(joins(g.vertices) == 0, g.vertices.queryExecution.optimizedPlan)
    assert(joins(g.edges) == 0, g.edges.queryExecution.optimizedPlan)
    // no broadcast whose every leaf is a local relation (a pinned delta)
    val read = session.execute(tagRead)
    assert(read.collect().map(_.getLong(1)).toSeq == Seq(0L))
    // AQE may prune a branch at run time: check the plan it started
    // from too, where exchanges are not inserted yet
    val physical = read.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => Seq(a.inputPlan, a.executedPlan)
      case p => Seq(p)
    }
    def local(p: SparkPlan) =
      p.collectLeaves().forall(_.isInstanceOf[LocalTableScanExec])
    val pinBroadcasts = physical.flatMap(plans.collect(_) {
      case b: BroadcastExchangeExec if local(b.child) => b
      case j: BroadcastHashJoinExec
          if local(if (j.buildSide == BuildRight) j.right else j.left) => j
    })
    assert(pinBroadcasts.isEmpty, read.queryExecution.executedPlan)
    // the checkpoint leg still joins
    val viaCheckpoint = GraphState.pinCap.withValue(0)(written()).graph
    assert(joins(viaCheckpoint.vertices) > 0)
    assert(joins(viaCheckpoint.edges) > 0)
  }

  test("a write whose delta fails throws from execute and keeps the " +
      "previous snapshot") {
    val session = graft.api.GraftSession(spark, people)
    val before = session.graph
    // p.age / 0 raises DIVIDE_BY_ZERO under ANSI when the value is
    // computed: now at the write, before a snapshot exists
    val err = intercept[Exception] {
      session.execute("""MATCH (p:Person {id: "alice"}) SET p.x = p.age / 0""")
    }
    assert(err.getMessage.contains("DIVIDE_BY_ZERO"), err.getMessage)
    assert(session.graph eq before)
    assert(session.execute("MATCH (p:Person) RETURN p.x AS x")
      .collect().forall(_.isNullAt(0)))
  }

  test("a vertex matched by several rows is labelled once") {
    // alice KNOWS bob and charlie: two frame rows bind the same `a`
    val g = runScript(people,
      """MATCH (a:Person {id: "alice"})-[:KNOWS]->(b) SET a:Friend""")
    assert(Cypher.query(g, "MATCH (n) RETURN n").count() == 4)
    assert(Cypher.query(g, "MATCH (n:Friend) RETURN n.name")
      .collect().map(_.getString(0)).toSeq == Seq("Alice"))
  }
}
