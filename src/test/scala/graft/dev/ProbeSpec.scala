package graft.dev

import graft.SparkSpec

/** [[Probe]] driven on the shared session: the A/B check, the streaming
  * phase records, argument errors and conf hygiene. */
class ProbeSpec extends SparkSpec {

  private def probe(gate: String, flags: String*): Seq[Probe.Report] =
    Probe.run(spark, Seq(gate, sf("sf0.001"), "1", "--nowarm") ++ flags)

  test("--ab: the shortest-path kernel and its distributed plan agree") {
    val Seq(r) = probe("sp01_shortest_paths",
      "--ab:spark.graft.graph.localKernelMaxEdges=0")
    assert(r.reps.size == 1 && r.abReps.size == 1)
    assert(r.reps.head.rows == r.abReps.head.rows && r.reps.head.rows > 0)
  }

  test("--ab: runs the legs' reps in turns") {
    val out = new java.io.ByteArrayOutputStream()
    val Seq(r) = Console.withOut(out)(Probe.run(spark,
      Seq("q01_pricing_summary", sf("sf0.001"), "2", "--nowarm",
        "--ab:spark.sql.shuffle.partitions=3")))
    assert(r.reps.size == 2 && r.abReps.size == 2)
    val reps = out.toString("UTF-8").linesIterator
      .filter(_.startsWith("[probe] q01_pricing_summary rep"))
      .map(_.takeWhile(_ != ':').stripPrefix("[probe] q01_pricing_summary "))
      .toSeq
    assert(reps == Seq("rep1", "rep1 (spark.sql.shuffle.partitions=3)",
      "rep2", "rep2 (spark.sql.shuffle.partitions=3)"), reps)
  }

  test("each rep line prints the session cache's growth") {
    val out = new java.io.ByteArrayOutputStream()
    val Seq(r) = Console.withOut(out)(probe("sp01_shortest_paths"))
    val rep = r.reps.head
    val line = out.toString("UTF-8").linesIterator
      .find(_.startsWith("[probe] sp01_shortest_paths rep1"))
    assert(line.exists(_.endsWith(
      f", cache ${rep.cacheEntries}%+d entries " +
        f"${rep.cacheBytes / 1e6}%+.1f MB")), line)
  }

  test("--stages records each micro-batch's phases for a streaming gate") {
    val Seq(r) = probe("st05_stream_stream_join", "--stages")
    val rep = r.reps.head
    assert(rep.stages.nonEmpty && rep.jobs > 0)
    assert(rep.batches.nonEmpty)
    assert(rep.batches.forall(_.phasesMs.contains("triggerExecution")))
  }

  test("malformed and unknown flags fail, naming the argument") {
    for (bad <- Seq("--set:foo", "--ab:=1", "--stage")) {
      val e = intercept[IllegalArgumentException](
        probe("q01_pricing_summary", bad))
      assert(e.getMessage.contains(bad), e.getMessage)
    }
    val e = intercept[IllegalArgumentException](probe("no_such_gate"))
    assert(e.getMessage.contains("no_such_gate"))
  }

  test("--set: and --ab: leave the session's confs as they found them") {
    val before = spark.conf.getAll
    probe("q01_pricing_summary", "--set:spark.sql.shuffle.partitions=3",
      "--ab:spark.sql.adaptive.enabled=false",
      "--ab:spark.sql.shuffle.partitions=5")
    assert(spark.conf.getAll == before)
  }
}
