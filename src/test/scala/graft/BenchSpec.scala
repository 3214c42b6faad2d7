package graft

import java.nio.file.{Files, Paths}

/** The query-suite runner's core on the shared test session: the named
  * mode's per-rep lines and counters, usage failures, the explain mode.
  */
class BenchSpec extends SparkSpec {
  private val settings = Bench.Settings("/root/testdata/sf0.001", 4, 2)

  private def lines(args: String*): Seq[String] = {
    val out = Seq.newBuilder[String]
    Bench.run(spark, Bench.parse(args), settings, out += _)
    out.result()
  }

  private val Line = """BENCH (\S+) +rep(\d+) wall_s=(-?[\d.]+) (.*)""".r

  test("named queries print one line per rep; job counters repeat") {
    val runs = lines("q3_join_agg", "q1_agg").map {
      case Line(n, rep, wall, kvs) =>
        (n, rep.toInt, wall.toDouble, kvs.split(" ").map { kv =>
          val Array(k, v) = kv.split("="); k -> v.toLong }.toMap)
      case other => fail(s"unparsed line: $other")
    }
    // reps are interleaved: the whole list runs once per rep
    assert(runs.map(r => (r._1, r._2)) ===
      Seq(("q3_join_agg", 1), ("q1_agg", 1), ("q3_join_agg", 2),
        ("q1_agg", 2)))
    assert(runs.forall(r => r._3 >= 0 && r._4("jobs") >= 1), runs)
    val shape = Seq("jobs", "stages", "shuf_w_recs", "shuf_r_recs")
    runs.groupBy(_._1).values.foreach { rs =>
      assert(rs.map(r => shape.map(r._4)).distinct.size == 1, rs)
    }
  }

  test("an unknown query name or a short --explain fails before any run") {
    val e = intercept[IllegalArgumentException](
      Bench.parse(Seq("q3_join_agg", "no_such_query")))
    assert(e.getMessage.contains("no_such_query"))
    intercept[IllegalArgumentException](
      Bench.parse(Seq("--explain", tmpDir("bench-explain"))))
  }

  test("--explain writes each named query's pre-execution plan") {
    val dir = tmpDir("bench-explain")
    assert(lines("--explain", dir, "t", "q3_join_agg") ===
      Seq("wrote q3_join_agg"))
    val plan = Files.readString(Paths.get(dir, "q3_join_agg_t.txt"))
    assert(plan.contains("isFinalPlan=false"), plan)
  }
}
