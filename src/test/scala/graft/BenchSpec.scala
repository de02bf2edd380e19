package graft

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

/** Pins Bench.readBaseline — the parser behind the bench JSON's
  * `vs_baseline` field (the bar's BENCH-vs-BASELINE metric). A silent
  * parsing regression would drop the field from BENCH_r{N}.json with no
  * test failing anywhere else, so every guard is pinned here: the
  * sf-tag cross-scale refusal, the untagged-TSV fallback, malformed-line
  * and -1-sentinel filtering, and the never-crash contract.
  */
class BenchSpec extends AnyFunSuite {

  private def write(lines: String*): String = {
    val f = Files.createTempFile("baseline", ".tsv")
    Files.write(f, lines.mkString("\n").getBytes("UTF-8"))
    f.toString
  }

  test("parses key\\tseconds rows under a matching sf tag") {
    val p = write("# duckdb 1.0.0 sf=sf0.1 runs=3", "e1_q1_agg\t0.25", "c17\t1.764")
    assert(Bench.readBaseline(p, "sf0.1") ===
      Map("e1_q1_agg" -> 0.25, "c17" -> 1.764))
  }

  test("a different bench sf suppresses the whole baseline") {
    val p = write("# sf=sf0.1", "e1_q1_agg\t0.25")
    assert(Bench.readBaseline(p, "sf1") === Map.empty)
  }

  test("an untagged TSV is accepted at any sf") {
    val p = write("e1_q1_agg\t0.25")
    assert(Bench.readBaseline(p, "sf1") === Map("e1_q1_agg" -> 0.25))
  }

  test("failure sentinels, malformed lines, comments and blanks are dropped") {
    val p = write(
      "# sf=sf0.1",
      "failed_query\t-1",          // make_baseline.py failure sentinel
      "no_tab_here",               // malformed: no value
      "too\tmany\tfields",         // malformed: extra field
      "bad_number\tNaN-ish",       // malformed: unparseable value
      "",                          // blank
      "# trailing comment",
      "good\t2.5")
    assert(Bench.readBaseline(p, "sf0.1") === Map("good" -> 2.5))
  }

  test("a missing file yields empty, never throws") {
    assert(Bench.readBaseline("/nonexistent/baseline.tsv", "sf0.1") === Map.empty)
  }

  test("drift sentinel: flags a sentinel moved past the band, either way") {
    val ref = Map("a2_vec_dot" -> 0.10, "a4_vec_norm" -> 0.10)
    // inside the band (1.2x): ok
    assert(Bench.drift(ref, Map("a2_vec_dot" -> 0.12, "a4_vec_norm" -> 0.10))
      .exists(_._3 == "ok"))
    // slower past the band
    val slow = Bench.drift(ref, Map("a2_vec_dot" -> 0.15, "a4_vec_norm" -> 0.10))
    assert(slow.exists(d => d._3 == "env-drift-suspected" && d._2 == "a2_vec_dot"))
    // FASTER past the band is drift too (the machine moved, not the code)
    assert(Bench.drift(ref, Map("a2_vec_dot" -> 0.10, "a4_vec_norm" -> 0.07))
      .exists(_._3 == "env-drift-suspected"))
    // worst sentinel wins
    val worst = Bench.drift(ref,
      Map("a2_vec_dot" -> 0.14, "a4_vec_norm" -> 0.20)).get
    assert(worst._2 == "a4_vec_norm" && worst._1 > 1.9)
    // no sentinel overlap AND no median basis (first run / tiny
    // overlap): advisory silence
    assert(Bench.drift(Map.empty, ref).isEmpty)
    assert(Bench.drift(ref.map { case (k, _) => k -> -1.0 }, ref).isEmpty)
  }

  test("median gate fires even when both sentinels failed (-1) in the reference") {
    // a snapshot whose sentinel rows crashed must not silence the
    // fleet statistic: ratio reports -1/none, median adjudicates alone
    val ref = (1 to 10).map(i => s"q$i" -> 1.0).toMap +
      ("a2_vec_dot" -> -1.0) + ("a4_vec_norm" -> -1.0)
    val elevated = ref.map { case (k, v) => k -> v * 1.2 }
    val d = Bench.drift(ref, elevated).get
    assert(d._1 == -1.0 && d._2 == "none" && d._3 == "env-elevated", d.toString)
    val calm = Bench.drift(ref, ref.map { case (k, v) => k -> v * 1.05 }).get
    assert(calm._2 == "none" && calm._3 == "ok")
  }

  test("median gate: fleet-wide elevation trips env-elevated when sentinels stay quiet") {
    // the r15 failure mode: every row uniformly ~1.2x but both
    // sentinels under the 1.3 band -> stamped ok. The median gate is
    // the third signal.
    val ref = (1 to 10).map(i => s"q$i" -> 1.0).toMap +
      ("a2_vec_dot" -> 0.10) + ("a4_vec_norm" -> 0.10)
    val elevated = ref.map { case (k, v) => k -> v * 1.2 }
    val d = Bench.drift(ref, elevated).get
    assert(d._3 == "env-elevated", d.toString)
    assert(d._4.exists(m => math.abs(m - 1.2) < 1e-9))
    // uniformly FASTER past the band trips too (machine moved)
    assert(Bench.drift(ref, ref.map { case (k, v) => k -> v / 1.2 })
      .exists(_._3 == "env-elevated"))
    // a sentinel past ITS band outranks the median verdict
    val sentinelHit = elevated + ("a2_vec_dot" -> 0.14)
    assert(Bench.drift(ref, sentinelHit).exists(_._3 == "env-drift-suspected"))
    // inside both bands: ok, median still reported
    val calm = Bench.drift(ref, ref.map { case (k, v) => k -> v * 1.1 }).get
    assert(calm._3 == "ok" && calm._4.exists(m => math.abs(m - 1.1) < 1e-9))
    // a few genuinely-changed rows cannot trip the fleet statistic
    val twoMovers = ref + ("q1" -> 3.0) + ("q2" -> 3.0)
    assert(Bench.drift(ref, twoMovers).exists(_._3 == "ok"))
    // sub-5 overlap: median undefined, sentinel verdict stands alone
    val tiny = Map("a2_vec_dot" -> 0.12, "a4_vec_norm" -> 0.12)
    val dTiny = Bench.drift(ref, tiny).get
    assert(dTiny._4.isEmpty && dTiny._3 == "ok")
    assert(Bench.medianRatio(ref, tiny).isEmpty)
  }

  test("drift reference parser: queries map, sf- and cpus-gated, never crashes") {
    val f = Files.createTempFile("bench_snap", ".json")
    Files.write(f, ("""{"metric":"total","value":1.0,"queries":""" +
      """{"a2_vec_dot":0.1,"a4_vec_norm":0.2,"bad":"x"},""" +
      """"sf":"/root/testdata/sf0.1"}""").getBytes("UTF-8"))
    assert(Bench.readSnapshotQueries(f.toString, "sf0.1", 32) ===
      Map("a2_vec_dot" -> 0.1, "a4_vec_norm" -> 0.2))
    // an sf1 snapshot must not adjudicate an sf0.1 run
    assert(Bench.readSnapshotQueries(f.toString, "sf1", 32) === Map.empty)
    // a snapshot from a DIFFERENT machine config must not adjudicate
    // either (a CPUS=8 A/B legitimately moves the sentinels); absent
    // cpus (pre-r15 snapshots) stays accepted
    Files.write(f, ("""{"metric":"total","cpus":8,"queries":""" +
      """{"a2_vec_dot":0.1},"sf":"/root/testdata/sf0.1"}""").getBytes("UTF-8"))
    assert(Bench.readSnapshotQueries(f.toString, "sf0.1", 32) === Map.empty)
    assert(Bench.readSnapshotQueries(f.toString, "sf0.1", 8) ===
      Map("a2_vec_dot" -> 0.1))
    // env_config gate: the OTHER knobs (shuffle, state store, AQE
    // flags) also move timings 2-3x — a SHUFFLE=32 A/B must not
    // adjudicate (or be adjudicated by) a default-config snapshot. A
    // field-less snapshot (pre-r16) is accepted only by a
    // default-config run.
    Files.write(f, ("""{"metric":"total","cpus":32,"env_config":"SPARK_GRAFT_SHUFFLE=32","queries":""" +
      """{"a2_vec_dot":0.1},"sf":"/root/testdata/sf0.1"}""").getBytes("UTF-8"))
    assert(Bench.readSnapshotQueries(f.toString, "sf0.1", 32) === Map.empty)
    assert(Bench.readSnapshotQueries(f.toString, "sf0.1", 32,
      "SPARK_GRAFT_SHUFFLE=32") === Map("a2_vec_dot" -> 0.1))
    Files.write(f, ("""{"metric":"total","cpus":32,"queries":""" +
      """{"a2_vec_dot":0.1},"sf":"/root/testdata/sf0.1"}""").getBytes("UTF-8"))
    assert(Bench.readSnapshotQueries(f.toString, "sf0.1", 32,
      "SPARK_GRAFT_SHUFFLE=32") === Map.empty)
    assert(Bench.readSnapshotQueries(f.toString, "sf0.1", 32) ===
      Map("a2_vec_dot" -> 0.1))
    // garbage and absence are silent
    Files.write(f, "not json".getBytes("UTF-8"))
    assert(Bench.readSnapshotQueries(f.toString, "sf0.1", 32) === Map.empty)
    assert(Bench.readSnapshotQueries("/nonexistent.json", "sf0.1", 32) === Map.empty)
  }

  test("the committed baseline TSV parses and carries the oracle surface") {
    // the real artifact the driver-run bench reads: sf-tagged sf0.1,
    // every key a SparkEntry query with a SQL oracle
    val m = Bench.readBaseline("results/baseline_duckdb.tsv", "sf0.1")
    assert(m.nonEmpty, "committed baseline TSV failed to parse")
    val unknown = m.keySet -- SparkEntry.queries.keySet
    assert(unknown.isEmpty, s"baseline names unknown queries: $unknown")
    assert(m.keySet.subsetOf(SparkEntry.oracleSql.keySet),
      "baseline contains a query with no SQL oracle")
    assert(m.values.forall(_ >= 0))
    // ...and the REVERSE: every oracle query must appear in the TSV
    // (as a timing or a -1 failure sentinel in the raw file), else
    // vs_baseline silently shrinks its surface when a new oracle query
    // is added without re-running tools/make_baseline.py. Raw lines,
    // not readBaseline: the parsed map legitimately drops sentinels.
    val rawKeys = scala.jdk.CollectionConverters.ListHasAsScala(
      java.nio.file.Files.readAllLines(
        java.nio.file.Paths.get("results/baseline_duckdb.tsv"))).asScala
      .filterNot(l => l.startsWith("#") || l.trim.isEmpty)
      .flatMap(_.split("\t").headOption).toSet
    val missing = SparkEntry.oracleSql.keySet -- rawKeys
    assert(missing.isEmpty,
      s"oracle queries absent from the committed baseline TSV (re-run " +
        s"tools/make_baseline.py): $missing")
  }

  test("host stamp: /proc/loadavg parser is shape-strict and never throws") {
    assert(Bench.parseLoadAvg("1.76 1.26 0.88 3/1080 28313") ===
      Some((1.76, 1.26, 0.88, 3, 1080)))
    // trailing fields beyond the 5 standard ones are tolerated
    assert(Bench.parseLoadAvg("0.00 0.01 0.05 1/200 99 extra").isDefined)
    assert(Bench.parseLoadAvg("").isEmpty)
    assert(Bench.parseLoadAvg("a b c d e").isEmpty)
    assert(Bench.parseLoadAvg("1.0 2.0 3.0 nope 5").isEmpty)
    // the emitted fragment is valid JSON shape (object key check only)
    val s = Bench.hostStampJson
    assert(s.isEmpty || s.startsWith(""","host":{"load1":"""), s)
  }

  test("presentTables: a documents-only slice warms documents, an empty dir nothing") {
    val slice = Files.createTempDirectory("slice")
    Files.createDirectory(slice.resolve("documents.parquet"))
    assert(Bench.presentTables(slice.toString) === Seq("documents"))
    assert(Bench.presentTables(Files.createTempDirectory("empty").toString) === Seq.empty)
  }
}
