package graft

import java.nio.file.Files

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper

/** The Bench schedule loop end to end, on a two-query run. */
class BenchSpec extends SparkSpec {

  test("Bench.run: a storm suspect is re-run once, uncensored, at the end drain") {
    val dir = tempDir()
    val (storm, calm) = ("d130_cluster_split", "q01_pricing_summary")
    val hostName = java.net.InetAddress.getLocalHost.getHostName
    // a same-sf, same-host prior: storm's warm wall at sf0.001 (1.2–1.4 s
    // on 4 vCPU, more on a shared host; its 7 build-time jobs are work no
    // fast rep can skip) is far above 3.5 × 0.05 s + 0.3 s; calm runs far
    // below its 5 s prior.
    // Should a slow host censor a storm rep, the query is a suspect all the
    // same, and every assertion below still holds.
    val prior =
      s"""{"sf":${BenchUtil.jstr(sf("sf0.001"))},"hostname":${BenchUtil.jstr(hostName)},"queries":{""" +
        s""""$storm":{"passes":[0.050],"min":0.050},"$calm":{"passes":[5.000],"min":5.000}}}"""
    val order = Files.writeString(dir.resolve("prior.json"), prior)
    val artifact = dir.resolve("bench.json")
    val settings = Bench.Settings(sf("sf0.001"), cpus = 4, artifact = artifact.toString,
      order = Some(order.toString), queries = Some(s"$storm,$calm"), passes = 3, deadlineS = 420)
    val err = new java.io.ByteArrayOutputStream
    val saved = System.err
    System.setErr(new java.io.PrintStream(err, true))
    val line = try Bench.run(spark, settings) finally System.setErr(saved)
    val log = err.toString("UTF-8")
    saved.print(log)

    val json = new ObjectMapper()
    val out = json.readTree(line)
    assert(out.fieldNames.asScala.toSet == Set("metric", "value", "unit", "n_queries",
      "n_warm", "deadline_hit", "failed", "artifact", "queries", "sf"), line)
    assert(out.get("n_queries").asInt == 2 && out.get("failed").isEmpty, line)

    val art = json.readTree(Files.readString(artifact))
    def keys(field: String) = art.get(field).fieldNames.asScala.toSeq
    assert(art.get("complete").asBoolean && art.get("failed").isEmpty)
    assert(keys("requeued") == Seq(storm) && keys("guard_skipped").isEmpty, art)
    for (gone <- Seq("watch_reran", "watch_rep_failed", "host", "prior_host"))
      assert(!art.has(gone), gone)
    // the 60 s gap is never met in this run, so the only re-run is the end
    // drain's, and it runs once
    assert(log.linesIterator.count(_.startsWith("[bench] requeue")) == 1, log)
    assert(log.contains(s"[bench] requeue $storm at end drain"), log)
    // serve tier (prior ≤ 0.2 s): 2 reps, then the uncensored re-run's 2,
    // both timed (a censored rep in the first set would stop it early)
    val passes = art.get("queries").get(storm).get("passes").asScala.toSeq
    assert(passes.size >= 3 && passes.takeRight(2).forall(_.isNumber), passes)
    // Janino compiles: run totals, and per query each rep's and the min rep's
    for (f <- Seq("janino_compiles", "janino_compile_ms")) assert(art.get(f).isIntegralNumber, f)
    for (q <- Seq(storm, calm)) {
      val detail = art.get("queries").get(q)
      assert(detail.get("compiles").size == detail.get("passes").size, detail)
      assert(detail.get("min_compiles").isIntegralNumber, detail)
    }
    // a warm rep finds every class of q01 in the codegen cache
    val calmCompiles = art.get("queries").get(calm).get("compiles")
    assert(calmCompiles.size >= 2 && calmCompiles.get(1).asLong == 0, calmCompiles)
  }
}
