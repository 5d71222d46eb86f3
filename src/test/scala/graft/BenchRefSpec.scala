package graft

import org.scalatest.funsuite.AnyFunSuite

/** Bench.parseRef — pure-JVM guard for the reference-vector reader behind
  * the storm normalization. The first in-round artifact published
  * `cpu_ratio_vs_ref: -1` because the block-find required a compact
  * `"key":{` while tools/make_bench_ref.py writes pretty-printed JSON
  * (`"key": {` + newlines); this spec pins both shapes and the fallbacks.
  */
class BenchRefSpec extends AnyFunSuite {

  test("pretty-printed ref (make_bench_ref.py shape)") {
    val s = """{
      | "kind": "bench_reference",
      | "sources": [{"path": "x.json", "cells": 3}],
      | "queries_cpu_warm": {
      |  "q01_roll_mean": 0.412,
      |  "q76_simhash_near": 12.5
      | },
      | "queries": {
      |  "q01_roll_mean": 0.201,
      |  "q76_simhash_near": 4.75
      | }
      |}""".stripMargin
    val (cpu, wall) = Bench.parseRef(s)
    assert(cpu == Map("q01_roll_mean" -> 0.412, "q76_simhash_near" -> 12.5))
    assert(wall == Map("q01_roll_mean" -> 0.201, "q76_simhash_near" -> 4.75))
  }

  test("compact raw bench artifact shape") {
    val s = """{"metric":"total","queries":{"q01":1.5,"q02":2.5E-1},""" +
      """"queries_cpu_warm":{"q01":3.0,"q02":0.125},"cpu_total":5.0}"""
    val (cpu, wall) = Bench.parseRef(s)
    assert(cpu == Map("q01" -> 3.0, "q02" -> 0.125))
    assert(wall == Map("q01" -> 1.5, "q02" -> 0.25))
  }

  test(""""queries" lookup must not re-match inside "queries_cpu_warm"""") {
    val s = """{"queries_cpu_warm":{"q01":3.0}}"""
    val (cpu, wall) = Bench.parseRef(s)
    assert(cpu == Map("q01" -> 3.0))
    assert(wall.isEmpty)
  }

  test("missing blocks and malformed content parse to empty (ratio -1 path)") {
    assert(Bench.parseRef("{}") == (Map.empty, Map.empty))
    assert(Bench.parseRef("""{"queries":""") == (Map.empty, Map.empty))
    assert(Bench.parseRef("not json at all") == (Map.empty, Map.empty))
  }

  test("committed repo-root bench_ref.json loads both full vectors") {
    // the driver runs Bench with cwd = repo root; this is the exact
    // default-path read the normalization depends on
    val p = java.nio.file.Paths.get("bench_ref.json")
    assume(java.nio.file.Files.isReadable(p), "no committed bench_ref.json in cwd")
    val (cpu, wall) = Bench.loadRef("/root/testdata/sf0.1")
    assert(cpu.size > 100 && wall.size > 100, s"${cpu.size}/${wall.size} cells")
    assert(cpu != wall, "cpu and wall vectors must be distinct blocks")
  }

  test("default ref is keyed on the sf dir (r19: no cross-scale ratios)") {
    // a NON-sf0.1 dir must not silently load the sf0.1 vector (the v13
    // 100x artifact published a 112x ratio exactly that way); with no
    // bench_ref_<basename>.json present the ratio path publishes -1
    assume(java.nio.file.Files.isReadable(
      java.nio.file.Paths.get("bench_ref.json")), "no committed bench_ref.json")
    assume(!sys.env.contains("SPARK_GRAFT_BENCH_REF"), "env override set")
    assume(!java.nio.file.Files.exists(
      java.nio.file.Paths.get("bench_ref_nonexistent-dir.json")))
    val (cpu, wall) = Bench.loadRef("/somewhere/nonexistent-dir")
    assert(cpu.isEmpty && wall.isEmpty)
    // the committed 100x vector is found via the basename key of the 100x
    // corpus directory the 100x bench artifacts ran on: any directory
    // named `scale100`
    val p100 = java.nio.file.Paths.get("bench_ref_scale100.json")
    assume(java.nio.file.Files.isReadable(p100), "no committed bench_ref_scale100.json")
    val (c100, w100) = Bench.loadRef("/data/scale100")
    assert(c100.nonEmpty && w100.nonEmpty)
  }
}
