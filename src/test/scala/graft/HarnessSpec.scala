package graft

import org.scalatest.funsuite.AnyFunSuite

/** The harness config is a pure function of the environment map: these
  * cases pin the defaults, the fail-loudly parse and the unknown-name
  * report without touching the process environment.
  */
class HarnessSpec extends AnyFunSuite {
  import Harness._

  test("an empty environment gives the defaults") {
    val c = parse(Map.empty)
    assert(c === Config())
    assert(c.sfDir.isEmpty && c.cpus.isEmpty)
    assert(c.ansi)
    assert(c.benchRepeat === 1)
    assert(c.benchOut === "target/bench.json")
    assert((c.chainN, c.faultN, c.vectorN, c.soakN) === ((100, 20, 100, 10)))
    assert(overrides(Map.empty).isEmpty && unknown(Map.empty).isEmpty)
  }

  test("set knobs parse into the config") {
    val c = parse(Map("SPARK_GRAFT_CPUS" -> " 8 ",
      "SPARK_GRAFT_ANSI" -> "false", "SPARK_GRAFT_SF_DIR" -> "/data/sf1",
      "SPARK_GRAFT_SOAK_ANN_N" -> "3"))
    assert(c === Config(sfDir = Some("/data/sf1"), cpus = Some(8),
      ansi = false, soakAnnN = Some(3)))
  }

  test("an unparsable value fails naming the variable") {
    for ((k, v) <- Seq("SPARK_GRAFT_CPUS" -> "abc",
        "SPARK_GRAFT_ANSI" -> "ture", "SPARK_GRAFT_CHAIN_N" -> "1e3")) {
      val e = intercept[IllegalArgumentException](parse(Map(k -> v)))
      assert(e.getMessage.contains(k), e.getMessage)
    }
  }

  test("removed knobs are reported as unknown; other variables are not") {
    val removed = Seq("OBJAGG_FALLBACK", "STATESTORE", "ROCKSDB_CHANGELOG",
      "SHUFFLE", "REPLAY_SHUFFLE", "KEEPER_TTL_MS", "CHAIN_DUP", "FAULT_MOD",
      "RERANK_PROBE", "RERANK_CELLS", "RERANK_NCODE", "RERANK_NCAND",
      "BENCH_MAX_LOAD", "BENCH_LOAD_RETRIES", "BENCH_LOAD_WAIT_S",
      "BENCH_MAX_AMBIENT").map("SPARK_GRAFT_" + _)
    val env = removed.map(_ -> "1").toMap ++
      Map("SPARK_GRAFT_CPUS" -> "8", "PATH" -> "/bin")
    assert(unknown(env) === removed.sorted)
    assert(unknown(Map("SPARK_GRAFT_REPLAY_SHUFFLE" -> "2")) ===
      Seq("SPARK_GRAFT_REPLAY_SHUFFLE"))
    assert(parse(env) === Config(cpus = Some(8)))
  }

  test("only values that change the config are reported as overrides") {
    assert(overrides(Map("SPARK_GRAFT_ANSI" -> "true",
      "SPARK_GRAFT_CHAIN_N" -> "100", "SPARK_GRAFT_CPUS" -> "8",
      "SPARK_GRAFT_SHUFFLE" -> "2")) === Seq("SPARK_GRAFT_CPUS" -> "8"))
  }
}
