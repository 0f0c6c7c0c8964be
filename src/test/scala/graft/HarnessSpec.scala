package graft

import java.nio.file.Files
import org.scalatest.funsuite.AnyFunSuite

/** The session-free half of [[Harness]] and [[TempDirs]]: what the env
  * parser accepts and rejects, locale-independent numbers, JSON string
  * escaping, and the sweep of dirs left by dead JVMs.
  */
class HarnessSpec extends AnyFunSuite {

  private def env(kv: (String, String)*) = new Harness.Env(kv.toMap)

  test("env parser: defaults when unset, accepts positive values") {
    assert(env().positiveInt("SPARK_GRAFT_CPUS", 32) === 32)
    assert(env("SPARK_GRAFT_CPUS" -> "8").positiveInt("SPARK_GRAFT_CPUS", 32) === 8)
    assert(env().positiveDouble("SPARK_GRAFT_VERIFY_HEADROOM_GB", 10.0) === 10.0)
    assert(env("SPARK_GRAFT_VERIFY_HEADROOM_GB" -> "0.5")
      .positiveDouble("SPARK_GRAFT_VERIFY_HEADROOM_GB", 10.0) === 0.5)
    assert(env("SPARK_GRAFT_BENCH_ONLY" -> "q01_agg").get("SPARK_GRAFT_BENCH_ONLY")
      === Some("q01_agg"))
  }

  test("env parser: rejects zero, negative and non-numeric values, naming the variable") {
    for (bad <- Seq("0", "-4", "*", "", " 8", "1.5", "eight", "99999999999")) {
      val e = intercept[IllegalArgumentException](
        env("SPARK_GRAFT_CPUS" -> bad).positiveInt("SPARK_GRAFT_CPUS", 32))
      assert(e.getMessage.contains(s"SPARK_GRAFT_CPUS=\"$bad\""), e.getMessage)
    }
    for (bad <- Seq("0", "-1", "NaN", "Infinity", "ten")) {
      val e = intercept[IllegalArgumentException](
        env("SPARK_GRAFT_VERIFY_HEADROOM_GB" -> bad)
          .positiveDouble("SPARK_GRAFT_VERIFY_HEADROOM_GB", 10.0))
      assert(e.getMessage.contains(s"SPARK_GRAFT_VERIFY_HEADROOM_GB=\"$bad\""),
        e.getMessage)
    }
  }

  test("numbers keep a '.' separator under a comma-decimal default locale") {
    val saved = java.util.Locale.getDefault
    java.util.Locale.setDefault(java.util.Locale.GERMANY)
    try assert(Harness.num(1.5, 4) === "1.5000")
    finally java.util.Locale.setDefault(saved)
  }

  test("JSON strings escape quotes, backslashes and control chars") {
    assert(Harness.jsonString("a\"b\\c\nd\re\tf\u0001") ===
      "\"a\\\"b\\\\c\\nd\\re\\tf\\u0001\"")
  }

  test("stale sweep removes dirs of dead pids only") {
    val dir = Files.createTempDirectory("graft_sweep_spec")
    try {
      val child = new ProcessBuilder("true").start()
      child.waitFor()
      val dead = dir.resolve(s"ivf_index_pid${child.pid()}_1")
      val live = dir.resolve(s"ivf_index_pid${ProcessHandle.current().pid()}_2")
      val other = dir.resolve("scala-2.13")
      Seq(dead, live, other).foreach(p => Files.createDirectories(p.resolve("part")))
      TempDirs.sweepStale(dir)
      assert(!Files.exists(dead), "a dead JVM's dir must be removed")
      assert(Files.isDirectory(live.resolve("part")), "a live JVM's dir must stay")
      assert(Files.isDirectory(other.resolve("part")), "unowned dirs must stay")
    } finally TempDirs.deleteTree(dir.toFile)
  }

  test("temp dirs carry the owner pid and using deletes them") {
    val pid = ProcessHandle.current().pid()
    val p = TempDirs.using("harness_spec_") { p =>
      assert(Files.isDirectory(p))
      assert(p.getFileName.toString.startsWith(s"harness_spec_pid${pid}_"))
      Files.writeString(p.resolve("f"), "x")
      p
    }
    assert(!Files.exists(p))
  }
}
