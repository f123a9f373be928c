package graft

import java.nio.file.Files
import org.scalatest.funsuite.AnyFunSuite

/** Config layering (reference R15, `DataStreamProcessingJob.java:68-96`):
  * CLI > env > properties file > defaults. Pure JVM — no Spark. */
class GraftConfigSpec extends AnyFunSuite {

  private def propsFile(content: String): String = {
    val f = Files.createTempFile("graft", ".properties")
    Files.writeString(f, content)
    f.toString
  }

  test("defaults match the reference envelope") {
    val c = GraftConfig.load(Array.empty, env = Map.empty)
    assert(c.parallelism == 8) // DataStreamProcessingJob.java:92
    assert(c.triggerMs == 5000L) // :104-105
    assert(c.batchNum == 1000 && c.batchTimeSec == 5L) // :157-158
    assert(c.checkpointDir.isEmpty)
  }

  test("properties file sets every field") {
    val f = propsFile(
      """parallelism=16
        |sf_dir=/data/sf1
        |checkpoint_dir=/ckpt
        |source_dir=/src-corpus
        |trigger_ms=2500
        |batch_num=200
        |batch_time_sec=9
        |""".stripMargin)
    val c = GraftConfig.load(Array("-c", f), env = Map.empty)
    assert(c == GraftConfig(16, "/data/sf1", Some("/ckpt"), Some("/src-corpus"), 2500L, 200, 9L))
  }

  test("source_dir layers like checkpoint_dir (env over props)") {
    val f = propsFile("source_dir=/from/props\n")
    assert(GraftConfig.load(Array("-c", f), env = Map.empty)
      .sourceDir.contains("/from/props"))
    assert(GraftConfig.load(Array("-c", f),
        env = Map("SPARK_GRAFT_SOURCE_DIR" -> "/from/env"))
      .sourceDir.contains("/from/env"))
    assert(GraftConfig.load(Array.empty, env = Map.empty).sourceDir.isEmpty)
  }

  test("precedence: CLI -p beats env beats properties (reference :94-96)") {
    val f = propsFile("parallelism=16\nsf_dir=/from/props\n")
    val envOnly = GraftConfig.load(Array("-c", f),
      env = Map("SPARK_GRAFT_CPUS" -> "24", "SPARK_GRAFT_SF_DIR" -> "/from/env"))
    assert(envOnly.parallelism == 24 && envOnly.sfDir == "/from/env")

    val cli = GraftConfig.load(Array("/from/cli", "-c", f, "-p", "4"),
      env = Map("SPARK_GRAFT_CPUS" -> "24", "SPARK_GRAFT_SF_DIR" -> "/from/env"))
    assert(cli.parallelism == 4 && cli.sfDir == "/from/cli")
  }

  test("bare first argument is the sf dir (StreamDemo back-compat)") {
    val c = GraftConfig.load(Array("/root/testdata/sf0.001"), env = Map.empty)
    assert(c.sfDir == "/root/testdata/sf0.001")
  }

  test("unknown flags and dangling -c are rejected") {
    intercept[IllegalArgumentException] {
      GraftConfig.load(Array("--bogus"), env = Map.empty)
    }
    intercept[IllegalArgumentException] {
      GraftConfig.load(Array("-c"), env = Map.empty)
    }
  }

  test("caller defaults are honored when nothing overrides") {
    val c = GraftConfig.load(Array.empty, env = Map.empty,
      defaults = GraftConfig.Default.copy(parallelism = 4, batchNum = 100))
    assert(c.parallelism == 4 && c.batchNum == 100)
  }

  test("census: the mains and env knobs src/main defines are exactly these") {
    // a new entry point or knob must be added here on purpose: the engine
    // is one job plus its drivers, measured by perfbench, not a probe kit
    import scala.jdk.CollectionConverters._
    val sources = Files.walk(java.nio.file.Paths.get("src/main/scala")).iterator.asScala
      .filter(_.toString.endsWith(".scala")).map(Files.readString).toSeq
    assert(sources.size > 50, "run from the repository root")
    val mains = sources.flatMap { src =>
      "def main\\s*\\(".r.findAllMatchIn(src).map { m =>
        "object\\s+(\\w+)".r.findAllMatchIn(src.take(m.start)).toSeq.last.group(1)
      }
    }.toSet
    assert(mains == Set("Verify", "StreamDemo", "Bench", "TpchScaleBench",
      "PipelineScaleBench", "PlanPeek"))
    // every GRAFT-named literal (GraftConfig passes its keys through a
    // map) plus any literal read straight from the environment
    val knob = "\"((?:SPARK_)?GRAFT_[A-Z0-9_]+)\"".r
    val envRead = "(?:sys\\.env[.\\w]*|getenv)\\(\\s*\"([A-Z0-9_]+)\"".r
    val knobs = sources.flatMap(src =>
      (knob.findAllMatchIn(src) ++ envRead.findAllMatchIn(src)).map(_.group(1))).toSet
    assert(knobs == Set(
      "SPARK_GRAFT_CPUS", "SPARK_GRAFT_SF_DIR", "SPARK_GRAFT_CHECKPOINT_DIR",
      "SPARK_GRAFT_SOURCE_DIR", "SPARK_GRAFT_TRIGGER_MS", "SPARK_LOCAL_DIRS",
      "GRAFT_MODEL_DIR", "GRAFT_BENCH_ONLY", "GRAFT_BENCH_DEGRADE",
      "GRAFT_BENCH_NO_TAIL", "GRAFT_BENCH_REF_JSON", "GRAFT_BENCH_JSON",
      "GRAFT_TPCH_EXPLAIN", "GRAFT_TPCH_SF1_JSON", "GRAFT_PIPE_SF1_JSON"))
  }

  test("census: commitIf only in SegmentedState and ModelStore, ATOMIC_MOVE only in AtomicFiles") {
    // one publish path: every state root commits through SegmentedState
    // (or ModelStore's build-once artifacts) and every atomic rename is
    // AtomicFiles' pointer write
    import scala.jdk.CollectionConverters._
    val sources = Files.walk(java.nio.file.Paths.get("src/main/scala")).iterator.asScala
      .filter(_.toString.endsWith(".scala"))
      .map(p => p.getFileName.toString -> Files.readString(p)).toSeq
    assert(sources.size > 50, "run from the repository root")
    def homes(token: String) = sources.collect { case (n, src) if src.contains(token) => n }.toSet
    assert(homes("StateManifest.commitIf(") == Set("SegmentedState.scala", "ModelStore.scala"))
    assert(homes("ATOMIC_MOVE") == Set("AtomicFiles.scala"))
    // and the one pointer file is the manifest's: a batch ledger lives in
    // the manifest, never in a second file beside it
    assert(homes("AtomicFiles.writePointer(") == Set("StateManifest.scala"))
  }
}
