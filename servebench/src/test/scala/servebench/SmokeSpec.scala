package servebench

import java.io.File
import java.nio.file.Files
import java.util.Comparator

import org.scalatest.funsuite.AnyFunSuite

/** The seconds-long smoke configuration of every workload, untraced and
  * traced, with all checks on — so the harness cannot rot unnoticed.
  */
class SmokeSpec extends AnyFunSuite {
  // store roots are numbered per JVM, so a previous run's stores must go
  private lazy val work = {
    val w = new File("target/smoke-work")
    if (w.exists()) Files.walk(w.toPath).sorted(Comparator.reverseOrder()).forEach(p => Files.delete(p))
    w
  }
  private lazy val env = new Env(work, seed = 7)

  for (w <- Workloads.Names; trace <- Seq(false, true)) {
    test(s"$w smoke, trace=$trace: every check passes, every metric reported") {
      val a = ServeBench.Args(w, 7, seconds = 3, trace = trace, work = work)
      val out = ServeBench.run(env, Sizes.smoke, a)
      assert(out.checks.attempted > 0)
      assert(out.checks.failed === 0, out.checks.messages.mkString("\n"))
      val metrics = if (trace) out.layers.all.map(_._1) else out.gated.keys.toSeq
      val expected =
        if (trace) Layers.Names.map(_._1)
        else Seq("setup_s", "latency_p50_s", "ops_per_s",
          "store_bytes_per_point", "heap_retained_mb")
      assert(metrics.toSet === expected.toSet)
      val values = if (trace) out.layers.all.map(_._2) else out.gated.values.map(_._1).toSeq
      assert(values.forall(v => !v.isNaN && !v.isInfinite))
      val json = ServeBench.render(env, a, out).linesIterator.toSeq.last
      assert(json.startsWith("""{"correct": true, "attempted": """))
    }
  }
}
