package perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable

import graft.BenchSession

/** One benchmark run: `--workload <name> --seed <n> --seconds <s>
  * --trace <0|1> --root <dir> --result <file> --report <file>`.
  *
  * Generates the workload's inputs from the seed, sets up (base loads
  * and warm pass, timed as `setup_s`), runs the timed op sequence,
  * checks the outputs, and writes the result object (`correct`, `attempted`,
  * `failed`, `metrics`) to `--result`. Untraced runs carry the
  * end-to-end metrics, traced runs the per-layer ones; the report file
  * holds every figure by its workload-specific name, and a traced run
  * also puts the span tree there. */
object Main {

  def main(argv: Array[String]): Unit = {
    val args = argv.grouped(2)
      .collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val status =
      try { run(args); 0 }
      catch {
        case e: Throwable =>
          System.err.println(s"[perfbench] run failed: $e")
          e.printStackTrace()
          1
      }
    sys.exit(status)
  }

  private def seconds(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  private def run(args: Map[String, String]): Unit = {
    val w = Workload.All.getOrElse(args("workload"),
      throw new IllegalArgumentException(s"unknown workload ${args("workload")}"))()
    val seed = args("seed").toLong
    val runSeconds = args("seconds").toInt
    val traced = args("trace") == "1"
    val root = Paths.get(args("root"))
    val report = mutable.LinkedHashMap[String, Any](
      "workload" -> w.name, "seed" -> seed, "seconds" -> runSeconds,
      "traced" -> traced)

    if (traced) Tracer.installPlanListener()
    var t0 = System.nanoTime()
    val spark = BenchSession.build()
    report("session_start_s") = seconds(t0)

    t0 = System.nanoTime()
    val in = root.resolve("input")
    w.generate(seed, in, runSeconds)
    val inputBytes = Storage.walk(in).bytes
    report("generate_s") = seconds(t0)
    report("input_bytes") = inputBytes

    t0 = System.nanoTime()
    w.setup(spark, root.resolve("state"))
    val setupS = seconds(t0)

    val tracer = if (traced) Some(new Tracer(spark).start()) else None
    val runner = new Runner(() => w.warehouse, traced)
    t0 = System.nanoTime()
    w.run(spark, runner)
    val runS = seconds(t0)
    tracer.foreach(_.stop())

    t0 = System.nanoTime()
    val checks = w.checks(spark)
    report("checks_s") = seconds(t0)
    checks.filterNot(_._2).foreach(c =>
      System.err.println(s"[perfbench] check failed: ${c._1}"))
    // Spark's context cleaner drops blocks of collected RDDs and
    // broadcasts only after a GC has queued them: collect, let it run,
    // collect again
    val heapMb = (0 until 2).map { _ =>
      System.gc()
      Thread.sleep(200)
      ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
    }.min
    val stored = Storage.walk(w.warehouse)

    val attempted = runner.ops.size + checks.size
    val failed = runner.failed + checks.count(!_._2)
    def p50(kind: String): Double = {
      val xs = runner.latencies(kind)
      if (xs.isEmpty) Double.NaN else Stats.median(xs)
    }
    val e2e = mutable.LinkedHashMap[String, (Double, String)](
      "setup_s" -> (setupS, "s"),
      "run_s" -> (runS, "s"),
      "primary_op_p50_s" -> (p50(w.primary), "s"),
      "secondary_op_p50_s" -> (p50(w.secondary), "s"),
      "live_heap_mb" -> (heapMb, "MB"),
      "bytes_stored_per_input_byte" -> (stored.bytes.toDouble / inputBytes, "ratio"))

    // the workload's own figures, by the names of their op types
    val named = mutable.LinkedHashMap[String, Any](
      "fail_ratio" -> failed.toDouble / attempted)
    runner.ops.map(_.kind).distinct.foreach { kind =>
      val xs = runner.latencies(kind)
      if (xs.size == 1) named(s"${kind}_s") = xs.head
      else if (xs.nonEmpty) {
        named(s"${kind}_p50_s") = Stats.median(xs)
        if (xs.size >= 100) named(s"${kind}_p90_s") = Stats.percentile(xs, 0.9)
      }
      named(s"${kind}_samples") = xs.size
    }
    w.extra.foreach { case (k, v) => named(k) = v }
    def withUnits(m: Seq[(String, (Double, String))]) = mutable.LinkedHashMap(
      m.map { case (k, (v, u)) => k -> Map("value" -> v, "unit" -> u) }: _*)
    report("end_to_end") = withUnits(e2e.toSeq)
    report("workload_metrics") = named
    report("checks") = mutable.LinkedHashMap(checks: _*)
    report("op_seconds") = runner.ops.map(o => s"${o.kind}#${o.idx}" -> o.seconds)
      .to(mutable.LinkedHashMap)

    val metrics = tracer match {
      case None => withUnits(e2e.toSeq)
      case Some(tr) =>
        val sp = Spans.spans(tr, runner.ops.toSeq)
        val (layer, bases) = Spans.metrics(tr, sp, runner.ops.toSeq, stored)
        report("per_layer_bases") = bases
        report("spans") = Spans.tree(sp)
        withUnits(Spans.Metrics.map { case (k, u) => k -> (layer(k), u) })
    }
    val result = mutable.LinkedHashMap[String, Any](
      "correct" -> (failed == 0), "attempted" -> attempted, "failed" -> failed,
      "metrics" -> metrics)

    write(Paths.get(args("report")), Json(report))
    write(Paths.get(args("result")), Json(result))
    System.err.println(s"[perfbench] ${w.name} seed=$seed run_s=$runS " +
      named.map { case (k, v) => s"$k=$v" }.mkString(" "))
    // Everything runs in this JVM and the caller deletes the run's
    // directory, so skip Spark's orderly shutdown — unless the JVM must
    // exit normally to write its class-data-sharing archive.
    val dumping = ManagementFactory.getRuntimeMXBean.getInputArguments
      .toString.contains("ArchiveClassesAtExit")
    if (!dumping) Runtime.getRuntime.halt(0)
    spark.stop()
  }

  private def write(p: Path, s: String): Unit = {
    Files.createDirectories(p.getParent)
    Files.write(p, (s + "\n").getBytes(UTF_8))
  }
}
