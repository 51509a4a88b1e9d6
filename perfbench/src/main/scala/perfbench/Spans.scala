package perfbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** Turns what the [[Tracer]] saw into op → job → stage spans and the
  * per-layer metrics.
  *
  * Per-op-type metrics are means per op of that type; per-module and
  * streaming metrics are totals over the timed sequence. A span's self
  * time is its duration minus the part of it its children cover, so an
  * op's self time is its driver gap (time no Spark job covers). */
object Spans {
  import Tracer._

  val OpTypes: Seq[String] = Seq("webhook_batch", "etl_run", "dml", "query",
    "index_build", "index_refresh", "ann_query", "text_query")

  val OpFields: Seq[(String, String)] = Seq("jobs" -> "count",
    "stages" -> "count", "job_s" -> "s", "driver_gap_s" -> "s",
    "executor_s" -> "s", "shuffle_bytes" -> "bytes", "rows_read" -> "rows",
    "bytes_written" -> "bytes", "files_written" -> "count", "plan_s" -> "s",
    "codegen_fallbacks" -> "count")

  val Modules: Seq[String] = Seq("BatchEtl", "Fixtures", "Upsert", "Merge",
    "RecordingStream", "GraftCatalog", "GraftDml", "FactVersioned",
    "FactAnnIndex", "AnnIndex", "TfIdf")

  val StreamPhases: Seq[String] = Seq("addBatch", "walCommit", "queryPlanning")

  /** Op types reported as write amplification (bytes written per byte
    * of staged input, over the ops that have staged input) and as rows
    * read per result row. */
  val WriteAmp: Seq[String] = Seq("dml", "etl_run")
  val ReadAmp: Seq[String] = Seq("ann_query", "query")

  /** Every per-layer metric name with its unit, in report order. */
  val Metrics: Seq[(String, String)] =
    OpTypes.flatMap(t => OpFields.map { case (f, u) => s"$t.$f" -> u }) ++
      Modules.flatMap(m => Seq(s"$m.jobs" -> "count", s"$m.job_s" -> "s")) ++
      StreamPhases.map(p => s"stream.${p}_s" -> "s") ++
      Storage.Classes.map(c => s"storage.${c}_bytes" -> "bytes") ++
      WriteAmp.map(t => s"$t.write_amp" -> "ratio") ++
      ReadAmp.map(t => s"$t.rows_read_per_result" -> "ratio")

  final case class OpSpan(op: Runner.OpRec, jobs: Seq[JobRec],
      stages: Seq[StageRec], planMs: Long, codegen: Int) {
    def jobMs: Long = unionMs(jobs.map(j => clip((j.start, j.end), op.startMs, op.endMs)))
    def gapS: Double = math.max(0.0, op.seconds - jobMs / 1e3)
  }

  def spans(tr: Tracer, ops: Seq[Runner.OpRec]): Seq[OpSpan] = {
    val jobs = byOp(ops, tr.jobs.asScala)(_.start)
    val stagesByJob = tr.stages.asScala.toSeq.groupBy(_.job)
    val plans = byOp(ops, tr.plans.asScala)(_.start)
    val cg = byOp(ops, tr.codegenFailures.asScala.map(_.longValue))(identity)
    ops.map { o =>
      val js = jobs.getOrElse(o.id, Nil).sortBy(_.start)
      OpSpan(o, js, js.flatMap(j => stagesByJob.getOrElse(j.id, Nil)),
        plans.getOrElse(o.id, Nil).map(_.planMs).sum, cg.getOrElse(o.id, Nil).size)
    }
  }

  /** Per-layer metrics plus the bases of the ratios. */
  def metrics(tr: Tracer, sp: Seq[OpSpan], ops: Seq[Runner.OpRec],
      storage: Storage.Snapshot)
      : (collection.Map[String, Double], collection.Map[String, Double]) = {
    val m = mutable.LinkedHashMap.empty[String, Double]
    val bases = mutable.LinkedHashMap.empty[String, Double]
    OpTypes.foreach { t =>
      val mine = sp.filter(_.op.kind == t)
      val n = math.max(1, mine.size).toDouble
      def mean(f: OpSpan => Double): Double = mine.map(f).sum / n
      m(s"$t.jobs") = mean(_.jobs.size)
      m(s"$t.stages") = mean(_.stages.size)
      m(s"$t.job_s") = mean(_.jobMs / 1e3)
      m(s"$t.driver_gap_s") = mean(_.gapS)
      m(s"$t.executor_s") = mean(_.stages.map(_.executorMs).sum / 1e3)
      m(s"$t.shuffle_bytes") = mean(_.stages.map(_.shuffleBytes).sum)
      m(s"$t.rows_read") = mean(_.stages.map(_.rowsRead).sum)
      m(s"$t.bytes_written") = mean(_.op.bytesWritten)
      m(s"$t.files_written") = mean(_.op.filesWritten)
      m(s"$t.plan_s") = mean(_.planMs / 1e3)
      m(s"$t.codegen_fallbacks") = mean(_.codegen)
      bases(s"$t.ops") = mine.size
    }
    val timed = sp.flatMap(_.jobs)
    Modules.foreach { mod =>
      val js = timed.filter(_.module == mod)
      m(s"$mod.jobs") = js.size
      m(s"$mod.job_s") = unionMs(js.map(j => (j.start, j.end))) / 1e3
    }
    val prog = byOp(ops, tr.progress.asScala)(_.start).values.flatten
    StreamPhases.foreach { p =>
      m(s"stream.${p}_s") = prog.map(_.durations.getOrElse(p, 0L)).sum / 1e3
    }
    bases("stream.batches") = prog.size
    Storage.Classes.foreach(c => m(s"storage.${c}_bytes") = storage.bytesBy(c))
    WriteAmp.foreach { t =>
      val mine = sp.filter(s => s.op.kind == t && s.op.inputBytes > 0)
      val in = mine.map(_.op.inputBytes).sum.toDouble
      val out = mine.map(_.op.bytesWritten).sum.toDouble
      m(s"$t.write_amp") = if (in > 0) out / in else 0.0
      bases(s"$t.write_amp.input_bytes") = in
      bases(s"$t.write_amp.bytes_written") = out
    }
    ReadAmp.foreach { t =>
      val mine = sp.filter(_.op.kind == t)
      val res = mine.map(_.op.results).sum.toDouble
      val rows = mine.map(_.stages.map(_.rowsRead).sum).sum.toDouble
      m(s"$t.rows_read_per_result") = if (res > 0) rows / res else 0.0
      bases(s"$t.rows_read_per_result.rows_read") = rows
      bases(s"$t.rows_read_per_result.results") = res
    }
    (m, bases)
  }

  /** The span tree for the side file: op → job → stage, each with its
    * self time; spans of one op share its id. */
  def tree(sp: Seq[OpSpan]): Seq[collection.Map[String, Any]] = sp.map { s =>
    val o = s.op
    mutable.LinkedHashMap[String, Any](
      "op_id" -> o.id, "kind" -> o.kind, "index" -> o.idx, "ok" -> o.ok,
      "start_ms" -> o.startMs, "end_ms" -> o.endMs, "seconds" -> o.seconds,
      "self_s" -> s.gapS, "plan_s" -> s.planMs / 1e3,
      "codegen_fallbacks" -> s.codegen, "input_bytes" -> o.inputBytes,
      "results" -> o.results, "files_written" -> o.filesWritten,
      "bytes_written" -> o.bytesWritten,
      "jobs" -> s.jobs.map { j =>
        val st = s.stages.filter(_.job == j.id)
        mutable.LinkedHashMap[String, Any](
          "op_id" -> o.id, "job_id" -> j.id, "module" -> j.module,
          "frame" -> j.frame, "start_ms" -> j.start, "end_ms" -> j.end,
          "self_s" -> ((j.end - j.start) -
            unionMs(st.map(x => clip((x.submit, x.complete), j.start, j.end)))) / 1e3,
          "stages" -> st.map(x => mutable.LinkedHashMap[String, Any](
            "op_id" -> o.id, "stage_id" -> x.id, "start_ms" -> x.submit,
            "end_ms" -> x.complete, "self_s" -> (x.complete - x.submit) / 1e3,
            "tasks" -> x.tasks, "executor_s" -> x.executorMs / 1e3,
            "shuffle_bytes" -> x.shuffleBytes, "rows_read" -> x.rowsRead)))
      })
  }
}
