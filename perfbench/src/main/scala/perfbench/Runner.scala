package perfbench

import java.nio.file.Path

import scala.collection.mutable

/** The closed-loop client: runs one op at a time, timing each call into
  * the engine. A throwing op counts as failed and the loop goes on.
  *
  * When `traced`, every write op is bracketed by warehouse walks, so
  * the files and bytes it wrote are recorded with it. The walks run
  * between ops and stay outside every op's latency. */
final class Runner(warehouse: () => Path, traced: Boolean) {
  import Runner._

  val ops = mutable.ArrayBuffer.empty[OpRec]
  private var before: Storage.Snapshot = _

  /** Run one op; `body` returns the number of result rows it produced.
    * @param inputBytes bytes of the generated input this op consumes */
  def op(kind: String, inputBytes: Long = 0L, write: Boolean = false)(
      body: => Long): Unit = {
    if (traced && write && before == null) before = Storage.walk(warehouse())
    val idx = ops.count(_.kind == kind)
    val startMs = System.currentTimeMillis()
    val t0 = System.nanoTime()
    val (ok, results) =
      try (true, body)
      catch {
        case e: Throwable =>
          System.err.println(s"[perfbench] op $kind#$idx failed: $e")
          e.printStackTrace()
          (false, 0L)
      }
    val secs = (System.nanoTime() - t0) / 1e9
    val endMs = System.currentTimeMillis()
    val rec = OpRec(ops.size, kind, idx, startMs, endMs, secs, ok,
      inputBytes, results)
    if (traced && write) {
      val after = Storage.walk(warehouse())
      val (files, bytes) = after.writtenSince(before)
      rec.filesWritten = files
      rec.bytesWritten = bytes
      before = after
    }
    ops += rec
  }

  def failed: Int = ops.count(!_.ok)

  def latencies(kind: String): Seq[Double] =
    ops.iterator.filter(o => o.kind == kind && o.ok).map(_.seconds).toSeq
}

object Runner {
  final case class OpRec(id: Int, kind: String, idx: Int, startMs: Long,
      endMs: Long, seconds: Double, ok: Boolean, inputBytes: Long,
      results: Long) {
    var filesWritten: Long = 0L
    var bytesWritten: Long = 0L
  }
}

object Stats {
  /** Linear-interpolated percentile, `p` in [0, 1]. */
  def percentile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of no samples")
    val s = xs.sorted
    val pos = p * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  def median(xs: Seq[Double]): Double = percentile(xs, 0.5)
}
