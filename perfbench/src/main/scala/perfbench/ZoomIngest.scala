package perfbench

import java.nio.file.{Files, Path, StandardCopyOption}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.StreamingQuery

import graft.operators.Upsert
import graft.pipeline.BatchEtl
import graft.streaming.RecordingStream

/** `zoom_ingest`: the reference pipeline. One resident webhook stream
  * (`RecordingStream.start`) drains each webhook file as it lands; once
  * per cycle the nightly batch (`BatchEtl.run`) upserts that cycle's
  * users, meetings and participants and promotes staged recordings
  * whose meeting has arrived. Tables are Upsert snapshot-swap stores
  * that grow every cycle. */
final class ZoomIngest extends Workload {
  val name = "zoom_ingest"
  val primary = "etl_run"
  val secondary = "webhook_batch"

  /** Timed cycles per second of `--seconds` (a cycle takes about 8 s
    * on 4 cores; at least 2 run). */
  private val CyclesPerSecond = 0.1
  private val sizes = ZoomGen.Sizes(baseUsers = 200, baseMeetings = 120,
    baseEvents = 30, newUsers = 20, updatedUsers = 10, meetings = 40,
    webhookFiles = 2)

  private var cycles: Seq[ZoomGen.Cycle] = Nil
  private var expect: ZoomGen.Expect = _
  private var dir: Path = _
  private var query: StreamingQuery = _
  private var spark: SparkSession = _

  def warehouse: Path = dir.resolve("warehouse")
  private def inbox = dir.resolve("inbox")
  private def deadLetters = dir.resolve("dead_letter")
  private def paths(c: ZoomGen.Cycle) = BatchEtl.Paths(c.users.toString,
    c.meetings.toString, c.participants.toString, warehouse.toString)

  def generate(seed: Long, in: Path, seconds: Int): Unit = {
    val timed = math.max(2, math.round(seconds * CyclesPerSecond).toInt)
    val (cs, e) = ZoomGen.generate(seed, in, 1 + timed, sizes)
    cycles = cs
    expect = e
  }

  /** Base load: cycle 0's batch, the stream start and cycle 0's webhook
    * files, which also warm the stream path before the timed cycles. */
  def setup(s: SparkSession, d: Path): Unit = {
    spark = s
    dir = d
    Files.createDirectories(inbox)
    Files.createDirectories(d.resolve("landing"))
    BatchEtl.run(spark, paths(cycles.head), cycles.head.now)
    query = RecordingStream.start(spark, inbox.toString,
      paths(cycles.head).recordingStaging, d.resolve("checkpoint").toString,
      deadLetterDir = Some(deadLetters.toString))
    cycles.head.webhooks.foreach { f =>
      drop(f)
      query.processAllAvailable()
    }
  }

  /** Land a webhook file atomically, so the stream never lists it half
    * written. */
  private def drop(f: Path): Unit = {
    val landed = dir.resolve("landing").resolve(f.getFileName)
    Files.copy(f, landed)
    Files.move(landed, inbox.resolve(f.getFileName),
      StandardCopyOption.ATOMIC_MOVE)
  }

  private def cycle(c: ZoomGen.Cycle, r: Runner): Unit = {
    c.webhooks.foreach { f =>
      r.op("webhook_batch", Files.size(f), write = true) {
        drop(f)
        query.processAllAvailable()
        0L
      }
    }
    r.op("etl_run", c.batchInputBytes, write = true) {
      BatchEtl.run(spark, paths(c), c.now)
      0L
    }
  }

  def run(s: SparkSession, r: Runner): Unit = cycles.tail.foreach(cycle(_, r))

  def checks(s: SparkSession): Seq[(String, Boolean)] = {
    query.stop()
    val p = paths(cycles.head)
    def keys(path: String, c: String): Seq[String] =
      Upsert.readSnapshot(spark, path).map(_.where(col(c).isNotNull)
        .select(c).collect().map(_.getString(0)).toSeq).getOrElse(Nil)
    def same(got: Seq[String], want: Set[String]) =
      got.size == want.size && got.toSet == want
    val parts = Upsert.readSnapshot(spark, p.participants).get
      .select("meeting_uuid", "user_id").collect()
      .map(r => (r.getString(0), Option(r.getString(1))))
    val keyed = parts.collect { case (m, Some(u)) => (m, u) }
    // one dead-lettered event per JSON line
    val deadCount =
      if (!Files.exists(deadLetters)) 0L
      else spark.read.text(deadLetters.toString).count()
    Seq(
      "users" -> same(keys(p.users, "id"), expect.users),
      "meetings" -> same(keys(p.meetings, "uuid"), expect.meetings),
      "participants" -> (keyed.length == expect.participants.size &&
        keyed.toSet == expect.participants),
      "guests" -> (parts.count(_._2.isEmpty) == expect.guests),
      "recordings_promoted" -> same(keys(p.recordings, "id"), expect.promoted),
      "recordings_parked" -> same(keys(p.recordingStaging, "id"), expect.parked),
      "dead_letters" -> (deadCount == expect.deadLetters))
  }
}
