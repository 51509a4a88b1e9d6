package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import java.time.Instant

import scala.collection.mutable
import scala.util.Random

/** Seeded generator of the Zoom reference traffic: per cycle, the
  * users/meetings/participants JSON drops the nightly batch loads and
  * the `recording.completed` webhook files the stream drains.
  *
  * Cycle 0 is the base load, with webhook files for a few base
  * meetings. Every later cycle carries webhooks for its own meetings.
  * A share of each cycle's meeting docs arrives one cycle late (their
  * recordings park in staging until then), a share of the previous
  * cycle's meetings is re-sent, and later webhook files replay earlier
  * events. The generator derives the final warehouse key sets on its
  * own, from the same draws. */
object ZoomGen {

  /** @param baseEvents base meetings with a webhook event, dealt over
    *   `webhookFiles` files in cycle 0 like in every other cycle */
  final case class Sizes(
      baseUsers: Int, baseMeetings: Int, baseEvents: Int,
      newUsers: Int, updatedUsers: Int, meetings: Int,
      webhookFiles: Int)

  final case class Cycle(
      c: Int, users: Path, meetings: Path, participants: Path,
      webhooks: Seq[Path], now: Instant) {
    def batchInputBytes: Long =
      Seq(users, meetings, participants).map(Files.size).sum
  }

  final case class Expect(
      users: Set[String], meetings: Set[String],
      participants: Set[(String, String)], guests: Long,
      promoted: Set[String], parked: Set[String], deadLetters: Long)

  val T0: Instant = Instant.parse("2024-01-01T00:00:00Z")
  val CycleSeconds: Long = 86400L

  def nowOf(c: Int): Instant = T0.plusSeconds(c * CycleSeconds)

  private val videoTypes = Seq("shared_screen_with_speaker_view",
    "shared_screen", "active_speaker", "gallery_view")
  private val transcriptTypes = Seq("audio_transcript", "closed_caption")
  private val extOf = Map("audio_only" -> "M4A", "audio_transcript" -> "VTT",
    "closed_caption" -> "VTT", "chat_file" -> "TXT").withDefaultValue("MP4")
  private val categoryRank: Map[String, (String, Int)] =
    (videoTypes.zipWithIndex.map { case (t, i) => t -> ("video", i) } ++
      Seq("audio_only" -> ("audio", 0), "chat_file" -> ("chat", 0)) ++
      transcriptTypes.zipWithIndex.map { case (t, i) => t -> ("transcript", i) })
      .toMap

  private final case class Meeting(
      uuid: String, json: String, participants: Seq[String],
      keyed: Seq[(String, String)], guests: Int,
      event: Option[(String, Seq[String])]) // (event json sans ts, selected ids)

  /** Write `cycles` cycles (0 = base) under `dir`. */
  def generate(seed: Long, dir: Path, cycles: Int, sz: Sizes)
      : (Seq[Cycle], Expect) = {
    val rnd = new Random(seed)
    Files.createDirectories(dir)
    val userIds = mutable.ArrayBuffer.empty[String]
    val emails = mutable.Map.empty[String, String]
    val allUsers = mutable.Set.empty[String]
    val delivered = mutable.Set.empty[String]
    val keyed = mutable.Set.empty[(String, String)]
    var guests = 0L
    val selectedByMeeting = mutable.Map.empty[String, Seq[String]]
    var dead = 0L
    var late = Seq.empty[Meeting]
    var previous = Seq.empty[Meeting]
    var prevEvents = Seq.empty[String]
    var ts = nowOf(1).toEpochMilli

    def userJson(id: String, login: Instant): String = {
      val n = id.drop(1).toInt
      s"""{"id":"$id","email":"${emails(id)}","first_name":"First$n",""" +
        s""""last_name":"Last${n % 97}","dept":"D${n % 7}",""" +
        s""""role_name":"${if (n % 11 == 0) "Admin" else "Member"}",""" +
        s""""created_at":"${T0.minusSeconds(86400L * (n % 300))}",""" +
        s""""last_login_time":"$login","group_names":["g${n % 5}"]}"""
    }

    def meeting(c: Int, j: Int, withEvent: Boolean): Meeting = {
      val uuid = f"mt$c%03d-$j%04d-${rnd.alphanumeric.take(6).mkString}"
      val host = userIds(rnd.nextInt(userIds.size))
      val start = nowOf(c).plusSeconds(rnd.nextInt(86000).toLong)
      val dur = 15 + rnd.nextInt(76)
      val topic = Seq("Weekly/Sync", "1:1", "Q3 review?", "Retro*",
        "Plan <draft>", "All hands")(rnd.nextInt(6)) + s" $j"
      val attendees = rnd.shuffle(userIds.toSeq).take(3 + rnd.nextInt(4))
      val guest = rnd.nextDouble() < 0.3
      val end = start.plusSeconds(dur * 60L)
      val parts = attendees.map { u =>
        s"""{"meeting_uuid":"$uuid","id":"$u","user_id":"$u",""" +
          s""""name":"N $u","user_email":"${emails(u)}",""" +
          s""""join_time":"$start","leave_time":"$end",""" +
          s""""duration":${dur * 60},"internal_user":${u != host}}"""
      } ++ (if (guest) Seq(
        s"""{"meeting_uuid":"$uuid","id":null,"user_id":null,""" +
          s""""name":"Guest $uuid","user_email":null,""" +
          s""""join_time":"$start","leave_time":"$end",""" +
          s""""duration":${dur * 30},"internal_user":false}""") else Nil)
      val mid = c * 100000L + j
      val json =
        s"""{"id":$mid,"uuid":"$uuid","host_id":"$host",""" +
          s""""topic":"${topic.replace("\"", "")}","start_time":"$start",""" +
          s""""end_time":"$end","duration":$dur,""" +
          s""""participants_count":${parts.size},"type":2}"""
      val event = if (!withEvent) None else {
        val types = rnd.shuffle(videoTypes).take(1 + rnd.nextInt(2)) ++
          (if (rnd.nextDouble() < 0.6) Seq("audio_only") else Nil) ++
          rnd.shuffle(transcriptTypes).take(rnd.nextInt(3)) ++
          (if (rnd.nextDouble() < 0.4) Seq("chat_file") else Nil)
        val files = types.zipWithIndex.map { case (t, k) =>
          (s"rf-$uuid-$k", t, rnd.nextDouble() >= 0.08)
        }
        val fileJson = files.map { case (id, t, hasUrl) =>
          val url = if (hasUrl) s""""https://dl.example/$id"""" else "null"
          s"""{"id":"$id","meeting_id":"$uuid","recording_start":"$start",""" +
            s""""recording_end":"$end","recording_type":"$t",""" +
            s""""file_type":"$t","file_size":${1000 + rnd.nextInt(900000)},""" +
            s""""file_extension":"${extOf(t)}","play_url":"https://p.example/$id",""" +
            s""""download_url":$url,"status":"completed"}"""
        }
        // R1: per category the most preferred type with a download url
        val selected = files.filter(_._3)
          .groupBy(f => categoryRank(f._2)._1).values
          .map(_.minBy(f => categoryRank(f._2)._2)._1).toSeq.sorted
        val body =
          s""""payload":{"account_id":"acc-1","object":{"id":$mid,""" +
            s""""uuid":"$uuid","host_id":"$host","topic":"$topic",""" +
            s""""type":2,"start_time":"$start","host_email":"${emails(host)}",""" +
            s""""duration":$dur,"total_size":1,""" +
            s""""recording_count":${files.size},""" +
            s""""recording_files":[${fileJson.mkString(",")}]}}}"""
        Some((body, selected))
      }
      Meeting(uuid, json, parts, attendees.map(u => (uuid, u)),
        if (guest) 1 else 0, event)
    }

    def write(name: String, lines: Seq[String]): Path = {
      val p = dir.resolve(name)
      Files.write(p, lines.mkString("", "\n", "\n").getBytes(UTF_8))
      p
    }

    val out = (0 until cycles).map { c =>
      val userLines = mutable.ArrayBuffer.empty[String]
      val fresh = if (c == 0) sz.baseUsers else sz.newUsers
      (0 until fresh).foreach { _ =>
        val id = f"u${userIds.size + 1}%06d"
        userIds += id
        emails(id) = s"$id@corp.example"
        allUsers += id
        userLines += userJson(id, nowOf(c))
      }
      if (c > 0) (0 until sz.updatedUsers).foreach { _ =>
        val id = userIds(rnd.nextInt(userIds.size - fresh))
        userLines += userJson(id, nowOf(c).plusSeconds(rnd.nextInt(80000).toLong))
      }
      val n = if (c == 0) sz.baseMeetings else sz.meetings
      val made = (0 until n).map(j =>
        meeting(c, j, if (c == 0) j < sz.baseEvents else rnd.nextDouble() < 0.7))
      val (lateNow, onTime) =
        if (c == 0) (Seq.empty[Meeting], made)
        else made.partition(_ => rnd.nextDouble() < 0.1)
      val replays =
        if (c >= 2) previous.filter(_ => rnd.nextDouble() < 0.05) else Nil
      val docs = onTime ++ late ++ replays
      docs.foreach { m =>
        delivered += m.uuid
        keyed ++= m.keyed
      }
      guests += (onTime ++ late).map(_.guests).sum
      previous = onTime ++ late
      late = lateNow
      made.foreach(m => m.event.foreach(e => selectedByMeeting(m.uuid) = e._2))

      // webhook files: this cycle's events dealt round-robin, each file
      // after the first replaying some earlier events; some files carry
      // one event missing its required fields (dead-lettered)
      val events = made.flatMap(_.event.map(_._1))
      val hooks = (0 until sz.webhookFiles).map { f =>
        val mine = events.indices.filter(_ % sz.webhookFiles == f).map(events)
        val again = prevEvents.filter(_ => rnd.nextDouble() < 0.15)
        val lines = (mine ++ again).map { body =>
          ts += 1
          s"""{"event":"recording.completed","event_ts":$ts,$body"""
        } ++ (if (rnd.nextDouble() < 0.3) {
          dead += 1
          ts += 1
          Seq(s"""{"event":"recording.completed","event_ts":$ts,""" +
            s""""payload":{"account_id":"acc-1","object":{"id":1,""" +
            s""""uuid":"bad-$c-$f","start_time":"${nowOf(c)}",""" +
            s""""recording_files":[]}}}""")
        } else Nil)
        prevEvents = mine
        write(f"webhook_$c%03d_$f%02d.json", lines)
      }
      Cycle(c,
        write(f"users_$c%03d.json", userLines.toSeq),
        write(f"meetings_$c%03d.json", docs.map(_.json)),
        write(f"participants_$c%03d.json", docs.flatMap(_.participants)),
        hooks, nowOf(c))
    }
    val recorded = selectedByMeeting.toSeq
    val promoted = recorded.filter(r => delivered(r._1)).flatMap(_._2).toSet
    val parked = recorded.filterNot(r => delivered(r._1)).flatMap(_._2).toSet
    (out, Expect(allUsers.toSet, delivered.toSet, keyed.toSet, guests,
      promoted, parked, dead))
  }
}
