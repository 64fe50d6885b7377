package graftbench

import java.time.{Instant, LocalDateTime, ZoneOffset}
import java.time.format.DateTimeFormatter

import scala.collection.mutable.ArrayBuffer
import scala.util.Random

/** One block session in flight, in the stream-message schema
  * (`graft.streaming.StreamMessages.schema`). Times are epoch seconds;
  * `lines` are clean lines (`yyyy-MM-dd HH:mm:ss <pid> <LEVEL> <comp>: <msg>`),
  * the form `Sessionize.sessions` writes into `log_full`. */
final case class Msg(blockId: String, startSec: Long, endSec: Long, lines: Vector[String]) {
  def json: String =
    s"""{"block_id":${Json.str(blockId)},"start_ts":"${Instant.ofEpochSecond(startSec)}",""" +
      s""""end_ts":"${Instant.ofEpochSecond(endSec)}","duration_sec":${endSec - startSec},""" +
      s""""log_full":${Json.str(lines.mkString("\n"))},"num_lines":${lines.length}}"""
}

/** The benchmark's own seeded stream-message generator. New blocks get
  * ids no fixture block can have; re-deliveries of a known block append
  * one later line, so every delivery of a block is strictly newer than
  * the one before it and "last write wins" is well defined. */
final class MessageGen(seed: Long, templates: IndexedSeq[(String, String)],
    known0: IndexedSeq[Msg], redeliverPct: Int) {
  private val rng = new Random(seed * 0x9E3779B97F4A7C15L + 17L)
  private val known = ArrayBuffer.from(known0)
  private var fresh = 0L
  // Fresh sessions start after every fixture date (2008-11-09..11).
  private var clock = LocalDateTime.of(2008, 11, 12, 0, 0).toEpochSecond(ZoneOffset.UTC)

  def next(): Msg =
    if (known.nonEmpty && rng.nextInt(100) < redeliverPct) {
      val i = rng.nextInt(known.length)
      val old = known(i)
      val t = old.endSec + 1 + rng.nextInt(600)
      val upd = old.copy(endSec = t, lines = old.lines :+ MessageGen.line(rng, t,
        templates(rng.nextInt(templates.length)), old.blockId))
      known(i) = upd
      upd
    } else {
      fresh += 1
      val id = f"blk_${100000 + rng.nextInt(900000)}%d${900000000000L + fresh}%012d"
      clock += 1 + rng.nextInt(5)
      var t = clock
      val lines = Vector.tabulate(3 + rng.nextInt(18)) { j =>
        if (j > 0) t += rng.nextInt(300)
        MessageGen.line(rng, t, templates(rng.nextInt(templates.length)), id)
      }
      val m = Msg(id, clock, t, lines)
      known += m
      m
    }
}

object MessageGen {
  private val Stamp = DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss")
  private val Components = Vector(
    ("dfs.DataNode$DataXceiver", "143"), ("dfs.FSNamesystem", "26"),
    ("dfs.DataNode$PacketResponder", "145"), ("dfs.DataNode", "30"))

  private def filler(rng: Random): String = rng.nextInt(4) match {
    case 0 => s"/10.25${rng.nextInt(2)}.${rng.nextInt(200)}.${rng.nextInt(250)}:50010"
    case 1 => (33554432 + rng.nextInt(33554432)).toString
    case 2 => s"/mnt/hadoop/dfs/data/current/subdir${rng.nextInt(64)}"
    case _ => rng.nextInt(9).toString
  }

  /** A template's `[*]` holes filled: the first inner hole (or the only
    * hole) carries the block id, the others a random token. */
  def message(rng: Random, pattern: String, blockId: String): String = {
    val segs = pattern.split("\\[\\*\\]", -1)
    val holes = segs.length - 1
    val blkHole = if (holes >= 2) 1 else 0
    val sb = new StringBuilder
    segs.indices.foreach { i =>
      sb.append(segs(i))
      if (i < holes) {
        if (i == blkHole) sb.append(' ').append(blockId).append(' ')
        else if (i > 0 && i < holes) sb.append(' ').append(filler(rng)).append(' ')
      }
    }
    if (holes == 0) sb.append(' ').append(blockId)
    sb.toString.trim.replaceAll("\\s+", " ")
  }

  def line(rng: Random, sec: Long, tmpl: (String, String), blockId: String): String = {
    val (comp, pid) = Components(rng.nextInt(Components.length))
    val level = if (rng.nextInt(12) == 0) "WARN" else "INFO"
    val ts = LocalDateTime.ofEpochSecond(sec, 0, ZoneOffset.UTC).format(Stamp)
    s"$ts $pid $level $comp: ${message(rng, tmpl._2, blockId)}"
  }

  /** The `EventId,EventTemplate` dimension, read without Spark. */
  def readTemplates(path: String): Vector[(String, String)] = {
    val src = scala.io.Source.fromFile(path)
    try src.getLines().drop(1).map { l =>
      val i = l.indexOf(','); (l.substring(0, i), l.substring(i + 1))
    }.toVector
    finally src.close()
  }
}

/** One dashboard request: its family and its parameter. */
final case class Request(family: String, arg: String)

/** Request mix over the reference dashboard's families: the families
  * take turns, so every run serves the same mix; their parameters are
  * drawn from the seed, the block ids and the `ts_ms` span of the store. */
final class RequestGen(seed: Long, ids: IndexedSeq[String], tsMin: Long, tsMax: Long,
    rangeMs: Long) {
  private val rng = new Random(seed * 0x2545F4914F6CDD1DL + 29L)
  private var turn = 0
  def next(): Request = {
    turn += 1
    RequestGen.Families(turn % RequestGen.Families.length) match {
      case "prefix" =>
        val id = ids(rng.nextInt(ids.length))
        Request("prefix", id.take(if (id.startsWith("blk_-")) 8 else 7))
      case "range" =>
        val lo = tsMin + (rng.nextDouble() * math.max(1L, tsMax - tsMin - rangeMs)).toLong
        Request("range", lo.toString)
      case "point" => Request("point", ids(rng.nextInt(ids.length)))
      case family => Request(family, "")
    }
  }
}

object RequestGen {
  val Families: Seq[String] = Seq("latest", "prefix", "range", "anomaly", "point")
}
