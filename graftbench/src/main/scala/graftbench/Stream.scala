package graftbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicBoolean

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryProgress}

import graft.log.Templates
import graft.ml.Scorer
import graft.streaming.{ServingStore, StreamMessages, StreamPipeline, StreamTransform}

/** `stream_upsert`: an open-loop generator lands JSONL block-session files
  * on a fixed schedule into the directory `StreamPipeline.run` watches;
  * the store it upserts was seeded from a corpus' sessions through the
  * same pipeline (batch 0). Freshness is file due time → the store
  * pointer's high-water mark covering the batch that held the file. */
object Stream {
  /** Offered load: one file every `PeriodMs`, `MsgsPerFile` messages each. */
  val PeriodMs = 80L
  val MsgsPerFile = 5
  /** Share of messages that re-deliver a known block (with one more line). */
  val RedeliverPct = 30
  /** Seconds of streaming before the measured window: freshness falls by
    * a quarter over the first seconds of streaming in a new JVM. */
  val WarmupS = 4.0

  final case class Landed(name: String, dueNs: Long, landNs: Long, msgs: Seq[Msg], bytes: Long)

  /** A running pipeline over one seeded store. */
  final class Lane(val dir: String, val fx: graft.tools.MakeBigLogFixture.Fixture, val in: Path,
      val store: String, val ckpt: String, var query: StreamingQuery) {
    def stop(): Unit = query.stop()
  }

  private def moveParts(from: Path, to: Path): Unit = {
    Files.createDirectories(to)
    Files.list(from).iterator().asScala
      .filter(_.getFileName.toString.startsWith("part-"))
      .foreach(p => Files.move(p, to.resolve(s"seed-${p.getFileName}"), StandardCopyOption.ATOMIC_MOVE))
  }

  private def input(spark: SparkSession, in: Path): DataFrame =
    spark.readStream.text(in.toString)

  /** `StreamPipeline.run`'s wiring with spans around each layer call; each
    * step is materialised so its span holds its own work. Batch 0 (the
    * seed) is not traced. */
  private def tracedQuery(env: Env, lane: Lane, tmpl: Seq[Templates.Template],
      scorer: Scorer, written: ArrayBuffer[(Long, Long)]): StreamingQuery =
    StreamMessages.parse(input(env.spark, lane.in))
      .writeStream
      .outputMode("append")
      .option("checkpointLocation", lane.ckpt)
      .foreachBatch { (batch: DataFrame, id: Long) =>
        val tr = env.tracer
        val decoded = tr("streaming.decode")(batch.localCheckpoint(true))
        val enriched = tr("streaming.enrich")(
          StreamTransform.enrichLocal(decoded, tmpl, scorer).localCheckpoint(true))
        tr("streaming.upsert")(ServingStore.upsert(enriched, lane.store, "block_id", id))
        val (v, _) = ServingStore.pointer(lane.store)
        written.synchronized { written += (id -> Dirs.bytes(s"${lane.store}/v=$v")) }
        ()
      }
      .start()

  private def seedLane(env: Env, dir: String): Lane = {
    val spark = env.spark
    val fx = Lambda.corpus(env, s"$dir/corpus", Lambda.StoreBlocks)
    val in = Paths.get(dir, "in")
    StreamMessages.toJson(Lambda.sessions(spark, fx)).write.text(s"$dir/seed")
    moveParts(Paths.get(dir, "seed"), in)
    val tmpl = Lambda.templates(env)
    val lane = new Lane(dir, fx, in, s"$dir/store", s"$dir/ckpt", null)
    lane.query = StreamPipeline.run(input(spark, in), tmpl, Lambda.scorer(tmpl.length),
      lane.store, lane.ckpt)
    lane.query.processAllAvailable()
    lane
  }

  /** Generator thread: lands one file per period from `t0` on, its first
    * file numbered `k0`; each file is timed from its due time. */
  private final class Generator(gen: MessageGen, lane: Lane, t0: Long, k0: Long)
      extends Thread("graftbench-gen") {
    val landed = new java.util.concurrent.ConcurrentLinkedQueue[Landed]()
    val stopping = new AtomicBoolean(false)
    private val stage = Paths.get(lane.dir, "stage")
    override def run(): Unit = {
      Files.createDirectories(stage)
      var k = 0L
      while (!stopping.get) {
        val due = t0 + k * PeriodMs * 1000000L
        val wait = due - System.nanoTime()
        if (wait > 0) Thread.sleep(wait / 1000000L, (wait % 1000000L).toInt)
        if (!stopping.get) {
          val msgs = Seq.fill(MsgsPerFile)(gen.next())
          val name = f"f-${k0 + k}%06d-${System.currentTimeMillis()}%d.jsonl"
          val body = msgs.map(_.json).mkString("", "\n", "\n").getBytes(UTF_8)
          val tmp = stage.resolve(name)
          Files.write(tmp, body)
          Files.move(tmp, lane.in.resolve(name), StandardCopyOption.ATOMIC_MOVE)
          landed.add(Landed(name, due, System.nanoTime(), msgs, body.length.toLong))
          k += 1
        }
      }
    }
  }

  /** Land files for `seconds` on the open-loop schedule, then wait until
    * the query has applied all of them. Returns the files and the time
    * the generator stopped. */
  private def window(gen: MessageGen, lane: Lane, seconds: Double, k0: Long): (Seq[Landed], Long) = {
    val t0 = System.nanoTime()
    val g = new Generator(gen, lane, t0, k0)
    g.start()
    Thread.sleep((seconds * 1000).toLong)
    g.stopping.set(true)
    g.join()
    val tEnd = System.nanoTime()
    lane.query.processAllAvailable()
    (g.landed.asScala.toSeq, tEnd)
  }

  /** Wait (bounded) until the engine has reported the batch the store's
    * high-water mark names, then return the query's progress reports. */
  private def settled(lane: Lane): Seq[StreamingQueryProgress] = {
    val hwm = ServingStore.pointer(lane.store)._2
    val deadline = System.nanoTime() + 5000000000L
    while (Option(lane.query.lastProgress).forall(_.batchId < hwm) && System.nanoTime() < deadline)
      Thread.sleep(5)
    lane.query.recentProgress.toSeq
  }

  /** Poller thread: first time each high-water mark is readable. */
  private final class Poller(store: String) extends Thread("graftbench-poll") {
    val seen = new ConcurrentHashMap[Long, Long]()
    val stopping = new AtomicBoolean(false)
    override def run(): Unit = {
      var last = ServingStore.pointer(store)._2
      while (!stopping.get) {
        val hwm = scala.util.Try(ServingStore.pointer(store)._2).getOrElse(last)
        if (hwm > last) {
          val now = System.nanoTime()
          (last + 1 to hwm).foreach(b => seen.putIfAbsent(b, now))
          last = hwm
        }
        Thread.sleep(2)
      }
    }
  }

  /** File name → micro-batch id, from the file source's metadata log. */
  private def batchOf(ckpt: String): Map[String, Long] = {
    val logDir = Paths.get(ckpt, "sources", "0")
    val entry = """"path":"([^"]+)".*"batchId":(\d+)""".r
    Files.list(logDir).iterator().asScala
      .filter(p => Files.isRegularFile(p) && !p.getFileName.toString.startsWith("."))
      .flatMap(p => Files.readAllLines(p).asScala)
      .flatMap(l => entry.findFirstMatchIn(l))
      .map(m => m.group(1).substring(m.group(1).lastIndexOf('/') + 1) -> m.group(2).toLong)
      .toMap
  }

  def run(env: Env): Outcome = {
    val spark = env.spark
    val (lane, setupS) = Lambda.setupReps(env, "lane")(dir => seedLane(env, dir))(_.stop())
    val tmpl = Lambda.templates(env)
    val scorer = Lambda.scorer(tmpl.length)
    val seedMsgs = Lambda.sessions(spark, lane.fx)
      .select(col("block_id"), unix_seconds(col("start_ts")), unix_seconds(col("end_ts")),
        col("log_full"))
      .collect().map(r => Msg(r.getString(0), r.getLong(1), r.getLong(2),
        r.getString(3).split("\n").toVector)).toIndexedSeq
    val gen = new MessageGen(env.seed, MessageGen.readTemplates(env.templatesPath),
      seedMsgs, RedeliverPct)

    Lambda.log("generator ready")
    val written = ArrayBuffer.empty[(Long, Long)]
    val poller = new Poller(lane.store)
    poller.start()
    // Warm-up: its files are checked like the rest, but not timed.
    val (warmFiles, _) = window(gen, lane, WarmupS, 0L)
    settled(lane)
    val measuredFrom = lane.query.lastProgress.batchId + 1
    Lambda.log("warm-up done")
    val w0 = Host.open()
    val eng0 = env.listener.drained(spark.sparkContext)
    // A traced run measures its first half as it is, then restarts the
    // query from the same checkpoint with spans around each layer call.
    val (plainFiles, plainEnd) = window(gen, lane, if (env.trace) env.seconds / 2.0 else env.seconds,
      warmFiles.length.toLong)
    val plainProgress = settled(lane)
    val tracedFrom = lane.query.lastProgress.batchId + 1
    val (tracedFiles, tEnd, tracedProgress) =
      if (!env.trace) (Nil, plainEnd, Nil)
      else {
        lane.stop()
        lane.query = tracedQuery(env, lane, tmpl, scorer, written)
        val (f, end) = window(gen, lane, env.seconds / 2.0, (warmFiles ++ plainFiles).length.toLong)
        (f, end, settled(lane))
      }
    val lastBatch = lane.query.lastProgress.batchId
    val progress = (plainProgress ++ tracedProgress)
      .filter(p => p.batchId >= measuredFrom && p.numInputRows > 0)
    lane.stop()
    val eng = env.listener.drained(spark.sparkContext) - eng0
    Thread.sleep(20)
    poller.stopping.set(true)
    poller.join()

    Lambda.log("drained")
    val files = plainFiles ++ tracedFiles
    val checked = warmFiles ++ files
    val batch = batchOf(lane.ckpt)
    val visibleAt = poller.seen.asScala
    def fresh(f: Landed): Option[Double] =
      batch.get(f.name).flatMap(visibleAt.get).map(t => (t - f.dueNs) / 1e6)
    val invisible = checked.filter(f => fresh(f).isEmpty)

    // End state: a batch recomputation over every message that landed,
    // seed included, must equal the store row for row.
    val expected = StreamTransform.enrichLocal(
      StreamMessages.parse(spark.read.text(lane.in.toString)), tmpl, scorer)
    val actual = ServingStore.read(spark, lane.store)
    val diff = expected.exceptAll(actual).union(actual.exceptAll(expected))
      .select("block_id").distinct().collect().map(_.getString(0)).toSet
    val wrong = checked.filter(f => f.msgs.exists(m => diff.contains(m.blockId)))
    val hwm = ServingStore.pointer(lane.store)._2
    val notes = Seq.newBuilder[String]
    if (diff.nonEmpty) notes += s"${diff.size} blocks differ from the batch recomputation"
    if (invisible.nonEmpty) notes += s"${invisible.size} landed files never became readable"
    if (hwm != lastBatch) notes += s"high-water mark $hwm != last batch $lastBatch"
    val failed = (invisible ++ wrong).map(_.name).distinct.length.toLong
    val correct = failed == 0 && hwm == lastBatch && files.nonEmpty

    Lambda.log("checked")
    val measured = progress.filter(_.batchId < tracedFrom)
    val busyS = measured.map(p => p.durationMs.get("triggerExecution").toDouble / 1000).sum
    if (!env.trace) {
      val f = files.flatMap(fresh)
      Outcome(checked.length, failed, correct, Map(
        "setup_s" -> setupS,
        "p50_ms" -> Stats.median(f),
        "tail_ms" -> Stats.quantile(f, 0.9),
        "per_s" -> measured.map(_.numInputRows).sum / busyS), notes.result())
    } else {
      val traced = progress.filter(_.batchId >= tracedFrom)
      def med(ps: Seq[StreamingQueryProgress], k: String) =
        Stats.median(ps.map(_.durationMs.get(k).toDouble))
      val inBytes = files.groupMapReduce(f => batch.getOrElse(f.name, -1L))(_.bytes)(_ + _)
      val tw = written.toSeq.filter(_._1 >= tracedFrom)
      val late = files.map(f => (f.landNs - f.dueNs) / 1e6)
      val backlog = files.count(f => batch.get(f.name).flatMap(visibleAt.get).forall(_ > tEnd))
      val sec = (n: String) => Stats.median(env.tracer.ms(n)) / 1000
      Outcome(checked.length, failed, correct, eng.metrics(Host.gcS(w0)) ++ Map(
        "streaming.decode_s" -> sec("streaming.decode"),
        "streaming.enrich_s" -> sec("streaming.enrich"),
        "streaming.upsert_s" -> sec("streaming.upsert"),
        "streaming.store_mb_written" -> tw.map(_._2).sum / 1048576.0,
        "streaming.store_write_amp" ->
          tw.map(_._2).sum.toDouble / tw.map(b => inBytes.getOrElse(b._1, 0L)).sum,
        "streaming.trigger_overhead_s" -> Stats.median(progress.map(p =>
          (p.durationMs.get("triggerExecution") - p.durationMs.get("addBatch")).toDouble)) / 1000,
        "streaming.batches" -> progress.length.toDouble,
        "streaming.rows_per_batch" -> progress.map(_.numInputRows).sum.toDouble / progress.length,
        "streaming.gen_late_ms" -> Stats.quantile(late, 0.9),
        "streaming.backlog_files_end" -> backlog.toDouble,
        "jvm.heap_peak_mb" -> Host.heapPeakMb,
        "host.steal_s" -> Host.stealS(w0),
        "trace.overhead_pct" ->
          100 * (med(traced, "triggerExecution") - med(measured, "triggerExecution")) /
          med(measured, "triggerExecution")), notes.result())
    }
  }
}
