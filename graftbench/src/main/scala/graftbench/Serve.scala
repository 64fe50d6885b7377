package graftbench

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

import graft.streaming.ServingStore

/** `serve_dashboard`: one closed-loop client reads the seeded store
  * through `ServingStore.read` with a seeded mix of the reference
  * dashboard's request families. */
object Serve {
  /** The reference dashboard's page limit. */
  val PageLimit = 500
  val AnomalyLimit = 100
  /** `range` windows are sized to hold about this many rows. */
  val RangeRows = 100
  /** Seconds of requests served before the measured window. */
  val WarmupS = 6.0
  /** The reported tail percentile: the highest with at least ten of a
    * run's ~60 requests beyond it. A p95 has three, so one short burst of
    * CPU steal on a shared host can move it by a third. */
  val TailQ = 0.8

  private val listCols = Seq("block_id", "ts_ms", "start_ts", "end_ts", "duration_sec",
    "num_lines", "proba", "prediction").map(col)

  def query(df: DataFrame, r: Request, rangeMs: Long): DataFrame = r.family match {
    case "latest" =>
      df.select(listCols: _*).orderBy(col("ts_ms").desc, col("block_id")).limit(PageLimit)
    case "prefix" =>
      df.filter(col("block_id").startsWith(r.arg)).select(listCols: _*)
        .orderBy(col("block_id")).limit(PageLimit)
    case "range" =>
      val lo = r.arg.toLong
      df.filter(col("ts_ms") >= lo && col("ts_ms") < lo + rangeMs).select(listCols: _*)
        .orderBy(col("ts_ms").desc, col("block_id")).limit(PageLimit)
    case "anomaly" =>
      df.filter(col("prediction") === 1).select(listCols: _*)
        .orderBy(col("proba").desc, col("block_id")).limit(AnomalyLimit)
    case "point" => df.filter(col("block_id") === r.arg)
  }

  private final case class Served(req: Request, ms: Double, rows: Array[Row])

  def run(env: Env): Outcome = {
    val spark = env.spark
    val ((seedFrame, store), setupS) = Lambda.setupReps(env, "serve") { dir =>
      val fx = Lambda.corpus(env, s"$dir/corpus", Lambda.StoreBlocks)
      val store = s"$dir/store"
      (Lambda.seedStore(env, fx, store), store)
    }(_._1.unpersist())
    val keys = seedFrame.select(col("block_id"), col("ts_ms")).collect()
    val ids = keys.map(_.getString(0)).toIndexedSeq
    val ts = keys.map(_.getLong(1))
    val rangeMs = math.max(1L, (ts.max - ts.min) * RangeRows / ids.length)
    val gen = new RequestGen(env.seed, ids, ts.min, ts.max, rangeMs)

    def serve(r: Request, tr: Tracer): Served = {
      val t0 = System.nanoTime()
      val q = query(tr("streaming.store_read")(ServingStore.read(spark, store)), r, rangeMs)
      tr("spark.plan")(q.queryExecution.executedPlan)
      val rows = tr("spark.exec")(q.collect())
      Served(r, (System.nanoTime() - t0) / 1e6, rows)
    }

    var attempted, failed = 0L
    val notes = Seq.newBuilder[String]
    val untraced = new Tracer(env.tracer.runId, enabled = false)
    // The first response of each family must equal the same query run
    // directly on the seed frame; every point lookup must find its block.
    val firstOf = scala.collection.mutable.Set.empty[String]
    def judged(r: Request, tr: Tracer): Option[Served] = {
      attempted += 1
      scala.util.Try(serve(r, tr)).toEither match {
        case Left(e) => failed += 1; notes += s"${r.family} failed: $e"; None
        case Right(s) =>
          val first = firstOf.add(r.family)
          val ok = (!first || s.rows.toSeq == query(seedFrame, r, rangeMs).collect().toSeq) &&
            (r.family != "point" || s.rows.length == 1)
          if (!ok) { failed += 1; notes += s"${r.family}(${r.arg}) response differs" }
          Some(s)
      }
    }
    // Warm-up: one request per family, checked, not timed.
    Seq(Request("latest", ""), Request("prefix", ids.head.take(8)),
      Request("range", ts.min.toString), Request("anomaly", ""), Request("point", ids.head))
      .foreach(judged(_, untraced))
    Lambda.log("first responses checked")
    /** Serve generated requests for `seconds` through `one`. */
    def loop[T](seconds: Double)(one: Request => Option[T]): Seq[T] = {
      val out = Seq.newBuilder[T]
      val t0 = System.nanoTime()
      while (Lambda.secs(t0) < seconds) out ++= one(gen.next())
      out.result()
    }
    // Warm-up, checked but not timed: request latency keeps falling for
    // several seconds while the JIT compiles the planning path.
    loop(WarmupS)(judged(_, untraced))
    Lambda.log("warm-up done")

    if (!env.trace) {
      val ms = loop(env.seconds)(judged(_, untraced)).map(_.ms)
      Outcome(attempted, failed, failed == 0, Map(
        "setup_s" -> setupS,
        "p50_ms" -> Stats.median(ms),
        "tail_ms" -> Stats.quantile(ms, TailQ),
        "per_s" -> 1000.0 * ms.length / ms.sum), notes.result())
    } else {
      // Traced and untraced requests alternate, so the tracing overhead
      // compares requests served under the same JIT and host state. Each
      // traced request is bracketed by listener drains, outside its time.
      val w0 = Host.open()
      val eng0 = env.listener.drained(spark.sparkContext)
      var perReq = Seq.empty[EngineSnap]
      var n = 0
      val both = loop(env.seconds) { r =>
        n += 1
        if (n % 2 == 1) judged(r, untraced).map(false -> _)
        else {
          val before = env.listener.drained(spark.sparkContext)
          val s = judged(r, env.tracer)
          perReq :+= env.listener.drained(spark.sparkContext) - before
          s.map(true -> _)
        }
      }
      val plain = both.collect { case (false, s) => s }
      val traced = both.collect { case (true, s) => s }
      val eng = env.listener.drained(spark.sparkContext) - eng0
      val rowsOut = traced.map(_.rows.length.toLong).sum
      val files = Dirs.files(store)
      val storeMb = Dirs.bytes(store) / 1048576.0
      val familyP50 = RequestGen.Families.map { f =>
        s"serve_${f}_p50_ms" -> Stats.median(plain.filter(_.req.family == f).map(_.ms))
      }
      val med = (n: String) => Stats.median(env.tracer.ms(n))
      Outcome(attempted, failed, failed == 0, eng.metrics(Host.gcS(w0)) ++ familyP50 ++ Map(
        "streaming.store_rows" -> ids.length.toDouble,
        "streaming.store_files" -> files.toDouble,
        "streaming.store_mb" -> storeMb,
        "streaming.store_read_ms" -> med("streaming.store_read"),
        "spark.plan_ms" -> med("spark.plan"),
        "spark.exec_ms" -> med("spark.exec"),
        "spark.jobs_per_req" -> perReq.map(_.jobs).sum.toDouble / perReq.length,
        "spark.tasks_per_req" -> perReq.map(_.tasks).sum.toDouble / perReq.length,
        "spark.rows_read_per_row_returned" ->
          perReq.map(_.recordsRead).sum.toDouble / math.max(1L, rowsOut),
        "jvm.heap_peak_mb" -> Host.heapPeakMb,
        "host.steal_s" -> Host.stealS(w0),
        "trace.overhead_pct" ->
          100 * (Stats.median(traced.map(_.ms)) / Stats.median(plain.map(_.ms)) - 1)),
        notes.result())
    }
  }
}
