package graftbench

import java.nio.file.{Files, Paths}

/** Entry point: one workload, one run.
  *
  * {{{
  * graftbench.Main --workload <batch_rawlog|stream_upsert|serve_dashboard>
  *   --seed <n> --seconds <s> --trace <0|1> --work <dir> --data <dir> --traces <dir>
  * }}}
  *
  * `--train 1` instead runs every workload once, briefly and without a
  * result, to load every class a run needs (for a class-data-sharing
  * archive).
  *
  * Prints progress lines, then one line `GRAFTBENCH-RESULT <json>` with
  * the run's verdict and its metrics: the end-to-end metrics when
  * `--trace 0`, the per-layer metrics when `--trace 1`. */
object Main {
  /** Set-up repetitions per run; `setup_s` is their median. */
  val SetupReps = 3

  /** End-to-end metrics, reported by every workload. */
  val EndToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "p50_ms" -> "ms", "tail_ms" -> "ms", "per_s" -> "1/s")

  /** Per-layer metrics. A layer a workload does not run reports 0. */
  val PerLayer: Seq[(String, String)] = Seq(
    "log.scan_floor_s" -> "s", "log.parse_s" -> "s", "log.tag_s" -> "s",
    "log.features_agg_s" -> "s", "log.sessions_agg_s" -> "s", "log.label_join_s" -> "s",
    "log.lines_read" -> "count", "log.lines_with_block" -> "count",
    "log.lines_unmatched" -> "count", "log.sessions" -> "count",
    "ml.train_s" -> "s", "ml.train_iters" -> "count", "ml.eval_s" -> "s",
    "ml.test_pr_auc" -> "ratio",
    "sources.write_s" -> "s", "sources.mb_written" -> "MB",
    "streaming.decode_s" -> "s", "streaming.enrich_s" -> "s", "streaming.upsert_s" -> "s",
    "streaming.store_mb_written" -> "MB", "streaming.store_write_amp" -> "ratio",
    "streaming.trigger_overhead_s" -> "s", "streaming.batches" -> "count",
    "streaming.rows_per_batch" -> "count", "streaming.gen_late_ms" -> "ms",
    "streaming.backlog_files_end" -> "count",
    "streaming.store_rows" -> "count", "streaming.store_files" -> "count",
    "streaming.store_mb" -> "MB", "streaming.store_read_ms" -> "ms",
    "serve_latest_p50_ms" -> "ms", "serve_prefix_p50_ms" -> "ms",
    "serve_range_p50_ms" -> "ms", "serve_anomaly_p50_ms" -> "ms",
    "serve_point_p50_ms" -> "ms",
    "spark.plan_ms" -> "ms", "spark.exec_ms" -> "ms",
    "spark.jobs_per_req" -> "count", "spark.tasks_per_req" -> "count",
    "spark.rows_read_per_row_returned" -> "ratio",
    "spark.task_s" -> "s", "spark.jobs" -> "count", "spark.stages" -> "count",
    "spark.tasks" -> "count", "spark.shuffle_write_mb" -> "MB",
    "spark.shuffle_read_mb" -> "MB", "spark.input_mb" -> "MB", "spark.spill_mb" -> "MB",
    "spark.gc_s" -> "s",
    "jvm.heap_peak_mb" -> "MB",
    "host.cores" -> "count", "host.sentinel_s" -> "s", "host.steal_s" -> "s",
    "trace.overhead_pct" -> "%")

  def main(args: Array[String]): Unit =
    try { bench(args); System.exit(0) }
    catch { case e: Throwable => e.printStackTrace(); System.exit(2) }

  private def bench(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def arg(k: String): String = opt.getOrElse(k, sys.error(s"missing --$k"))
    val train = opt.get("train").contains("1")
    val workload = if (train) "all" else arg("workload")
    val seed = arg("seed").toLong
    val seconds = arg("seconds").toInt
    val trace = arg("trace") == "1"
    val work = Paths.get(arg("work")).toAbsolutePath
    Files.createDirectories(work)
    val workloads: Map[String, Env => Outcome] = Map(
      "batch_rawlog" -> Batch.run, "stream_upsert" -> Stream.run, "serve_dashboard" -> Serve.run)
    require(train || workloads.contains(workload), s"unknown workload $workload")
    val runId = s"$workload-s$seed-${if (trace) "traced" else "plain"}"

    val cores = Host.cores
    val t0 = System.nanoTime()
    val spark = Lambda.session(cores, work)
    Lambda.log("session built")
    spark.range(1).count()
    val sessionS = Lambda.secs(t0)
    val w0 = Host.open()
    val listener = new EngineListener
    spark.sparkContext.addSparkListener(listener)
    val sentinel = if (trace) Host.sentinelS() else Double.NaN
    val tracer = new Tracer(runId, trace)
    val env = Env(spark, seed, seconds, trace, work, arg("data"), tracer, listener,
      reps = if (train) 1 else SetupReps)
    Lambda.log(f"$runId cores=$cores session=$sessionS%.2fs")
    if (train) {
      // One short pass over every workload, so that a JVM started with
      // -XX:ArchiveClassesAtExit archives every class a run loads.
      workloads.values.foreach(_(env))
      spark.stop()
      return
    }

    val out = workloads(workload)(env)
    println(f"[graftbench] sentinel=${if (trace) sentinel else Host.sentinelProbeS()}%.3fs " +
      f"steal=${Host.stealS(w0)}%.2fs")
    val metrics =
      if (!trace) out.metrics.updated("setup_s", out.metrics("setup_s") + sessionS)
      else out.metrics ++ Map("host.cores" -> cores.toDouble, "host.sentinel_s" -> sentinel)
    val declared = if (trace) PerLayer else EndToEnd
    val unknown = metrics.keySet -- declared.map(_._1)
    require(unknown.isEmpty, s"undeclared metrics: ${unknown.mkString(", ")}")
    if (trace) tracer.writeJsonl(Paths.get(arg("traces"), s"$runId.jsonl"))
    out.notes.foreach(n => println(s"[graftbench] $n"))
    val body = declared.map { case (name, unit) =>
      s"${Json.str(name)}:{\"value\":${Json.num(metrics.getOrElse(name, 0.0))},\"unit\":${Json.str(unit)}}"
    }.mkString("{", ",", "}")
    if (trace) declared.foreach { case (name, unit) =>
      println(f"[graftbench]   $name%-36s ${metrics.getOrElse(name, 0.0)}%14.4f $unit")
    }
    println(s"""GRAFTBENCH-RESULT {"correct":${out.correct},"attempted":${out.attempted},""" +
      s""""failed":${out.failed},"metrics":$body}""")
    spark.stop()
    Lambda.log("stopped")
  }
}
