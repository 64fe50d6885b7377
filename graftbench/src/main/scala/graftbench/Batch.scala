package graftbench

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

import graft.log.{BatchPipeline, Features, LogParser, Sessionize, Templates}
import graft.ml.Pipeline
import graft.sources.Sinks
import graft.tools.{GoldenBlock, MakeBigLogFixture}

/** `batch_rawlog`: raw log → both batch outputs written through `Sinks`,
  * then the weighted LR the reference trains on the features and its
  * test PR-AUC. One iteration is one whole batch job; the window runs as
  * many as fit and reports their median. */
object Batch {

  private final case class Iter(wallS: Double, features: DataFrame, sessions: DataFrame,
      iters: Int, prAuc: Double, outDir: String)

  /** The fewest warm iterations a run measures. */
  val MinIters = 2
  /** Repetitions of each stage prefix in a traced run. */
  val StageReps = 3

  private final case class Expect(sessions: Long, linesWithBlock: Long)

  private def once(env: Env, fx: MakeBigLogFixture.Fixture, labels: DataFrame,
      ids: Seq[String], n: Int): Iter = {
    val tr = env.tracer
    val out = env.dir(s"batch-out-$n")
    val t0 = System.nanoTime()
    val (features, sessions) = tr("log.batch_pipeline")(
      BatchPipeline.run(env.spark, fx.logDir, env.templatesPath, labels))
    val f = features.persist()
    val s = sessions.persist()
    tr("sources.write") {
      Sinks.writeCsvSingle(f, s"$out/features")
      Sinks.writeCsvSingle(s, s"$out/sessions")
    }
    val indexed = tr("ml.index")(Pipeline.indexLabel(f.filter(col("label").isNotNull)))
    val assembled = Pipeline.assemble(Features.withClassWeights(indexed, "label_index"), ids)
    val (train, test) = Features.stratifiedSplit(assembled, "label_index", "block_id", 0.2, env.seed)
    val model = tr("ml.train")(Pipeline.trainLR(train))
    val auc = tr("ml.eval")(Pipeline.prAuc(model.transform(test)))
    Iter(Lambda.secs(t0), f, s, model.summary.totalIterations, auc, out)
  }

  /** The reference-published golden block comes out exact, every block is
    * a session, and no block line is lost. */
  private def check(it: Iter, ex: Expect, ids: Seq[String]): Seq[String] = {
    val errs = Seq.newBuilder[String]
    val golden = col("block_id") === GoldenBlock.BlockId
    it.features.filter(golden).collect() match {
      case Array(r) =>
        ids.foreach { id =>
          val want = GoldenBlock.FeatureCounts.getOrElse(id, 0)
          if (r.getAs[Int](id) != want) errs += s"golden $id=${r.getAs[Int](id)} want $want"
        }
        if (r.getAs[String]("label") != GoldenBlock.Label) errs += "golden feature label"
      case rows => errs += s"golden feature rows: ${rows.length}"
    }
    it.sessions.filter(golden).collect() match {
      case Array(r) =>
        if (r.getAs[Long]("duration_sec") != GoldenBlock.DurationSec) errs += "golden duration"
        if (r.getAs[Long]("num_lines") != GoldenBlock.EventSeq.length) errs += "golden num_lines"
        if (r.getAs[String]("label") != GoldenBlock.Label) errs += "golden session label"
      case rows => errs += s"golden session rows: ${rows.length}"
    }
    val Row(n: Long, lines: Long) =
      it.sessions.agg(count(lit(1)), sum(col("num_lines"))).head()
    if (n != ex.sessions) errs += s"sessions $n want ${ex.sessions}"
    if (lines != ex.linesWithBlock) errs += s"session lines $lines want ${ex.linesWithBlock}"
    if (it.prAuc.isNaN || it.prAuc < 0 || it.prAuc > 1) errs += s"test PR-AUC ${it.prAuc}"
    errs.result()
  }

  private def release(it: Iter): Unit = {
    it.features.unpersist(); it.sessions.unpersist()
    Dirs.delete(it.outDir)
  }

  def run(env: Env): Outcome = {
    val spark = env.spark
    val (fx, setupS) = Lambda.setupReps(env, "corpus")(
      dir => Lambda.corpus(env, dir, Lambda.BatchBlocks))(_ => ())
    val labels = Lambda.labels(spark, fx.labelsPath)
    val ids = MessageGen.readTemplates(env.templatesPath).map(_._1)
    // Expected values, computed with a plain regex rather than the
    // library's native parse kernels.
    val ex = Expect(Lambda.BatchBlocks + 1L,
      spark.read.text(fx.logDir).filter(col("value").rlike("blk_[-0-9]+")).count())

    var attempted, failed = 0L
    val notes = Seq.newBuilder[String]
    def judged(it: Iter): Iter = {
      attempted += 1
      val errs = check(it, ex, ids)
      if (errs.nonEmpty) { failed += 1; notes ++= errs }
      release(it)
      it
    }

    var n = 0
    val untraced = env.copy(tracer = new Tracer(env.tracer.runId, enabled = false))
    def next(e: Env = untraced): Iter = { n += 1; once(e, fx, labels, ids, n) }
    Lambda.log("expected values ready")
    judged(next()) // warm-up: JIT and file cache, not reported
    Lambda.log("warm-up done")

    if (!env.trace) {
      val w = scala.collection.mutable.ArrayBuffer.empty[Double]
      val t0 = System.nanoTime()
      while (Lambda.secs(t0) < env.seconds || w.length < MinIters) w += judged(next()).wallS
      val p50 = Stats.median(w)
      Outcome(attempted, failed, failed == 0, Map(
        "setup_s" -> setupS,
        "p50_ms" -> p50 * 1000,
        "tail_ms" -> Stats.quantile(w, 0.9) * 1000,
        "per_s" -> fx.nLines / p50), notes.result())
    } else {
      // Untraced jobs run before and after the traced one, so the tracing
      // overhead is not a warm-up effect.
      val layers = stages(env, fx, labels)
      val before = judged(next()).wallS
      val w0 = Host.open()
      val eng0 = env.listener.drained(spark.sparkContext)
      val it = next(env)
      val mbWritten = Dirs.bytes(it.outDir) / 1048576.0
      judged(it)
      val eng = env.listener.drained(spark.sparkContext) - eng0
      val plain = (before + judged(next()).wallS) / 2
      def self(span: String): Double = env.tracer.ms(span).sum
      // Stages whose self-times sum to the batch path: both passes' scans
      // (the floor is counted once per pass), then everything after them.
      val stageSum = layers("log.scan_floor_s") + layers.filter(_._1.endsWith("_s")).values.sum +
        Seq("sources.write", "ml.index", "ml.train", "ml.eval").map(self(_) / 1000).sum
      notes += f"stage self-times cover ${100 * stageSum / it.wallS}%.1f%% of batch_s (${it.wallS}%.2f s)"
      Outcome(attempted, failed, failed == 0,
        layers ++ eng.metrics(Host.gcS(w0)) ++ Map(
          "sources.write_s" -> self("sources.write") / 1000,
          "sources.mb_written" -> mbWritten,
          "ml.train_s" -> self("ml.train") / 1000,
          "ml.train_iters" -> it.iters.toDouble,
          "ml.eval_s" -> self("ml.eval") / 1000,
          "ml.test_pr_auc" -> it.prAuc,
          "jvm.heap_peak_mb" -> Host.heapPeakMb,
          "host.steal_s" -> Host.stealS(w0),
          "trace.overhead_pct" -> 100 * (it.wallS - plain) / plain),
        notes.result())
    }
  }

  /** Stage self-times from noop-sink prefixes: each stage's prefix minus
    * the prefix it extends, median of `StageReps`. Each path's parse
    * prefix projects only the columns its next stage reads, so column
    * pruning cannot move work between stages. Also the data-quality
    * counts. */
  private def stages(env: Env, fx: MakeBigLogFixture.Fixture, labels: DataFrame): Map[String, Double] = {
    val spark = env.spark
    val tmpl = Templates.load(spark, env.templatesPath)
    def raw = spark.read.text(fx.logDir)
    def parsed = LogParser.withBlock(LogParser.parse(raw))
    def tagged = Templates.tagNative(parsed, tmpl)
    def counts = Features.eventCounts(tagged, tmpl.map(_.id))
    def sessions = Sessionize.sessions(parsed)
    def noop(df: => DataFrame): Double = Stats.median((1 to StageReps).map { _ =>
      val t0 = System.nanoTime()
      df.write.format("noop").mode("overwrite").save()
      Lambda.secs(t0)
    })
    val floor = noop(raw)
    val parseF = noop(parsed.select("block_id", "message"))
    val tag = noop(tagged.select("block_id", "event_id"))
    val featAgg = noop(counts)
    val featJoin = noop(Features.joinLabels(counts, labels))
    val parseS = noop(parsed.select("block_id", "datetime", "clean_line"))
    val sessAgg = noop(sessions)
    val sessJoin = noop(Sessionize.labeled(sessions, labels))
    Map(
      "log.scan_floor_s" -> floor,
      "log.parse_s" -> ((parseF - floor) + (parseS - floor)),
      "log.tag_s" -> (tag - parseF),
      "log.features_agg_s" -> (featAgg - tag),
      "log.sessions_agg_s" -> (sessAgg - parseS),
      "log.label_join_s" -> ((featJoin - featAgg) + (sessJoin - sessAgg)),
      "log.lines_read" -> raw.count().toDouble,
      "log.lines_with_block" -> parsed.count().toDouble,
      "log.lines_unmatched" -> tagged.filter(col("event_id").isNull).count().toDouble,
      "log.sessions" -> sessions.count().toDouble)
  }
}
