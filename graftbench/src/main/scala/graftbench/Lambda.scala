package graftbench

import java.nio.file.Path

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.log.{LogParser, Sessionize, Templates}
import graft.ml.Scorer
import graft.streaming.{ServingStore, StreamTransform}
import graft.tools.MakeBigLogFixture

/** What every workload gets: the session, the run's seed and window,
  * its scratch directory, the tracer and the engine listener. */
final case class Env(spark: SparkSession, seed: Long, seconds: Int, trace: Boolean,
    work: Path, dataDir: String, tracer: Tracer, listener: EngineListener, reps: Int) {
  def templatesPath: String = s"$dataDir/HDFS.log_templates.csv"
  def dir(name: String): String = work.resolve(name).toString
}

/** Inputs and set-up shared by the three paths. */
object Lambda {
  /** Raw-log corpus size for the batch path (blocks; ~22 lines each). */
  val BatchBlocks = 2500
  /** Blocks behind the seeded serving store. */
  val StoreBlocks = 4000
  /** Text parts the corpus is written as. */
  val CorpusParts = 8

  def session(cores: Int, work: Path): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graftbench")
      .withExtensions(new graft.GraftExtensions)
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.streaming.numRecentProgressUpdates", "10000")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def labels(spark: SparkSession, path: String): DataFrame =
    spark.read.option("header", "true").csv(path)
      .select(col("BlockId").as("block_id"), col("Label").as("label"))

  /** The seeded raw-log corpus under `root`. */
  def corpus(env: Env, root: String, blocks: Int): MakeBigLogFixture.Fixture =
    MakeBigLogFixture.ensure(env.spark, root, blocks, env.seed, CorpusParts)

  /** Block sessions of a corpus: exactly the stream-message schema. */
  def sessions(spark: SparkSession, fx: MakeBigLogFixture.Fixture): DataFrame =
    Sessionize.sessions(LogParser.withBlock(LogParser.parse(spark.read.text(fx.logDir))))

  /** The fixed scorer the speed layer serves: a linear model over the
    * template counts. */
  def scorer(nTemplates: Int): Scorer.LinearScorer =
    Scorer.LinearScorer((0 until nTemplates).map(i => if (i % 4 == 1) 0.45 else -0.05), -1.2)

  def templates(env: Env): Seq[Templates.Template] = Templates.load(env.spark, env.templatesPath)

  /** Seed a serving store from a corpus' scored sessions (one upsert as
    * batch 0). Returns the enriched seed frame, checkpointed so checks can
    * query it directly. */
  def seedStore(env: Env, fx: MakeBigLogFixture.Fixture, store: String): DataFrame = {
    val tmpl = templates(env)
    val enriched = StreamTransform.enrichLocal(sessions(env.spark, fx), tmpl, scorer(tmpl.length))
      .localCheckpoint(true)
    ServingStore.upsert(enriched, store, "block_id", 0L)
    enriched
  }

  def secs(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  private val jvmStart = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime

  /** A progress line, stamped with seconds since the JVM started. */
  def log(msg: String): Unit =
    println(f"[graftbench] ${(System.currentTimeMillis() - jvmStart) / 1000.0}%7.2f $msg")

  /** Run `body` `env.reps` times, each in a fresh directory, and return
    * the last result with the median wall time. Earlier results are
    * released (untimed) and their directories removed. */
  def setupReps[T](env: Env, name: String)(body: String => T)(release: T => Unit): (T, Double) = {
    val times = (1 to env.reps).map { r =>
      val dir = env.dir(s"$name-$r")
      val t0 = System.nanoTime()
      val out = body(dir)
      val t = secs(t0)
      log(f"set-up $r/${env.reps}: $t%.2f s")
      if (r < env.reps) { release(out); Dirs.delete(dir) }
      (out, t)
    }
    (times.last._1, Stats.median(times.map(_._2)))
  }
}
