package perfbench

import java.nio.file.{Files, Path, Paths}
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.{Pipeline, SessionWarmup}
import graft.operators.{DimIndex, EvidenceFilter, OutputAssembly}
import graft.sources.Synth

final case class Args(workload: String, seed: Long, seconds: Int,
                      trace: Boolean, buildDir: String)

/** One metric as printed in the result line. */
final case class Metric(name: String, value: Double, unit: String)

/** What a workload run hands back to `Main`. `perLayer` is only filled
  * by a traced run; `context` holds fields that are printed but not
  * gated (latency, drift probes, sample counts, drop counts).
  */
final case class Outcome(
    correct: Boolean, attempted: Long, failed: Long,
    endToEnd: Seq[Metric], perLayer: Seq[Metric],
    context: Seq[(String, Any)], checks: Seq[(String, Boolean)])

/** Per-invocation state shared by the workloads. */
final class Ctx(val args: Args) {
  val cores: Int = math.min(4, Runtime.getRuntime.availableProcessors())
  val build: Path = Paths.get(args.buildDir).toAbsolutePath
  val stageRoot: Path = build.resolve("stage")
  /** Scratch for this run's streaming sources, checkpoints and tables. */
  val runDir: Path = build.resolve("run").resolve(args.workload)
  val spans = new Spans(s"${args.workload}-seed${args.seed}-${System.currentTimeMillis()}")

  def fresh(dir: Path): Path = {
    Fs.delete(dir)
    Files.createDirectories(dir)
  }
}

object Fs {
  def delete(p: Path): Unit =
    if (Files.exists(p)) {
      val walk = Files.walk(p)
      try walk.sorted(java.util.Comparator.reverseOrder()).forEach(Files.delete(_))
      finally walk.close()
    }
}

/** The session and the session artifacts every workload starts from. */
final case class Env(spark: SparkSession, dim: DataFrame,
                     index: Broadcast[DimIndex],
                     renders: Broadcast[Map[(String, String), OutputAssembly.VarRender]],
                     dimRows: Long, indexMs: Double, rendersMs: Double)

object Setup {
  /** CIViC-sized evidence dimension: 500 genes, 7,418 rows after the
    * default EvidenceFilter.
    */
  val Genes = 500
  val DimSeed: Long = Pipeline.DefaultSeed
  def session(ctx: Ctx, cores: Int): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"perfbench-${ctx.args.workload}")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", ctx.build.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", ctx.build.resolve("spark-warehouse").toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.streaming.numRecentProgressUpdates", "10000")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  def stop(spark: SparkSession): Unit = {
    spark.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
  }

  /** Session start, JIT warm-up, dimension, index and render builds:
    * what `setup_s` times, once per run in a cold JVM (a second, warm
    * setup would cost about 9 s of a run of about a minute).
    */
  def once(ctx: Ctx, cores: Int): (Env, Double) = ctx.spans.time("setup") {
    val t0 = System.nanoTime()
    val spark = ctx.spans.time("setup.session")(session(ctx, cores))
    ctx.spans.time("setup.warmup")(SessionWarmup.ensure(spark))
    val (dim, dimRows) = ctx.spans.time("setup.dim") {
      val d = EvidenceFilter(Synth.evidenceDim(spark, Genes, DimSeed).toDF(),
        Pipeline.defaultFilter)
      (d, d.count())
    }
    val ti = System.nanoTime()
    val index = ctx.spans.time("setup.index") {
      spark.sparkContext.broadcast(
        DimIndex.build(spark, dim, Pipeline.defaultCt, Left("highest")))
    }
    val tr = System.nanoTime()
    val renders = ctx.spans.time("setup.renders") {
      OutputAssembly.buildRenders(spark, dim, Pipeline.defaultCt, Left("highest"))
    }
    val t1 = System.nanoTime()
    (Env(spark, dim, index, renders, dimRows, (tr - ti) / 1e6, (t1 - tr) / 1e6),
      (t1 - t0) / 1e9)
  }
}

/** Context probes recorded with every run so VM drift across hours can
  * be told apart from a regression.
  */
object Probes {
  /** Fixed single-thread integer workload, median of five, in ms. */
  def cpuProbeMs(): Double = {
    def once(): Double = {
      val t0 = System.nanoTime()
      var h = 0x9E3779B97F4A7C15L
      var i = 0
      while (i < 20000000) {
        h ^= h >>> 31; h *= 0xBF58476D1CE4E5B9L; h += i
        i += 1
      }
      if (h == 42) println("")
      (System.nanoTime() - t0) / 1e6
    }
    Stats.median(Seq.fill(5)(once()))
  }

  /** Peak resident set of this JVM (VmHWM), in MB. */
  def peakRssMb(): Double = {
    val lines = Files.readAllLines(Paths.get("/proc/self/status"))
    val it = lines.iterator()
    var kb = 0.0
    while (it.hasNext) {
      val l = it.next()
      if (l.startsWith("VmHWM:")) kb = l.split("\\s+")(1).toDouble
    }
    kb / 1024.0
  }
}
