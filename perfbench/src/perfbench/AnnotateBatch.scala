package perfbench

import java.nio.file.{Files, Path}
import org.apache.spark.sql.{DataFrame, Dataset, Observation, SparkSession}
import org.apache.spark.sql.functions._
import graft.Pipeline
import graft.functions.Nomenclature
import graft.model.Turn
import graft.operators.{DimIndex, DimShuffle, EvidenceFilter, MatchKernel, OutputAssembly, TierSelect}
import graft.sources.Synth

/** `annotate_batch`: the civicutils batch annotation at scale. Each
  * operation is one batch call over one staged slice of transcripts:
  * MatchKernel.annotate with the session's broadcast index ->
  * TierSelect(highest) -> OutputAssembly.writeMatchTable with the
  * session's broadcast renders -> noop sink. These are the operators
  * the auto entry points (DimShuffle.annotateAuto,
  * OutputAssembly.writeMatchTableAuto) pick for this dimension; their
  * regime probes and index and render builds happen once, in the setup,
  * and the checks run the auto entry points themselves.
  */
object AnnotateBatch {
  val Slices = 2
  val ConvsPerSlice = 5000
  val TurnsPerConv = 25
  /** Turns of the seed checked for regime parity. */
  val ParityTurns = 5000
  /** Turns of the seed the traced prefix cuts and the single-core
    * baseline run on: enough that the kernel, not job scheduling, sets
    * the time on one core and on four.
    */
  val TraceTurns = 100000
  /** Turns of the seed the single-thread function timings run on. */
  val MicroTurns = 20000
  val Sel: Either[String, Seq[String]] = Left("highest")

  /** 1% hot conversations at 5x turns, 15% unknown genes, 1% duplicates. */
  def genConfig(seed: Long): Synth.TurnGenConfig = {
    val convs = Slices * ConvsPerSlice
    Synth.TurnGenConfig(nConvs = convs, turnsPerConv = TurnsPerConv,
      nGenes = Setup.Genes, unknownGeneFrac = 0.15, hotConvs = convs / 100,
      hotMult = 5, dupRate = 0.01, seed = seed)
  }

  /** Turns `[from, until)` of the seed's generated input. */
  def turns(spark: SparkSession, cfg: Synth.TurnGenConfig, from: Long, until: Long): Dataset[Turn] = {
    import spark.implicits._
    spark.range(from, until).map(i => Synth.turnAt(i, cfg))
  }

  def sliceBounds(cfg: Synth.TurnGenConfig): Seq[(Long, Long)] = {
    val n = cfg.totalRows
    (0 until Slices).map(k => (n * k / Slices, n * (k + 1) / Slices))
  }

  /** Write the seed's input once as `Slices` parquet directories. */
  def stage(ctx: Ctx, spark: SparkSession): Seq[(Path, Long)] = {
    val cfg = genConfig(ctx.args.seed)
    val dir = ctx.stageRoot.resolve(s"annotate-seed${ctx.args.seed}-c${cfg.nConvs}")
    val done = dir.resolve("_STAGED")
    val bounds = sliceBounds(cfg)
    val out = bounds.indices.map(k => (dir.resolve(s"slice$k"), bounds(k)._2 - bounds(k)._1))
    if (!Files.exists(done)) ctx.spans.time("stage") {
      Fs.delete(dir)
      for (((p, _), (a, b)) <- out.zip(bounds))
        turns(spark, cfg, a, b).write.parquet(p.toString)
      Files.writeString(done, cfg.toString)
    }
    out
  }

  /** The auto entry points with their defaults: EvidenceFilter'd
    * dimension -> DimShuffle.annotateAuto -> TierSelect(highest) ->
    * OutputAssembly.writeMatchTableAuto. Each call probes the regime and
    * builds its own index and renders.
    */
  def chain(env: Env, turns: Dataset[Turn]): DataFrame = {
    val ann = DimShuffle.annotateAuto(env.spark, turns, env.dim, Pipeline.defaultCt, Sel)
    OutputAssembly.writeMatchTableAuto(TierSelect(ann, Sel), env.dim, Pipeline.defaultCt, Sel)
  }

  def readSlice(spark: SparkSession, p: Path): Dataset[Turn] = {
    import spark.implicits._
    spark.read.parquet(p.toString).as[Turn]
  }

  /** Drain `df` into the noop sink; returns (seconds, rows written). */
  def drain(df: DataFrame, desc: String = "main"): (Double, Long) = {
    val obs = Observation()
    val t0 = System.nanoTime()
    df.sparkSession.sparkContext.setJobDescription(desc)
    try df.observe(obs, count(lit(1)).as("rows")).write.format("noop").mode("overwrite").save()
    finally df.sparkSession.sparkContext.setJobDescription(null)
    val secs = (System.nanoTime() - t0) / 1e9
    (secs, obs.get("rows").asInstanceOf[Long])
  }

  /** The timed chain over `t`, with the setup's index and renders. */
  def batch(env: Env, t: Dataset[Turn]): DataFrame =
    OutputAssembly.writeMatchTable(TierSelect(MatchKernel.annotate(t, env.index), Sel), env.renders)

  /** One timed batch call: from reading the slice to the last row in
    * the sink. Returns (seconds, rows written).
    */
  def call(env: Env, slice: Path): (Double, Long) = drain(batch(env, readSlice(env.spark, slice)))

  final case class Calls(secs: Seq[Double], rates: Seq[Double], rowsBySlice: Map[Int, Set[Long]])

  /** Untimed calls before the window: the first calls of a JVM run up
    * to twice as long while the JIT compiles the kernel and assembly.
    */
  val WarmupCalls = 3

  /** Batch calls round-robin over the slices for `seconds` seconds (at
    * least three, no call started that would likely end past the
    * window), after `WarmupCalls` untimed calls.
    */
  def measure(ctx: Ctx, env: Env, slices: Seq[(Path, Long)], seconds: Double): Calls = {
    for (i <- 0 until WarmupCalls) ctx.spans.time("warmup_call")(call(env, slices(i % slices.size)._1))
    var secs = Vector.empty[Double]
    var rates = Vector.empty[Double]
    val rows = scala.collection.mutable.Map.empty[Int, Set[Long]]
    val t0 = System.nanoTime()
    def elapsed = (System.nanoTime() - t0) / 1e9
    while (secs.size < 3 || elapsed + Stats.median(secs) <= seconds) {
      val k = secs.size % slices.size
      val (s, r) = ctx.spans.time("call")(call(env, slices(k)._1))
      secs :+= s
      rates :+= slices(k)._2 / s
      rows(k) = rows.getOrElse(k, Set.empty) + r
    }
    Calls(secs, rates, rows.toMap)
  }

  // ---------------------------------------------------------------- checks

  /** Output checks, outside every timed region:
    *  - on the first `ParityTurns` turns of this seed, the timed chain
    *    and the auto entry points with their defaults give the same
    *    digest (the forced shuffle regimes are left to the spec suite:
    *    on a cold JVM they cost about 12 s, a fifth of a run);
    *  - on the fixed canary input, the timed chain gives the digest
    *    recorded in `perfbench/digests.json`.
    * The timed calls add one more: each slice gives the same non-zero
    * row count on every call.
    */
  def checks(ctx: Ctx, env: Env): Seq[(String, Boolean)] =
    ctx.spans.time("checks") {
      val sample = turns(env.spark, genConfig(ctx.args.seed), 0, ParityTurns).cache()
      val timed = Digest.of(batch(env, sample))
      val auto = Digest.of(chain(env, sample))
      sample.unpersist()
      Seq("auto_entry_parity" -> (timed == auto),
        "canary_digest" -> Canary.check("annotate_batch", Canary.annotateBatch(env)))
    }

  // ----------------------------------------------------------------- trace

  /** Prefix cuts on one slice, timed from outside (median of three):
    * scan, +kernel, +TierSelect, +output. Also returns the seconds of
    * the full chain, the 4-core side of the single-core baseline.
    */
  def prefixCuts(ctx: Ctx, env: Env, slice: Path): (Seq[Metric], Double) = {
    val spark = env.spark
    def cut(name: String)(df: => DataFrame): (Double, Long) = {
      val runs = (0 until 3).map(_ => ctx.spans.time(name)(drain(df, name)))
      (Stats.median(runs.map(_._1)), runs.head._2)
    }
    val t = readSlice(spark, slice)
    val scan = cut("cut.scan")(t.toDF())
    val kern = cut("cut.kernel")(MatchKernel.annotate(t, env.index).toDF())
    val tier = cut("cut.tier_select")(TierSelect(MatchKernel.annotate(t, env.index), Sel).toDF())
    val out = cut("cut.output")(batch(env, t))
    (Seq(
      Metric("sources.scan_s", scan._1, "s"),
      Metric("kernel.busy_s", kern._1 - scan._1, "s"),
      Metric("tier_select.busy_s", tier._1 - kern._1, "s"),
      Metric("output.busy_s", out._1 - tier._1, "s"),
      Metric("output.rows_out", out._2.toDouble, "count")), out._1)
  }

  /** Single-thread costs of the public per-turn functions, ns per turn
    * (median of five passes over a fixed sample of the seed's turns).
    */
  def microbench(env: Env, seed: Long): Seq[Metric] = {
    val cfg = genConfig(seed)
    val sample = (0L until MicroTurns.toLong).map(i => Synth.turnAt(i, cfg)).toArray
    val idx = env.index.value
    val parsed = sample.map(MatchKernel.parse)
    def nsPer(f: => Unit): Double = {
      f
      Stats.median((0 until 5).map { _ =>
        val t0 = System.nanoTime(); f; (System.nanoTime() - t0).toDouble / sample.length
      })
    }
    var sink = 0L
    val nom = nsPer(parsed.foreach { p =>
      if (p.dataType == "SNV")
        sink += Nomenclature.inputMatchStrings(p.variants, "SNV", p.impacts, p.exons).size
      else if (p.dataType == "CNV")
        sink += Nomenclature.inputMatchStrings(p.variants, "CNV").size
    })
    val parse = nsPer(sample.foreach(t => sink += MatchKernel.parse(t).variants.size))
    val ann = nsPer(sample.foreach(t => sink += MatchKernel.annotateTurn(t, idx).tier_1.size))
    if (sink == 42) println("")
    Seq(Metric("nomenclature.input_match_strings_ns", nom, "ns"),
      Metric("kernel.parse_ns", parse, "ns"),
      Metric("kernel.annotate_turn_ns", ann, "ns"))
  }

  /** Dimension-side layers: the regime the auto entry points choose,
    * the jobs they start before the main job, and the index and render
    * build times of the setup.
    */
  def regime(env: Env, listener: StageListener, slice: Path): Seq[Metric] = {
    val choice =
      if (!DimShuffle.overBroadcastThreshold(env.dim, 500000)) 1.0
      else if (!DimShuffle.overBroadcastThreshold(env.dim, 4000000)) 2.0
      else 3.0
    val before = listener.jobs("")
    drain(chain(env, readSlice(env.spark, slice)), "regime.main")
    Seq(Metric("regime.choice", choice, "code"),
      Metric("regime.probe_jobs", (listener.jobs("") - before).toDouble, "count"),
      Metric("dim.index_build_ms", env.indexMs, "ms"),
      Metric("output.renders_build_ms", env.rendersMs, "ms"))
  }

  /** The same batch call at local[1] on `slice`: turns/s of one core.
    * The session gets only what the call needs (no JIT warm-up sweep);
    * the median of three calls discards the cold first one.
    */
  def singleCore(ctx: Ctx, slice: Path): Double = {
    val spark = Setup.session(ctx, 1)
    try {
      val dim = EvidenceFilter(Synth.evidenceDim(spark, Setup.Genes, Setup.DimSeed).toDF(),
        Pipeline.defaultFilter)
      val env = Env(spark, dim,
        spark.sparkContext.broadcast(DimIndex.build(spark, dim, Pipeline.defaultCt, Sel)),
        OutputAssembly.buildRenders(spark, dim, Pipeline.defaultCt, Sel), 0L, 0.0, 0.0)
      val n = readSlice(spark, slice).count()
      val runs = (0 until 3).map(_ => ctx.spans.time("baseline.call")(call(env, slice))._1)
      n / Stats.median(runs)
    } finally Setup.stop(spark)
  }

  /** Every annotate-side layer metric, measured on `slice`, then the
    * single-core baseline. Stops `env`'s session.
    */
  def traceLayers(ctx: Ctx, env: Env, listener: StageListener, slice: Path): Seq[Metric] = {
    val (cuts, chainS) = prefixCuts(ctx, env, slice)
    val n = readSlice(env.spark, slice).count()
    val layers = cuts ++ microbench(env, ctx.args.seed) ++ regime(env, listener, slice)
    Setup.stop(env.spark)
    val one = singleCore(ctx, slice)
    layers ++ Seq(Metric("baseline.turns_per_s_1core", one, "1/s"),
      Metric("baseline.turns_per_s_per_core", n / chainS / ctx.cores, "1/s"))
  }

  /** A fixed `TraceTurns` slice of the seed's annotate input for the
    * traced layers of either workload.
    */
  def stageSample(ctx: Ctx, spark: SparkSession): Path = {
    val p = ctx.stageRoot.resolve(s"annotate-sample-seed${ctx.args.seed}")
    if (!Files.exists(p.resolve("_SUCCESS")))
      turns(spark, genConfig(ctx.args.seed), 0, TraceTurns)
        .write.mode("overwrite").parquet(p.toString)
    p
  }

  // ------------------------------------------------------------------- run

  def run(ctx: Ctx): Outcome = {
    val (env, setupS) = Setup.once(ctx, ctx.cores)
    val slices = stage(ctx, env.spark)
    val listener = new StageListener
    if (ctx.args.trace) env.spark.sparkContext.addSparkListener(listener)
    val checked = checks(ctx, env)
    val calls = measure(ctx, env, slices, ctx.args.seconds.toDouble)
    val engine = listener.metrics
    val stable = "rows_stable" -> calls.rowsBySlice.values.forall(s => s.size == 1 && s.head > 0)
    val allChecks = checked :+ stable
    val e2e = Seq(
      Metric("setup_s", setupS, "s"),
      Metric("turns_per_s", Stats.median(calls.rates), "1/s"),
      Metric("peak_rss_mb", Probes.peakRssMb(), "MB"))
    val latency = Latency.metrics(calls.secs.map(_ * 1000))
    val perLayer =
      if (!ctx.args.trace) { Setup.stop(env.spark); Nil }
      else {
        val sample = stageSample(ctx, env.spark)
        latency ++ engine ++ StreamIngest.probe(ctx, env) ++ traceLayers(ctx, env, listener, sample)
      }
    val failedChecks = allChecks.count(!_._2)
    Outcome(correct = failedChecks == 0, attempted = calls.secs.size + allChecks.size,
      failed = failedChecks, e2e, perLayer,
      Seq("calls" -> calls.secs.size, "call_s" -> calls.secs, "turns_per_call" -> slices.map(_._2).sum / slices.size,
        "dim_rows" -> env.dimRows,
        "latency_highest_supported_pct" -> Stats.highestSupported(calls.secs.size)) ++
        latency.map(m => m.name -> m.value),
      allChecks)
  }
}
